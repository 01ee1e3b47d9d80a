package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** graft_ema_run(x double, period int) — running EMA as a true aggregate
  * function over an UNBOUNDED PRECEDING window frame: O(1) state per row
  * (the reference's own incremental recurrence,
  * `StrategyAnalyzerExporter.cs:138-139`), versus the O(frame) per-row
  * collect_list+fold of the capped form. This is the NT-faithful variant:
  * EMA over the whole series from partition start, no lookback cap.
  *
  * Oracle mirror: `list_reduce(list(x) OVER (... ROWS UNBOUNDED
  * PRECEDING), (acc,v) -> acc*(1-k) + v*k)` — the incremental update
  * applies the identical IEEE ops in the identical order, so results are
  * bit-equal.
  *
  * Window/complete-mode only: `merge` is unsupported because a partial
  * EMA cannot be combined associatively (document, don't silently
  * mis-aggregate). WindowExec's running-frame processor only ever calls
  * `update`, row by row, in frame order.
  */
case class EmaRunning(
    child: Expression,
    period: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[EmaRunning.State] {

  override def children: Seq[Expression] = Seq(child, period)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_ema_run"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, period.dataType) match {
      case (DoubleType, IntegerType) if period.foldable => TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_ema_run expects (double, foldable int), got (${child.dataType}, ${period.dataType})")
    }

  private lazy val k: Double = EmaRunning.k(period.eval().asInstanceOf[Int])

  override def createAggregationBuffer(): EmaRunning.State = EmaRunning.State(0.0, init = false)

  override def update(buf: EmaRunning.State, input: InternalRow): EmaRunning.State = {
    val v = child.eval(input)
    if (v == null) return buf
    val x = v.asInstanceOf[Double]
    if (!buf.init) EmaRunning.State(x, init = true)
    else EmaRunning.State(EmaRunning.step(buf.ema, x, k), init = true)
  }

  override def merge(a: EmaRunning.State, b: EmaRunning.State): EmaRunning.State =
    if (!b.init) a
    else if (!a.init) b
    else
      throw new UnsupportedOperationException(
        "graft_ema_run is order-sensitive and cannot merge partial aggregates; " +
          "use it over an ordered window frame")

  override def eval(buf: EmaRunning.State): Any = if (buf.init) buf.ema else null

  override def serialize(buf: EmaRunning.State): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(9)
    bb.putDouble(buf.ema)
    bb.put(if (buf.init) 1.toByte else 0.toByte)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): EmaRunning.State = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    EmaRunning.State(bb.getDouble(), bb.get() == 1)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): EmaRunning =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EmaRunning =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), period = newChildren(1))
}

object EmaRunning {
  case class State(ema: Double, init: Boolean)

  /** Smoothing factor `2 / (period + 1)`. */
  def k(period: Int): Double = 2.0 / (period.toDouble + 1.0)

  /** One EMA update — shared with the feature kernel (`pipeline.Features`). */
  def step(ema: Double, x: Double, k: Double): Double = ema * (1.0 - k) + x * k
}
