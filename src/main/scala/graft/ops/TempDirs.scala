package graft.ops

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

/** Scratch directories with one of the two lifetimes the engine uses:
  * scoped to a call (`withTempDir`, deleted when the body returns or
  * throws) or to the JVM (`tempDirUntilExit`, deleted by a shutdown
  * hook — for staging memoized across calls). Deletion is best-effort:
  * a file that cannot be removed never masks the body's result.
  */
object TempDirs {

  def withTempDir[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix).toAbsolutePath
    try body(dir)
    finally deleteRecursively(dir)
  }

  def tempDirUntilExit(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix).toAbsolutePath
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir
  }

  private def deleteRecursively(dir: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists)
      finally walk.close()
    } catch { case NonFatal(_) => () }
}
