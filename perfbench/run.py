#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload export_wide --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt depends on the engine's build);
later runs reuse the build until a source file changes. Each run then:

  1. generates its inputs from --seed into a scratch dir (perfbench/gen.py);
  2. starts one JVM with one Spark session at local[N], N = nproc, which
     warms up and then runs a closed loop (one client, each op starts when
     the previous one returns) for --seconds, whole passes at a time;
  3. checks every op's output against the DuckDB oracle;
  4. prints each metric with its unit, then one JSON line.

With --trace 0 the JSON holds the end-to-end metrics; with --trace 1 the
per-layer metrics from the traced passes, and the run also writes a spans
file beside its record under .bench_build/perfbench/records/.
--smoke shrinks every input to a scale factor of 0.001 (for the tests).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

BUILD = ROOT / ".bench_build" / "perfbench"

# Per-workload sizes. export_wide: copies of the sf 0.1 events; board_*:
# scale factor of the tables and entries drawn per stratum. BENCHMARK.json
# runs export_wide and board_stream; board_batch (one entry per batch
# family) runs here and in the tests but would not fit the run budget.
WORKLOADS = {
    "export_wide": {"copies": 8},
    "board_batch": {"sf": 0.01, "strata": ["Bar", "Rel", "Dedup", "Sim", "Text", "Media"], "per": 1},
    "board_stream": {"sf": 0.01, "strata": ["stream", "lifecycle"], "per": 1},
}
SMOKE = {
    "export_wide": {"copies": 2, "sf": 0.001},
    "board_batch": {"sf": 0.001, "strata": ["Bar", "Rel", "Dedup", "Sim", "Text", "Media"], "per": 1},
    "board_stream": {"sf": 0.001, "strata": ["stream", "lifecycle"], "per": 1},
}
# Entries every smoke run of board_stream includes: a streaming query whose
# triggers the traced run must see.
SMOKE_STREAM_ENTRIES = ["s04_stream_features"]

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"), ("ops_per_s", "1/s"),
              ("peak_live_heap_mb", "MB")]
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.exec_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("jobs.count", "count"), ("jobs.busy_s", "s"), ("jobs.gap_s", "s"),
    ("tasks.cpu_s", "s"), ("tasks.util", "fraction"),
    ("sources.bytes_read", "bytes"), ("shuffle.bytes_written", "bytes"),
    ("streaming.triggers", "count"), ("streaming.trigger_s", "s"), ("streaming.query_planning_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.empty_trigger_ratio", "fraction"), ("streaming.outside_trigger_s", "s"),
    ("pipeline.compute_s", "s"), ("pipeline.bars", "count"), ("pipeline.rows_out", "count"),
    ("sinks.parquet_s", "s"), ("sinks.parquet_bytes_per_row", "bytes"),
    ("sinks.duckdb.append_s", "s"), ("sinks.duckdb.append_rows_per_s", "1/s"),
    ("sinks.duckdb.flushes", "count"), ("sinks.duckdb.readback_s", "s"),
    ("sinks.duckdb.bytes_per_row", "bytes"),
    ("jvm.gc_s", "s"), ("trace.overhead_frac", "fraction"),
]
# JDK 17 module opens Spark needs outside spark-submit (as in the root build)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """sbt-compile the engine and harness when their sources changed; returns
    the runtime classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "-batch", "export perfbench/Runtime/fullClasspath"], cwd=HERE,
                           stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=f, text=True)
        f.write(r.stdout)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or "[error]" in r.stdout:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]"))[-4000:] + "\n")
        die(f"build failed (sbt exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    subprocess.run(java_cmd(cp, 1, BUILD) + ["--list", str(BUILD / "registry.tsv")], check=True,
                   stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL)
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def java_cmd(cp, heap_gb, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap_gb}g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dlog4j2.level=ERROR"] + opens + ["-cp", cp, "perfbench.Harness"])


def cpu_times():
    """(steal, total) CPU jiffies since boot; host context for the record."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def tail_percentile(xs):
    """Highest of p99/p95/p90/p75 with at least 10 ops beyond it; with fewer
    than 40 ops, p75 (the record names the percentile and the count)."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99, 95, 90, 75):
        beyond = int(n * (100 - p) / 100)
        if beyond >= 10 or p == 75:
            q = statistics.quantiles(xs, n=100, method="inclusive")[p - 1] if n > 1 else xs[0]
            return q, f"p{p}", sum(1 for x in xs if x > q)


def selfcheck(data, results, names):
    """scripts/selfcheck.py over the warm-up results: entry -> outcome."""
    r = subprocess.run([sys.executable, str(ROOT / "scripts" / "selfcheck.py"), str(data), str(results)] + names,
                       stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    out = {n: "FAIL no outcome from selfcheck" for n in names}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            name = parts[1].rstrip(":")
            if name in out:
                out[name] = "PASS" if parts[0] == "PASS" else line.strip()[:300]
    return out


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (sf 0.001), for the tests")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no engine sources beside {HERE.name}/ (expected build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    cp = build()

    cfg = (SMOKE if a.smoke else WORKLOADS)[a.workload]
    cpus = os.cpu_count() or 1
    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + ("-smoke" if a.smoke else "")
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--workload", a.workload, "--work", str(work), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--seed", str(a.seed)]

    # Set-up clock: input generation, JVM start, Spark session and warm-up.
    t0 = time.time()
    cpu0 = cpu_times()
    if a.workload == "export_wide":
        sf = cfg.get("sf", 0.1)
        gen.gen_wide_events(str(work / "wide"), cfg["copies"], a.seed, sf)
        gen.gen_wide_events(str(work / "one"), 1, a.seed + 1, sf)
        args += ["--wide", str(work / "wide"), "--one", str(work / "one")]
        names = []
    else:
        gen.gen_tables(str(work / "data"), cfg["sf"], a.seed)
        registry = [tuple(l.split("\t")) for l in (BUILD / "registry.tsv").read_text().splitlines() if l]
        names = gen.sample_entries(registry, cfg["strata"], cfg["per"])
        if a.smoke and a.workload == "board_stream":
            names = sorted(set(names) | set(SMOKE_STREAM_ENTRIES))
        args += ["--data", str(work / "data"), "--entries", ",".join(names)]

    log = work / "jvm.log"
    try:
        with open(log, "w") as f:
            r = subprocess.run(java_cmd(cp, 4, work / "tmp") + args, cwd=work, stdin=subprocess.DEVNULL,
                               stdout=f, stderr=subprocess.STDOUT, timeout=165)
        if r.returncode != 0 or not (work / "result.json").exists():
            sys.stderr.write(log.read_text()[-4000:])
            die(f"harness exit {r.returncode}")
        res = json.loads((work / "result.json").read_text())
        setup_s = res["first_op_ms"] / 1e3 - t0
        t_jvm = time.time()
        checks = dict(res["checks"])
        if names:
            checks.update(selfcheck(work / "data", work / "results", names))
        print(f"[perfbench] gen+jvm {t_jvm - t0:.1f} s, oracle check {time.time() - t_jvm:.1f} s", file=sys.stderr)
        cpu1 = cpu_times()
        res["steal_frac"] = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        record = summarize(a, res, t0, setup_s, checks, cpus, names)
        records = BUILD / "records"
        records.mkdir(parents=True, exist_ok=True)
        (records / f"{tag}.json").write_text(json.dumps(record, indent=1))
        if a.trace and (work / "spans.jsonl").exists():
            shutil.copy(work / "spans.jsonl", records / f"{tag}.spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in record["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    for k, v in record["extra"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    for k, v in sorted(record["oracle"].items()):
        if v != "PASS":
            print(f"MISMATCH {k}: {v}")
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))


def summarize(a, res, t0, setup_s, checks, cpus, names):
    ops = res["ops"]
    timed = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]

    def bad(o):
        if o["error"]:
            return o["error"]
        key = o["entry"] if names else f"export#{o['id']}"
        outcome = checks.get(key, "FAIL no oracle outcome")
        return None if outcome == "PASS" else outcome

    oracle = {(o["entry"] + f"#{o['id']}"): (bad(o) or "PASS") for o in ops}
    failed = sum(1 for o in ops if bad(o))
    ctx = res["context"]
    walls = [o["wall_s"] for o in timed] or [o["wall_s"] for o in ops]
    tail, tail_p, beyond = tail_percentile(walls)
    m = {"setup_s": setup_s, "op_p50_s": statistics.median(walls), "op_tail_s": tail,
         "ops_per_s": len(walls) / sum(walls), "peak_live_heap_mb": res["peak_live_heap_mb"]}
    extra = {"failed_frac": (failed / len(ops), "fraction")}
    if "bars_per_op" in ctx:
        extra["bars_per_s"] = (ctx["bars_per_op"] * len(walls) / sum(walls), "bars/s")

    if a.trace:
        layers = {}
        for name, _ in PER_LAYER:
            vals = [o["layers"].get(name) for o in traced if name in o["layers"]]
            layers[name] = statistics.fmean(vals) if vals else 0.0
        layers["pipeline.compute_s"] = res["compute"].get("pipeline.compute_s", 0.0)
        layers["pipeline.bars"] = ctx.get("bars_per_op", 0.0)
        commit = ctx.get("commit_every_rows")
        layers["sinks.duckdb.flushes"] = (statistics.fmean(int(o["layers"]["pipeline.rows_out"] // commit) + 1
                                                           for o in traced) if commit and traced else 0.0)
        layers["trace.overhead_frac"] = (statistics.median(o["wall_s"] for o in traced) /
                                         statistics.median(o["wall_s"] for o in timed) - 1
                                         if traced and timed else 0.0)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    return {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": metrics,
        "extra": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "op_tail": {"percentile": tail_p, "ops": len(walls), "ops_beyond": beyond},
        "entries": names,
        "oracle": oracle,
        "host": {"nproc": cpus, "master": f"local[{cpus}]", "load_start": res["load_start"],
                 "load_end": res["load_end"], "calib_single_thread_s": res["calib_s"],
                 "cpu_steal_frac": res["steal_frac"],
                 "clients": 1, "loop": "closed"},
        "context": ctx,
        "setup_split_s": {"inputs": res["jvm_start_ms"] / 1e3 - t0,
                          "jvm_and_session": (res["session_ms"] - res["jvm_start_ms"]) / 1e3,
                          "warm_up": (res["warm_ms"] - res["session_ms"]) / 1e3},
        "ops": [{k: o[k] for k in ("id", "entry", "traced", "wall_s", "gc_s", "error", "layers")} for o in ops],
    }


if __name__ == "__main__":
    main()
