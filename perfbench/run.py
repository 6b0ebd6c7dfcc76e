"""Run one benchmark workload of mosaic_engine and print its metrics.

    python3 perfbench/run.py --workload mosaic_build --seed 1 --seconds 20 --trace 0

Workloads: mosaic_build, knn_serve and, run by hand only,
incremental_refresh (see ``workloads.py`` and ``README.md``). One
client drives a ``local[<cpus>]`` session in a closed loop for
``--seconds`` after an untimed set-up and warm-up.

Prints a table (metric, value, unit, the operations behind it), then as
its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` traces every other operation, reports the
per-module metrics of ``layers.py`` and writes the spans and the
per-module table to ``.perfbench/traces/``. Every file the run writes
stays under ``.perfbench/`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"
DRIVER_MEM = "2g"
# the JVM would otherwise write its perf-data file under /tmp
NO_PERF_DATA = "-XX:-UsePerfData"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["mosaic_build", "knn_serve", "incremental_refresh"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if a.seed < 0 or a.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    return a


def make_session(work: Path, cores: int):
    from mosaic_engine import job

    spark = job.make_session(
        cores=cores,
        shuffle_partitions=2 * cores,
        app="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a heap committed and touched up front keeps peak_rss_mb
            # from depending on when the collector chose to grow it
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch {NO_PERF_DATA}",
            "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job, stage and SQL execution back
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM pyspark launched, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.rss import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while (left := [pid for pid, _ in process_tree(os.getpid())[1:]]) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline + 30:
            time.sleep(0.1)


def run(a: argparse.Namespace) -> dict:
    from perfbench import layers, tracing
    from perfbench.rss import RssSampler
    from perfbench.workloads import WORKLOADS, Op, _median

    work = OUT / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update(SPARK_LOCAL_DIRS=str(work / "spark-local"),
                      SPARK_DRIVER_MEM=DRIVER_MEM, TMPDIR=str(work / "tmp"),
                      SPARK_LAUNCHER_OPTS=NO_PERF_DATA)
    tempfile.tempdir = None
    cores = len(os.sched_getaffinity(0))
    tracer = tracing.Tracer() if a.trace else tracing.NullTracer()
    try:
        with RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            with tracer.span("job.session"):
                spark = make_session(work, cores)
            try:
                wl = WORKLOADS[a.workload](spark, str(work), a.seed, tracer)
                done: list[Op] = wl.setup()
                setup_s = time.perf_counter() - t0
                n_setup = len(done)
                deadline = time.perf_counter() + a.seconds
                i = 0
                while time.perf_counter() < deadline:
                    try:
                        done += wl.step(i)
                    except Exception:
                        traceback.print_exc()
                        done.append(Op("error", 0.0, 0, False))
                    i += 1
                wl.finish(done)
                if a.trace:
                    tracing.attribute(spark, tracer.spans)
            finally:
                stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    timed = done[n_setup:]
    e2e = wl.end_to_end(timed)
    counts = {k: sum(1 for o in timed if o.kind == k and not o.traced) for k in {o.kind for o in timed}}
    result = {
        "correct": all(o.ok for o in done),
        "attempted": len(done),
        "failed": sum(not o.ok for o in done),
    }
    rows = [("setup_s", setup_s, "s", "1 set-up with warm-up of each op type")]
    if a.trace:
        table = tracing.module_table(tracer.spans)
        kind = e2e["op_s_p50"][1]
        overhead = _median(timed, kind, traced=True) - _median(timed, kind, traced=False)
        if not math.isfinite(overhead):
            print(f"trace.overhead_s not measured: the run holds no traced and untraced "
                  f"{kind} pair; reported as 0", file=sys.stderr)
            overhead = 0.0
        metrics = layers.per_layer(table, a.workload)
        metrics["trace.overhead_s"] = (overhead, "s")
        write_trace(a, tracer.spans, table, overhead, kind)
        print_modules(table)
    else:
        metrics = {"setup_s": (setup_s, "s")}
        for name, (value, kind) in e2e.items():
            unit = "s" if name.endswith("_p50") else "1/s"
            metrics[name] = (value, unit)
            rows.append((name, value, unit, f"{kind} ops: " + ", ".join(
                f"{counts.get(k, 0)} {k}" for k in kind.split("+"))))
        metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
        rows.append(("peak_rss_mb", rss.peak_mb, "MB", "whole run, driver + JVM + Python workers"))
        for name, value, unit, basis in rows:
            print(f"{name:<14} {value:>14.4f} {unit:<4} {basis}")
        for k in sorted(counts):
            print(f"{k} walls (s): " + " ".join(f"{o.wall_s:.3f}" for o in timed if o.kind == k))
    print(f"{'error_rate':<14} {result['failed'] / result['attempted']:>14.4f} ratio "
          f"{result['failed']} failed of {result['attempted']} ops (warm-up included)")
    if any(not math.isfinite(v) for v, _ in metrics.values()):
        raise RuntimeError("a metric had no operations behind it; raise --seconds")
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return result


def write_trace(a, spans: list, table: dict, overhead: float, kind: str) -> None:
    out = OUT / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{a.workload}-seed{a.seed}.json"
    with open(path, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed,
                   "tracing_overhead_s": {"op": kind, "value": overhead},
                   "modules": table, "spans": spans}, f, indent=1)
    print(f"trace written to {path.relative_to(ROOT)}")


def print_modules(table: dict) -> None:
    keys = ("calls", "self_s", "busy_s", "jobs", "driver_s")
    print(f"{'module':<26}" + "".join(f"{k:>10}" for k in keys))
    for name, row in sorted(table.items()):
        print(f"{name:<26}" + "".join(f"{row.get(k, 0):>10.3f}" for k in keys))


def main(argv=None) -> int:
    a = parse_args(argv)
    if not (ROOT / "mosaic_engine" / "__init__.py").is_file() or not (
        ROOT / "scripts" / "bench_incremental_dedup.py"
    ).is_file():
        print(f"perfbench: {ROOT} is not a checkout of the repository "
              "(mosaic_engine/ or scripts/ is missing)", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]
    result = run(a)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
