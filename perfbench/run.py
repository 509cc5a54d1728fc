"""renoir_spark benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload {batch,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One Python process drives ``local[N]``
(N = usable CPUs); a single client issues one operation at a time and
one extra thread samples memory. The run:

1. starts the Spark session, prepares the workload's inputs from the
   seed (tables, spools), builds the pristine index (``ingest``),
   derives the expected outputs with DuckDB and runs the workload's
   warm-up. ``setup_s`` is the time from process start to the end of
   the warm-up, less the host-speed probe;
2. starts whole units of work until ``--seconds`` have passed;
3. checks every operation's output (warm-up included) outside the
   timed window and prints one ``metric`` line per metric (value, unit,
   sample count), the host context, and a final JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced units, reports the per-layer metrics, and writes
the spans and the full per-layer table under
``.perfbench/trace/<workload>-<seed>/``.
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
from statistics import median

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import layers  # noqa: E402
from host import HostContext, RssSampler  # noqa: E402
from tracing import Recorder, Tracer  # noqa: E402


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def start_spark(root: str, cpus: int):
    from pyspark.sql import SparkSession

    jtmp = os.path.join(root, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("renoir_spark_perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(root, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tally(wl, ops) -> tuple[int, int]:
    """(attempted, failed): an operation fails if its output does not
    match the expected output (or, for a drain, if the query raised)."""
    return len(ops), sum(0 if wl.check(o) else 1 for o in ops)


def pooled_rate(units) -> float:
    """Items per second over whole units: all items over all the time
    their operations took."""
    return sum(n for _, n in units) / sum(s for s, _ in units)


def typical_latency(samples: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median
    latency. A median over the pooled samples would sit on the edge
    between two kinds' clusters and jump between them; this gives every
    kind a fixed weight, so a change to any one kind moves it."""
    return math.exp(sum(math.log(median(v)) for v in samples.values()) / len(samples))


def end_to_end(wl, ops, units, setup_s: float, peak: int) -> dict:
    samples = wl.samples(ops)
    return {
        "setup_s": (setup_s, "s", 1),
        "items_per_s": (pooled_rate(units), "1/s", len(units)),
        "op_p50_ms": (typical_latency(samples), "ms",
                      sum(len(v) for v in samples.values())),
        "peak_rss_mb": (peak / 2 ** 20, "MB", 1),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("batch", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import renoir_spark  # noqa: F401
        import workloads
    except ImportError as e:
        log(f"perfbench: cannot import the program under test: {e}")
        return 2

    # a terminated run still unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host = HostContext()
    root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(root, exist_ok=True)
    # every spool, index copy, checkpoint, temp and Spark scratch file
    # lives under root (an inherited SPARK_LOCAL_DIRS would win over
    # spark.local.dir, so set the variable itself)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.makedirs(tempfile.tempdir, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = None
    try:
        spark = start_spark(root, host.cpus)
        # the host-speed probe is metadata, not set-up
        session_s = time.perf_counter() - T_PROCESS - host.probe_before_s
        env = workloads.Env(spark, root, args.seed)
        wl = workloads.WORKLOADS[args.workload]()
        t = time.perf_counter()
        wl.prepare(env)
        prep_s = time.perf_counter() - t
        t = time.perf_counter()
        if hasattr(wl, "build"):
            wl.build(env)
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.expect(env)
        expect_s = time.perf_counter() - t
        warm = Recorder()
        t = time.perf_counter()
        wl.warmup(env, warm)
        warm_s = time.perf_counter() - t
        setup_s = session_s + prep_s + build_s + expect_s + warm_s
        log(f"perfbench: session {session_s:.2f}s prep {prep_s:.2f}s "
            f"build {build_s:.2f}s expect {expect_s:.2f}s warm-up {warm_s:.2f}s")

        if args.trace:
            rec = Tracer(spark)
            rec.install()
        else:
            rec = Recorder()
        unit_s: dict[bool, list] = {True: [], False: []}
        with RssSampler() as rss:
            t0 = time.perf_counter()
            k = 0
            # whole units until the time is up and (traced) both halves
            # of the traced/untraced comparison exist
            while time.perf_counter() - t0 < args.seconds or (args.trace and k < 2):
                if args.trace:
                    rec.enabled = k % 2 == 0
                n0 = len(rec.ops)
                wl.step(env, rec, k)
                # the unit's operations only: index copies and output
                # reads between them are the benchmark's own work
                ops = rec.ops[n0:]
                unit_s[rec.tracing].append(
                    (sum(o.t1 - o.t0 for o in ops), sum(o.items for o in ops)))
                k += 1
            elapsed = time.perf_counter() - t0
        if args.trace:
            rec.uninstall()
            if hasattr(wl, "floor"):
                wl.floor(env)

        attempted, failed = tally(wl, warm.ops + rec.ops)
        ctx = host.finish()
        ctx.update(units=k, elapsed_s=round(elapsed, 3))

        if args.trace:
            metrics, table = layers.summarise(
                wl, rec, pooled_rate(unit_s[True]), pooled_rate(unit_s[False]))
            out = os.path.join(ROOT, ".perfbench", "trace", f"{args.workload}-{args.seed}")
            os.makedirs(out, exist_ok=True)
            rec.write_spans(os.path.join(out, "spans.jsonl"))
            with open(os.path.join(out, "layers.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "host": ctx, "layers": table}, f, indent=1, sort_keys=True)
            log(f"perfbench: trace written to {os.path.relpath(out, ROOT)}")
        else:
            metrics = end_to_end(wl, rec.ops, unit_s[False], setup_s, rss.peak)
            log("perfbench: median ms by kind " + json.dumps(
                {kind: round(median(v), 1) for kind, v in wl.samples(rec.ops).items()}))
            w = [o.ms for o in rec.ops if o.kind == "write"]
            if w:
                print(f"metric write_p50_ms {median(w):.6g} ms n={len(w)}")

        for name, (value, unit, n) in metrics.items():
            print(f"metric {name} {value:.6g} {unit} n={n}")
        print(f"metric fail_ratio {failed / attempted:.6g} 1 n={attempted}")
        print("host " + json.dumps(ctx, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
