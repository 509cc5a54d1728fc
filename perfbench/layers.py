"""Per-layer numbers of a traced run.

``summarise`` returns the metrics every workload reports (the
``per_layer`` list of BENCHMARK.json: plan construction, Spark
scheduling, executor work, Python workers, library self time, tracing
overhead) and the workload's full layer table, which adds per-query,
per-index-operation and per-streaming-leg rows.
"""

from __future__ import annotations

from collections import defaultdict

from statistics import median

COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_ms",
            "spark.task_ms", "spark.task_cpu_ms", "spark.gc_ms",
            "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
            "spark.output_bytes", "py.init_ms", "py.run_ms",
            "py.bytes_sent", "py.bytes_returned")


def _unit(name: str) -> str:
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_bytes") or name.startswith("py.bytes"):
        return "B"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_per_s"):
        return "1/s"
    return "count"


def summarise(wl, tracer, traced_rate: float, plain_rate: float):
    ops = [o for o in tracer.ops if o.traced]
    n = len(ops)
    counters = tracer.spark_counters()
    spans = tracer.spans
    self_ms = tracer.self_times()

    plan = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == "plan"]
    lib = [s for s in spans if not s["name"].startswith("op:")
           and s["name"] not in ("plan", "action")]
    common = {"plan.build_ms": median(plan) if plan else 0.0}
    for c in COUNTERS:
        common[c] = sum(counters[o.id][c] for o in ops) / n
    common["lib.calls"] = len(lib) / n
    common["lib.self_ms"] = sum(v for k, v in self_ms.items()
                                if not k.startswith("op:")
                                and k not in ("plan", "action")) / n
    common["trace.items_per_s"] = traced_rate
    common["trace.overhead_pct"] = 100.0 * (1.0 - traced_rate / plain_rate)

    table = dict(common)
    table["ops.traced"] = n
    # reused workers make this 0 on most runs: kept out of the common set
    table["py.start_ms"] = sum(counters[o.id]["py.start_ms"] for o in ops) / n
    table["op.self_ms"] = sum(v for k, v in self_ms.items() if k.startswith("op:")) / n
    module_self: dict[str, float] = defaultdict(float)
    for k, v in self_ms.items():
        if not k.startswith("op:") and k not in ("plan", "action"):
            module_self[k.split(".")[0]] += v
    for mod, v in module_self.items():
        table[f"lib.{mod}.self_ms"] = v / n

    per_name: dict[str, list] = defaultdict(list)
    for o in ops:
        per_name[o.name].append(o)
    for name, os_ in per_name.items():
        if name.startswith("q"):
            short = name.split("_")[0]
            table[f"q.{short}.ms"] = median(o.ms for o in os_)
            table[f"q.{short}.jobs"] = median(counters[o.id]["spark.jobs"] for o in os_)
        elif name.startswith("index."):
            table[f"{name}_ms"] = median(o.ms for o in os_)
        elif os_[0].kind == "drain":
            table.update(_stream_rows(name, [p for o in os_ for p in o.extra["progress"]]))
            table[f"stream.{name}.drain_ms"] = median(o.ms for o in os_)
    writes = [o.ms for o in ops if o.kind == "write"]
    if writes:
        table["index.write_p50_ms"] = median(writes)
    health = getattr(getattr(wl, "index", None), "health", None)
    if health:
        table["index.files"] = health["files"]
        table["index.tombstones"] = health["tombstones"]
    floor = getattr(wl, "floor_progress", None)
    if floor:
        table["stream.floor.batch_ms"] = median(
            p["durationMs"]["triggerExecution"] for p in floor)
        table["stream.floor.batches"] = len(floor)

    common = {k: (v, _unit(k), n) for k, v in common.items()}
    table = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(table.items())}
    return common, table


def _stream_rows(leg: str, progress: list) -> dict:
    def dur(p, k):
        return p["durationMs"].get(k, 0)

    def state(p, k):
        return sum(s.get(k, 0) for s in p.get("stateOperators", []))

    return {
        f"stream.{leg}.batches": len(progress),
        f"stream.{leg}.batch_ms": median(dur(p, "triggerExecution") for p in progress),
        f"stream.{leg}.planning_ms": median(dur(p, "queryPlanning") for p in progress),
        f"stream.{leg}.add_batch_ms": median(dur(p, "addBatch") for p in progress),
        f"stream.{leg}.log_ms": median(dur(p, "walCommit") + dur(p, "commitOffsets")
                                       for p in progress),
        f"stream.{leg}.state_commit_ms": median(state(p, "commitTimeMs") for p in progress),
        f"stream.{leg}.state_rows_peak": max(state(p, "numRowsTotal") for p in progress),
    }
