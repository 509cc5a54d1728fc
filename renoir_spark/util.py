"""Small shared helpers for the renoir_spark engine."""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict
from urllib.parse import urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_col(c) -> Column:
    """Accept a Column or a column-name/SQL-expression string."""
    if isinstance(c, Column):
        return c
    if isinstance(c, str):
        return F.expr(c)
    raise TypeError(f"expected Column or str, got {type(c).__name__}")


def to_cols(cols) -> list[Column]:
    return [to_col(c) for c in cols]


def named_cols(exprs, named) -> list[Column]:
    """Positional exprs + keyword exprs aliased by keyword name."""
    out = to_cols(exprs)
    out.extend(to_col(e).alias(name) for name, e in named.items())
    return out


def ts_micros(c) -> Column:
    """Exact epoch microseconds (LONG) — integer arithmetic so band/range
    boundaries are bit-exact (no double rounding at the 16th digit)."""
    return F.unix_micros(to_col(c).cast("timestamp"))


def normalize_event_ts(df, col: str = "ts"):
    """Normalize a TIMESTAMP(NANOS)-parquet timestamp column: depending
    on session confs it reads as LONG nanos (nanosAsLong), TIMESTAMP, or
    TIMESTAMP_NTZ. Returns the DataFrame with ``col`` as a plain
    TIMESTAMP truncated to µs — matching DuckDB's nanos→micros read.
    (Shared by the suite loader, the bench spool, and examples.)"""
    if dict(df.dtypes).get(col) in ("bigint", "long"):
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df.withColumn(col, F.col(col).cast("timestamp"))


def grouped_apply_sorted(df, keys, order_cols, fn, schema):
    """``groupBy(keys).applyInPandas(fn)`` semantics executed as ONE
    ``mapInPandas`` pass: hash-repartition on the keys, sort within each
    partition by (keys, order_cols), then stream the partition's Arrow
    batches through ``fn`` one contiguous key group at a time.

    Why: ``applyInPandas`` pays a per-GROUP Arrow round trip; with many
    small groups (e.g. 1 500 users × ~70 rows) the fixed per-group cost
    dominates (measured 7.5 s → ~2 s on the transaction-window query at
    sf0.1). Here the per-group slicing is a pandas ``groupby`` over an
    already-sorted in-memory frame; Spark sees one exchange + one sort +
    one Python stage, the same shape it plans for window functions.

    A key group can span Arrow batch boundaries, so the tail group of
    every batch is carried into the next one; ``mapInPandas`` invokes the
    generator once per PARTITION, so a carry never crosses partitions
    (all rows of a key share a partition by the repartition above).

    Constraint: key columns must be non-null (the carry boundary uses
    ``==`` on key values; NaN != NaN would split a null key group).
    ``fn`` receives each group sorted by ``order_cols`` and may return a
    frame of any length matching ``schema``.
    """
    part = df.repartition(*keys).sortWithinPartitions(*list(keys), *list(order_cols))
    key_list = list(keys)

    def _proc(batches):
        import numpy as np
        import pandas as pd

        def run(pdf):
            outs = [
                fn(g.reset_index(drop=True))
                for _, g in pdf.groupby(key_list, sort=False, group_keys=False)
            ]
            outs = [o for o in outs if o is not None and len(o)]
            return pd.concat(outs, ignore_index=True) if outs else None

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            tail = np.ones(len(pdf), dtype=bool)
            for k in key_list:
                tail &= pdf[k].values == pdf[k].iloc[-1]
            split = len(pdf) - int(tail.sum())
            carry = pdf.iloc[split:].copy()
            head = pdf.iloc[:split]
            if len(head):
                out = run(head)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = run(carry)
            if out is not None:
                yield out

    return part.mapInPandas(_proc, schema)


def count_rows(df) -> int:
    """``df.count()`` in one Spark job. Catalyst's count adds a shuffle,
    so under AQE a not-yet-materialized cache counts in three jobs (the
    cache stage, the partial count, the final count); counting the
    plan's row RDD runs one job and fills the cache on the way."""
    return df._jdf.queryExecution().toRdd().count()


def tiny_df(spark, rows, schema):
    """ONE-partition DataFrame for metadata-sized row lists (index
    meta/grid/cells relations, empty hive-root resets).

    Plain ``createDataFrame(list)`` parallelizes the rows across
    ``defaultParallelism`` pickled Python partitions, so writing the
    result launches one task per CORE (measured: 3 × ~0.45 s of
    empty-task overhead per ANN index build at 32 cores, one file per
    core in the directory) — and ``coalesce(1)`` is WORSE, not better:
    the single task then computes those 32 Python partitions
    SEQUENTIALLY, each paying a Python-worker round trip (measured
    ~3.5 s per 1-row write). One slice at the source = one partition,
    one Python round, one task, one file — at any core count."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def run_concurrent(*thunks) -> None:
    """Run INDEPENDENT driver actions (writes to disjoint paths) on a
    small thread pool and wait for all — guide §2.6: actions are only
    sequential because driver code calls them sequentially. Used for
    the 1-task metadata/reset writes of an index build: each is almost
    pure commit latency (file create + rename), so running them
    sequentially stacks that latency while the cluster idles — at ANY
    scale, since the cost is per-write, not per-byte. Callers must
    ensure the thunks share no path and no ordering dependency.
    Failures propagate after every thunk has settled (no half-submitted
    pool teardown): a single failure is re-raised unchanged, two or more
    as one ``ExceptionGroup`` holding every cause."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        errs = []
        for f in futures:
            try:
                f.result()
            except BaseException as e:  # noqa: BLE001 - resurfaced below
                errs.append(e)
        if len(errs) == 1:
            raise errs[0]
        if errs:
            raise BaseExceptionGroup(
                f"{len(errs)} of {len(thunks)} concurrent actions failed", errs
            )


# -------------------------------------------------------------------- #
# Parquet reads with a per-file-set schema cache
# -------------------------------------------------------------------- #

# Session confs that change what a parquet read infers: footer type
# mapping, schema merging, column-name case, partition-value typing.
_PARQUET_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEMA_CACHE_MAX = 256
_schema_cache: OrderedDict = OrderedDict()
_schema_lock = threading.Lock()


def _local_fingerprint(path: str):
    """``(abspath, ((relpath, size, mtime_ns), ...))`` for every file
    under a bare or ``file:`` path, from one walk/stat pass. ``None``
    (uncacheable) for any other scheme, a glob, or a path that does not
    exist or changes while it is walked."""
    parts = urlsplit(path)
    if parts.scheme == "file" and not parts.netloc:
        local = parts.path
    elif parts.scheme:
        return None
    else:
        local = path
    if any(c in local for c in "*?[{"):
        return None
    local = os.path.abspath(local)
    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            return local, (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(local):
            for n in names:
                f = os.path.join(root, n)
                fst = os.stat(f)
                files.append(
                    (os.path.relpath(f, local), fst.st_size, fst.st_mtime_ns)
                )
    except OSError:
        return None
    return local, tuple(sorted(files))


def _parquet_schema_key(spark, paths):
    """Cache key of a schema-less parquet read: the inference confs plus
    every file under every path. ``None`` when any path is not local
    (bare paths count as local only under a ``file:`` default FS)."""
    if any(not urlsplit(p).scheme for p in paths):
        try:
            default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
                "fs.defaultFS"
            )
        except Exception:  # Connect session / API drift: no local view
            return None
        if not str(default_fs).startswith("file:"):
            return None
    files = []
    for p in paths:
        fp = _local_fingerprint(p)
        if fp is None:
            return None
        files.append(fp)
    confs = tuple(spark.conf.get(k, None) for k in _PARQUET_INFER_CONFS)
    return confs, tuple(files)


def read_parquet(spark, *paths):
    """``spark.read.parquet(*paths)`` that infers the schema once per
    file set per process. Inference is a one-task Spark job reading the
    footers; renoir pays nothing here (a source's schema is its element
    type). On a hit the read passes the kept schema, so Spark still
    lists the files and plans the same scan — only the footer job goes.

    The key is every file under each path (name, size, ``mtime_ns``)
    plus the session confs in ``_PARQUET_INFER_CONFS``: a path rewritten
    in place, or a flipped type-mapping conf, is inferred again. Paths
    with a non-``file:`` scheme are never cached. A failed inference
    stores nothing, so an empty directory raises as before. The cache
    is a process-wide LRU of ``_SCHEMA_CACHE_MAX`` schemas, guarded by
    a lock (``run_concurrent`` threads read in parallel)."""
    key = _parquet_schema_key(spark, paths)
    if key is not None:
        with _schema_lock:
            schema = _schema_cache.get(key)
            if schema is not None:
                _schema_cache.move_to_end(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    if key is not None:
        with _schema_lock:
            # evict before inserting, so the cache never holds more than
            # its cap, even for a reader that looks without the lock
            _schema_cache.pop(key, None)
            while len(_schema_cache) >= _SCHEMA_CACHE_MAX:
                _schema_cache.popitem(last=False)
            _schema_cache[key] = df.schema
    return df


# -------------------------------------------------------------------- #
# Partition-pruned probe reads (persisted dedup / ANN indexes)
# -------------------------------------------------------------------- #

# Probe batches collect their touched hive-partition keys to the driver
# and inline them as a literal IN partition filter — the cheapest prune,
# but a literal list only stays sane while the key set is small. Past
# this threshold the probe switches to a broadcast semi-join on the
# partition column and lets DYNAMIC partition pruning do the listing
# prune at runtime instead. 64 matches the default bucket_dirs of the
# dedup indexes: a probe touching every bucket of a default index still
# takes the literal path (bit-identical plans to rounds 1-4), while a
# wide ANN probe (n_cells in the thousands at corpus scale) never
# inlines thousands of literals.
PROBE_LITERAL_MAX = 64


def prune_partitions(read_df, part_col: str, keys_df, *,
                     literal_max: int = PROBE_LITERAL_MAX):
    """Restrict a hive-partitioned scan to the partitions named by
    ``keys_df`` (a one-column relation named ``part_col``).

    Bounded driver collect of at most ``literal_max + 1`` distinct keys:

    - fits → literal ``IN`` partition filter (static prune; the file
      listing itself only touches those directories). Returns the sorted
      key list so callers can early-exit on an empty probe.
    - overflows → broadcast LEFT SEMI join on the partition column.
      The build side carries an always-true ``>= LONG_MIN`` comparison
      purely to satisfy Catalyst's DPP selectivity heuristic
      (``isLikelySelective`` wants a binary comparison; a bare derived
      relation is not considered a pruning source), so the scan gets a
      ``dynamicpruningexpression`` partition filter and still lists only
      the probed directories — no unbounded literal ever reaches the
      plan. Returns ``None`` for the key list.

    NULL keys never name a partition on either path (SQL join/IN
    semantics).

    The key collect is ONE aggregate job: ``collect_set`` with map-side
    partial aggregation, sorted and sliced to ``literal_max + 1`` on
    the 1-row result. A ``distinct().limit().collect()`` here ran as an
    AQE executeTake — shuffle-stage job plus one-or-more incremental
    take jobs — and the index round trips pay this collect 2-4 times
    per increment, so the extra jobs were pure driver-floor tax
    (measured round 11: ~50 ms planning gap per job). Driver safety is
    unchanged: the aggregation state is bounded by the PARTITION-KEY
    DOMAIN, which is the physical directory count of the index layout
    (bucket_dirs / n_cells), not the data volume."""
    row = keys_df.agg(
        F.slice(
            F.sort_array(F.collect_set(F.col(part_col))),
            1, literal_max + 1,
        ).alias("__ks")
    ).collect()[0]
    head = list(row["__ks"] or [])
    vals = [int(k) for k in head]  # collect_set never emits NULL
    if len(head) <= literal_max:
        return read_df.filter(F.col(part_col).isin(vals)), vals
    build = keys_df.distinct().filter(
        F.col(part_col) >= F.lit(-(1 << 63))
    )
    return read_df.join(F.broadcast(build), part_col, "left_semi"), None


# -------------------------------------------------------------------- #
# Deterministic release of localCheckpoint blocks
# -------------------------------------------------------------------- #

def is_local_checkpoint(df) -> bool:
    """True when ``df`` is the direct result of a ``localCheckpoint``
    (its logical plan is the block-backed ``LogicalRDD`` scan)."""
    try:
        plan = df._jdf.queryExecution().logical()
        return plan.getClass().getSimpleName() == "LogicalRDD"
    except Exception:  # pragma: no cover - Connect / API drift
        return False


def free_local_checkpoint(df, blocking: bool = False) -> None:
    """Release a superseded DataFrame's storage — INCLUDING
    ``localCheckpoint`` blocks, which ``Dataset.unpersist`` does NOT
    free (it only routes through the CacheManager; the checkpoint's RDD
    blocks are owned by the ``LogicalRDD``'s backing RDD, measured in
    tests/test_round6.py). For plain ``persist``-ed frames this falls
    back to ``Dataset.unpersist``.

    DESTRUCTIVE for checkpoints: a freed checkpoint has no lineage, so
    any later read of ``df`` — or a cache-evicted lazy DESCENDANT whose
    recompute path runs through it — fails loudly with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Only call once nothing
    (including recompute paths) can reach the frame again: after a
    successor eager checkpoint holds the data, or after the loop's
    final result has been checkpointed."""
    try:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)
            # do NOT return: a bare-LogicalRDD plan is not always a
            # checkpoint — a persist()-ed frame built from an RDD (or
            # an iterate body returning its checkpointed input
            # unchanged) also scans a LogicalRDD, and skipping the
            # Dataset release would leave its CacheManager entry
            # pinned for the session. Releasing both surfaces is
            # idempotent and safe (ADVICE round 6).
    except Exception:  # pragma: no cover - Connect / API drift: fall
        pass           # back to the (cache-only) public release below
    df.unpersist(blocking)
