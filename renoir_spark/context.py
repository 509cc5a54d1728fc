"""StreamContext — the session/driver object.

Reference parity: renoir's ``StreamContext`` (src/environment.rs:42-113) owns
the config and scheduler and is the factory for every source
(src/environment.rs:69-78). Here it wraps a ``SparkSession``: the "scheduler"
is Spark's DAG scheduler, and ``execute()`` is implicit in DataFrame actions.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession

from .stream import Stream
from .util import read_parquet

_DEFAULT_CONF = {
    # Catalyst/AQE do the physical planning renoir leaves to the user
    # (SURVEY.md §4): runtime re-plan, skew-join splitting, partial aggs.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # UTC so results compare bit-for-bit with the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas-UDF boundary (the only Python hot paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver-generated events table stores TIMESTAMP(NANOS) which the
    # vectorized parquet reader rejects; read as long and convert (µs
    # truncation matches DuckDB's nanos→micros read behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate infers `size(x) > 0 AND isnotnull(x)` from
    # every explode; the predicate looks cheap on the generator's input
    # ATTRIBUTE, but predicate pushdown then substitutes it through the
    # staging projections and below exchanges, inlining the whole
    # tokenize→shingle chain into the (often 1-2 task) scan stage — and
    # un-staging it back into per-array-element re-evaluation. Measured:
    # 18 s → 1 s on the shingle-explode stage at sf0.1. Partition-prune
    # wins from the rule don't apply to our explode shapes.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}

# Confs safe to set on an already-running session (all runtime SQLConfs).
_DYNAMIC_CONF = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.adaptive.enabled",
    "spark.sql.optimizer.excludedRules",
)


class StreamContext:
    """Factory for :class:`Stream` s over a SparkSession.

    renoir: ``StreamContext::new(config)`` (src/environment.rs:49-54);
    sources are ``env.stream(source)`` / ``env.stream_file`` / etc.
    """

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        *,
        master: str = "local[*]",
        shuffle_partitions: Optional[int] = None,
        app_name: str = "renoir_spark",
        **conf: str,
    ) -> None:
        if spark is None:
            builder = SparkSession.builder.master(master).appName(app_name)
            merged = dict(_DEFAULT_CONF)
            if shuffle_partitions is not None:
                merged["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
            merged.update(conf)
            for k, v in merged.items():
                builder = builder.config(k, v)
            spark = builder.getOrCreate()
        else:
            # wrapping an externally-created session (e.g. the test/verify
            # driver's): apply the runtime-settable correctness confs
            for k in _DYNAMIC_CONF:
                try:
                    spark.conf.set(k, _DEFAULT_CONF[k])
                except Exception:
                    pass
        self.spark = spark

    # ------------------------------------------------------------------ #
    # sources (SURVEY.md §2.1)
    # ------------------------------------------------------------------ #

    def from_df(self, df: DataFrame) -> Stream:
        """Wrap an existing DataFrame (generic ``env.stream(source)``,
        src/environment.rs:69-78)."""
        return Stream(self, df)

    def stream_iter(self, rows: Iterable, schema=None) -> Stream:
        """In-memory rows, renoir ``stream_iter``
        (src/operator/source/iterator.rs:116-124, single replica).
        Spark-first: ``createDataFrame`` — small driver-side data only."""
        return Stream(self, self.spark.createDataFrame(list(rows), schema=schema))

    def stream_range(self, n: int, *, partitions: Optional[int] = None) -> Stream:
        """Dense integer range — renoir ``stream_par_iter`` over
        ``0..n`` (src/operator/source/parallel_iterator.rs:230-251).
        ``spark.range`` generates distributed, per-partition, no driver data."""
        df = self.spark.range(n, numPartitions=partitions) if partitions else self.spark.range(n)
        return Stream(self, df)

    def stream_par_iter(self, gen, *, partitions: Optional[int] = None,
                        schema=None) -> Stream:
        """Parallel generator source — renoir ``stream_par_iter`` with an
        arbitrary ``gen(replica_id, num_replicas) -> iterator`` function
        (src/operator/source/parallel_iterator.rs:230-251): each of
        ``partitions`` replicas generates its slice executor-side (no
        driver data). An int argument falls back to the dense range."""
        if isinstance(gen, int):
            return self.stream_range(gen, partitions=partitions)
        n_part = partitions or self.spark.sparkContext.defaultParallelism
        rdd = self.spark.sparkContext.parallelize(range(n_part), n_part)
        rows = rdd.mapPartitionsWithIndex(
            lambda pid, _it, _g=gen, _n=n_part: _g(pid, _n)
        )
        return Stream(self, self.spark.createDataFrame(rows, schema=schema))

    def stream_file(self, path: str) -> Stream:
        """Text lines, parallel byte-range chunks — renoir ``stream_file``
        (src/operator/source/file.rs:55-80). Column: ``value: string``."""
        return Stream(self, self.spark.read.text(path))

    def stream_csv(
        self,
        path: str,
        schema=None,
        *,
        header: bool = True,
        delimiter: str = ",",
        quote: str = '"',
        escape: str = "\\",
        comment: str = "",
        **options,
    ) -> Stream:
        """Distributed CSV scan — renoir ``CsvSource``
        (src/operator/source/csv.rs:89-257) with its option surface
        (delimiter/quote/escape/comment/headers). Spark's reader does the
        same header-aware byte-range splitting (csv.rs:266-330) natively."""
        reader = self.spark.read.options(
            header=str(header).lower(),
            sep=delimiter,
            quote=quote,
            escape=escape,
            **({"comment": comment} if comment else {}),
            **options,
        )
        if schema is not None:
            reader = reader.schema(schema)
        return Stream(self, reader.csv(path))

    def stream_parquet(self, path: str, *paths: str) -> Stream:
        """Parquet scan — renoir ``ParquetSource``
        (src/operator/source/parquet.rs:21-93) is single-replica Arrow
        batches; Spark's scan is distributed with pushdown/pruning.

        The schema is inferred once per file set per process
        (:func:`util.read_parquet`): a repeat read of unchanged files
        skips Spark's footer-inference job. It is inferred again when
        any file under the paths changes (name, size or mtime) or when
        a conf that changes parquet type mapping or partition inference
        does (``nanosAsLong``, ``binaryAsString``, ``caseSensitive``,
        ...). Paths with a non-``file:`` scheme are never cached."""
        return Stream(self, read_parquet(self.spark, path, *paths))

    def compact_parquet(self, src_path: str, dst_path: str, *,
                        target_file_mb: int = 256, **options) -> int:
        """Small-files compaction (beyond-reference; the classic large-
        corpus maintenance op): read a parquet dataset, rewrite it as
        ``ceil(total_bytes / target_file_mb)`` similarly-sized files.
        Millions of KB-scale files destroy scan parallelism economics —
        footer reads and task scheduling dominate — so ingest pipelines
        compact before training reads. Sizing uses the source's on-disk
        bytes (compressed), so output files land near ``target_file_mb``
        of parquet, not of in-memory rows. Returns the file count.

        Local/posix paths are sized directly; on object stores pass the
        dataset through ``spark.read`` metadata instead (same repartition
        + write shape)."""
        import glob as _glob
        import os as _os

        files = [
            f for f in _glob.glob(f"{src_path}/**", recursive=True)
            if _os.path.isfile(f) and not _os.path.basename(f).startswith((".", "_"))
        ]
        total = sum(_os.path.getsize(f) for f in files)
        n_out = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        (
            read_parquet(self.spark, src_path)
            .repartition(n_out)
            .write.mode("overwrite").options(**options).parquet(dst_path)
        )
        return n_out

    def stream_table(self, name: str) -> Stream:
        """Catalog table scan (beyond-reference) — the read side of
        ``Stream.write_table_bucketed``: bucketed tables carry their
        hash layout into the plan, so joins/aggs on the bucket columns
        run shuffle-free."""
        return Stream(self, self.spark.table(name))

    def stream_json(self, path: str, schema=None, **options) -> Stream:
        """JSON-lines scan (beyond-reference — renoir has no JSON source;
        Spark's distributed reader comes free). Pass ``schema`` to skip
        the inference pass — at scale inference reads the data twice."""
        reader = self.spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return Stream(self, reader.json(path))

    def stream_avro(self, path: str) -> Stream:
        """Avro scan — renoir ``AvroSource``
        (src/operator/source/avro.rs:49-76). Needs spark-avro on the
        classpath; raises a clear error when absent."""
        try:
            return Stream(self, self.spark.read.format("avro").load(path))
        except Exception as exc:  # pragma: no cover - classpath dependent
            raise RuntimeError(
                "avro support requires the spark-avro package on the classpath"
            ) from exc

    def stream_kafka(
        self,
        brokers: str,
        topic: str,
        *,
        starting_offsets: str = "earliest",
        **options,
    ) -> Stream:
        """Unbounded Kafka source — renoir ``KafkaSource``
        (src/operator/source/kafka.rs:51-120). Structured Streaming
        ``readStream.format("kafka")``; needs the kafka connector jar."""
        df = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .options(**options)
            .load()
        )
        return Stream(self, df)

    def stream_binary(self, path: str, *, glob: Optional[str] = None) -> Stream:
        """Opaque media files as binary rows (path, modificationTime,
        length, content) — the multimodal ingestion source (north star;
        see multimodal.py). For millions of small files, pack to parquet
        via multimodal.pack_binary and re-scan with normal splits."""
        reader = self.spark.read.format("binaryFile")
        if glob:
            reader = reader.option("pathGlobFilter", glob)
        return Stream(self, reader.load(path))

    def stream_parquet_unbounded(
        self,
        path: str,
        schema,
        *,
        max_files_per_trigger: Optional[int] = None,
        max_bytes_per_trigger: Optional[str] = None,
        latest_first: bool = False,
        **options,
    ) -> Stream:
        """File-based streaming source (test stand-in for Kafka): replays
        parquet files through Structured Streaming.

        Trigger/rate options thread through to the file source:
        ``max_files_per_trigger`` bounds each micro-batch by file count
        (the replay-in-order knob — one ``materialize``d phase output per
        batch), ``max_bytes_per_trigger`` (e.g. ``"128m"``) bounds it by
        volume (the backfill-without-OOM knob at 100 TB), and
        ``latest_first`` drains newest files first. Extra ``options``
        pass through verbatim (``fileNameOnly``, ``maxFileAge``, ...)."""
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        if max_bytes_per_trigger is not None:
            reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
        if latest_first:
            reader = reader.option("latestFirst", "true")
        for k, v in options.items():
            reader = reader.option(k, v)
        return Stream(self, reader.parquet(path))

    def stream_channel(self, schema, *, directory: Optional[str] = None) -> "ChannelSource":
        """Push-based feed — renoir ``ChannelSource``
        (src/operator/source/channel.rs:18-67): the producer holds a
        handle and pushes batches; the stream consumes them unbounded.

        Spark-first mapping: a spool DIRECTORY consumed by the file
        streaming source. ``push(rows)`` appends one parquet file; each
        pushed file is a unit the next micro-batch picks up (pair with
        ``maxFilesPerTrigger=1`` to replay push-by-push). The same
        pattern scales to production: producers drop files on shared
        storage, executors pick them up — no driver channel bottleneck.
        """
        return ChannelSource(self, schema, directory)

    def stream_rate(self, rows_per_second: int = 10,
                    *, num_partitions: Optional[int] = None) -> Stream:
        """Continuous generator source — renoir ``AsyncStreamSource``
        (src/operator/source/async_stream.rs:16-60) produces elements as
        an async stream yields them; Spark's ``rate`` source is the
        built-in equivalent: unbounded ``(timestamp, value)`` rows at a
        controlled rate, generated executor-side (``num_partitions``
        spreads generation). Compose with map/filter/window like any
        unbounded stream."""
        reader = (
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second)
        )
        if num_partitions is not None:
            reader = reader.option("numPartitions", num_partitions)
        return Stream(self, reader.load())

    def sql(self, query: str) -> Stream:
        """Escape hatch renoir doesn't have: full Spark SQL."""
        return Stream(self, self.spark.sql(query))

    def ann_index(self, path: str):
        """Open a persisted IVF+SQ8 ANN index (built by
        ``Stream.ann_index_build``) — see ann_index module."""
        from .ann_index import ann_index_load

        return ann_index_load(self.spark, path)

    def dedup_index(self, path: str):
        """Open a persisted MinHash-LSH dedup index (built by
        ``Stream.dedup_index_build``) — see dedup_index module."""
        from .dedup_index import dedup_index_load

        return dedup_index_load(self.spark, path)

    def phash_index(self, path: str):
        """Open a persisted perceptual-hash media dedup index (built
        by ``Stream.phash_index_build``) — see dedup_index module."""
        from .dedup_index import phash_index_load

        return phash_index_load(self.spark, path)

    def execute(self) -> None:
        """renoir ``execute_blocking`` (src/environment.rs:97-105) is a
        no-op here: Spark actions (collect/write) trigger execution."""
        return None


class ChannelSource:
    """Producer handle + unbounded stream — renoir ``ChannelSource``
    (src/operator/source/channel.rs:18-67, test feed in tests/utils.rs).

    ``push(rows)`` appends one parquet file to a spool directory;
    ``stream()`` returns the unbounded Stream reading it. Files pushed
    after a streaming query starts are picked up by later micro-batches,
    which is exactly the reference's push-then-consume contract.

    Scale note: ``push`` routes the batch THROUGH THE DRIVER
    (``createDataFrame`` per call) — right for the test-feed use it
    serves, wrong for a high-volume producer. The spool-dir design
    itself needs no driver: producers at scale write parquet files to
    ``self.directory`` (shared storage) with their own writer and the
    consuming stream picks them up identically — ``push_file`` registers
    such an externally-written file, or use ``push_df`` to write a
    DataFrame executor-side without driver materialization."""

    def __init__(self, ctx: StreamContext, schema, directory: Optional[str] = None) -> None:
        import tempfile

        self._ctx = ctx
        self._schema = schema
        self.directory = directory or tempfile.mkdtemp(prefix="renoir_channel_")
        self._pushes = 0

    def push(self, rows: Iterable) -> None:
        """Append one batch (one parquet file = one replayable unit).
        Driver-side by design — see the class scale note."""
        df = self._ctx.spark.createDataFrame(list(rows), self._schema)
        df.coalesce(1).write.mode("append").parquet(self.directory)
        self._pushes += 1

    def push_df(self, df) -> None:
        """Producer-side push of an already-distributed DataFrame: the
        write happens on the executors (append-mode parquet into the
        spool), the driver never materializes the rows."""
        df.write.mode("append").parquet(self.directory)
        self._pushes += 1

    def push_file(self, path: str) -> None:
        """Register an externally-written parquet file (the 100 TB
        producer path: any writer drops files on the shared spool dir).
        The file is hard-linked (same filesystem) or copied into the
        spool so the file source sees a complete, atomic unit."""
        import os
        import shutil
        import uuid

        dst = os.path.join(
            self.directory, f"push-{uuid.uuid4().hex}-{os.path.basename(path)}"
        )
        try:
            os.link(path, dst)
        except OSError:
            # cross-filesystem: a direct copy into the spool is NOT
            # atomic — a draining file source could list the
            # half-written destination mid-copy. Copy to a dot-prefixed
            # temp name (hidden from Spark's file listing) in the SAME
            # directory, then rename (atomic within a filesystem).
            tmp = os.path.join(self.directory, f".{os.path.basename(dst)}.tmp")
            try:
                shutil.copy2(path, tmp)
                os.rename(tmp, dst)
            except BaseException:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
                raise
        self._pushes += 1

    def stream(self, *, max_files_per_trigger: Optional[int] = None) -> Stream:
        """The consuming unbounded Stream. ``max_files_per_trigger=1``
        replays push-by-push (one micro-batch per pushed file)."""
        reader = self._ctx.spark.readStream.schema(self._schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return Stream(self._ctx, reader.parquet(self.directory))

    def stream_batch(self) -> Stream:
        """Bounded view over everything pushed so far (batch replays of
        the channel contents — handy for oracle comparison)."""
        return Stream(self._ctx, self._ctx.spark.read.schema(self._schema).parquet(self.directory))
