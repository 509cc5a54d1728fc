"""The two workloads: one closed-loop client, one operation at a time.

Each workload has the same shape:

* ``prepare(env)``: generate the inputs from the seed and write the
  streaming spools.
* ``build(env)`` (optional): build the program's starting state once.
* ``expect(env)``: derive expected outputs outside the program (DuckDB
  mirrors of the operators), once per run.
* ``warmup(env, rec)`` and ``step(env, rec, k)``: the warm-up and the
  k-th unit of closed-loop work, recorded as operations on ``rec``.
  Outputs are kept on the op and checked after the timed window by
  ``check(op)``.
* ``samples(ops)``: the latency samples behind ``op_p50_ms``, by
  operation kind.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import struct
import time
import uuid
import zlib

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen


def _norm(v):
    """The oracle tests' normalisation: floats compare bit-exact."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v).hex()
    return v


def _digest(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple(str(x) for x in t))
    return hashlib.sha256(repr((sorted(cols), body)).encode()).hexdigest()


def spark_digest(rows, cols) -> str:
    return _digest(cols, [tuple(r.asDict(recursive=True)[c] for c in cols)
                          for r in rows])


def duck_digest(con, sql: str) -> str:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return _digest(cols, res.fetchall())


def duck_connect(data_dir: str):
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _id_hash(seed: int, i: int) -> int:
    return zlib.crc32(f"{seed}:{i}".encode())


def _in(ids) -> str:
    return "(" + ",".join(str(i) for i in sorted(ids)) + ")" if ids else "(NULL)"


class Env:
    def __init__(self, spark, root: str, seed: int):
        from renoir_spark import StreamContext

        self.spark = spark
        self.ctx = StreamContext(spark)
        self.root = root
        self.seed = seed
        self.data = os.path.join(root, "data")

    def read(self, table: str):
        return self.spark.read.parquet(f"{self.data}/{table}.parquet")


# --------------------------------------------------------------------- #
# batch: a fixed mix of suite queries, each fully materialised
# --------------------------------------------------------------------- #

# joins, wordcount, session and transaction windows, keyed map, NEXMark,
# the Arrow UDF path (q51) and the iteration loop (q25): every query's
# DuckDB oracle runs in well under a second at this size, which the
# dedup-cluster queries' recursive oracles do not
BATCH_MIX = (
    "q03_shipping_priority", "q09_wordcount", "q13_sessions",
    "q25_connected_components", "q36_transaction_window",
    "q42_keyed_rich_map", "q51_multimodal_decode", "q61_nexmark_hot_items",
)


class Batch:
    name = "batch"

    def prepare(self, env: Env) -> None:
        datagen.generate(env.seed, env.data)

    def expect(self, env: Env) -> None:
        from renoir_spark import suite

        con = duck_connect(env.data)
        self.expected = {q: duck_digest(con, suite.ORACLE[q]) for q in BATCH_MIX}
        con.close()

    def step(self, env: Env, rec, k: int) -> None:
        """One pass over the mix, in an order drawn from (seed, pass)."""
        from renoir_spark import suite

        order = list(BATCH_MIX)
        random.Random(env.seed * 1000 + k).shuffle(order)
        for q in order:
            with rec.op(q, "query") as op:
                with rec.phase("plan"):
                    df = suite.QUERIES[q](env.spark, env.data)
                with rec.phase("action"):
                    rows = df.collect()
                op.output = (rows, df.columns)

    def warmup(self, env: Env, rec) -> None:
        self.step(env, rec, -1)

    def check(self, op) -> bool:
        rows, cols = op.output
        return spark_digest(rows, cols) == self.expected[op.name]

    def samples(self, ops):
        out: dict[str, list] = {}
        for o in ops:
            out.setdefault(o.name, []).append(o.ms)
        return out


# --------------------------------------------------------------------- #
# ingest: index lifecycle, then streaming backlog drains
# --------------------------------------------------------------------- #

MH_THRESHOLD = 0.7


class IndexLifecycle:
    """A MinHash DedupIndex built once per run; every pass works on a
    fresh copy of that pristine build.

    The seed's id hash picks the increment (ids hashing to 0 mod 12) and
    the takedown set (pristine ids hashing to 1 mod 12). A pass deletes
    first, so the probe that follows runs the tombstone anti-join.

    Both halves are checked: the probe's survivors against the DuckDB
    mirror of ``dedup_batch``, and the compacted index's postings and
    shingles (read after the pass, untimed) against the pristine
    build's rows of the live documents plus the DuckDB mirror of the
    index chain over the expected survivors. An append that writes
    nothing, a delete that is lost or a compaction that drops rows
    fails the pass."""

    def build(self, env: Env) -> None:
        from renoir_spark.dedup_index import dedup_index_build

        n = datagen.SIZES["documents"]
        h = {i: _id_hash(env.seed, i) % 12 for i in range(n)}
        self.inc = sorted(i for i in h if h[i] == 0)
        self.gone = sorted(i for i in h if h[i] == 1)
        self.pristine = sorted(i for i in h if h[i] != 0)
        self.pristine_dir = os.path.join(env.root, "pristine")
        self.meta = dedup_index_build(env.ctx.from_df(env.read("documents").filter(
            F.col("doc_id").isin(self.pristine))),
            self.pristine_dir, text_col="text", id_col="doc_id", bucket_dirs=16).meta
        self.pristine_rows = _index_rows(env.spark, self.pristine_dir)

    def expect(self, env: Env, con) -> None:
        from renoir_spark.dedup_index import _sql_index_chain, sql_dedup_index_batch

        live = sorted(set(self.pristine) - set(self.gone))
        self.exp_probe = sorted(r[0] for r in con.execute(sql_dedup_index_batch(
            f"(SELECT * FROM documents WHERE doc_id IN {_in(live)})",
            f"(SELECT * FROM documents WHERE doc_id IN {_in(self.inc)})",
            "text", "doc_id", "doc_id", threshold=MH_THRESHOLD,
            **self._chain_params())).fetchall())
        chain = _sql_index_chain("text", "doc_id", **self._chain_params())(
            "s", f"(SELECT * FROM documents WHERE doc_id IN {_in(self.exp_probe)})")
        con.execute(f"CREATE TEMP TABLE survivor_rows AS WITH {chain} "
                    "SELECT id, sh, bidx, bhash FROM buckets_s")
        keep = set(live)
        postings, shingles = self.pristine_rows
        self.exp_contents = _contents_digest(
            [r for r in postings if r[2] in keep]
            + con.execute("SELECT bidx, bhash, id FROM survivor_rows").fetchall(),
            [r for r in shingles if r[0] in keep]
            + con.execute("SELECT id, any_value(sh) FROM survivor_rows GROUP BY id").fetchall())

    def _chain_params(self) -> dict:
        return {k: self.meta[k] for k in ("num_hashes", "bands", "shingle_n")}

    def step(self, env: Env, rec) -> None:
        from renoir_spark.dedup_index import dedup_index_load

        # a fresh path per pass: Spark caches file listings by path
        work = os.path.join(env.root, f"work-{uuid.uuid4().hex[:8]}")
        shutil.copytree(self.pristine_dir, work)
        docs = env.read("documents")
        with rec.op("index.load", "index"):
            idx = dedup_index_load(env.spark, work)
        with rec.op("index.delete", "write"):
            idx.delete_batch(docs.filter(F.col("doc_id").isin(self.gone)))
        with rec.op("index.probe", "read", items=len(self.inc)) as op:
            with rec.phase("plan"):
                surv = idx.dedup_batch(
                    env.ctx.from_df(docs.filter(F.col("doc_id").isin(self.inc))),
                    threshold=MH_THRESHOLD)
            with rec.phase("action"):
                op.output = sorted(r.doc_id for r in surv.df.select("doc_id").collect())
        with rec.op("index.append", "write"):
            idx.append(surv)
        if rec.tracing:
            # untimed: the index health the traced run reports
            self.health = idx.stats()
        with rec.op("index.compact", "write") as op:
            idx.compact()
        # untimed: what the pass left in the index
        op.output = _contents_digest(*_index_rows(env.spark, work))
        shutil.rmtree(work, ignore_errors=True)

    def check(self, op) -> bool:
        if op.name == "index.probe":
            return op.output == self.exp_probe
        if op.name == "index.compact":
            return op.output == self.exp_contents
        return True


def _index_rows(spark, path: str):
    """An index directory's (bidx, bhash, id) posting rows and (id, sh)
    shingle rows."""
    return ([tuple(r) for r in spark.read.parquet(f"{path}/buckets")
             .select("bidx", "bhash", "id").collect()],
            [tuple(r) for r in spark.read.parquet(f"{path}/shingles")
             .select("id", "sh").collect()])


def _contents_digest(postings, shingles) -> str:
    """Digest of an index's posting rows (a multiset: a doubled append
    shows) and of each document's shingle set."""
    body = (sorted(tuple(r) for r in postings),
            sorted((r[0], tuple(sorted(set(r[1])))) for r in shingles))
    return hashlib.sha256(repr(body).encode()).hexdigest()


EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
DOC_SCHEMA = "doc_id long, ts timestamp, text string"
EVENT_FILES = 4
DOC_FILES = 3
# near-copies sit at most DUP_REACH seconds after their original, so
# the horizon never cuts a match and the drain equals the batch rule
S05_DELAY = "600 seconds"


def _spool(table, path: str, files: int) -> None:
    """In-order spool of a table sorted by event time: ``files``
    contiguous slices with ascending mtimes, so a one-file-per-trigger
    source replays them as ``files`` batches. Written with pyarrow: the
    spool is the benchmark's input, not work of the program."""
    os.makedirs(path)
    step = -(-table.num_rows // files)
    base = time.time() - files - 1
    for i in range(files):
        p = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        os.utime(p, (base + i, base + i))


class StreamDrains:
    """availableNow drains of s01 (chained JVM window state) and s05
    (Python bucket state), one file per micro-batch."""

    LEGS = ("s01_hot_items", "s05_minhash_dedup")

    def prepare(self, env: Env) -> None:
        self.spools = {"events": os.path.join(env.root, "spool_events"),
                       "docs": os.path.join(env.root, "spool_docs")}
        utc = pa.timestamp("us", tz="UTC")
        ev = pq.read_table(f"{env.data}/events.parquet").sort_by("ts")
        ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", ev["ts"].cast(utc))
        _spool(ev, self.spools["events"], EVENT_FILES)
        docs = pq.read_table(f"{env.data}/documents.parquet",
                             columns=["doc_id", "text"]).sort_by("doc_id")
        ts = pc.multiply(pc.add(docs["doc_id"], 3600), 1_000_000)
        docs = pa.table({"doc_id": docs["doc_id"], "ts": ts.cast(utc),
                         "text": docs["text"]})
        _spool(docs, self.spools["docs"], DOC_FILES)

    def expect(self, env: Env, con) -> None:
        from renoir_spark import suite
        from renoir_spark.datapipe import sql_dedup_minhash

        self.exp_hot = sorted(con.execute(suite.ORACLE["q61_nexmark_hot_items"]).fetchall())
        self.exp_surv = sorted(r[0] for r in con.execute(sql_dedup_minhash(
            "documents", "text", "doc_id", "doc_id", threshold=0.7)).fetchall())

    def _source(self, env: Env, schema: str, spool: str):
        return (env.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(self.spools[spool]))

    def build(self, env: Env, leg: str):
        if leg == "s01_hot_items":
            from renoir_spark.nexmark import hot_items

            s = env.ctx.from_df(self._source(env, EVENT_SCHEMA, "events"))
            return hot_items(s, size=172800.0, slide=86400.0,
                             watermark="1 hour").df
        if leg == "s05_minhash_dedup":
            from renoir_spark.streaming import dedup_minhash_stream

            s = env.ctx.from_df(self._source(env, DOC_SCHEMA, "docs"))
            return dedup_minhash_stream(
                s, "text", "doc_id", ts_col="ts", delay=S05_DELAY,
                threshold=0.7, state_groups=64).df
        # floor: stateless pass-through of the event spool
        return self._source(env, EVENT_SCHEMA, "events").select("event_id", "ts")

    def drain(self, env: Env, rec, leg: str) -> None:
        name = "drain_" + uuid.uuid4().hex[:12]
        ckpt = os.path.join(env.root, "ckpt", name)
        with rec.op(leg, "drain") as op:
            with rec.phase("plan"):
                df = self.build(env, leg)
            with rec.phase("action"):
                q = (df.writeStream.format("memory").queryName(name)
                     .outputMode("append").option("checkpointLocation", ckpt)
                     .trigger(availableNow=True).start())
                try:
                    q.awaitTermination(120)
                finally:
                    if q.isActive:
                        q.stop()
        # untimed: the sink's rows and the query's progress reports
        op.output = env.spark.table(name).collect()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        op.items = sum(p["numInputRows"] for p in progress)
        env.spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
        op.extra.update(progress=progress, failed=q.exception() is not None)

    def check(self, op) -> bool:
        if op.extra["failed"]:
            return False
        if op.name == "s01_hot_items":
            got = sorted((r.win_s, r.auction, r.num) for r in op.output)
            # append mode emits a window once the watermark passes its
            # end, so a drain ends holding the last few windows: what it
            # emitted must be a prefix of the bounded answer
            short = len(self.exp_hot) - len(got)
            return got == self.exp_hot[:len(got)] and short <= 3
        if op.name == "s05_minhash_dedup":
            matched = {r.doc_id for r in op.output if r.matched}
            seen = {r.doc_id for r in op.output}
            return sorted(seen - matched) == self.exp_surv
        return True


class Ingest:
    """One unit: an index lifecycle pass, then one drain of each leg."""

    name = "ingest"

    def __init__(self):
        self.index = IndexLifecycle()
        self.stream = StreamDrains()

    def prepare(self, env: Env) -> None:
        datagen.generate(env.seed, env.data)
        self.stream.prepare(env)

    def build(self, env: Env) -> None:
        self.index.build(env)

    def expect(self, env: Env) -> None:
        con = duck_connect(env.data)
        self.index.expect(env, con)
        self.stream.expect(env, con)
        con.close()

    def warmup(self, env: Env, rec) -> None:
        self.step(env, rec, -1)

    def step(self, env: Env, rec, k: int) -> None:
        self.index.step(env, rec)
        for leg in StreamDrains.LEGS:
            self.stream.drain(env, rec, leg)

    def floor(self, env: Env) -> None:
        """Traced run only: a stateless drain of the event spool, the
        per-batch cost below which no stateful leg can go."""
        from tracing import Recorder

        rec = Recorder()
        self.stream.drain(env, rec, "floor")
        self.floor_progress = rec.ops[0].extra["progress"]

    def check(self, op) -> bool:
        if op.kind == "drain":
            return self.stream.check(op)
        return self.index.check(op)

    def samples(self, ops):
        """Index reads, and micro-batches (triggerExecution) per leg."""
        out: dict[str, list] = {}
        for o in ops:
            if o.kind == "read":
                out.setdefault(o.name, []).append(o.ms)
            elif o.kind == "drain":
                out.setdefault(o.name, []).extend(
                    p["durationMs"]["triggerExecution"] for p in o.extra["progress"])
        return out


WORKLOADS = {w.name: w for w in (Batch, Ingest)}
