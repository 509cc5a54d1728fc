"""Persisted MinHash-LSH dedup index — incremental near-duplicate
deduplication of NEW data against an already-ingested corpus.

``dedup_minhash`` / ``dedup_against`` recompute the full corpus
signature chain on every call; at 100 TB that re-shingling dominates —
a production ingest pipeline dedups each incoming increment against the
accumulated corpus WITHOUT touching the corpus text again. This module
persists exactly the two relations the LSH machinery needs:

    meta/      one row: id_col, text_col, num_hashes, bands, shingle_n,
               bucket_dirs, id_type
    buckets/   corpus LSH postings: (bidx, bhash, id), hive-partitioned
               by ``__bk = bhash % bucket_dirs`` — an incoming batch
               collects up to PROBE_LITERAL_MAX of its distinct
               ``__bk`` values (bounded driver collect) and pushes
               them as a LITERAL partition filter; wider probes switch
               to a broadcast semi-join pruned dynamically (DPP). A
               small increment reads only the bucket directories it
               can possibly match either way (util.prune_partitions)
    shingles/  (id, sh array<string>) for the exact-Jaccard verify,
               hive-partitioned by ``__sk = md5_int31(id) %
               bucket_dirs`` — pruned the same way from the (small)
               verified-candidate id set

The signature chain is the SHARED :func:`~renoir_spark.datapipe.
minhash_bands_expr` (same constants, same staging discipline), so a
batch matched against the index produces byte-identical candidates to
running :func:`~renoir_spark.datapipe.minhash_pairs` over the union —
which is what the DuckDB oracle mirror (:func:`sql_dedup_index_batch`)
verifies bit-exactly.

Scale notes (100 TB): build is ONE pass over the corpus text (the same
normalize → shingle → minhash → band chain every other minhash operator
pays once) feeding two partitioned writes; nothing is collected.
``dedup_batch`` shuffles only (bidx, bhash, id) triples of the BATCH
against the pruned posting scan — corpus text and corpus shingle arrays
are read only for the verified-candidate sliver, via the ``__sk``
partition filter. ``append`` makes the index incremental: survivors'
postings/shingles land in the same hive layout (append mode), so the
next increment dedups against corpus + all previous increments with no
rebuild. Bucket skew (identical-content floods sharing one bhash) is
absorbed by AQE skew-join on the candidate equi-join, as in
:func:`minhash_pairs`.

Reference parity: renoir has no persisted-index operator; this is the
beyond-reference dedup layer (SURVEY.md §2.12) in the idiom of
production corpus builds (incremental LSH ingest, public knowledge —
e.g. the Lee et al. 2022 / RefinedWeb dedup pipelines), re-expressed as
parquet + hive partition pruning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .datapipe import (
    MINHASH_P,
    _mh_params,
    _sql_minhash_ctes,
    _SQL_JACCARD,
    band_split_expr,
    md5_int31,
    minhash_bands_expr,
    sql_md5_int31,
    sql_word_shingles,
)
from .util import (
    free_local_checkpoint,
    prune_partitions,
    read_parquet,
    run_concurrent,
    tiny_df,
)


def _batch_sig(batch, text_col: str, id_col: str, meta: dict):
    """Shared normalize → shingle → band chain for an incoming batch,
    as (__id, __sh, __bands) with the index's parameters. The narrow
    (id, text) projection is spread to core parallelism first when the
    scan carries too few partitions (single-task chain otherwise —
    no-op at corpus scale, see datapipe._spread_for_compute)."""
    from .datapipe import _spread_for_compute

    return minhash_bands_expr(
        _spread_for_compute(batch.df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        )),
        "__text",
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
        shingle_n=meta["shingle_n"],
    ).select("__id", "__sh", "__bands")


def _bucket_rows(sig, meta: dict):
    """Explode a signature relation into posting rows
    (bidx, bhash, __bk, id)."""
    return (
        sig.select("__id", F.explode("__bands").alias("__b"))
        .select(
            F.col("__b.bidx").alias("bidx"),
            F.col("__b.bhash").alias("bhash"),
            (F.col("__b.bhash") % F.lit(meta["bucket_dirs"])).alias("__bk"),
            F.col("__id"),
        )
    )


def _sig_token(idx) -> tuple:
    """Identity of the signature-relevant index parameters: a handshake
    minted under one (path, params) must not be ingested into an index
    REBUILT at the same path with different parameters — the stale sig
    rows would land in the new band structure and silently corrupt
    postings (ADVICE round 10). The meta dict holds only scalars, so a
    sorted item tuple is a stable, hashable token."""
    return tuple(sorted(idx.meta.items()))


def _sig_for_append(idx, batch, compute):
    """Signature relation for an append: when ``batch`` carries the
    ``_index_sig`` handshake of THIS index (it is the DIRECT result of
    the index's :meth:`dedup_batch` — the documented ingest loop), the
    survivors' sig rows are already derived from the persisted batch
    sig minus the matched ids (both cached relations), so neither the
    signature chain NOR any upstream decode feeding it re-runs — a
    semi-join against ``batch.df`` would NOT achieve this, because the
    decode stage is opaque and column pruning cannot reach through it.
    The handshake matches on path AND the signature-relevant meta
    params (:func:`_sig_token`); any other stream — or a same-path
    index rebuilt with different params — falls back to ``compute()``
    (the full chain)."""
    cached = getattr(batch, "_index_sig", None)
    if (cached is not None and cached[0] == idx.path
            and cached[1] == _sig_token(idx)):
        return cached[2]
    return compute()


class DedupIndex:
    """Handle over a persisted MinHash-LSH dedup index directory.
    Construct via :func:`dedup_index_build` or :func:`dedup_index_load`.
    """

    def __init__(self, spark, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta

    # -------------------------------------------------------------- #
    # The probe scans are pruned to the hive directories the batch can
    # possibly touch (util.prune_partitions): ≤ PROBE_LITERAL_MAX
    # distinct keys become a LITERAL partition filter from a bounded
    # driver collect — what makes a small increment cheap against a
    # 100 TB index — and wider probes switch to a broadcast semi-join
    # pruned dynamically (DPP), so no unbounded literal ever reaches
    # the plan. Explicit schemas keep the reads well-typed even when
    # the index is empty (no data files to infer from).
    def _buckets_read(self):
        schema = (
            f"bidx int, bhash long, id {self.meta['id_type']}, __bk long"
        )
        return self.spark.read.schema(schema).parquet(f"{self.path}/buckets")

    def _shingles_read(self):
        schema = f"id {self.meta['id_type']}, sh array<string>, __sk long"
        return self.spark.read.schema(schema).parquet(f"{self.path}/shingles")

    # -------------------------------------------------------------- #
    def match_batch(self, batch, *, threshold: float = 0.7):
        """Verified near-duplicate PAIRS between ``batch`` rows and
        indexed corpus rows: a Stream of (batch_id, corpus_id, jac)
        with ``jac >= threshold``. Batch-internal duplicates are NOT
        reported — that is :func:`~renoir_spark.datapipe.dedup_minhash`
        over the batch itself."""
        id_col = self.meta["id_col"]
        text_col = self.meta["text_col"]
        sig = _batch_sig(batch, text_col, id_col, self.meta).persist()
        bb = _bucket_rows(sig, self.meta)
        bucket_scan, bks = prune_partitions(
            self._buckets_read(), "__bk", bb.select("__bk")
        )
        if bks is not None and not bks:
            # empty batch (or all-NULL text): nothing can match; avoid
            # an isin([]) scan over the index entirely
            empty = self.spark.createDataFrame(
                [],
                f"batch_id {self.meta['id_type']}, "
                f"corpus_id {self.meta['id_type']}, jac double",
            )
            out = batch._new(empty)._retain(sig)
            out._match_sig = sig
            return out
        cand = (
            bb.join(
                bucket_scan.select("bidx", "bhash", "id"),
                ["bidx", "bhash"],
            )
            # deliberate pre-verify distinct — same trade as
            # minhash_pairs: a pair matching in several bands must not
            # ride the shingle re-attach joins multiple times
            .select(F.col("__id").alias("__bid"), F.col("id").alias("__cid"))
            .distinct()
            # persisted because TWO consumers need it: the __sk
            # partition-key collect below AND the final pair plan — an
            # unpersisted cand would run the posting join + distinct
            # twice (the sig-persist rationale, one stage later)
            .persist()
        )
        # takedowns: deleted corpus ids must stop matching IMMEDIATELY
        # (before compaction folds them out) — anti-join the tombstone
        # relation out of the candidate set. The tombstone (__tk) and
        # shingle (__sk) partition keys are the SAME id-hash expression
        # over the candidate ids, so one bounded collect serves both
        # scans: the shingle prune reuses the tombstone prune's literal
        # key list (a superset of the post-anti-join live keys — a
        # superset prune reads at most a few extra directories and
        # never changes the join result), saving one collect job per
        # takedown-aware probe.
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        live = cand
        cand_keys = cand.select(
            (md5_int31(F.col("__cid").cast("string"))
             % F.lit(self.meta["bucket_dirs"])).alias("__k")
        )
        shared_ks = None
        if tombs is not None:
            t_scan, shared_ks = prune_partitions(
                tombs, "__tk",
                cand_keys.select(F.col("__k").alias("__tk")),
            )
            live = cand.join(
                t_scan.select(F.col("id").alias("__cid")),
                "__cid", "left_anti",
            )
        if shared_ks is not None:
            shingle_scan = self._shingles_read().filter(
                F.col("__sk").isin(shared_ks)
            )
            sks = shared_ks
        else:
            shingle_scan, sks = prune_partitions(
                self._shingles_read(), "__sk",
                live.select(
                    (md5_int31(F.col("__cid").cast("string"))
                     % F.lit(self.meta["bucket_dirs"])).alias("__sk")
                ),
            )
        corpus_sh = (
            shingle_scan.select(
                F.col("id").alias("__cid"), F.col("sh").alias("shb")
            )
            if sks is None or sks
            else self.spark.createDataFrame(
                [], f"__cid {self.meta['id_type']}, shb array<string>"
            )
        )
        # zero-union guard (the _cosine/SQL_COS pattern): today
        # shingles_from guarantees non-empty arrays, but relying on that
        # distant invariant would turn a future empty-text change into
        # an ANSI DIVIDE_BY_ZERO that fails the whole batch job
        union_sz = F.size(F.array_union("sha", "shb"))
        jac = F.when(union_sz == 0, F.lit(0.0)).otherwise(
            F.size(F.array_intersect("sha", "shb")) / union_sz
        )
        pairs = (
            live.join(
                sig.select(F.col("__id").alias("__bid"),
                           F.col("__sh").alias("sha")),
                "__bid",
            )
            .join(corpus_sh, "__cid")
            .withColumn("__j", jac)
            .filter(F.col("__j") >= F.lit(threshold))
            .select(
                F.col("__bid").alias("batch_id"),
                F.col("__cid").alias("corpus_id"),
                F.col("__j").alias("jac"),
            )
        )
        out = batch._new(pairs)._retain(sig, cand)
        # internal channel for dedup_batch: the persisted batch sig
        out._match_sig = sig
        return out

    def dedup_batch(self, batch, *, threshold: float = 0.7):
        """Rows of ``batch`` that are NOT a near-duplicate (exact
        shingle-Jaccard ≥ threshold, LSH-candidates only) of any indexed
        corpus row. The incremental-ingest step: dedup the increment,
        then :meth:`append` the survivors."""
        id_col = self.meta["id_col"]
        pairs = self.match_batch(batch, threshold=threshold)
        dup_ids = pairs.df.select(
            F.col("batch_id").alias(id_col)
        ).distinct()
        out = pairs._new(batch.df.join(dup_ids, id_col, "left_anti"))
        # survivors carry the batch-sig handshake: append() reuses the
        # cached batch sig minus the matched ids (both cached) instead
        # of re-running the chain — and any upstream decode — over the
        # survivors (_sig_for_append)
        out._index_sig = (
            self.path,
            _sig_token(self),
            pairs._match_sig.join(
                dup_ids.select(F.col(id_col).alias("__id")),
                "__id", "left_anti",
            ),
        )
        return out

    def append(self, batch) -> None:
        """Ingest ``batch`` into the index: its postings and shingles
        land in the same hive layout (append mode), so subsequent
        :meth:`dedup_batch` calls see corpus + this increment with no
        rebuild. Caller contract: append SURVIVORS (post-dedup) — the
        index does not re-verify what it ingests.

        When ``batch`` is the direct result of THIS index's
        :meth:`dedup_batch` (the documented ingest loop), the
        signature chain is NOT re-run: the survivors' sig rows come
        from the already-persisted batch sig minus the matched ids —
        one cache read instead of a second normalize → shingle →
        minhash pass over the increment (:func:`_sig_for_append`)."""
        id_col = self.meta["id_col"]
        text_col = self.meta["text_col"]
        nd = self.meta["bucket_dirs"]
        sig = _sig_for_append(
            self, batch,
            lambda: _batch_sig(batch, text_col, id_col, self.meta),
        ).persist()
        # repartition ON the hive key before the partitioned write: an
        # unclustered write makes every task open a file in every
        # directory (measured 1,600+ tiny files at sf0.1 — a listing
        # and open-cost tax on every later probe). One posting-row
        # shuffle buys ~one file per directory per append; at corpus
        # scale cap file size with spark.sql.files.maxRecordsPerFile
        # rather than more tasks.
        _bucket_rows(sig, self.meta).select(
            "bidx", "bhash", F.col("__id").alias("id"), "__bk"
        ).repartition(nd, "__bk").write.mode("append").partitionBy(
            "__bk"
        ).parquet(f"{self.path}/buckets")
        sig.select(
            F.col("__id").alias("id"),
            F.col("__sh").alias("sh"),
            (md5_int31(F.col("__id").cast("string"))
             % F.lit(nd)).alias("__sk"),
        ).repartition(nd, "__sk").write.mode("append").partitionBy(
            "__sk"
        ).parquet(f"{self.path}/shingles")
        sig.unpersist()

    def delete_batch(self, ids) -> None:
        """TAKEDOWN support — remove indexed docs by id (the ingest-
        loop fact of life ``corpus_diff`` already computes removed ids
        for). A TOMBSTONE append, not a rewrite: probes anti-join the
        (id, __tk) relation out of their candidate set immediately
        (:meth:`match_batch`), and :meth:`compact` folds tombstones
        into the physical postings/shingles and clears them.
        ``stats()["tombstones"]`` is the compaction signal. Idempotent;
        ``ids`` is a Stream or DataFrame carrying the id column."""
        df = ids.df if hasattr(ids, "df") else ids
        _write_tombstones(self.spark, self.path, df,
                          self.meta["id_col"], self.meta["bucket_dirs"])

    def stats(self) -> dict:
        """Diagnostic scan of the index: indexed doc count, posting
        rows, pending tombstones, and data-file count (the compaction
        signals). Full scans of the (postings-sized, not corpus-sized)
        relations — an explicit maintenance call, not a query-path
        cost."""
        sh = self.spark.read.schema(
            f"id {self.meta['id_type']}, sh array<string>, __sk long"
        ).parquet(f"{self.path}/shingles")
        bk = self.spark.read.schema(
            f"bidx int, bhash long, id {self.meta['id_type']}, __bk long"
        ).parquet(f"{self.path}/buckets")
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        return {
            "mode": "minhash",
            "docs": sh.count(),
            "postings": bk.count(),
            "tombstones": 0 if tombs is None else tombs.count(),
            "files": _count_files(self.spark, self.path,
                                  ("buckets", "shingles")),
        }

    def compact(self) -> None:
        """Rewrite the data roots clustered (≈ one file per directory):
        every append adds a file per touched directory, so a
        long-running nightly loop accumulates files that tax each
        probe's listing/open path — periodic compaction restores the
        fresh-build layout without touching any text. Each relation is
        rewritten through an in-memory pin (read fully, then
        overwritten; the relations are postings/shingles, far smaller
        than the corpus — at sizes where the pin is unwelcome, stage
        via a temp path instead). TOMBSTONES are folded in: deleted
        docs drop out of both relations and the tombstone relation is
        cleared, resetting the per-probe anti-join cost."""
        nd = self.meta["bucket_dirs"]
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        minus = None if tombs is None else tombs.select("id").distinct()
        _rewrite_clustered(
            self.spark, f"{self.path}/buckets",
            f"bidx int, bhash long, id {self.meta['id_type']}, __bk long",
            "__bk", nd, minus=minus,
        )
        _rewrite_clustered(
            self.spark, f"{self.path}/shingles",
            f"id {self.meta['id_type']}, sh array<string>, __sk long",
            "__sk", nd, minus=minus,
        )
        if tombs is not None:
            _overwrite_empty(
                self.spark, f"{self.path}/tombstones",
                f"id {self.meta['id_type']}, __tk long", "__tk",
            )


class ExactDedupIndex:
    """Handle over a persisted EXACT dedup index: one relation of
    normalized-content sha2 keys, hive-partitioned by a key-hash bucket
    — the cheapest incremental dedup (``dedup_against`` semantics,
    persisted). Same method surface as :class:`DedupIndex`; matched
    pairs report ``jac = 1.0``."""

    def __init__(self, spark, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta

    # -------------------------------------------------------------- #
    def _batch_keys(self, batch):
        from .datapipe import norm_text

        id_col = self.meta["id_col"]
        text_col = self.meta["text_col"]
        k = F.sha2(norm_text(text_col), 256)
        return batch.df.select(
            F.col(id_col).alias("__id"), k.alias("__key"),
            (md5_int31(k) % F.lit(self.meta["bucket_dirs"])).alias("__bk"),
        )

    def _keys_read(self):
        schema = f"id {self.meta['id_type']}, key string, __bk long"
        return self.spark.read.schema(schema).parquet(f"{self.path}/keys")

    def match_batch(self, batch, *, threshold: float = 0.7):
        """Exact matches between batch and indexed rows as
        (batch_id, corpus_id, jac=1.0). ``threshold`` is accepted for
        surface parity and ignored (exact match is all-or-nothing);
        NULL-text rows never match (SQL semantics — NULL keys join
        nothing)."""
        bk = self._batch_keys(batch).persist()
        key_scan, bks = prune_partitions(
            self._keys_read(), "__bk", bk.select("__bk")
        )
        if bks is not None and not bks:
            empty = self.spark.createDataFrame(
                [],
                f"batch_id {self.meta['id_type']}, "
                f"corpus_id {self.meta['id_type']}, jac double",
            )
            return batch._new(empty)._retain(bk)
        # takedowns: tombstoned ids stop matching immediately — the
        # key scan is already partition-pruned to the batch's key
        # buckets; the tombstone relation is takedown-sized (bounded
        # by the compaction cadence that folds and clears it), so a
        # plain anti-join is the whole cost
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        if tombs is not None:
            key_scan = key_scan.join(
                tombs.select("id"), "id", "left_anti"
            )
        pairs = (
            bk.join(
                key_scan.select(
                    F.col("key").alias("__key"),
                    F.col("id").alias("__cid"),
                ),
                "__key",
            )
            .select(
                F.col("__id").alias("batch_id"),
                F.col("__cid").alias("corpus_id"),
                F.lit(1.0).alias("jac"),
            )
        )
        return batch._new(pairs)._retain(bk)

    def dedup_batch(self, batch, *, threshold: float = 0.7):
        """Batch rows whose normalized content does NOT appear in the
        index — ``dedup_against`` against the persisted key relation,
        reading only the batch's touched key-bucket directories."""
        id_col = self.meta["id_col"]
        pairs = self.match_batch(batch, threshold=threshold)
        dup_ids = pairs.df.select(
            F.col("batch_id").alias(id_col)
        ).distinct()
        out = batch.df.join(dup_ids, id_col, "left_anti")
        return batch._new(out)._retain(*pairs._retained)

    def append(self, batch) -> None:
        """Ingest ``batch`` keys (append mode, clustered on the hive
        key — same file discipline as the MinHash index)."""
        nd = self.meta["bucket_dirs"]
        self._batch_keys(batch).select(
            F.col("__id").alias("id"), F.col("__key").alias("key"), "__bk"
        ).filter(F.col("__key").isNotNull()).repartition(
            nd, "__bk"
        ).write.mode("append").partitionBy("__bk").parquet(
            f"{self.path}/keys"
        )

    def delete_batch(self, ids) -> None:
        """Tombstone delete by id — see :meth:`DedupIndex.delete_batch`
        (same relation layout, same fold-at-compact contract)."""
        df = ids.df if hasattr(ids, "df") else ids
        _write_tombstones(self.spark, self.path, df,
                          self.meta["id_col"], self.meta["bucket_dirs"])

    def stats(self) -> dict:
        """Diagnostic scan — see :meth:`DedupIndex.stats`."""
        n = self.spark.read.schema(
            f"id {self.meta['id_type']}, key string, __bk long"
        ).parquet(f"{self.path}/keys").count()
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        return {
            "mode": "exact",
            "docs": n,
            "postings": n,
            "tombstones": 0 if tombs is None else tombs.count(),
            "files": _count_files(self.spark, self.path, ("keys",)),
        }

    def compact(self) -> None:
        """Rewrite the key relation clustered (≈ one file per
        directory), folding tombstones in and clearing them — see
        :meth:`DedupIndex.compact`."""
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        _rewrite_clustered(
            self.spark, f"{self.path}/keys",
            f"id {self.meta['id_type']}, key string, __bk long",
            "__bk", self.meta["bucket_dirs"],
            minus=None if tombs is None else tombs.select("id").distinct(),
        )
        if tombs is not None:
            _overwrite_empty(
                self.spark, f"{self.path}/tombstones",
                f"id {self.meta['id_type']}, __tk long", "__tk",
            )


class PhashIndex:
    """Handle over a persisted PERCEPTUAL-HASH dedup index — the
    multimodal member of the persisted-index family: ingest decoded
    media once, then every new increment dedups against corpus + all
    prior increments WITHOUT re-decoding anything. One relation:

        postings/  (bidx, bval, id, ph), hive-partitioned by
                   ``__bk = (bval * bands + bidx) % bucket_dirs``

    and the signature (8 bytes) IS the verifier — no second relation,
    the lightest index of the family (MinHash persists shingle sets,
    ANN persists vectors+codes). Probes follow the DedupIndex contract:
    a batch collects its ≤ PROBE_LITERAL_MAX distinct ``__bk`` values
    as a LITERAL partition filter (bounded driver collect), wider
    probes switch to a DPP-pruned semi-join (util.prune_partitions).
    The signature is the batch operator's shared
    :func:`~renoir_spark.datapipe.phash_expr`, so a batch matched
    against the index produces byte-identical verdicts to
    :func:`~renoir_spark.datapipe.dedup_phash_against` over corpus ∪
    increments — what the DuckDB mirror (:func:`sql_phash_index_batch`)
    checks bit-exactly."""

    def __init__(self, spark, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta

    def _postings_read(self):
        schema = (
            f"bidx int, bval long, id {self.meta['id_type']}, ph long, "
            "__bk long"
        )
        return self.spark.read.schema(schema).parquet(
            f"{self.path}/postings"
        )

    def _batch_sig(self, batch):
        from .datapipe import phash_expr

        return batch.df.select(
            F.col(self.meta["id_col"]).alias("__id"),
            phash_expr(
                F.col(self.meta["features_col"]), self.meta["bits"]
            ).alias("__ph"),
        ).where(F.col("__ph").isNotNull())  # no decoded evidence ⇒ no match

    def _band_rows(self, sig):
        bands, bits = self.meta["bands"], self.meta["bits"]
        nd = self.meta["bucket_dirs"]
        rows = sig.select(
            "__id", "__ph", band_split_expr(F.col("__ph"), bands, bits // bands)
        )
        return rows.select(
            F.col("__b.bidx").alias("bidx"),
            F.col("__b.bval").alias("bval"),
            ((F.col("__b.bval") * bands + F.col("__b.bidx")) % F.lit(nd))
            .alias("__bk"),
            "__id", "__ph",
        )

    def match_batch(self, batch, *, max_hamming: int = 3):
        """Verified near-duplicate PAIRS between ``batch`` items and
        indexed items: (batch_id, corpus_id, hamming ≤ ``max_hamming``).
        Batch-internal duplicates are NOT reported — that is
        :func:`~renoir_spark.datapipe.dedup_phash` over the batch."""
        # persisted because TWO consumers read it: the __bk partition-
        # key collect below AND the pair plan — unpersisted, each would
        # recompute the batch's upstream lineage (typically an Arrow
        # decode stage) — the DedupIndex.match_batch rationale
        sig = self._batch_sig(batch).persist()
        bb = self._band_rows(sig)
        scan, bks = prune_partitions(
            self._postings_read(), "__bk", bb.select("__bk")
        )
        if bks is not None and not bks:
            empty = self.spark.createDataFrame(
                [],
                f"batch_id {self.meta['id_type']}, "
                f"corpus_id {self.meta['id_type']}, hamming int",
            )
            out = batch._new(empty)._retain(sig)
            out._match_sig = sig
            return out
        # takedowns: tombstoned items stop matching immediately — the
        # posting scan is already pruned to the batch's band buckets;
        # the tombstone relation is takedown-sized (bounded by the
        # compaction cadence), so a plain anti-join is the whole cost
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        if tombs is not None:
            scan = scan.join(tombs.select("id"), "id", "left_anti")
        pairs = (
            bb.join(scan.select("bidx", "bval", "id", "ph"),
                    ["bidx", "bval"])
            .withColumn(
                "__h", F.bit_count(F.col("__ph").bitwiseXOR(F.col("ph")))
            )
            .filter(F.col("__h") <= F.lit(int(max_hamming)))
            .select(
                F.col("__id").alias("batch_id"),
                F.col("id").alias("corpus_id"),
                F.col("__h").cast("int").alias("hamming"),
            )
            .distinct()  # a pair matching in several bands reports once
        )
        out = batch._new(pairs)._retain(sig)
        # internal channel for dedup_batch (see _sig_for_append): the
        # persisted sig holds the decoded evidence
        out._match_sig = sig
        return out

    def dedup_batch(self, batch, *, max_hamming: int = 3):
        """Rows of ``batch`` not within ``max_hamming`` of any indexed
        item (LSH-band candidates only). The incremental media-ingest
        step: dedup the increment, then :meth:`append` the survivors."""
        id_col = self.meta["id_col"]
        pairs = self.match_batch(batch, max_hamming=max_hamming)
        dup_ids = pairs.df.select(
            F.col("batch_id").alias(id_col)
        ).distinct()
        out = pairs._new(batch.df.join(dup_ids, id_col, "left_anti"))
        # survivors carry the cached-sig handshake — what makes "no
        # image is ever re-decoded" true through the whole ingest loop
        out._index_sig = (
            self.path,
            _sig_token(self),
            pairs._match_sig.join(
                dup_ids.select(F.col(id_col).alias("__id")),
                "__id", "left_anti",
            ),
        )
        return out

    def append(self, batch) -> None:
        """Ingest ``batch`` (SURVIVORS — the index does not re-verify
        what it ingests) into the posting layout, clustered on the hive
        key like every other index append. A batch straight out of THIS
        index's :meth:`dedup_batch` reuses the cached batch sig
        (:func:`_sig_for_append`) — the increment's images are not
        decoded a second time just to band their already-computed
        hashes."""
        nd = self.meta["bucket_dirs"]
        sig = _sig_for_append(self, batch,
                              lambda: self._batch_sig(batch))
        self._band_rows(sig).select(
            "bidx", "bval", F.col("__id").alias("id"),
            F.col("__ph").alias("ph"), "__bk",
        ).repartition(nd, "__bk").write.mode("append").partitionBy(
            "__bk"
        ).parquet(f"{self.path}/postings")

    def delete_batch(self, ids) -> None:
        """Tombstone delete by id — see :meth:`DedupIndex.delete_batch`
        (same relation layout, same fold-at-compact contract)."""
        df = ids.df if hasattr(ids, "df") else ids
        _write_tombstones(self.spark, self.path, df,
                          self.meta["id_col"], self.meta["bucket_dirs"])

    def stats(self) -> dict:
        pk = self._postings_read()
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        return {
            "mode": "phash",
            "items": pk.select("id").distinct().count(),
            "postings": pk.count(),
            "tombstones": 0 if tombs is None else tombs.count(),
            "files": _count_files(self.spark, self.path, ("postings",)),
        }

    def compact(self) -> None:
        tombs = _tombstones_read(self.spark, self.path,
                                 self.meta["id_type"])
        _rewrite_clustered(
            self.spark, f"{self.path}/postings",
            f"bidx int, bval long, id {self.meta['id_type']}, ph long, "
            "__bk long",
            "__bk", self.meta["bucket_dirs"],
            minus=None if tombs is None else tombs.select("id").distinct(),
        )
        if tombs is not None:
            _overwrite_empty(
                self.spark, f"{self.path}/tombstones",
                f"id {self.meta['id_type']}, __tk long", "__tk",
            )


def phash_index_build(stream, path: str, *,
                      features_col: str = "image_features",
                      id_col: str = "doc_id", bits: int = 48,
                      bands: int = 4, bucket_dirs: int = 64) -> PhashIndex:
    """Build and persist a perceptual-hash dedup index at ``path`` —
    one pass over the decoded corpus feeding one partitioned write.
    ``bits`` must not exceed the decode stage's feature count (the
    dedup_phash band-width contract; no auto-dial here because the
    width is FROZEN into the persisted postings)."""
    assert bits % bands == 0 and bits <= 62
    spark = stream.df.sparkSession
    dtypes = dict(stream.df.dtypes)
    meta = {
        "id_col": id_col,
        "features_col": features_col,
        "bits": bits,
        "bands": bands,
        "bucket_dirs": bucket_dirs,
        "id_type": dtypes[id_col],
        "mode": "phash",
    }
    idx = PhashIndex(spark, path, meta)
    # meta write and postings reset: disjoint paths, no ordering — one
    # overlapped write latency instead of two (util.run_concurrent)
    run_concurrent(
        lambda: tiny_df(
            spark,
            [(id_col, features_col, bits, bands, bucket_dirs,
              dtypes[id_col], "phash")],
            "id_col string, features_col string, bits long, bands long, "
            "bucket_dirs long, id_type string, mode string",
        ).write.mode("overwrite").parquet(f"{path}/meta"),
        lambda: _overwrite_empty(
            spark, f"{path}/postings",
            f"bidx int, bval long, id {dtypes[id_col]}, ph long, __bk long",
            "__bk"),
    )
    idx.append(stream)
    return idx


def phash_index_load(spark, path: str) -> PhashIndex:
    m = read_parquet(spark, f"{path}/meta").collect()[0]
    meta = {
        "id_col": m["id_col"],
        "features_col": m["features_col"],
        "bits": int(m["bits"]),
        "bands": int(m["bands"]),
        "bucket_dirs": int(m["bucket_dirs"]),
        "id_type": m["id_type"],
        "mode": "phash",
    }
    return PhashIndex(spark, path, meta)


def dedup_index_build(stream, path: str, *, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 12,
                      bands: int = 4, shingle_n: int = 3,
                      bucket_dirs: int = 64, mode: str = "minhash"):
    """Build and persist a dedup index for ``stream`` at ``path`` — one
    pass over the corpus feeding partitioned writes.

    ``mode="minhash"`` (default): near-duplicate LSH index
    (:class:`DedupIndex`). ``mode="exact"``: normalized-content sha2
    key index (:class:`ExactDedupIndex`) — no shingles, one relation,
    the cheapest incremental decontamination/dedup.

    ``bucket_dirs`` dials the pruning granularity: more directories
    prune harder for small increments but cost more files; 64 keeps a
    10-doc increment reading ≲ 40/64 of the posting table while staying
    far from small-file territory at any corpus size."""
    if mode not in ("minhash", "exact"):
        raise ValueError(f"dedup_index_build: unknown mode {mode!r}")
    spark = stream.df.sparkSession
    dtypes = dict(stream.df.dtypes)
    meta = {
        "id_col": id_col,
        "text_col": text_col,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "bucket_dirs": bucket_dirs,
        "id_type": dtypes[id_col],
        "mode": mode,
    }
    def _meta_write():
        tiny_df(
            spark,
            [(id_col, text_col, num_hashes, bands, shingle_n, bucket_dirs,
              dtypes[id_col], mode)],
            "id_col string, text_col string, num_hashes long, bands long, "
            "shingle_n long, bucket_dirs long, id_type string, mode string",
        ).write.mode("overwrite").parquet(f"{path}/meta")

    # meta write + data-root resets (idempotent rebuilds) touch disjoint
    # paths with no ordering dependency — overlapped, the build pays ONE
    # write latency instead of two/three stacked (util.run_concurrent).
    # The corpus ingest is then just an append into the fresh layout.
    if mode == "exact":
        idx = ExactDedupIndex(spark, path, meta)
        run_concurrent(
            _meta_write,
            lambda: _overwrite_empty(
                spark, f"{path}/keys",
                f"id {dtypes[id_col]}, key string, __bk long", "__bk"),
        )
    else:
        idx = DedupIndex(spark, path, meta)
        run_concurrent(
            _meta_write,
            lambda: _overwrite_empty(
                spark, f"{path}/buckets",
                f"bidx int, bhash long, id {dtypes[id_col]}, __bk long",
                "__bk"),
            lambda: _overwrite_empty(
                spark, f"{path}/shingles",
                f"id {dtypes[id_col]}, sh array<string>, __sk long",
                "__sk"),
        )
    idx.append(stream)
    return idx


def _overwrite_empty(spark, path: str, schema: str, part_col: str) -> None:
    """Reset a hive-partitioned data root to empty with the right
    schema (idempotent rebuilds; explicit-schema reads keep working).
    util.tiny_df: createDataFrame([]) parallelizes to
    defaultParallelism empty Python partitions — one task per CORE per
    reset (measured ~0.4 s each at 32 cores) for a write that carries
    no rows; one source slice = one task."""
    tiny_df(spark, [], schema).write.mode(
        "overwrite"
    ).partitionBy(part_col).parquet(path)


def _count_files(spark, root: str, subs) -> int:
    """Data-file count under the given data roots via the Hadoop
    FileSystem API (works on any supported filesystem, not just
    local)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for sub in subs:
        p = jvm.org.apache.hadoop.fs.Path(f"{root}/{sub}")
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            continue
        it = fs.listFiles(p, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                total += 1
    return total


def _rewrite_clustered(spark, path: str, schema: str, part_col: str,
                       dirs: int, *, minus=None,
                       minus_col: str = "id") -> None:
    """Read a hive data root fully, pin it via an EAGER localCheckpoint
    (the overwrite deletes the files being read — lazy lineage would
    read-after-delete, and a persist's lineage fallback would silently
    recompute from the deleted files; a checkpoint has no lineage, so
    block loss fails loudly instead), then rewrite it clustered.
    ``minus`` (optional): a one-column relation of ``minus_col`` keys
    anti-joined out before the rewrite — how compaction folds
    tombstones into the physical layout."""
    rows = spark.read.schema(schema).parquet(path)
    if minus is not None:
        rows = rows.join(minus, minus_col, "left_anti")
    rows = rows.localCheckpoint(eager=True)
    rows.repartition(dirs, part_col).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(path)
    free_local_checkpoint(rows)


def _dir_exists(spark, path: str) -> bool:
    """Hadoop-FS existence check (any supported filesystem, not just
    local) — gates reads of relations an older index may not have."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def _tombstones_read(spark, path: str, id_type: str):
    """Explicit-schema read of an index's tombstone relation
    (``{path}/tombstones``: (id, __tk), hive-partitioned by
    ``__tk = md5_int31(id) % bucket_dirs``). ``None`` when no delete
    ever ran — indexes built before delete support keep working."""
    if not _dir_exists(spark, f"{path}/tombstones"):
        return None
    return spark.read.schema(f"id {id_type}, __tk long").parquet(
        f"{path}/tombstones"
    )


def _write_tombstones(spark, path: str, ids_df, id_col: str,
                      bucket_dirs: int) -> None:
    """Append delete requests as tombstone rows. Takedown batches are
    small (copyright/PII removal lists): one task, ≈ one file per
    touched directory — the same file discipline as append."""
    rows = ids_df.select(F.col(id_col).alias("id")).distinct().select(
        "id",
        (md5_int31(F.col("id").cast("string"))
         % F.lit(int(bucket_dirs))).alias("__tk"),
    )
    rows.repartition(1).write.mode("append").partitionBy("__tk").parquet(
        f"{path}/tombstones"
    )


def dedup_index_load(spark, path: str):
    """Open a persisted dedup index (either mode): one 1-row meta read;
    the data relations stay on disk until a batch probes them."""
    m = read_parquet(spark, f"{path}/meta").collect()[0]
    row = m.asDict()
    meta = {
        "id_col": m["id_col"],
        "text_col": m["text_col"],
        "num_hashes": int(m["num_hashes"]),
        "bands": int(m["bands"]),
        "shingle_n": int(m["shingle_n"]),
        "bucket_dirs": int(m["bucket_dirs"]),
        "id_type": m["id_type"],
        "mode": row.get("mode", "minhash"),
    }
    cls = ExactDedupIndex if meta["mode"] == "exact" else DedupIndex
    return cls(spark, path, meta)


# --------------------------------------------------------------------- #
# DuckDB oracle mirror
# --------------------------------------------------------------------- #

def _sql_index_chain(text: str, id_col: str, *, num_hashes: int,
                     bands: int, shingle_n: int):
    """Tag-parameterized CTE builders shared by the one-shot and
    incremental oracle mirrors: ``chain(tag, expr)`` ends in
    ``buckets_{tag} (id, sh, bidx, bhash)``."""
    rows_per_band = num_hashes // bands
    mh_exprs = ", ".join(
        f"list_min([({a}*h + {b}) % {MINHASH_P} for h in hs]) AS mh{i}"
        for i, (a, b) in enumerate(_mh_params(num_hashes))
    )
    band_exprs = ", ".join(
        sql_md5_int31(
            "("
            + " || '-' || ".join(
                f"mh{bb * rows_per_band + r}::VARCHAR"
                for r in range(rows_per_band)
            )
            + ")"
        )
        + f" AS b{bb}"
        for bb in range(bands)
    )

    def band_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT id, sh, {bb} AS bidx, b{bb} AS bhash FROM {src}"
            for bb in range(bands)
        )

    def chain(tag: str, table_expr: str) -> str:
        return f"""base_{tag} AS (
  SELECT {id_col} AS id, {sql_word_shingles(text, shingle_n)} AS sh
  FROM {table_expr}
), hashed_{tag} AS (
  SELECT id, sh, [{sql_md5_int31('s')} for s in sh] AS hs FROM base_{tag}
), sig_{tag} AS (
  SELECT id, sh, {mh_exprs} FROM hashed_{tag}
), bandsig_{tag} AS (
  SELECT id, sh, {band_exprs} FROM sig_{tag}
), buckets_{tag} AS (
  {band_rows(f'bandsig_{tag}')}
)"""

    return chain


def sql_dedup_index_batch(corpus_expr: str, batch_expr: str, text: str,
                          id_col: str, cols: str, *,
                          num_hashes: int = 12, bands: int = 4,
                          shingle_n: int = 3,
                          threshold: float = 0.7) -> str:
    """DuckDB mirror of ``DedupIndex.dedup_batch``: batch rows that
    share an LSH band bucket with a corpus row AND verify at shingle
    Jaccard ≥ threshold are dropped. Same constants, same hash, same
    shingle fallback as the Spark chain — cross-corpus candidates only
    (no batch-internal pairs), exactly the index semantics."""
    chain = _sql_index_chain(text, id_col, num_hashes=num_hashes,
                             bands=bands, shingle_n=shingle_n)
    return f"""
WITH {chain('c', corpus_expr)}, {chain('b', batch_expr)}, cand AS (
  SELECT DISTINCT b.id AS idb, c.id AS idc, b.sh AS sha, c.sh AS shb
  FROM buckets_b b JOIN buckets_c c
    ON b.bidx = c.bidx AND b.bhash = c.bhash
), dups AS (
  SELECT DISTINCT idb FROM cand
  WHERE {_SQL_JACCARD} >= {threshold}
)
SELECT {cols} FROM {batch_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups)
"""


def sql_dedup_index_incremental(corpus_expr: str, batch1_expr: str,
                                batch2_expr: str, text: str, id_col: str,
                                cols: str, *, num_hashes: int = 12,
                                bands: int = 4, shingle_n: int = 3,
                                threshold: float = 0.7) -> str:
    """DuckDB mirror of the full incremental-ingest round trip:
    ``build(corpus)`` → ``surv1 = dedup_batch(batch1)`` →
    ``append(surv1)`` → ``dedup_batch(batch2)``. Batch-2 survivors are
    batch-2 rows near-duplicate of NEITHER the corpus NOR a batch-1
    survivor — composed in ONE flat WITH (the batch-1 survivor postings
    are just ``buckets_b1`` filtered by ``dups1``, no nested re-derive).
    """
    chain = _sql_index_chain(text, id_col, num_hashes=num_hashes,
                             bands=bands, shingle_n=shingle_n)
    return f"""
WITH {chain('c', corpus_expr)}, {chain('b1', batch1_expr)},
{chain('b2', batch2_expr)}, cand1 AS (
  SELECT DISTINCT b.id AS idb, b.sh AS sha, c.sh AS shb
  FROM buckets_b1 b JOIN buckets_c c
    ON b.bidx = c.bidx AND b.bhash = c.bhash
), dups1 AS (
  SELECT DISTINCT idb FROM cand1
  WHERE {_SQL_JACCARD} >= {threshold}
), ref2 AS (
  SELECT id, sh, bidx, bhash FROM buckets_c
  UNION ALL
  SELECT id, sh, bidx, bhash FROM buckets_b1
  WHERE id NOT IN (SELECT idb FROM dups1)
), cand2 AS (
  SELECT DISTINCT b.id AS idb, b.sh AS sha, c.sh AS shb
  FROM buckets_b2 b JOIN ref2 c
    ON b.bidx = c.bidx AND b.bhash = c.bhash
), dups2 AS (
  SELECT DISTINCT idb FROM cand2
  WHERE {_SQL_JACCARD} >= {threshold}
)
SELECT {cols} FROM {batch2_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups2)
"""


def sql_dedup_index_exact_incremental(corpus_expr: str, batch1_expr: str,
                                      batch2_expr: str, text: str,
                                      id_col: str, cols: str) -> str:
    """DuckDB mirror of the EXACT-mode incremental round trip:
    ``build(corpus, mode='exact')`` → ``surv1 = dedup_batch(batch1)`` →
    ``append(surv1)`` → ``dedup_batch(batch2)``. NOT EXISTS (not
    NOT IN) so a NULL-text row survives on both engines — the left_anti
    semantics of the Spark side."""
    from .datapipe import sql_norm_text

    k = sql_norm_text(text)
    return f"""
WITH ck AS (
  SELECT {k} AS k FROM {corpus_expr}
), b1 AS (
  SELECT {id_col} AS id, {k} AS k FROM {batch1_expr}
), s1 AS (
  SELECT * FROM b1 b
  WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.k = b.k)
), ref2 AS (
  SELECT k FROM ck UNION ALL SELECT k FROM s1 WHERE k IS NOT NULL
), b2 AS (
  SELECT {id_col} AS id, {k} AS k FROM {batch2_expr}
), s2 AS (
  SELECT id FROM b2 b
  WHERE NOT EXISTS (SELECT 1 FROM ref2 r WHERE r.k = b.k)
)
SELECT {cols} FROM {batch2_expr} WHERE {id_col} IN (SELECT id FROM s2)
"""


def sql_phash_index_batch(corpus_expr: str, batch_expr: str,
                          fs_exprs, id_col: str, cols: str, *,
                          bits: int = 48, bands: int = 4,
                          max_hamming: int = 3) -> str:
    """DuckDB mirror of ``phash_index_build(corpus)`` →
    ``PhashIndex.dedup_batch(batch)``: recompute both sides' perceptual
    hashes from ``fs_exprs`` (same float32→double widening and
    left-fold mean as the Spark phash_expr), band them, and drop batch
    rows sharing a band with any corpus row at Hamming ≤
    ``max_hamming``. NOT EXISTS so a NULL-signature batch row (no
    decoded evidence) survives — the Spark side's isNotNull gate."""
    bw = bits // bands
    mask = (1 << bw) - 1
    fs = ", ".join(f"({e})::FLOAT" for e in list(fs_exprs)[:bits])
    total = "0.0::DOUBLE"
    for j in range(bits):
        total = f"({total} + fs[{j + 1}]::DOUBLE)"
    bit_terms = " + ".join(
        f"(CASE WHEN fs[{j + 1}]::DOUBLE >= mean THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )

    def sig(src: str, tag: str) -> str:
        return (
            f"{tag} AS (SELECT {id_col} AS id, ({bit_terms})::BIGINT AS ph"
            f" FROM (SELECT {id_col}, fs, {total} / len(fs) AS mean"
            f" FROM (SELECT {id_col}, [{fs}] AS fs FROM {src})))"
        )

    def band(tag_sig: str, tag: str) -> str:
        rows = " UNION ALL ".join(
            f"SELECT id, ph, {b} AS bidx, (ph >> {b * bw}) & {mask} AS bval"
            f" FROM {tag_sig}"
            for b in range(bands)
        )
        return f"{tag} AS ({rows})"

    return f"""
WITH {sig(corpus_expr, 'csig')}, {sig(batch_expr, 'bsig')},
{band('csig', 'cband')}, {band('bsig', 'bband')},
dups AS (
  SELECT DISTINCT b.id
  FROM bband b JOIN cband c ON b.bidx = c.bidx AND b.bval = c.bval
  WHERE bit_count(xor(b.ph, c.ph)) <= {max_hamming}
)
SELECT {cols} FROM {batch_expr} t
WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.id = t.{id_col})
"""
