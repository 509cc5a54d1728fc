"""LLM-training-data pipeline operators (the north star beyond renoir).

Exact dedup, MinHash-LSH near-dup dedup, cosine similarity search (brute
baseline + LSH-bucketed scale path), text statistics, language id and
document fingerprinting — the operators a 100 TB training-data pipeline
needs, designed bucketed-never-all-pairs.

Determinism contract: every operator that the correctness suite checks has a
*mirrored DuckDB SQL generator* in this module computing the SAME math. The
shared primitive is a 31-bit hash both engines can compute identically:
``('0x' || substr(md5(s), 1, 8))::bigint`` ≡ ``conv(substring(md5(s),1,8),
16, 10)``. All pseudo-randomness (minhash coefficients, LSH hyperplanes) is
derived from fixed integer formulas in Python and inlined into BOTH plans.

Scale design notes are on each operator; the common rules:
- near-dup candidates come from BAND-BUCKET equi-joins (shuffle on the band
  hash), never an all-pairs comparison;
- verification (exact Jaccard / cosine) runs only within buckets;
- everything is Column expressions (JVM/codegen) — no Python in the hot path.
"""

from __future__ import annotations

import math
import re
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .iteration import loop_partitions
from .util import count_rows, drop_spark_zip_finders, to_col

# --------------------------------------------------------------------- #
# shared deterministic hashing / text normalization
# --------------------------------------------------------------------- #

MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _mh_params(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a, b) coefficients for minhash_i(h) = (a*h + b) mod P.
    h < 2^31 and a < 2^31 keep a*h < 2^62 — no int64 overflow in either
    engine."""
    return [(2 * i + 3, (104_729 * i + 12_345) % MINHASH_P) for i in range(num_hashes)]


def md5_int31(col) -> Column:
    """31-bit integer hash identical across Spark and DuckDB."""
    return (
        F.conv(F.substring(F.md5(to_col(col)), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )


def sql_md5_int31(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT % {MINHASH_P})"


def md5_int60(col) -> Column:
    """60-bit integer hash (15 hex chars of md5 — fits a signed 64-bit
    integer in both engines). SimHash needs one feature-hash bit per
    signature bit: the 31-bit variant silently zeroes signature bits
    ≥ 31, making high bands CONSTANT and the band self-join quadratic
    (measured: 50M candidate pairs → every doc pair a candidate)."""
    return F.conv(F.substring(F.md5(to_col(col)), 1, 15), 16, 10).cast("long")


def sql_md5_int60(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def lower_canon(col) -> Column:
    """Cross-engine canonical lowercase. Java (Spark) and utf8proc
    (DuckDB) disagree on two Unicode SpecialCasing rules — İ (U+0130)
    lowercases to ``i`` + combining-dot-above (Java always, DuckDB
    context-dependently), and a trailing Σ becomes final sigma ς in Java
    but σ in utf8proc. Both ambiguities are normalized away post-lower
    (combining dot after i stripped, ς → σ), so identical text
    canonicalizes identically on both engines — pinned by the
    Unicode-differential gate (tests/test_unicode.py)."""
    lowered = F.lower(to_col(col))
    return F.replace(
        F.replace(lowered, F.lit("i̇"), F.lit("i")),
        F.lit("ς"), F.lit("σ"),
    )


def sql_lower_canon(expr: str) -> str:
    return (
        f"replace(replace(lower({expr}), 'i̇', 'i'), "
        f"'ς', 'σ')"
    )


def norm_text(col) -> Column:
    """Whitespace-collapsed, trimmed, canonically lowercased text."""
    return lower_canon(F.trim(F.regexp_replace(to_col(col), r"\s+", " ")))


def sql_norm_text(expr: str) -> str:
    # DuckDB replaces only the first match unless the 'g' flag is given
    # (Spark's regexp_replace is global by default).
    return sql_lower_canon(f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))")


def tokens(col) -> Column:
    return F.split(norm_text(col), " ")


def sql_tokens(expr: str) -> str:
    return f"string_split({sql_norm_text(expr)}, ' ')"


def shingles_from(toks: Column, norm: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from ALREADY-MATERIALIZED token and
    normalized-text columns. Pass attribute references, not expression
    trees: a lambda body re-evaluates embedded subexpressions PER ARRAY
    ELEMENT (no common-subexpression elimination across a `transform`),
    so inlining `split(...)` here turns O(len) into O(len²) — measured
    50× slower on the minhash path."""
    joined = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, joined).otherwise(F.array(norm))
    )


def sql_word_shingles(expr: str, n: int = 3) -> str:
    toks = sql_tokens(expr)
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {n} THEN "
        f"[array_to_string(({toks})[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({toks}) - {n - 2})] "
        f"ELSE [{sql_norm_text(expr)}] END)"
    )


def _staged_probe(narrow, probe):
    """Persist a NARROW relation, run a driver-side dial probe over it,
    and return ``(staged, value)`` with the cache still held.

    Every bits/width/√N auto-dial needs one bounded action (a count or
    a min-width) over the operator's input BEFORE the plan is built —
    and that input is often a Python decode stage (``decode_image`` /
    ``mapInPandas``), where an unpersisted probe re-runs the WHOLE
    codec just to read one scalar, and the operator body then runs it
    all again (the "decode once" discipline, docs/SCALING.md qa42 row).
    Staging the narrow relation first makes the probe AND the body
    share one upstream pass. The cache is narrow by contract (the
    caller selects only the columns the dial + body read) and must be
    released by the caller — hand it to ``Stream._retain`` on success
    (freed at stream teardown) — while THIS helper unpersists it if
    the probe raises (executor failure or a dial validation error), so
    no cache leaks on the error path. Shared by ``dedup_phash`` (width
    dial), ``dedup_embedding_ivf`` / ``mine_contrastive_pairs``
    (target_cell_size dial) and ``diversity_sample`` (√N dial).
    """
    staged = narrow.persist()
    try:
        value = probe(staged)
    except BaseException:
        staged.unpersist()
        raise
    return staged, value


# Optimized-logical-plan node names that imply a PHYSICAL exchange (or
# a blocking operator) somewhere below: converting such a Dataset to an
# RDD under AQE materializes every upstream shuffle stage EAGERLY at
# plan-build time, and those results are NOT reused by the later action
# — the upstream pipeline would execute twice (ADVICE round 10). Scans,
# projections, filters, generates and unions never shuffle, so the
# cheap .rdd partition probe stays safe for them.
_EXCHANGE_NODE_MARKERS = (
    "Join", "Aggregate", "Window", "Sort", "Repartition",
    "Deduplicate", "Intersect", "Except", "GlobalLimit", "CoGroup",
    "FlatMapGroups", "MapGroups", "WithCTE",
)


# One node per line of a plan's tree string: the tree-drawing prefix,
# an optional whole-stage-codegen tag, then the node name.
_PLAN_NODE_NAME = re.compile(r"^[\s:+|-]*(?:\*\(\d+\)\s+)?(\w+)")


def _plan_is_scan_shaped(df) -> bool:
    """True when the optimized logical plan contains no node that plans
    to a shuffle/blocking physical operator — i.e. ``df.rdd`` metadata
    probes cannot trigger any upstream stage execution. Reads the node
    name off each line of the plan tree, inner plans included
    (subqueries, the physical plan under a cached relation), and
    matches the markers against those names only: a column called
    ``JoinDate`` or ``SortKey`` is not a join or a sort. The tree is one
    JVM call; the optimized plan is computed once per Dataset and
    cached by QueryExecution, so the later action pays nothing extra.
    Errs toward False (skip the probe) on any doubt or API drift; an
    argument printed over several lines can only add names, so it errs
    the same way."""
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:  # pragma: no cover - Connect / API drift
        return False
    for line in tree.splitlines():
        m = _PLAN_NODE_NAME.match(line)
        if m and any(k in m.group(1) for k in _EXCHANGE_NODE_MARKERS):
            return False
    return True


def _spread_for_compute(df, *, min_factor: int = 1):
    """Round-robin repartition a NARROW relation up to the session's
    default parallelism before a compute-heavy per-row expression chain
    — but only when the input is a plain scan shape carrying fewer
    partitions than that.

    A compute-heavy chain (normalize → shingle → per-shingle md5 →
    minhash) runs at SCAN parallelism: over a corpus slice stored as a
    handful of parquet files it executes as a handful of tasks no
    matter how many cores are idle (measured: the sf0.1 corpus is one
    file, so the whole signature chain of an index build ran as ONE
    ~0.9 s task at 32 cores — and shows zero core-scaling). At corpus
    scale a scan already carries ≥ parallelism partitions and this
    helper adds NO exchange; when it does fire, the shuffle moves only
    the narrow (id, text) projection and is deterministic under task
    retries (sort-before-repartition, SPARK-23207).

    Exchange-shaped inputs (joins/aggregates upstream) skip the probe
    entirely: ``df.rdd`` under AQE would EXECUTE those upstream stages
    at plan-build time without reusing the result (ADVICE round 10),
    and their output width is the shuffle width — already sized by the
    session dial — so the spread has nothing to fix there."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * int(min_factor)
    if not _plan_is_scan_shaped(df):
        return df
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic/Connect plans
        return df
    if nparts >= target:
        return df
    return df.repartition(target)


def _cell_partitioned(df, key: str, n_cells: int):
    """Hash-partition an in-cell candidate relation ON its cell key
    before persisting. The downstream in-cell self-join then (a) needs
    no further exchange — both sides read the cache's partitioning —
    and (b) runs at a REAL width: left alone, AQE sizes the join by
    shuffled bytes, but an in-cell join's work is quadratic in cell
    population, not proportional to its input bytes, so the whole
    quadratic verify collapsed onto one task (measured: the qa50
    candidate join — ~2M in-cell pairs × 64-dim dots — ran as ONE
    3.2 s task with 31 cores idle). Width = min(n_cells, configured
    shuffle width): never more partitions than cells, never wider than
    the session dial — both ends scale (cells grow as √N, the shuffle
    width is the cluster's)."""
    sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                      "200"))
    return df.repartition(max(1, min(int(n_cells), sp)), key)


# --------------------------------------------------------------------- #
# exact dedup
# --------------------------------------------------------------------- #

def dedup_exact(stream, text_col: str, *, order: Sequence) -> "object":
    """Exact content dedup: normalize → sha2-256 content key → keep the
    minimum-``order`` row per key.

    Scale: ONE shuffle keyed by a 64-char hash (uniform — no skew unless
    true duplicates are massive, which AQE skew-join absorbs); the full
    text never shuffles twice thanks to min_by carrying the row struct.
    """
    df = stream.df.withColumn("__ck", F.sha2(norm_text(text_col), 256))
    out = stream._new(df).unique_assoc_by_key("__ck", order=order)
    return stream._new(out.df.drop("__ck"))


def sql_dedup_exact(table_expr: str, text: str, order: str, cols: str) -> str:
    return f"""
SELECT {cols} FROM (
  SELECT *, row_number() OVER (
      PARTITION BY {sql_norm_text(text)} ORDER BY {order}) AS __rn
  FROM {table_expr}
) WHERE __rn = 1
"""


def dedup_against(stream, reference, text_col: str,
                  ref_text_col: Optional[str] = None) -> "object":
    """Cross-corpus exact dedup — drop every row whose normalized
    content already appears in ``reference`` (decontamination / "seen in
    a previous crawl" filtering, a standard training-data ingest step).

    Scale: both sides reduce to 32-byte sha2 content keys; the reference
    side aggregates to DISTINCT keys BEFORE the join (one shuffle of
    keys, not texts), then a left_anti equi-join — if the reference key
    set is small Catalyst broadcasts it, otherwise it is a plain hash
    anti-join; the corpus text never shuffles."""
    ref_col = ref_text_col or text_col
    keys = (
        reference.df.select(
            F.sha2(norm_text(ref_col), 256).alias("__ck")
        ).distinct()
    )
    df = stream.df.withColumn("__ck", F.sha2(norm_text(text_col), 256))
    return stream._new(df.join(keys, "__ck", "left_anti").drop("__ck"))


def sql_dedup_against(table_expr: str, ref_expr: str, text: str,
                      ref_text: str, cols: str) -> str:
    return f"""
SELECT {cols} FROM {table_expr} t
WHERE NOT EXISTS (
  SELECT 1 FROM {ref_expr} r
  WHERE {sql_norm_text(f"r.{ref_text}")} = {sql_norm_text(f"t.{text}")}
)
"""


def dedup_against_bloom(
    stream,
    reference,
    text_col: str,
    ref_text_col: Optional[str] = None,
    *,
    fpp: float = 0.01,
    max_keys: int = 10_000_000,
):
    """Decontamination with a broadcast BLOOM prefilter + exact confirm —
    same semantics as :func:`dedup_against` (drop rows whose normalized
    text appears in ``reference``), EXACT result, different scale shape.

    When the reference is driver-sized (benchmark test sets, blocklists —
    the standard decontamination case), :func:`dedup_against` already
    broadcasts it, but the broadcast relation holds full 32-byte keys in
    a hash map. Here the reference collapses to a bit array (~10 bits
    per key at fpp=1% — ~25× smaller), so a reference that blows the
    broadcast-join threshold still rides to every executor, and the
    corpus-side membership test is a map-side Arrow-vectorized numpy
    probe with ZERO shuffle of clean rows. Bloom false positives cannot
    leak into the output: the positive sliver (true hits + ~fpp of the
    corpus) is re-checked with an exact normalized-text anti-join, so the
    result is bit-identical to the exact operator — the bloom only
    bounds how many rows reach that join.

    ``max_keys`` guards the driver collect: more distinct reference keys
    than this raises with a pointer to :func:`dedup_against` (whose
    anti-join never collects).

    Reference parity: decontamination composes renoir's semijoin shape
    (src/operator/join/mod.rs:118-160) with a filter; the bloom stage is
    the beyond-reference scale path.
    """
    import numpy as np

    ref_col = ref_text_col or text_col
    spark = stream.df.sparkSession
    key_rows = (
        reference.df.select(F.xxhash64(norm_text(ref_col)).alias("__bk"))
        .distinct()
        .limit(max_keys + 1)
        .collect()
    )
    if len(key_rows) > max_keys:
        raise ValueError(
            f"dedup_against_bloom: reference has more than {max_keys} "
            "distinct keys; use dedup_against (distributed anti-join) "
            "for references that are not driver-sized"
        )
    ref_keys = np.array([r["__bk"] for r in key_rows], dtype=np.int64).view(np.uint64)
    n = len(ref_keys)

    keyed = stream.df.withColumn("__bk", F.xxhash64(norm_text(text_col)))
    if n == 0:
        # empty reference: nothing can match — pure passthrough
        return stream._new(keyed.drop("__bk"))

    # m bits (power of two) and k probes sized from fpp:
    # bits/key = -log2(fpp)/ln(2), k = bits/key * ln(2)
    bits_per_key = -math.log2(fpp) / math.log(2)
    m = 1 << max(6, math.ceil(math.log2(n * bits_per_key)))
    k = max(1, round(bits_per_key * math.log(2)))
    mask = np.uint64(m - 1)

    def _probes(h: "np.ndarray") -> "list[np.ndarray]":
        # double hashing: probe_i = (h1 + i*h2) mod m, h2 forced odd
        h1 = h & mask
        h2 = (h >> np.uint64(33)) | np.uint64(1)
        return [(h1 + np.uint64(i) * h2) & mask for i in range(k)]

    bits = np.zeros(m >> 6, dtype=np.uint64)
    for idx in _probes(ref_keys):
        np.bitwise_or.at(bits, idx >> np.uint64(6),
                         np.uint64(1) << (idx & np.uint64(63)))
    bbits = spark.sparkContext.broadcast(bits)

    import pandas as pd  # noqa: F401  (pandas_udf signature)

    @F.pandas_udf("boolean")
    def _bloom_hit(keys):
        drop_spark_zip_finders()
        h = keys.to_numpy(dtype=np.int64).view(np.uint64)
        arr = bbits.value
        hit = np.ones(len(h), dtype=bool)
        for idx in _probes(h):
            hit &= (arr[idx >> np.uint64(6)]
                    >> (idx & np.uint64(63))) & np.uint64(1) == 1
        return pd.Series(hit)

    hit = keyed.withColumn("__hit", _bloom_hit("__bk"))
    clean = hit.filter(~F.col("__hit")).drop("__bk", "__hit")
    # exact confirm on the positive sliver only: normalized-text
    # anti-join (NULL text never matches — SQL semantics on both sides)
    ref_norm = (
        reference.df.select(norm_text(ref_col).alias("__norm")).distinct()
    )
    survivors = (
        hit.filter(F.col("__hit"))
        .withColumn("__norm", norm_text(text_col))
        .join(ref_norm, "__norm", "left_anti")
        .drop("__bk", "__hit", "__norm")
    )
    return stream._new(clean.unionByName(survivors))


# --------------------------------------------------------------------- #
# MinHash-LSH near-duplicate dedup
# --------------------------------------------------------------------- #

def minhash_bands_expr(
    df,
    text_col: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_n: int,
):
    """Shared normalize → shingle → minhash → band-hash Column chain:
    appends ``__sh`` (distinct shingles) and ``__bands``
    (array<struct(bidx, bhash)>) to ``df``, dropping the intermediates.
    ONE implementation feeds both the batch candidate machinery
    (:func:`minhash_pairs`) and the streaming operator
    (:func:`~renoir_spark.streaming.dedup_minhash_stream`), so
    batch/stream parity is by construction, not by copy discipline.

    Every expensive intermediate is staged as a REAL column: a transform
    lambda re-evaluates any embedded expression per element (no
    common-subexpression elimination across a ``transform``), so the
    tokenize → shingle → md5 → minhash chain must move through attribute
    references — each step computed once per row (measured 50× on the
    shingle chain)."""
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")
    staged = (
        df.withColumn("__norm", norm_text(text_col))
        .withColumn("__toks", F.split(F.col("__norm"), " "))
        .withColumn("__sh", shingles_from(F.col("__toks"), F.col("__norm"), shingle_n))
        .withColumn("__hs", F.transform(F.col("__sh"), lambda s: md5_int31(s)))
    )
    mh = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("__hs"),
                    lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P),
                )
            )
            for a, b in _mh_params(num_hashes)
        ]
    )
    sig = staged.withColumn("__mh", mh)
    band_hash = [
        md5_int31(
            F.concat_ws("-", *[
                F.element_at(F.col("__mh"), b * rows_per_band + r + 1).cast("string")
                for r in range(rows_per_band)
            ])
        ).alias(f"__b{b}")
        for b in range(bands)
    ]
    return sig.withColumn(
        "__bands",
        F.array(*[
            F.struct(F.lit(b).alias("bidx"), band_hash[b].alias("bhash"))
            for b in range(bands)
        ]),
    ).drop("__norm", "__toks", "__hs", "__mh")


def minhash_pairs(
    stream,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    bucket_cap: Optional[int] = None,
):
    """Jaccard-verified MinHash-LSH near-duplicate PAIRS — the shared
    candidate machinery under :func:`dedup_minhash` (greedy keep) and
    :func:`dedup_cluster_minhash` (connected-component clustering):

    1. per doc: distinct word shingles → ``num_hashes`` minhashes;
    2. signature split into ``bands`` bands; each band hashed to a bucket;
    3. candidate pairs = docs sharing (band_index, band_hash) — an
       EQUI-join (one shuffle on the band hash);
    4. exact shingle-Jaccard verification within candidates only.

    Returns a stream of ``(ida, idb, jac)`` with ``ida < idb`` and
    ``jac >= threshold``.

    Scale: the bucket self-join shuffles ONLY (band, hash, id) triples —
    the heavy shingle arrays never ride the bucket shuffle; they are
    re-attached to the (much smaller) verified-candidate pair list by two
    id equi-joins. Identical-content floods make hot buckets → AQE skew
    join splits them; band count trades recall for bucket size as usual
    for LSH. (Measured 2× faster than shipping shingles through the
    bucket join at sf0.1.)

    The pre-verify ``distinct`` on candidate pairs is DELIBERATE: locally
    it costs a shuffle that removing would save (~0.7 s at sf0.1), but a
    pair matching in several bands would otherwise ride the shingle
    re-attach joins up to ``bands`` times — at scale the redundant
    shipping of KB-sized shingle arrays dwarfs a 16-byte-row pair
    dedup shuffle.
    """
    # signature chain shared with the streaming operator — staging
    # discipline documented on minhash_bands_expr; input spread to core
    # parallelism when the scan carries too few partitions (no-op at
    # corpus scale — _spread_for_compute)
    sig = minhash_bands_expr(
        _spread_for_compute(stream.df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        )),
        "__text",
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    ).select("__id", "__sh", "__bands").persist()

    buckets = sig.select(
        "__id", F.explode("__bands").alias("__b")
    ).select("__id", F.col("__b.bidx").alias("bidx"), F.col("__b.bhash").alias("bhash"))

    if bucket_cap is not None:
        # the dedup_phash df-cutoff (full contract there): drop band
        # buckets holding more than `cap` docs before the self-join.
        # In fuzzy TEXT dedup an over-crowded bucket is a boilerplate
        # flood — run dedup_exact first (byte-identical copies share
        # EVERY bucket, so a cap would hide them from each other), then
        # the cap bounds the near-identical residue's quadratic term.
        crowded = (
            buckets.groupBy("bidx", "bhash")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > int(bucket_cap))
            .select("bidx", "bhash")
        )
        buckets = buckets.join(
            F.broadcast(crowded), ["bidx", "bhash"], "left_anti"
        )

    a = buckets.select(F.col("bidx"), F.col("bhash"), F.col("__id").alias("ida"))
    b = buckets.select(F.col("bidx"), F.col("bhash"), F.col("__id").alias("idb"))
    pair_ids = (
        a.join(b, ["bidx", "bhash"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )
    sh = sig.select("__id", "__sh")
    cand = pair_ids.join(
        sh.select(F.col("__id").alias("ida"), F.col("__sh").alias("sha")), "ida"
    ).join(
        sh.select(F.col("__id").alias("idb"), F.col("__sh").alias("shb")), "idb"
    )
    jac = F.size(F.array_intersect("sha", "shb")) / F.size(F.array_union("sha", "shb"))
    pairs = (
        cand.withColumn("__j", jac)
        .filter(F.col("__j") >= F.lit(threshold))
        .select("ida", "idb", F.col("__j").alias("jac"))
    )
    # NOTE: `sig` stays persisted — it feeds BOTH sides of the bucket
    # self-join, so the signature chain must materialize once, at action
    # time (an unpersist here, at plan-BUILD time, would silently force
    # full recomputation per join side — measured 10× slower). Spark's
    # ContextCleaner releases the blocks once the plan is unreachable;
    # The relation is RETAINED on the result: `.unpersist()` on the
    # returned stream releases it deterministically (else ContextCleaner).
    return stream._new(pairs)._retain(sig)


def dedup_minhash(
    stream,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    bucket_cap: Optional[int] = None,
):
    """MinHash-LSH near-duplicate dedup — :func:`minhash_pairs` (banded,
    bucket-join, never all-pairs; scale notes there, incl. the
    ``bucket_cap`` df-cutoff) + greedy keep: drop
    a doc iff some verified candidate with a SMALLER id has Jaccard ≥
    threshold (deterministic, clustering-free — for transitive
    cluster-level dedup see :func:`dedup_cluster_minhash`)."""
    pairs = minhash_pairs(
        stream, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, threshold=threshold, bucket_cap=bucket_cap,
    )
    dup_ids = pairs.df.select(F.col("idb").alias(id_col)).distinct()
    out = stream.df.join(dup_ids, id_col, "left_anti")
    return stream._new(out)._retain(*pairs._retained)


def dedup_cluster_minhash(
    stream,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_iter: int = 20,
    bucket_cap: Optional[int] = None,
):
    """Cluster-level MinHash fuzzy dedup — the full production pipeline
    shape (MinHash → LSH bands → Jaccard-verified pairs → connected
    components → one canonical doc per cluster), as used by large
    open-web corpus builds.

    vs :func:`dedup_minhash` (greedy keep-min-id against DIRECT
    neighbors): clustering follows TRANSITIVE duplication — A~B and B~C
    put A, B, C in one cluster even when A and C themselves fall below
    the threshold.

    Output: every input row + ``cluster_id`` (the minimum doc id of its
    duplicate component) + ``is_canonical`` (this row is that minimum —
    filter on it to keep one representative per cluster).

    Scale: pairs come from the banded equi-join (never all-pairs); the
    component loop runs ONLY over ids that appear in some verified pair
    — the duplicate subgraph, a small fraction of the corpus — via
    min-label propagation (one groupBy + one key-partitioned join per
    round, delta termination — same Pregel shape as
    ``delta_iterate``-based connected components). Singleton docs never
    enter the loop; the final left join hands them their own id.
    """
    pairs = minhash_pairs(
        stream, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, threshold=threshold, bucket_cap=bucket_cap,
    )
    return _cluster_from_pairs(
        stream, pairs.df, id_col, max_iter=max_iter,
        retain=tuple(pairs._retained),
    )


def dedup_cluster_exact(
    stream,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_iter: int = 20,
):
    """Cluster-level EXACT fuzzy dedup: verified pairs come from the
    lossless prefix-filtered join (:func:`similar_pairs_exact`) instead
    of MinHash banding, so the transitive clusters have NO probabilistic
    misses — the gold-standard pipeline whose pair recall is by
    construction the 1.0 that tools/dedup_recall_harness.py measures
    LSH banding AGAINST (its exact truth set). Same output contract and
    the same min-label component loop as :func:`dedup_cluster_minhash`;
    costs the exact join's extra shuffles in exchange for recall 1.0.
    """
    pairs = similar_pairs_exact(
        stream, text_col, id_col, shingle_n=shingle_n, threshold=threshold,
    )
    return _cluster_from_pairs(
        stream, pairs.df, id_col, max_iter=max_iter,
        retain=tuple(pairs._retained),
    )


def _cluster_from_pairs(stream, pairs_df, id_col: str, *, max_iter: int,
                        retain=()):
    """Shared transitive-closure stage: (ida, idb) verified-pair relation
    → min-label connected components over the duplicate subgraph only →
    every input row + cluster_id + is_canonical. One implementation so
    the MinHash and exact cluster dedups cannot drift."""
    p = pairs_df.select("ida", "idb").persist()
    edges0 = p.union(p.select(F.col("idb"), F.col("ida"))).toDF("src", "dst")
    # size the component loop to the DUPLICATE SUBGRAPH, not the corpus:
    # the count materializes the pair relation once (paid anyway by
    # round 1) and the loop then shuffles at a width matched to the edge
    # volume (iteration.loop_partitions) — at sf0.1 that's 1-2 partitions
    # instead of 32 empty-task rounds; at 100 TB (billions of edges) it
    # scales back up. The edge cache is hash-partitioned on src at
    # exactly the loop width, so every round's state⋈edges join reuses
    # the layout instead of re-scanning a corpus-wide cache with hundreds
    # of near-empty tasks.
    spark = stream.df.sparkSession
    n_edges = 2 * count_rows(p)
    loop_parts = loop_partitions(spark, n_edges)
    edges = edges0.repartition(loop_parts, "src").persist()
    ctx = stream.ctx
    init = ctx.from_df(
        edges.select(F.col("src").alias("v")).distinct()
        .withColumn("comp", F.col("v"))
    ).key_by("v")

    # One min-label hop per round. Round 11 measured a two-hop body
    # (fewer barriers, same monotone fixpoint) 2.1x SLOWER at sf0.1
    # (q83 4.8→10.1 s, qa21 5.9→12.1 s) and blamed plan growth between
    # lineage cuts (the two-hop delta reads the state 4x per round).
    # delta_iterate now cuts lineage every round, so that cause is gone;
    # but the same variant with an eager cut every round still read
    # 6.5/7.5 s, so re-measure before retrying it.
    def body(state, _it):
        cand_c = (
            state.df.join(edges, state.df["v"] == edges["src"])
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("comp").alias("new_comp"))
        )
        return ctx.from_df(
            cand_c.join(state.df, "v")
            .filter(F.col("new_comp") < F.col("comp"))
            .select("v", F.col("new_comp").alias("comp"))
        )

    final = init.delta_iterate(max_iter, body, shuffle_partitions=loop_parts)
    comp_map = final.to_stream().df.select(
        F.col("v").alias("__cv"), F.col("comp").alias("cluster_id")
    )
    # the loop returns a checkpoint whose size estimate is its last merge
    # plan's (a product of the join inputs), not its real size; the map
    # holds at most one 24-byte (v, comp) row per edge, so broadcast it
    # when that bound is under the session's broadcast threshold
    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    if n_edges * 24 <= threshold:
        comp_map = F.broadcast(comp_map)
    out = (
        stream.df.join(comp_map, stream.df[id_col] == F.col("__cv"), "left")
        .drop("__cv")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
        .withColumn("is_canonical", F.col("cluster_id") == F.col(id_col))
    )
    return stream._new(out)._retain(*retain, p, edges)


def _sql_minhash_ctes(
    table_expr: str,
    text: str,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> str:
    """Shared CTE chain ending in ``cand (ida, idb, sha, shb)`` —
    the DuckDB mirror of :func:`minhash_pairs` up to verification."""
    rows_per_band = num_hashes // bands
    mh_exprs = ", ".join(
        f"list_min([({a}*h + {b}) % {MINHASH_P} for h in hs]) AS mh{i}"
        for i, (a, b) in enumerate(_mh_params(num_hashes))
    )
    band_exprs = ", ".join(
        sql_md5_int31(
            "("
            + " || '-' || ".join(
                f"mh{bb * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
            )
            + ")"
        )
        + f" AS b{bb}"
        for bb in range(bands)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT id, sh, {bb} AS bidx, b{bb} AS bhash FROM bandsig"
        for bb in range(bands)
    )
    return f"""base AS (
  SELECT {id_col} AS id, {sql_word_shingles(text, shingle_n)} AS sh
  FROM {table_expr}
), hashed AS (
  SELECT id, sh, [{sql_md5_int31('s')} for s in sh] AS hs FROM base
), sig AS (
  SELECT id, sh, {mh_exprs} FROM hashed
), bandsig AS (
  SELECT id, sh, {band_exprs} FROM sig
), buckets AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.id AS ida, b.id AS idb, a.sh AS sha, b.sh AS shb
  FROM buckets a JOIN buckets b
    ON a.bidx = b.bidx AND a.bhash = b.bhash AND a.id < b.id
)"""


_SQL_JACCARD = (
    "len(list_intersect(sha, shb))::DOUBLE"
    " / len(list_distinct(list_concat(sha, shb)))"
)


def sql_dedup_minhash(
    table_expr: str,
    text: str,
    id_col: str,
    cols: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> str:
    """DuckDB mirror of :func:`dedup_minhash` (same constants, same hash)."""
    ctes = _sql_minhash_ctes(
        table_expr, text, id_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )
    return f"""
WITH {ctes}, dups AS (
  SELECT DISTINCT idb FROM cand
  WHERE {_SQL_JACCARD} >= {threshold}
)
SELECT {cols} FROM {table_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups)
"""


def sql_dedup_cluster_minhash(
    table_expr: str,
    text: str,
    id_col: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> str:
    """DuckDB mirror of :func:`dedup_cluster_minhash`: the shared pair
    CTEs, then connected components as a RECURSIVE reachability CTE
    (component id = min reachable id) — SQL-expressible because the
    duplicate subgraph is tiny at oracle scale; the Spark side uses the
    delta-iterated min-propagation loop instead."""
    ctes = _sql_minhash_ctes(
        table_expr, text, id_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )
    return (
        f"""
WITH RECURSIVE {ctes}, vp AS (
  SELECT ida, idb FROM cand WHERE {_SQL_JACCARD} >= {threshold}
)"""
        + _sql_cluster_tail(table_expr, id_col)
    )


def _sql_cluster_tail(table_expr: str, id_col: str) -> str:
    """Shared recursive-reachability tail for the cluster dedup oracles:
    expects a ``vp(ida, idb)`` CTE of verified pairs in scope (the WITH
    must be declared RECURSIVE by the caller)."""
    return f""", edges AS (
  SELECT ida AS src, idb AS dst FROM vp
  UNION
  SELECT idb AS src, ida AS dst FROM vp
), reach(v, w) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.w = edges.src
), comp AS (
  SELECT v, least(v, min(w)) AS cluster_id FROM reach GROUP BY v
)
SELECT d.{id_col} AS {id_col},
       coalesce(comp.cluster_id, d.{id_col}) AS cluster_id,
       coalesce(comp.cluster_id, d.{id_col}) = d.{id_col} AS is_canonical
FROM {table_expr} d LEFT JOIN comp ON d.{id_col} = comp.v
"""


def sql_dedup_cluster_exact(
    table_expr: str,
    text: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB mirror of :func:`dedup_cluster_exact`: brute-force pairs
    (the lossless join's truth set IS brute force) + the shared
    reachability tail."""
    return (
        f"""
WITH RECURSIVE sh AS (
  SELECT {id_col} AS id,
         list_distinct([{sql_md5_int60('s')}
                        for s in {sql_word_shingles(text, shingle_n)}]) AS hs
  FROM {table_expr}
), vp AS (
  SELECT ida, idb FROM (
    SELECT a.id AS ida, b.id AS idb,
           round(len(list_intersect(a.hs, b.hs))::DOUBLE /
                 (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))),
                 6) AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
  ) WHERE jaccard >= {threshold}
)"""
        + _sql_cluster_tail(table_expr, id_col)
    )


# --------------------------------------------------------------------- #
# within-corpus duplicate-span detection
# --------------------------------------------------------------------- #

def duplicate_span_fraction(
    stream,
    text_col: str,
    id_col: str,
    *,
    ngram: int = 5,
    threshold: float = 0.5,
):
    """Span-level duplication signal: for each document, the fraction of
    its DISTINCT word ``ngram``-grams that also occur in at least one
    OTHER document; ``flagged`` marks docs at or above ``threshold``.
    This is the shuffle-friendly approximation of suffix-based substring
    dedup (Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better"): boilerplate/templated spans shared across pages push
    the fraction up even when whole-document signatures differ.

    Scale: grams travel as 31-bit hashes (16-byte rows), never as
    strings; one shuffle on the gram hash (window count — no second
    relation to join back) + one groupBy on the doc id. Linear in total
    tokens; no all-pairs stage anywhere. Hash collisions can merge two
    distinct grams — the oracle mirrors the identical hash, so the
    behavior is deterministic and verified.
    """
    staged = (
        stream.df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .withColumn("__norm", norm_text("__text"))
        .withColumn("__toks", F.split(F.col("__norm"), " "))
        .withColumn("__sh", shingles_from(F.col("__toks"), F.col("__norm"), ngram))
        .select("__id", F.explode(
            F.transform(F.col("__sh"), lambda s: md5_int31(s))
        ).alias("__gh"))
        .distinct()
    )
    w = Window.partitionBy("__gh")
    marked = staged.withColumn("__docs", F.count(F.lit(1)).over(w))
    ratio = F.col("__dup") / F.col("__grams")
    return stream._new(
        marked.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("__grams"),
            F.sum(F.when(F.col("__docs") >= 2, 1).otherwise(0)).alias("__dup"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__grams").alias("n_grams"),
            F.round(ratio, 6).alias("dup_frac"),
            (ratio >= F.lit(threshold)).alias("flagged"),
        )
    )


def sql_duplicate_span_fraction(
    table_expr: str,
    text: str,
    id_col: str,
    *,
    ngram: int = 5,
    threshold: float = 0.5,
) -> str:
    """DuckDB mirror of :func:`duplicate_span_fraction`."""
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {sql_word_shingles(text, ngram)} AS sh
  FROM {table_expr}
), ex AS (
  SELECT id, unnest([{sql_md5_int31('s')} for s in sh]) AS gh FROM base
), pairs AS (
  SELECT DISTINCT id, gh FROM ex
), marked AS (
  SELECT id, count(*) OVER (PARTITION BY gh) AS docs FROM pairs
)
SELECT id AS {id_col},
       count(*) AS n_grams,
       round(CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
             / count(*), 6) AS dup_frac,
       CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
           / count(*) >= {threshold} AS flagged
FROM marked GROUP BY id
"""


def _sam_longest_dup(seqs: list) -> list:
    """Longest duplicated span per sequence, EXACT: build one generalized
    suffix automaton over all token sequences (unique separator symbol
    between docs), propagate occurrence counts up suffix links, then walk
    each sequence reporting its longest span occurring >= 2 times in the
    whole group corpus (overlapping and within-doc repeats count, matches
    never cross a separator). O(total tokens) build + walk — the exact
    algorithm a suffix-array dedup pipeline runs, per group."""
    vocab: dict = {}
    enc = [[vocab.setdefault(t, len(vocab)) for t in s] for s in seqs]
    sep = len(vocab)  # fresh symbol per doc boundary

    sa_len = [0]
    sa_link = [-1]
    sa_tr: list = [{}]
    sa_cnt = [0]
    last = 0

    def extend(c: int) -> None:
        nonlocal last
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        sa_tr.append({})
        sa_cnt.append(1)
        p = last
        while p != -1 and c not in sa_tr[p]:
            sa_tr[p][c] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = sa_tr[p][c]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                sa_tr.append(dict(sa_tr[q]))
                sa_cnt.append(0)
                while p != -1 and sa_tr[p].get(c) == q:
                    sa_tr[p][c] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur

    for i, s in enumerate(enc):
        for c in s:
            extend(c)
        extend(sep + i)

    # occurrence counts: counting-sort states by len, push cnt up links
    order = sorted(range(1, len(sa_len)), key=sa_len.__getitem__, reverse=True)
    for v in order:
        if sa_link[v] > 0:
            sa_cnt[sa_link[v]] += sa_cnt[v]
    # best[v] = v if its substrings occur >=2 times, else nearest suffix-
    # link ancestor that does (-1 if none) — O(1) per walk step
    best = [-1] * len(sa_len)
    for v in reversed(order):  # len ascending
        best[v] = v if sa_cnt[v] >= 2 else best[sa_link[v]]

    out = []
    for s in enc:
        v, l, m = 0, 0, 0
        for c in s:
            while v != 0 and c not in sa_tr[v]:
                v = sa_link[v]
                l = sa_len[v]
            if c in sa_tr[v]:
                v = sa_tr[v][c]
                l += 1
            else:
                v, l = 0, 0
                continue
            if sa_cnt[v] >= 2:
                cand = l
            else:
                b = best[sa_link[v]] if sa_link[v] > 0 else -1
                cand = sa_len[b] if b != -1 else 0
            if cand > m:
                m = cand
        out.append(m)
    return out


def longest_duplicate_span(
    stream,
    text_col: str,
    id_col: str,
    *,
    n_groups: int = 25,
    salt: str = "span0",
    group_expr=None,
):
    """TRUE substring-level duplication: for each document, the EXACT
    length (in tokens) of its longest word-span occurring at least twice
    in its group's corpus — the suffix-array substring-dedup signal (Lee
    et al. 2022) that :func:`duplicate_span_fraction`'s fixed-n-gram
    fraction only approximates. Overlapping and within-document repeats
    count; spans never cross document boundaries.

    Scale: documents are hash-bucketed into ``n_groups`` deterministic
    groups (salted md5 of the id) and each group runs ONE linear-time
    generalized suffix-automaton pass inside a single Arrow stage — one
    shuffle on the group id, no pairwise join anywhere, memory bounded by
    group token count. In production compose with the minhash cluster
    step (``dedup_cluster_minhash``): groups = near-dup clusters, so the
    exact pass runs only where duplication is already likely — a global
    suffix array over 100 TB is not shuffle-friendly, bounded groups
    are. ``group_expr`` overrides the bucketing input (pass the cluster
    id, or any co-grouping key); docs sharing its value always land in
    one group. The DuckDB oracle computes the identical quantity
    relationally (token-position equi-join -> diagonal islands -> max
    run per doc), verifying the automaton against an independent
    formulation."""
    from .util import grouped_apply_sorted

    id_t = dict(stream.df.dtypes)[id_col]
    gsrc = to_col(group_expr) if group_expr is not None else F.col(id_col)
    grp = (
        md5_int31(F.concat_ws("|", F.lit(salt), gsrc.cast("string")))
        % F.lit(n_groups)
    )
    base = stream.df.select(
        F.col(id_col).alias("__id"),
        grp.alias("__grp"),
        tokens(text_col).alias("__toks"),
    )

    schema = f"__id {id_t}, n_tokens long, dup_span_len long, dup_span_frac double"

    def _per_group(pdf):
        import pandas as pd

        seqs = [list(t) if t is not None else [] for t in pdf["__toks"]]
        dups = _sam_longest_dup(seqs)
        n = [len(s) for s in seqs]
        return pd.DataFrame(
            {
                "__id": pdf["__id"],
                "n_tokens": n,
                "dup_span_len": dups,
                "dup_span_frac": [
                    round(d / t, 6) if t else 0.0 for d, t in zip(dups, n)
                ],
            }
        )

    out = grouped_apply_sorted(base, ["__grp"], ["__id"], _per_group, schema)
    return stream._new(out.withColumnRenamed("__id", id_col))


def sql_longest_duplicate_span(
    table_expr: str,
    text: str,
    id_col: str,
    *,
    n_groups: int = 25,
    salt: str = "span0",
    group_sql: Optional[str] = None,
) -> str:
    """DuckDB mirror of :func:`longest_duplicate_span` via an INDEPENDENT
    relational formulation: equi-join token positions within a group,
    group matches by (doc pair, diagonal), and the longest consecutive
    run of positions on a diagonal is the longest shared span."""
    gsrc = group_sql if group_sql is not None else id_col
    h = sql_md5_int31(f"concat_ws('|', '{salt}', {gsrc}::VARCHAR)")
    return f"""
WITH toked AS (
  SELECT {id_col} AS id, {h} % {n_groups} AS grp, {sql_tokens(text)} AS toks
  FROM {table_expr}
), pos AS (
  SELECT id, grp, unnest(toks) AS tok,
         generate_subscripts(toks, 1)::BIGINT AS p
  FROM toked
), m AS (
  SELECT a.id AS id1, b.id AS id2, a.p AS p1, b.p AS p2
  FROM pos a JOIN pos b ON a.grp = b.grp AND a.tok = b.tok
  WHERE NOT (a.id = b.id AND a.p = b.p)
), runs AS (
  SELECT id1, count(*) AS span_len
  FROM (
    SELECT id1, id2, p1,
           p1 - row_number() OVER (PARTITION BY id1, id2, p2 - p1
                                   ORDER BY p1) AS isl,
           p2 - p1 AS diag
    FROM m
  )
  GROUP BY id1, id2, diag, isl
), per_doc AS (
  SELECT id1 AS id, max(span_len) AS dup FROM runs GROUP BY 1
)
SELECT t.id AS {id_col},
       coalesce(len(t.toks), 0)::BIGINT AS n_tokens,
       coalesce(d.dup, 0)::BIGINT AS dup_span_len,
       CASE WHEN len(t.toks) > 0
            THEN round(coalesce(d.dup, 0)::DOUBLE / len(t.toks), 6)
            ELSE 0.0 END AS dup_span_frac
FROM toked t LEFT JOIN per_doc d USING (id)
"""


# --------------------------------------------------------------------- #
# SimHash near-duplicate dedup
# --------------------------------------------------------------------- #

def dedup_simhash(
    stream,
    text_col: str,
    id_col: str,
    *,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    shingle_n: int = 3,
    bucket_cap: Optional[int] = None,
):
    """SimHash near-duplicate dedup: each document gets a ``bits``-wide
    signature (bit j = sign of Σ_features ±1 by bit j of the feature
    hash); near-dups have small Hamming distance. Features are distinct
    word ``shingle_n``-grams — NOT unigrams: on a small vocabulary every
    document contains nearly every word, so unigram feature sets (and
    hence signatures) collapse, turning the band self-join quadratic and
    marking everything a duplicate (measured: 63 s and 10000→627 rows at
    sf0.1 with unigrams vs shingles).

    Scale: candidates come from BAND equality (a Hamming-≤k pair must
    agree on ≥1 of k+1 bands — here ``bands`` slices of the signature),
    an equi-join on the band value; exact ``bit_count(xor)`` verifies
    within candidates. Greedy keep-min-id like dedup_minhash. The bit
    sums are ONE pass over the feature array with an array accumulator
    (``aggregate`` + ``zip_with``), not ``bits`` separate aggregates.
    """
    assert bits % bands == 0, "bands must divide bits"
    assert bits <= 62, "signature must fit a signed 64-bit integer"
    band_width = bits // bands

    pows = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    # spread: the shingle→md5→bit-count chain is the heaviest per-row
    # expression work in the module and otherwise runs at scan
    # parallelism (no-op at corpus scale — _spread_for_compute)
    staged = (
        _spread_for_compute(stream.df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        ))
        .withColumn("__norm", norm_text("__text"))
        .withColumn("__toks", F.split(F.col("__norm"), " "))
        .withColumn("__sh", shingles_from(F.col("__toks"), F.col("__norm"), shingle_n))
        .withColumn("__hs", F.transform(F.col("__sh"), lambda s: md5_int60(s)))
        .withColumn("__nf", F.size("__hs"))
        .withColumn(
            "__cnt",
            F.aggregate(
                F.col("__hs"),
                F.array_repeat(F.lit(0), bits),
                lambda acc, h: F.zip_with(
                    acc,
                    pows,
                    lambda a, p: a
                    + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(0)),
                ),
            ),
        )
    )
    # bit j set ⟺ Σ±1 ≥ 0 ⟺ 2·ones_j ≥ n_features
    nf = F.col("__nf")
    simhash = F.aggregate(
        F.zip_with(
            F.col("__cnt"), pows,
            lambda c, p: F.when(c * 2 >= nf, p).otherwise(F.lit(0)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sig = staged.select("__id", simhash.alias("__sim")).persist()

    bands_df = sig.select(
        "__id", "__sim", band_split_expr(F.col("__sim"), bands, band_width),
    ).select("__id", "__sim", F.col("__b.bidx").alias("bidx"), F.col("__b.bval").alias("bval"))

    if bucket_cap is not None:
        # the dedup_phash df-cutoff — full contract there
        crowded = (
            bands_df.groupBy("bidx", "bval")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > int(bucket_cap))
            .select("bidx", "bval")
        )
        bands_df = bands_df.join(
            F.broadcast(crowded), ["bidx", "bval"], "left_anti"
        )

    a = bands_df.select("bidx", "bval", F.col("__id").alias("ida"), F.col("__sim").alias("sima"))
    b = bands_df.select("bidx", "bval", F.col("__id").alias("idb"), F.col("__sim").alias("simb"))
    # no per-pair dedup shuffle: the Hamming verdict is deterministic per
    # pair, so a pair seen in several bands collapses in the final
    # distinct() over idb — one shuffle instead of two
    dup_ids = (
        a.join(b, ["bidx", "bval"])
        .filter(F.col("ida") < F.col("idb"))
        .filter(F.bit_count(F.col("sima").bitwiseXOR(F.col("simb"))) <= max_hamming)
        .select(F.col("idb").alias(id_col))
        .distinct()
    )
    # sig stays persisted until released: retained on the result so
    # `.unpersist()` frees it deterministically (both join sides read it)
    return stream._new(stream.df.join(dup_ids, id_col, "left_anti"))._retain(sig)


def sql_dedup_simhash(
    table_expr: str,
    text: str,
    id_col: str,
    cols: str,
    *,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    shingle_n: int = 3,
) -> str:
    band_width = bits // bands
    mask = (1 << band_width) - 1
    # bit j set ⟺ 2·ones_j ≥ n (≡ sign of Σ±1), mirroring the Spark side
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h & {1 << j}) != 0))"
        f" >= len(hs) THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT id, sim, {b} AS bidx, (sim >> {b * band_width}) & {mask} AS bval FROM sig"
        for b in range(bands)
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS id,
         [{sql_md5_int60('s')} for s in
          {sql_word_shingles(text, shingle_n)}] AS hs
  FROM {table_expr}
), sig AS (
  SELECT id, ({bit_terms})::BIGINT AS sim FROM base
), bands AS (
  {band_rows}
), dups AS (
  SELECT DISTINCT b.id AS idb
  FROM bands a JOIN bands b
    ON a.bidx = b.bidx AND a.bval = b.bval AND a.id < b.id
  WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
)
SELECT {cols} FROM {table_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups)
"""


def phash_expr(feats: Column, bits: int) -> Column:
    """The perceptual-hash signature as ONE Column expression: bit j =
    (feature_j ≥ mean of the first ``bits`` features), packed into a
    long. Shared by batch :func:`dedup_phash` and the streaming form so
    their signatures agree bit-for-bit (mean folds left-to-right — the
    association sql_dedup_phash mirrors)."""
    sliced = F.slice(feats, 1, bits)
    total = F.aggregate(
        sliced, F.lit(0.0), lambda a, x: a + x.cast("double")
    )
    mean = total / F.size(sliced)
    pows = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    return F.aggregate(
        F.zip_with(
            sliced, pows,
            lambda x, p: F.when(x.cast("double") >= mean, p)
            .otherwise(F.lit(0)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def band_split_expr(sig: Column, bands: int, band_width: int) -> Column:
    """Explode a packed integer signature into its ``bands`` LSH band
    rows: one struct ``__b = (bidx, bval)`` per band, where ``bval`` is
    bits ``[bidx·band_width, (bidx+1)·band_width)`` of ``sig``. The one
    band split of the bit-signature family (simhash, phash — batch,
    streaming, video and the persisted phash index)."""
    mask = (1 << band_width) - 1
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("bidx"),
                    F.shiftright(sig, b * band_width)
                    .bitwiseAND(F.lit(mask))
                    .alias("bval"),
                )
                for b in range(bands)
            ]
        )
    ).alias("__b")


def dedup_phash(
    stream,
    features_col: str,
    id_col: str,
    *,
    bits: Optional[int] = None,
    bands: int = 4,
    max_hamming: int = 3,
    bucket_cap: Optional[int] = None,
):
    """Perceptual-hash near-duplicate dedup for DECODED media: bit j of
    the signature = (feature_j ≥ mean of the first ``bits`` features) —
    the thresholding step of the average-hash / pHash family (public
    knowledge: aHash thresholds downsampled pixels, pHash thresholds
    DCT coefficients; either arrives here as the codec's ``features``
    array). Works on whatever :func:`renoir_spark.multimodal`
    decode stage produced the features — the deterministic fake codec
    in tests, a real PIL/DCT codec via ``register_codec`` in
    production (the codec only has to emit ≥ ``bits`` features; a
    real pHash uses 64). Keeps the smallest-id representative of each
    near-duplicate set, like :func:`dedup_simhash`.

    Scale: exactly the SimHash shape one column over — candidates come
    from BAND equality (a Hamming-≤k pair must agree on ≥1 of k+1
    bands), an equi-join on the band value; exact ``bit_count(xor)``
    verifies within candidates; no all-pairs anywhere. The mean
    threshold + packed ``bits``-wide signature are single array
    expressions (one pass over the feature array). Float discipline:
    features are float32 on disk; both engines widen the SAME float32
    values to double before the mean/compare, and the mean folds
    left-to-right, so the signature is bit-identical cross-engine
    (sql_dedup_phash mirrors it).

    ``bits=None`` (default) auto-dials to the codec's feature count —
    the MINIMUM non-empty width across the corpus (one tiny
    min-aggregate job over the pruned size column), floored to a
    multiple of ``bands``, capped at 62 — so the signature can never
    silently outrun the features: bands past the feature count would
    be CONSTANT zero and the self-join quadratic. Min (not first-row)
    makes the dial safe under MIXED codec widths — a heterogeneous
    corpus (8- and 48-feature media) bands everything inside the
    narrowest codec's evidence instead of banding the narrow rows
    against a constant-zero tail. A probed width smaller than
    ``bands`` raises (constant-zero bands are exactly the trap the
    dial exists to prevent); decode wider or lower ``bands``. The
    scale dial is the DECODE side: ``decode_image(n_features=48)``
    gives 12-bit bands; the default 8-feature codec gives 2-bit bands,
    fine for smoke tests and the measured quadratic trap at corpus
    scale (docs/SCALING.md).

    ``bucket_cap`` (default off) drops every band bucket holding more
    than that many items BEFORE the self-join — the posting-list
    df-cutoff :func:`similar_pairs_ngram` uses, found with a
    map-side-combined count (skew-safe) and removed with a broadcast
    anti-join (over-crowded buckets are by definition few). Contract:
    a Hamming-≤``max_hamming`` pair is missed ONLY if every band the
    two signatures share holds > ``bucket_cap`` items. On real
    perceptual hashes near-dup pairs agree on near-unique band values
    — an over-crowded bucket is a NON-discriminative band (the
    constant-feature / uniform-noise regime, where the bucket's pairs
    are ~all false candidates anyway), so the cap trades the
    pathological quadratic term for a planted-recall-tested miss rule
    (tests/test_round9.py; measured curve in docs/SCALING.md).

    Reference parity: beyond-reference (renoir has no media dedup);
    the banding machinery cites dedup_simhash above.
    """
    feats = stream.df.select(
        F.col(id_col).alias("__id"), to_col(features_col).alias("__feat")
    )
    staged = None
    if bits is None:
        # stage the (id, features) relation BEFORE probing (the
        # _staged_probe decode-once discipline): the cache is narrow
        # (features only, ~0.2% of raw media bytes) and released at
        # stream teardown via _retain below; _staged_probe releases it
        # on any probe failure, width-check ValueError included.
        def _width_dial(d):
            row = (
                d.select(F.size("__feat").alias("n"))
                .filter(F.col("n") > 0)
                .agg(F.min("n").alias("n")).collect()
            )
            n_feat = row[0]["n"]
            if n_feat is None:
                return None  # no decoded evidence anywhere
            n_feat = min(int(n_feat), 62)
            if n_feat < bands:
                raise ValueError(
                    f"dedup_phash: narrowest codec emits {n_feat} "
                    f"feature(s) < bands={bands}; constant-zero "
                    "bands would make every row a candidate pair — "
                    "decode more features or lower bands"
                )
            return n_feat

        staged, n_feat = _staged_probe(feats, _width_dial)
        feats = staged
        bits = bands if n_feat is None else (n_feat // bands) * bands
    assert bits % bands == 0, "bands must divide bits"
    assert bits <= 62, "signature must fit a signed 64-bit integer"
    band_width = bits // bands

    sig = feats.select(
        "__id",
        phash_expr(F.col("__feat"), bits).alias("__ph"),
    ).persist()

    bands_df = sig.select(
        "__id", "__ph", band_split_expr(F.col("__ph"), bands, band_width),
    ).select("__id", "__ph", F.col("__b.bidx").alias("bidx"),
             F.col("__b.bval").alias("bval"))

    if bucket_cap is not None:
        crowded = (
            bands_df.groupBy("bidx", "bval")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > int(bucket_cap))
            .select("bidx", "bval")
        )
        bands_df = bands_df.join(
            F.broadcast(crowded), ["bidx", "bval"], "left_anti"
        )

    a = bands_df.select("bidx", "bval", F.col("__id").alias("ida"),
                        F.col("__ph").alias("pha"))
    b = bands_df.select("bidx", "bval", F.col("__id").alias("idb"),
                        F.col("__ph").alias("phb"))
    dup_ids = (
        a.join(b, ["bidx", "bval"])
        .filter(F.col("ida") < F.col("idb"))
        .filter(F.bit_count(F.col("pha").bitwiseXOR(F.col("phb")))
                <= max_hamming)
        .select(F.col("idb").alias(id_col))
        .distinct()
    )
    out = stream._new(stream.df.join(dup_ids, id_col, "left_anti"))._retain(sig)
    if staged is not None:
        out._retain(staged)
    return out


def dedup_phash_against(
    stream,
    reference,
    features_col: str,
    *,
    ref_features_col: Optional[str] = None,
    bits: Optional[int] = None,
    max_hamming: int = 3,
):
    """Media DECONTAMINATION: drop every item whose perceptual hash
    sits within Hamming distance ``max_hamming`` of ANY reference
    item's hash — the multimodal analog of :func:`dedup_against`
    (exact text) and :func:`decontaminate_embedding` (vectors): keep
    benchmark/eval images out of the training corpus even when they
    were re-encoded or slightly altered (what byte-exact dedup misses
    and a pHash absorbs by construction).

    Scale shape: the reference collapses to ONE row holding an
    array-of-signature-longs (benchmark sets are executor-memory-sized
    by definition — and a phash is 8 BYTES, the smallest reference
    representation in the family), broadcast to every task; the
    corpus-side test is a per-row higher-order ``EXISTS`` with a
    ``bit_count(xor)`` verdict — ZERO shuffles of the corpus, no row
    multiplication, everything JVM-side. NULL corpus features (no
    decoded evidence) are KEPT, mirroring decontaminate_embedding's
    NULL pin; NULL reference features contribute no signature.

    ``bits`` auto-dials to the corpus codec's feature count like
    :func:`dedup_phash` — the MINIMUM non-empty width, so mixed codec
    widths hash inside the evidence every row actually has (banding
    does not apply here — the reference is broadcast, not joined).
    The probe is one aggregate over the corpus features; when those
    come from an expensive Python decode stage, pass ``bits``
    explicitly (the caller set the decode width) and the operator
    stays a single zero-shuffle pass — it deliberately does NOT cache
    the corpus the way :func:`dedup_phash` stages its probe, because
    decontamination's output is the full-width corpus relation and a
    full-corpus cache is not a 100 TB shape."""
    rcol = ref_features_col or features_col
    if bits is None:
        probe = (
            stream.df.select(F.size(to_col(features_col)).alias("n"))
            .filter(F.col("n") > 0)
            .agg(F.min("n").alias("n")).collect()
        )
        n_feat = probe[0]["n"]
        bits = min(int(n_feat), 62) if n_feat is not None else 8
    refs = reference.df.select(
        phash_expr(to_col(rcol), bits).alias("__rph")
    ).where(F.col("__rph").isNotNull()).agg(
        F.collect_list("__rph").alias("__refs")
    )
    # STAGE the signature as a real column before the EXISTS: a lambda
    # body re-evaluates embedded expression trees PER ARRAY ELEMENT (no
    # CSE across higher-order functions) — with the whole phash fold
    # inlined, |refs| re-computations per row measured 20 s where the
    # staged form is sub-second (shingles_from's trap, one layer up)
    staged = stream.df.withColumn(
        "__ph", phash_expr(to_col(features_col), bits)
    )
    hit = F.exists(
        F.col("__refs"),
        lambda r: F.bit_count(F.col("__ph").bitwiseXOR(r))
        <= F.lit(int(max_hamming)),
    )
    out = (
        staged.crossJoin(F.broadcast(refs))
        .filter(~F.coalesce(hit, F.lit(False)))
        .drop("__refs", "__ph")
    )
    return stream._new(out)


def sql_dedup_phash_against(
    table_expr: str,
    ref_expr: str,
    fs_exprs: Sequence[str],
    ref_fs_exprs: Sequence[str],
    cols: str,
    *,
    bits: int,
    max_hamming: int = 3,
) -> str:
    """DuckDB mirror of :func:`dedup_phash_against` — recomputes both
    sides' signatures from feature expressions and keeps rows with no
    reference hash within ``max_hamming`` (NULL corpus signature ⇒ the
    EXISTS predicate is NULL ⇒ kept, matching the Spark NULL pin)."""

    def sigsel(exprs):
        fs = ", ".join(f"({e})::FLOAT" for e in list(exprs)[:bits])
        total = "0.0::DOUBLE"
        for j in range(bits):
            total = f"({total} + fs[{j + 1}]::DOUBLE)"
        bit_terms = " + ".join(
            f"(CASE WHEN fs[{j + 1}]::DOUBLE >= mean THEN {1 << j}"
            " ELSE 0 END)"
            for j in range(bits)
        )
        return fs, total, bit_terms

    cfs, ctotal, cbits = sigsel(fs_exprs)
    rfs, rtotal, rbits = sigsel(ref_fs_exprs)
    return f"""
WITH refsig AS (
  SELECT ({rbits})::BIGINT AS rph FROM (
    SELECT fs, {rtotal} / len(fs) AS mean
    FROM (SELECT [{rfs}] AS fs FROM {ref_expr})
  )
)
SELECT {cols} FROM (
  SELECT t.*, ({cbits})::BIGINT AS __ph FROM (
    SELECT *, {ctotal} / len(fs) AS mean
    FROM (SELECT *, [{cfs}] AS fs FROM {table_expr})
  ) t
)
WHERE NOT EXISTS (
  SELECT 1 FROM refsig r WHERE bit_count(xor(__ph, r.rph)) <= {max_hamming}
)
"""


def sql_dedup_phash(
    table_expr: str,
    fs_exprs: Sequence[str],
    id_col: str,
    cols: str,
    *,
    bits: int = 8,
    bands: int = 4,
    max_hamming: int = 3,
) -> str:
    """DuckDB mirror of :func:`dedup_phash`. ``fs_exprs`` recomputes
    the feature values in SQL (one expression per feature, e.g. the
    fake codec's md5 formula — see multimodal._md5_floats); each is
    cast through FLOAT to match the float32 the Spark side reads, then
    widened to DOUBLE exactly like the Spark expressions."""
    assert bits % bands == 0 and len(fs_exprs) >= bits
    band_width = bits // bands
    mask = (1 << band_width) - 1
    fs = ", ".join(f"({e})::FLOAT" for e in list(fs_exprs)[:bits])
    # left-fold sum mirror of F.aggregate(..., a + x): ((f1+f2)+...)
    total = "0.0::DOUBLE"
    for j in range(bits):
        total = f"({total} + fs[{j + 1}]::DOUBLE)"
    bit_terms = " + ".join(
        f"(CASE WHEN fs[{j + 1}]::DOUBLE >= mean THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT id, ph, {b} AS bidx, (ph >> {b * band_width}) & {mask} "
        f"AS bval FROM sig"
        for b in range(bands)
    )
    return f"""
WITH feats AS (
  SELECT {id_col} AS id, [{fs}] AS fs FROM {table_expr}
), sig AS (
  SELECT id, ({bit_terms})::BIGINT AS ph
  FROM (SELECT id, fs, {total} / len(fs) AS mean FROM feats)
), bands AS (
  {band_rows}
), dups AS (
  SELECT DISTINCT b.id AS idb
  FROM bands a JOIN bands b
    ON a.bidx = b.bidx AND a.bval = b.bval AND a.id < b.id
  WHERE bit_count(xor(a.ph, b.ph)) <= {max_hamming}
)
SELECT {cols} FROM {table_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups)
"""


# --------------------------------------------------------------------- #
# n-gram Jaccard similarity join (inverted-index shape)
# --------------------------------------------------------------------- #

def similar_pairs_ngram(
    stream,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
):
    """All pairs with shingle-Jaccard ≥ threshold via an INVERTED INDEX:
    explode distinct shingles (hashed to 60-bit ints so every shuffle key
    is 8 bytes, not a 40-char string) → posting list per shingle → emit
    the ordered pairs of each list → count shared shingles per pair →
    |A∩B| / (|A| + |B| − |A∩B|).

    Scale (3 shuffles total): frequent "stop shingles" would
    quadratically blow up their posting lists, so shingles occurring in
    more than ``max_df`` documents are dropped first (standard prefix/df
    filtering — the oracle mirrors the same cutoff, making the
    approximation part of the operator's contract). The stop set is
    found with a map-side-combined count (skew-safe) and removed with a
    BROADCAST anti-join — stop shingles are by definition few. Surviving
    posting lists are bounded by ``max_df``, so pair generation is a
    JVM-side array expansion of ≤ max_df·(max_df−1)/2 structs per
    shingle — never a self-join of unbounded posting lists, and no
    partition sees unbounded state. Output: (ida, idb, jaccard),
    ida < idb. Hash collisions are mirrored by the oracle (both engines
    hash with the identical md5-prefix map), so results stay bit-equal.
    """
    # spread: per-shingle md5 runs pre-explode at scan parallelism
    # otherwise (no-op at corpus scale — _spread_for_compute)
    staged = (
        _spread_for_compute(stream.df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        ))
        .withColumn("__norm", norm_text("__text"))
        .withColumn("__toks", F.split(F.col("__norm"), " "))
        .withColumn("__sh", shingles_from(F.col("__toks"), F.col("__norm"), shingle_n))
        .select(
            "__id",
            F.size("__sh").alias("__n"),
            F.explode(F.transform("__sh", lambda s: md5_int60(s))).alias("__h"),
        )
    ).persist()

    stop = (
        staged.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("__h")
    )
    kept = staged.join(F.broadcast(stop), "__h", "left_anti")
    post = (
        kept.groupBy("__h")
        .agg(F.collect_list(F.struct("__id", "__n")).alias("__lst"))
        .filter(F.size("__lst") >= 2)
    )
    lst = F.col("__lst")
    pair_structs = F.flatten(
        F.transform(
            lst,
            lambda x, i: F.transform(
                F.slice(lst, i + 2, F.size(lst)),
                lambda y: F.struct(
                    F.least(x["__id"], y["__id"]).alias("ida"),
                    F.greatest(x["__id"], y["__id"]).alias("idb"),
                    F.when(x["__id"] < y["__id"], x["__n"]).otherwise(y["__n"]).alias("na"),
                    F.when(x["__id"] < y["__id"], y["__n"]).otherwise(x["__n"]).alias("nb"),
                ),
            ),
        )
    )
    pairs = (
        post.select(F.explode(pair_structs).alias("__p"))
        .select("__p.*")
        .groupBy("ida", "idb", "na", "nb")
        .agg(F.count(F.lit(1)).alias("__shared"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__shared")
                / (F.col("na") + F.col("nb") - F.col("__shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("ida", "idb", "jaccard")
    )
    return stream._new(pairs)._retain(staged)


def sql_similar_pairs_ngram(
    table_expr: str,
    text: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> str:
    # mirrors the Spark side's hashed shingles (identical md5-prefix map
    # on both engines, so even collisions agree)
    return f"""
WITH sh AS (
  SELECT {id_col} AS id, {sql_word_shingles(text, shingle_n)} AS s
  FROM {table_expr}
), shingled AS (
  SELECT id, len(s) AS n, unnest(s) AS shingle FROM sh
), posting AS (
  SELECT id, n, {sql_md5_int60('shingle')} AS h FROM shingled
), df_ok AS (
  SELECT h FROM posting GROUP BY h HAVING count(*) <= {max_df}
), idx AS (
  SELECT p.* FROM posting p JOIN df_ok USING (h)
)
SELECT ida, idb, jaccard FROM (
  SELECT a.id AS ida, b.id AS idb,
         round(count(*)::DOUBLE / (a.n + b.n - count(*)), 6) AS jaccard
  FROM idx a JOIN idx b ON a.h = b.h AND a.id < b.id
  GROUP BY a.id, b.id, a.n, b.n
) WHERE jaccard >= {threshold}
"""


def similar_pairs_exact(
    stream,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
):
    """All pairs with shingle-Jaccard ≥ threshold, EXACT — prefix
    filtering (the AllPairs/PPJoin family, Bayardo et al. 2007), no
    ``max_df`` cutoff and no LSH false negatives. Complements
    :func:`similar_pairs_ngram` (approximate contract: drops stop
    shingles) and :func:`dedup_minhash` (probabilistic recall): the
    oracle for THIS operator is plain brute force, because the prefix
    filter is lossless.

    How: order every document's distinct hashed shingles by global
    document frequency ascending (rare first, hash tie-break — one
    total order shared by all docs); a doc with n shingles indexes only
    its first ``n − ⌈t·n⌉ + 1`` (its *prefix*). If J(A,B) ≥ t the two
    prefixes provably share a shingle, so generating candidates from
    prefix posting lists loses nothing; candidates then verify with an
    exact intersection of the full shingle sets.

    Scale: rare-first ordering keeps prefix posting lists short — hot
    boilerplate shingles land in suffixes and are never indexed, which
    is what bounds pair generation WITHOUT the df cutoff the inverted-
    index variant needs. Two lossless expression filters prune before
    the verify joins: the length filter (t·max ≤ min provably
    necessary) and PPJoin's positional filter (the overlap still
    reachable from this shared token must cover the t/(1+t)·(n_a+n_b)
    requirement — sound per-occurrence because a true pair's earliest
    shared token always passes). Both are map-side comparisons, no
    extra shuffle; measured neutral at the suite's duplicate density,
    they bound candidate volume on hot-pair corpora. All shuffle keys
    are 8-byte hashes or doc ids; full shingle arrays ride only the two
    verify joins. Worst case (N identical docs) is O(N²) candidates —
    but then the TRUE answer is O(N²) pairs; exactness has no silent
    cap to hide behind. Output: (ida, idb, jaccard), ida < idb.
    """
    t = float(threshold)
    # spread: the per-shingle md5 chain runs pre-explode at scan
    # parallelism otherwise (no-op at corpus scale)
    staged = (
        _spread_for_compute(stream.df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        ))
        .withColumn("__norm", norm_text("__text"))
        .withColumn("__toks", F.split(F.col("__norm"), " "))
        .withColumn("__sh", shingles_from(F.col("__toks"), F.col("__norm"), shingle_n))
        .select(
            "__id",
            F.explode(F.transform("__sh", lambda s: md5_int60(s))).alias("__h"),
        )
        .distinct()  # md5 collisions inside one doc would double-count
    )
    dfreq = staged.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    # rare-first total order: (df asc, hash asc) — identical in every doc
    docs = (
        staged.join(dfreq, "__h")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__h"))),
                lambda s: s["__h"],
            ).alias("__arr")
        )
        .withColumn("__n", F.size("__arr"))
        # p = n − ⌈t·n⌉ + 1; the 1e-9 nudge keeps float fuzz from
        # rounding ⌈t·n⌉ UP at exact-integer products (a too-small
        # ceil only lengthens the prefix — safe; too-large loses pairs)
        .withColumn(
            "__p",
            F.col("__n")
            - F.ceil(F.lit(t) * F.col("__n") - F.lit(1e-9)).cast("int")
            + 1,
        )
        .persist()  # consumed by the prefix explode AND both verify joins
    )
    post = (
        docs.select(
            "__id", "__n",
            F.posexplode(F.slice("__arr", F.lit(1), F.col("__p")))
            .alias("__pos0", "__h"),
        )
        .groupBy("__h")
        .agg(
            F.collect_list(
                F.struct("__id", "__n", (F.col("__pos0") + 1).alias("__pos"))
            ).alias("__lst")
        )
        .filter(F.size("__lst") >= 2)
    )
    lst = F.col("__lst")
    pair_structs = F.flatten(
        F.transform(
            lst,
            lambda x, i: F.transform(
                F.slice(lst, i + 2, F.size(lst)),
                lambda y: F.struct(
                    F.least(x["__id"], y["__id"]).alias("ida"),
                    F.greatest(x["__id"], y["__id"]).alias("idb"),
                    F.least(x["__n"], y["__n"]).alias("__lo"),
                    F.greatest(x["__n"], y["__n"]).alias("__hi"),
                    # overlap upper bound at THIS shared token: 1 + what
                    # can still match after it in each doc (PPJoin's
                    # positional filter)
                    (
                        F.lit(1)
                        + F.least(
                            x["__n"] - x["__pos"], y["__n"] - y["__pos"]
                        )
                    ).alias("__ub"),
                ),
            ),
        )
    )
    # required overlap: J ≥ t ⇔ |A∩B| ≥ t/(1+t)·(|A|+|B|). Dropping an
    # occurrence is lossless: a true pair's EARLIEST shared token is in
    # both prefixes (prefixes are heads of the same total order) and its
    # __ub bounds the full overlap from above, so that occurrence always
    # passes — later occurrences it prunes are redundant duplicates.
    alpha = F.lit(t / (1.0 + t)) * (F.col("__lo") + F.col("__hi"))
    cand = (
        post.select(F.explode(pair_structs).alias("__pr"))
        .select("__pr.*")
        # length filter: J ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ t·hi, and |A∩B| ≤ lo
        .filter(F.col("__lo") + F.lit(1e-9) >= F.lit(t) * F.col("__hi"))
        .filter(F.col("__ub") + F.lit(1e-9) >= alpha)
        .select("ida", "idb")
        .distinct()
    )
    inter = F.size(F.array_intersect("__aa", "__ab"))
    out = (
        cand.join(
            docs.select(
                F.col("__id").alias("ida"),
                F.col("__arr").alias("__aa"),
                F.col("__n").alias("na"),
            ),
            "ida",
        )
        .join(
            docs.select(
                F.col("__id").alias("idb"),
                F.col("__arr").alias("__ab"),
                F.col("__n").alias("nb"),
            ),
            "idb",
        )
        .withColumn("__i", inter)
        .withColumn(
            "jaccard",
            F.round(F.col("__i") / (F.col("na") + F.col("nb") - F.col("__i")), 6),
        )
        .filter(F.col("jaccard") >= t)
        .select("ida", "idb", "jaccard")
    )
    return stream._new(out)._retain(docs)


def sql_similar_pairs_exact(
    table_expr: str,
    text: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """Brute-force DuckDB oracle for :func:`similar_pairs_exact` — the
    whole point of the lossless prefix filter is that its truth set IS
    the naive all-pairs answer (same hashed-distinct shingle sets, so
    collisions agree)."""
    return f"""
WITH sh AS (
  SELECT {id_col} AS id,
         list_distinct([{sql_md5_int60('s')}
                        for s in {sql_word_shingles(text, shingle_n)}]) AS hs
  FROM {table_expr}
)
SELECT ida, idb, jaccard FROM (
  SELECT a.id AS ida, b.id AS idb,
         round(len(list_intersect(a.hs, b.hs))::DOUBLE /
               (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))),
               6) AS jaccard
  FROM sh a JOIN sh b ON a.id < b.id
) WHERE jaccard >= {threshold}
"""


def containment_pairs_exact(
    stream,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
):
    """All DIRECTED pairs where doc A's shingles are (mostly) contained
    in doc B: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ threshold — EXACT,
    lossless prefix filter. The asymmetric sibling of
    :func:`similar_pairs_exact`: Jaccard punishes size mismatch, so a
    paragraph quoted whole inside a 100× longer aggregator page scores
    near-zero Jaccard but containment ≈ 1 — exactly the sub-document
    duplication a training-data pipeline wants to catch (quote farms,
    scraped aggregators, boilerplate-wrapped reposts).

    Candidates: every doc's distinct hashed shingles take the SAME
    rare-first (df asc, hash asc) total order as the Jaccard variant;
    the probe side A indexes only its first ``n − ⌈t·n⌉ + 1`` shingles.
    Lossless: a true pair shares ≥ ⌈t·|A|⌉ shingles, and A has at most
    ``|A| − ⌈t·|A|⌉`` shingles outside B, so at least one PREFIX shingle
    of A is in B. The container side B must index ALL its shingles (no
    lower bound on |A| means no prefix bound on B — the fundamental
    asymmetry of containment joins); rare-first ordering still bounds
    the work because the join only touches B-postings for A-PREFIX
    (i.e. rare) shingles. PPJoin's positional filter applies on the A
    side: at A-position pos, the overlap still reachable is
    ``1 + (|A| − pos)``, which must cover ``⌈t·|A|⌉``. Verify is an
    exact intersection of the full sets.

    Scale: shuffle keys are 8-byte hashes / doc ids; full shingle
    arrays ride only the two verify joins. Worst case (one shingle in
    every doc) degenerates to the true O(N²) answer — exactness has no
    silent cap; for corpora with genuinely hot shingles compose with a
    Jaccard pre-dedup or raise ``shingle_n``.

    Output: (inner_id, outer_id, containment), inner ≠ outer, both
    directions reported when both exceed the threshold.
    """
    t = float(threshold)
    # spread: per-shingle md5 runs pre-explode at scan parallelism
    # otherwise (no-op at corpus scale)
    staged = (
        _spread_for_compute(stream.df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        ))
        .withColumn("__norm", norm_text("__text"))
        .withColumn("__toks", F.split(F.col("__norm"), " "))
        .withColumn("__sh", shingles_from(F.col("__toks"), F.col("__norm"), shingle_n))
        .select(
            "__id",
            F.explode(F.transform("__sh", lambda s: md5_int60(s))).alias("__h"),
        )
        .distinct()
    )
    dfreq = staged.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    docs = (
        staged.join(dfreq, "__h")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__h"))),
                lambda s: s["__h"],
            ).alias("__arr")
        )
        .withColumn("__n", F.size("__arr"))
        .withColumn(
            "__p",
            F.col("__n")
            - F.ceil(F.lit(t) * F.col("__n") - F.lit(1e-9)).cast("int")
            + 1,
        )
        .persist()  # consumed by probe explode, index explode, verify joins
    )
    # probe side: A's prefix with positions (PPJoin positional filter)
    apre = docs.select(
        F.col("__id").alias("__ia"), F.col("__n").alias("__na"),
        F.posexplode(F.slice("__arr", F.lit(1), F.col("__p")))
        .alias("__pos0", "__h"),
    )
    # index side: ALL of B's shingles (see docstring for why no prefix)
    bpost = docs.select(
        F.col("__id").alias("__ib"),
        F.explode("__arr").alias("__h"),
    )
    need = F.ceil(F.lit(t) * F.col("__na") - F.lit(1e-9))
    cand = (
        apre.join(bpost, "__h")
        .filter(F.col("__ia") != F.col("__ib"))
        # positional filter: overlap reachable from this occurrence on
        # (1 + what remains after pos in A) must cover the requirement
        .filter(
            F.lit(1) + (F.col("__na") - (F.col("__pos0") + 1)) >= need
        )
        .select("__ia", "__ib")
        .distinct()
    )
    out = (
        cand.join(
            docs.select(
                F.col("__id").alias("__ia"),
                F.col("__arr").alias("__aa"),
                F.col("__n").alias("__na"),
            ),
            "__ia",
        )
        .join(
            docs.select(
                F.col("__id").alias("__ib"), F.col("__arr").alias("__ab")
            ),
            "__ib",
        )
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("__aa", "__ab")) / F.col("__na"), 6
            ),
        )
        .filter(F.col("containment") >= t)
        .select(
            F.col("__ia").alias("inner_id"),
            F.col("__ib").alias("outer_id"),
            "containment",
        )
    )
    return stream._new(out)._retain(docs)


def sql_containment_pairs_exact(
    table_expr: str,
    text: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> str:
    """Brute-force DuckDB oracle for :func:`containment_pairs_exact` —
    the lossless prefix filter's truth set is the naive directed
    all-pairs answer (same hashed-distinct shingle sets)."""
    return f"""
WITH sh AS (
  SELECT {id_col} AS id,
         list_distinct([{sql_md5_int60('s')}
                        for s in {sql_word_shingles(text, shingle_n)}]) AS hs
  FROM {table_expr}
)
SELECT inner_id, outer_id, containment FROM (
  SELECT a.id AS inner_id, b.id AS outer_id,
         round(len(list_intersect(a.hs, b.hs))::DOUBLE / len(a.hs), 6)
           AS containment
  FROM sh a JOIN sh b ON a.id != b.id
) WHERE containment >= {threshold}
"""


def diversity_sample(
    stream,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: Optional[int] = None,
    per_cell: int = 10,
):
    """Cluster-balanced diversity sampling: assign every vector to its
    IVF cell (the SAME seeded Voronoi assignment as ``ann_cosine
    (method="ivf")`` — smallest-id unit centroids, rounded argmax-dot,
    lowest-cell ties) and keep a deterministic quota of ``per_cell``
    rows per cell. The embedding-space analog of stratified sampling:
    a uniform sample of a skewed corpus reproduces the skew, while a
    per-cell quota caps every mode of the distribution — the
    "diversify before you spend the training budget" selection step
    (SemDeDup-style cluster pruning, public knowledge), composable
    with the quality/budget selectors in prep.py.

    Within a cell the quota keeps the ``per_cell`` smallest salted-hash
    ids (md5 of the id string, id tie-break) — a deterministic uniform
    draw, not head-of-table bias. Scale: one Arrow assignment pass (no
    shuffle, the centroid matrix is a closure broadcast), one window
    shuffle on ``__cell`` (n_cells partitions); the quota makes the
    output ≤ n_cells × per_cell rows regardless of corpus size.
    Output: (id, cell) — join back to the corpus for payload columns.

    The DEFAULT ``n_cells=None`` auto-dials to ``max(16, ⌈√N⌉)`` (one
    count pass — the same rule as ``ann_index_build``): a pinned cell
    count over a growing corpus means each window group grows linearly
    (16 giant groups at 100 TB) and diversity resolution collapses to
    16 modes; the √N dial keeps per-cell population AND per-cell
    semantic width shrinking as the corpus grows. Pass an explicit int
    to pin (the qa27 oracle does, for determinism).
    """
    df = stream.df.select(F.col(id_col), F.col(vec_col))
    dtypes = dict(stream.df.dtypes)
    # decode-once, EVERY path: the seed collect is a driver ACTION that
    # executes the full upstream lineage before the assignment plan runs
    # it again — behind a composed pipeline (qa32: the whole ANN
    # dedup_batch plan) that doubles the expensive part of the query.
    # Stage the narrow (id, vec) relation so the dial, the seed collect
    # and the assignment share ONE upstream pass (the _staged_probe
    # discipline, previously applied only to the n_cells=None dial).
    if n_cells is None:
        staged, n = _staged_probe(df, lambda d: d.count())
        n_cells = auto_cells(n)
    else:
        staged = df.persist()
    df = staged
    try:
        units = _ivf_seed_units(df, vec_col, id_col, n_cells)
    except BaseException:
        staged.unpersist()  # no cache leak when the seed action fails
        raise
    if not units:
        if staged is not None:
            staged.unpersist()
        return stream._new(
            df.sparkSession.createDataFrame(
                [], f"{id_col} {dtypes[id_col]}, cell long"
            )
        )
    assigned = _ivf_assign(
        df.select(F.col(id_col), F.col(vec_col).alias("cvec")),
        units, id_schema=f"{id_col} {dtypes[id_col]}",
    )
    w = Window.partitionBy("__cell").orderBy(
        md5_int31(F.col(id_col).cast("string")), F.col(id_col)
    )
    out = (
        assigned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(int(per_cell)))
        .select(F.col(id_col), F.col("__cell").alias("cell"))
    )
    res = stream._new(out)
    if staged is not None:
        res._retain(staged)
    return res


def sql_diversity_sample(
    table_expr: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells="16",
    per_cell: int = 10,
) -> str:
    """DuckDB mirror of :func:`diversity_sample`: the shared ``cells`` /
    assignment CTEs (q50's) + a per-cell salted-hash quota window.

    ``n_cells`` may be an int (the pinned form every static oracle
    uses) or a SQL SCALAR-SUBQUERY string — DuckDB accepts expressions
    in LIMIT, which is how qa35 makes the oracle follow the √N
    auto-dial instead of pinning it."""
    nrm = SQL_UNIT_DIV.format(nrm=SQL_NORM.format(a=vec_col))
    dot_cu = SQL_DOT.format(a="t.v", b="cells.u")
    return f"""
WITH cells AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cell,
         list_transform({vec_col}, x -> x::DOUBLE / {nrm}) AS u
  FROM (SELECT * FROM {table_expr} ORDER BY {id_col} LIMIT {n_cells})
), c AS (
  SELECT id, cell FROM (
    SELECT t.id, cells.cell,
           row_number() OVER (
             PARTITION BY t.id
             ORDER BY -round({dot_cu}, 9), cells.cell
           ) AS rn
    FROM (SELECT {id_col} AS id, {vec_col} AS v FROM {table_expr}) t, cells
  ) WHERE rn = 1
)
SELECT id AS {id_col}, cell FROM (
  SELECT id, cell,
         row_number() OVER (
           PARTITION BY cell
           ORDER BY {sql_md5_int31('id::VARCHAR')}, id
         ) AS rn2
  FROM c
) WHERE rn2 <= {per_cell}
"""


# --------------------------------------------------------------------- #
# embedding-cosine near-duplicate dedup
# --------------------------------------------------------------------- #

def dedup_embedding(
    stream,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    bucket_cap: Optional[int] = None,
):
    """Embedding-cosine near-dup dedup: sign-LSH buckets → cosine within
    bucket → drop the larger id of any pair with cosine ≥ threshold.
    Same bucketing as :func:`ann_cosine_lsh` (one shuffle on the bucket
    id; recall bounded by the LSH sign agreement, mirrored by the
    oracle).

    Each vector's L2 norm is computed ONCE, at signature time, into the
    persisted sig relation (the persist is also a CollapseProject
    barrier), so the per-candidate-pair work is a single dot-product
    fold plus one divide — recomputing both norms per pair tripled the
    fold count and was the dominant cost (measured 78 s → ~2 s at sf0.1
    together with 8 planes = 256 buckets). Do NOT normalize the array
    elements inside a ``transform`` lambda: the embedded norm aggregate
    would re-evaluate per element."""
    planes = lsh_planes(dim, n_planes)
    # partitioned on the bucket key: the self-join below then needs no
    # further exchange and keeps a real width (_cell_partitioned)
    sig = _cell_partitioned(
        stream.df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            _norm2(F.col(vec_col)).alias("__nrm"),
            _bucket_expr(F.col(vec_col), planes).alias("__bkt"),
        ),
        "__bkt", 1 << n_planes,
    ).persist()
    if bucket_cap is not None:
        # the dedup_phash df-cutoff — full contract there. A flooded
        # sign-LSH bucket is a near-constant-direction cluster; the
        # IVF variant (dedup_embedding_ivf) with the cell auto-dial is
        # the better tool there, the cap is the bounded-cost insurance.
        crowded = (
            sig.groupBy("__bkt")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > int(bucket_cap))
            .select("__bkt")
        )
        sig_b = sig.join(F.broadcast(crowded), ["__bkt"], "left_anti")
    else:
        sig_b = sig
    a = sig_b.select(
        "__bkt", F.col("__id").alias("ida"),
        F.col("__v").alias("va"), F.col("__nrm").alias("na"),
    )
    b = sig_b.select(
        "__bkt", F.col("__id").alias("idb"),
        F.col("__v").alias("vb"), F.col("__nrm").alias("nb"),
    )
    cos = F.when(
        F.col("na") * F.col("nb") == F.lit(0.0), F.lit(0.0)
    ).otherwise(
        F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    )
    dup_ids = (
        a.join(b, "__bkt")
        .filter(F.col("ida") < F.col("idb"))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= threshold)
        .select(F.col("idb").alias(id_col))
        .distinct()
    )
    return stream._new(
        stream.df.join(dup_ids, id_col, "left_anti")
    )._retain(sig)


def sql_dedup_embedding(
    table_expr: str,
    cols: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
) -> str:
    planes = lsh_planes(dim, n_planes)
    terms = []
    for j, p in enumerate(planes):
        lit = "[" + ", ".join(str(v) for v in p) + "]"
        dot_j = SQL_DOT.format(a=vec_col, b=lit)
        terms.append(f"(CASE WHEN {dot_j} >= 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(terms)
    dot = SQL_DOT.format(a="a.v", b="b.v")
    nrm = SQL_NORM.format(a=vec_col)
    return f"""
WITH sig AS (
  SELECT {id_col} AS id, {vec_col} AS v, {nrm} AS nrm, {bucket} AS bkt
  FROM {table_expr}
), dups AS (
  SELECT DISTINCT b.id AS idb
  FROM sig a JOIN sig b ON a.bkt = b.bkt AND a.id < b.id
  WHERE (CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
              ELSE round({dot} / (a.nrm * b.nrm), 6) END) >= {threshold}
)
SELECT {cols} FROM {table_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups)
"""


def dedup_embedding_ivf(
    stream,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_cells: Optional[int] = None,
    target_cell_size: int = 200,
):
    """Semantic dedup, SemDeDup shape (Abbas et al. 2023, public): assign
    every embedding to a Voronoi cell (same deterministic seeded
    centroids as :func:`ann_cosine_ivf`), then drop the larger id of any
    in-cell pair with cosine ≥ threshold.

    vs :func:`dedup_embedding` (sign-LSH buckets): IVF cells follow the
    data's own geometry — near-duplicates land in one cell even when a
    hyperplane sign flips — and ``n_cells`` scales candidate volume
    directly (cells ≈ corpus/cell_size). Scale: assignment is the
    shuffle-free Arrow block product; the only shuffle is the in-cell
    self-join on the cell id. In-cell work is quadratic in cell size, so
    ``n_cells`` MUST grow with the corpus (same dial as every IVF
    index) — measured in docs/SCALING.md: 10× corpus with n_cells
    pinned = 18× wall; with cell size held constant = linear. The
    DEFAULT ``n_cells=None`` derives it from ``target_cell_size``
    (one cheap count), so a default call stays linear at scale;
    oracle-mirroring callers pass an explicit n_cells."""
    src = stream.df.select(F.col(id_col), F.col(vec_col))
    staged = None
    if n_cells is None:
        # decode-once: the count dial, the seed collect AND the
        # assignment all read the same narrow relation (_staged_probe)
        staged, n = _staged_probe(src, lambda d: d.count())
        src = staged
        n_cells = max(1, -(-n // target_cell_size))
    units = _ivf_seed_units(src, vec_col, id_col, n_cells)
    id_t = dict(stream.df.dtypes)[id_col]
    assigned = _ivf_assign(
        src.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("cvec")),
        units, id_schema=f"__id {id_t}",
    )
    sig = _cell_partitioned(
        assigned.select(
            "__id",
            F.col("cvec").alias("__v"),
            _norm2(F.col("cvec")).alias("__nrm"),
            "__cell",
        ),
        "__cell", n_cells,
    ).persist()
    a = sig.select(
        "__cell", F.col("__id").alias("ida"),
        F.col("__v").alias("va"), F.col("__nrm").alias("na"),
    )
    b = sig.select(
        "__cell", F.col("__id").alias("idb"),
        F.col("__v").alias("vb"), F.col("__nrm").alias("nb"),
    )
    cos = F.when(
        F.col("na") * F.col("nb") == F.lit(0.0), F.lit(0.0)
    ).otherwise(
        F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    )
    dup_ids = (
        a.join(b, "__cell")
        .filter(F.col("ida") < F.col("idb"))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= threshold)
        .select(F.col("idb").alias(id_col))
        .distinct()
    )
    out = stream._new(
        stream.df.join(dup_ids, id_col, "left_anti")
    )._retain(sig)
    if staged is not None:
        out._retain(staged)
    return out


def mine_contrastive_pairs(
    stream,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pos_threshold: float = 0.95,
    neg_max_cos: float = 0.8,
    neg_per_anchor: int = 3,
    n_cells: Optional[int] = None,
    target_cell_size: int = 200,
    cross_cell: int = 0,
):
    """Contrastive TRAINING PAIRS from the corpus's own geometry — the
    data an embedding-model trainer needs, mined with the SemDeDup
    machinery instead of discarded by it: POSITIVES are in-cell pairs
    with cosine ≥ ``pos_threshold`` (the near-duplicates dedup would
    drop, relabeled as supervision), HARD NEGATIVES are, per anchor,
    the ``neg_per_anchor`` highest-cosine in-cell pairs with cosine ≤
    ``neg_max_cos`` — same Voronoi cell ⇒ close enough to be hard, and
    provably below the duplicate band. Pairs between the two thresholds
    are ambiguous and emitted as neither. Output:
    ``(anchor_id, pair_id, cos, label ∈ {'pos','neg'})`` with
    ``anchor_id < pair_id`` for positives and the anchor side of the
    in-cell ordering for negatives (deterministic: rounded cosine desc,
    id tie-break).

    Scale: identical shape to :func:`dedup_embedding_ivf` — shuffle-free
    Arrow cell assignment, ONE in-cell self-join (quadratic in cell
    size, so ``n_cells`` rides the same ``target_cell_size`` auto-dial),
    plus one per-anchor window over the (already cell-bounded) pair
    relation. Never all-pairs. Beyond-reference (SimCLR/E5-style hard
    negative mining, public knowledge), mirrored bit-exactly by
    :func:`sql_mine_contrastive_pairs`.

    ``cross_cell=m`` (default off) additionally mines negatives across
    CELL BOUNDARIES: each cell's ``m`` nearest other centroids (rounded
    cosine desc, cell-index tiebreak — the nprobe adjacency rule) form
    a broadcast (cell, adj) relation, and anchors meet the adjacent
    cells' vectors through one more bounded equi-join — in-cell-only
    mining structurally misses hard negatives that sit just ACROSS a
    Voronoi boundary (the planted-geometry test in
    tests/test_round9.py), which are often the hardest of all.
    Candidate volume grows by the same factor ``m`` bounds (each anchor
    sees ≤ m extra cells), never all-pairs; positives stay in-cell (a
    boundary-straddling near-dup is the documented IVF recall trade,
    same as :func:`dedup_embedding_ivf`). The adjacency itself is
    numpy over the driver-resident centroid set — O(n_cells² · d),
    the same class as one Lloyd refinement pass and 200× cheaper than
    the N·n_cells assignment that already ran."""
    src = stream.df.select(F.col(id_col), F.col(vec_col))
    staged = None
    if n_cells is None:
        # decode-once: the count dial, the seed collect AND the
        # assignment all read the same narrow relation (_staged_probe)
        staged, n = _staged_probe(src, lambda d: d.count())
        src = staged
        n_cells = max(1, -(-n // target_cell_size))
    units = _ivf_seed_units(src, vec_col, id_col, n_cells)
    id_t = dict(stream.df.dtypes)[id_col]
    assigned = _ivf_assign(
        src.select(F.col(id_col).alias("__id"),
                   F.col(vec_col).alias("cvec")),
        units, id_schema=f"__id {id_t}",
    )
    sig = _cell_partitioned(
        assigned.select(
            "__id",
            F.col("cvec").alias("__v"),
            _norm2(F.col("cvec")).alias("__nrm"),
            "__cell",
        ),
        "__cell", n_cells,
    ).persist()
    a = sig.select("__cell", F.col("__id").alias("ida"),
                   F.col("__v").alias("va"), F.col("__nrm").alias("na"))
    b = sig.select("__cell", F.col("__id").alias("idb"),
                   F.col("__v").alias("vb"), F.col("__nrm").alias("nb"))
    cos = F.when(
        F.col("na") * F.col("nb") == F.lit(0.0), F.lit(0.0)
    ).otherwise(
        F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    )
    # persisted: the pos filter AND the negative pool both read the
    # in-cell pair relation — unpersisted, the cell self-join (the
    # operator's one real shuffle) would run twice per action
    pairs = (
        a.join(b, "__cell")
        .filter(F.col("ida") < F.col("idb"))
        .withColumn("__cos", cos)
        .select("ida", "idb", "__cos")
    ).persist()
    neg_pool = pairs
    # adjacency needs >= 2 cells (an empty corpus seeds zero; one cell
    # has no neighbor) — numpy on an empty seed list would also break
    if cross_cell and len(units) > 1:
        import numpy as np

        U = np.array(units, dtype=np.float64)
        # left-fold dot association (NOT matmul's pairwise sum) so the
        # rounded adjacency ordering is bit-equal to the SQL mirror's
        # list_reduce — the _ivf_dots_block contract
        sims = np.round(_ivf_dots_block(U, U.T), 9)
        n_u = len(units)
        adj_rows = []
        for i in range(n_u):
            order = sorted(
                (j for j in range(n_u) if j != i),
                key=lambda j: (-sims[i, j], j),
            )
            adj_rows.extend((i, j) for j in order[: int(cross_cell)])
        if adj_rows:
            from .util import tiny_df

            spark = stream.df.sparkSession
            adj = tiny_df(spark, adj_rows, "cell long, adj long")
            xp = (
                a.join(F.broadcast(adj), a["__cell"] == adj["cell"])
                .join(
                    b.withColumnRenamed("__cell", "__cellb"),
                    F.col("__cellb") == adj["adj"],
                )
                .withColumn("__cos", cos)
                .select(
                    F.least("ida", "idb").alias("ida"),
                    F.greatest("ida", "idb").alias("idb"),
                    "__cos",
                )
                # both adjacency directions can produce the same pair;
                # __cos is a function of the pair, so id-dedup suffices
                .dropDuplicates(["ida", "idb"])
            )
            neg_pool = pairs.unionByName(xp)
    pos = pairs.filter(F.col("__cos") >= F.lit(float(pos_threshold))).select(
        F.col("ida").alias("anchor_id"), F.col("idb").alias("pair_id"),
        F.col("__cos").alias("cos"), F.lit("pos").alias("label"),
    )
    negw = Window.partitionBy("ida").orderBy(
        F.col("__cos").desc(), F.col("idb")
    )
    neg = (
        neg_pool.filter(F.col("__cos") <= F.lit(float(neg_max_cos)))
        .withColumn("__rk", F.row_number().over(negw))
        .filter(F.col("__rk") <= F.lit(int(neg_per_anchor)))
        .select(
            F.col("ida").alias("anchor_id"), F.col("idb").alias("pair_id"),
            F.col("__cos").alias("cos"), F.lit("neg").alias("label"),
        )
    )
    out = stream._new(pos.unionByName(neg))._retain(sig, pairs)
    if staged is not None:
        out._retain(staged)
    return out


def sql_mine_contrastive_pairs(
    table_expr: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pos_threshold: float = 0.95,
    neg_max_cos: float = 0.8,
    neg_per_anchor: int = 3,
    n_cells="16",
    cross_cell: int = 0,
) -> str:
    """DuckDB mirror of :func:`mine_contrastive_pairs` — the
    sql_dedup_embedding_ivf cell/assignment CTEs, then the pos filter
    and the per-anchor negative window with the same (cos desc, id)
    determinism. ``n_cells`` may be an int or a SQL scalar-subquery
    dial (the qa35 pattern), so the oracle can follow the
    target_cell_size auto-dial instead of pinning a cell count.
    ``cross_cell`` mirrors the centroid-adjacency negative mining (the
    same rounded-dot/cell-tiebreak adjacency rule, recomputed in SQL
    over the cells CTE)."""
    nrm_seed = SQL_UNIT_DIV.format(nrm=SQL_NORM.format(a=vec_col))
    dot_cu = SQL_DOT.format(a="t.v", b="cells.u")
    cos = SQL_COS.format(
        dot=SQL_DOT.format(a="a.v", b="b.v"),
        na=SQL_NORM.format(a="a.v"), nb=SQL_NORM.format(a="b.v"),
    )
    dot_ij = SQL_DOT.format(a="i.u", b="j.u")
    xcte = ""
    neg_src = "pairs"
    if int(cross_cell) > 0:
        xcte = f""", adjacent AS (
  SELECT cell, adj FROM (
    SELECT i.cell AS cell, j.cell AS adj,
           row_number() OVER (
             PARTITION BY i.cell ORDER BY -round({dot_ij}, 9), j.cell
           ) AS rn
    FROM cells i JOIN cells j ON i.cell <> j.cell
  ) WHERE rn <= {int(cross_cell)}
), xpairs AS (
  SELECT DISTINCT least(a.id, b.id) AS ida,
         greatest(a.id, b.id) AS idb, {cos} AS c
  FROM c a
  JOIN adjacent ON a.cell = adjacent.cell
  JOIN c b ON b.cell = adjacent.adj
), negpool AS (
  SELECT * FROM pairs UNION ALL SELECT * FROM xpairs
)"""
        neg_src = "negpool"
    return f"""
WITH cells AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cell,
         list_transform({vec_col}, x -> x::DOUBLE / {nrm_seed}) AS u
  FROM (SELECT * FROM {table_expr} ORDER BY {id_col} LIMIT {n_cells})
), c AS (
  SELECT id, v, cell FROM (
    SELECT t.id, t.v, cells.cell,
           row_number() OVER (
             PARTITION BY t.id
             ORDER BY -round({dot_cu}, 9), cells.cell
           ) AS rn
    FROM (SELECT {id_col} AS id, {vec_col} AS v FROM {table_expr}) t, cells
  ) WHERE rn = 1
), pairs AS (
  SELECT a.id AS ida, b.id AS idb, {cos} AS c
  FROM c a JOIN c b ON a.cell = b.cell AND a.id < b.id
){xcte}, pos AS (
  SELECT ida AS anchor_id, idb AS pair_id, c AS cos, 'pos' AS label
  FROM pairs WHERE c >= {float(pos_threshold)}
), neg AS (
  SELECT ida AS anchor_id, idb AS pair_id, c AS cos, 'neg' AS label
  FROM (
    SELECT ida, idb, c,
           row_number() OVER (PARTITION BY ida ORDER BY c DESC, idb) AS rk
    FROM {neg_src} WHERE c <= {float(neg_max_cos)}
  ) WHERE rk <= {int(neg_per_anchor)}
)
SELECT * FROM pos UNION ALL SELECT * FROM neg
"""


def sql_dedup_embedding_ivf(
    table_expr: str,
    cols: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_cells: int = 16,
) -> str:
    """DuckDB mirror of :func:`dedup_embedding_ivf`: the same seeded
    unit centroids and rounded argmax-dot assignment as
    :func:`sql_ann_cosine_ivf`, then the in-cell pair rule."""
    nrm_seed = SQL_UNIT_DIV.format(nrm=SQL_NORM.format(a=vec_col))
    dot_cu = SQL_DOT.format(a="t.v", b="cells.u")
    cos = SQL_COS.format(
        dot=SQL_DOT.format(a="a.v", b="b.v"),
        na=SQL_NORM.format(a="a.v"), nb=SQL_NORM.format(a="b.v"),
    )
    return f"""
WITH cells AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cell,
         list_transform({vec_col}, x -> x::DOUBLE / {nrm_seed}) AS u
  FROM (SELECT * FROM {table_expr} ORDER BY {id_col} LIMIT {n_cells})
), c AS (
  SELECT id, v, cell FROM (
    SELECT t.id, t.v, cells.cell,
           row_number() OVER (
             PARTITION BY t.id
             ORDER BY -round({dot_cu}, 9), cells.cell
           ) AS rn
    FROM (SELECT {id_col} AS id, {vec_col} AS v FROM {table_expr}) t, cells
  ) WHERE rn = 1
), dups AS (
  SELECT DISTINCT b.id AS idb
  FROM c a JOIN c b ON a.cell = b.cell AND a.id < b.id
  WHERE {cos} >= {threshold}
)
SELECT {cols} FROM {table_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups)
"""


# --------------------------------------------------------------------- #
# text statistics / quality / language id / fingerprint
# --------------------------------------------------------------------- #

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "von", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un"],
    "zh": ["de", "le", "shi", "zai", "he", "you", "wo"],
}


def text_stats(stream, text_col: str):
    """Per-document statistics as pure expressions: char count, token
    count, average token length, stopword ratio (en), punctuation ratio
    and a clipped quality score — plus a winnowing-style fingerprint
    (min 5-char-gram hash). One projection, zero shuffles."""
    orig = stream.df.columns
    df = stream.df.withColumns(
        {"__n": norm_text(text_col), "__t": tokens(text_col)}
    )
    n_tok = F.size(F.col("__t"))
    n_chars = F.length(F.col("__n"))
    stop = F.lit(STOPWORDS["en"])
    n_stop = F.size(F.filter(F.col("__t"), lambda t: F.array_contains(stop, t)))
    avg_len = F.aggregate(
        F.col("__t"), F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / n_tok
    n_punct = n_chars - F.length(F.regexp_replace(F.col("__n"), r"[.,!?;:]", ""))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_chars - 4, F.lit(1))),
        lambda i: md5_int31(F.substring(F.col("__n"), i, F.lit(5))),
    )
    fingerprint = F.array_min(grams)
    quality = F.round(
        F.least(F.lit(1.0), n_tok / F.lit(100.0)) * (1 - n_stop / n_tok), 6
    )
    return stream._new(
        df.select(
            *orig,
            # long: DuckDB len() is BIGINT; pandas-dtype-faithful drivers
            # hash int32 vs int64 differently
            n_chars.cast("long").alias("stat_chars"),
            n_tok.cast("long").alias("stat_tokens"),
            F.round(avg_len, 6).alias("stat_avg_token_len"),
            F.round(n_stop / n_tok, 6).alias("stat_stopword_ratio"),
            F.round(n_punct / n_chars, 6).alias("stat_punct_ratio"),
            fingerprint.alias("stat_fingerprint"),
            quality.alias("stat_quality"),
        )
    )


def sql_text_stats(table_expr: str, text: str, keep_cols: str) -> str:
    norm = sql_norm_text(text)
    toks = sql_tokens(text)
    stop = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    return f"""
WITH t AS (
  SELECT {keep_cols}, {norm} AS __n, {toks} AS __t FROM {table_expr}
)
SELECT {keep_cols},
  len(__n) AS stat_chars,
  len(__t) AS stat_tokens,
  round(list_reduce(list_transform(__t, x -> len(x)::DOUBLE), (a, b) -> a + b)
        / len(__t), 6) AS stat_avg_token_len,
  round(len(list_filter(__t, x -> list_contains({stop}, x)))::DOUBLE
        / len(__t), 6) AS stat_stopword_ratio,
  round((len(__n) - len(regexp_replace(__n, '[.,!?;:]', '', 'g')))::DOUBLE
        / len(__n), 6) AS stat_punct_ratio,
  list_min([{sql_md5_int31("__n[i:i+4]")}
            for i in range(1, greatest(len(__n) - 4, 1) + 1)]) AS stat_fingerprint,
  round(least(1.0, len(__t) / 100.0)
        * (1 - len(list_filter(__t, x -> list_contains({stop}, x)))::DOUBLE
               / len(__t)), 6) AS stat_quality
FROM t
"""


# GPT-2-style pre-tokenizer shape, restricted to character classes both
# Java regex (Spark) and RE2 (DuckDB) treat identically: a token is a
# letter run, a digit run, or a punctuation run, each optionally taking
# one leading space (the BPE convention of gluing the space to the word).
BPE_TOKEN_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def token_count(stream, text_col: str):
    """Token counting two ways — whitespace tokens and a BPE-ish regex
    pre-tokenization (letter/digit/punct runs with the leading-space
    convention) — the budget-accounting step of a training-data pipeline.
    Pure expressions: one projection, no shuffle, codegen-friendly."""
    orig = stream.df.columns
    norm = norm_text(text_col)
    lowered = lower_canon(text_col)
    return stream._new(
        stream.df.select(
            *orig,
            F.size(F.split(norm, " ")).cast("long").alias("tok_ws"),
            F.size(
                F.regexp_extract_all(lowered, F.lit(BPE_TOKEN_RE), F.lit(0))
            ).cast("long").alias("tok_bpe"),
        )
    )


def sql_token_count(table_expr: str, text: str, keep_cols: str) -> str:
    return f"""
SELECT {keep_cols},
  len(string_split({sql_norm_text(text)}, ' ')) AS tok_ws,
  len(regexp_extract_all({sql_lower_canon(text)}, '{BPE_TOKEN_RE}')) AS tok_bpe
FROM {table_expr}
"""


def fingerprint_winnow(
    stream,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    w: int = 4,
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every ``k``-char-gram of the normalized text, then
    keep the MINIMUM hash of each sliding window of ``w`` consecutive
    gram hashes; the distinct minima are the document's fingerprint set.
    Guarantees: any shared substring of length ≥ k + w - 1 yields at
    least one shared fingerprint — the standard plagiarism/provenance
    primitive.

    Output: exploded ``(id_col, fp)`` pairs — the shape an inverted
    fingerprint index wants (groupBy fp → posting lists; self-join on fp
    → candidate pairs, exactly like :func:`similar_pairs_ngram`).

    Scale: fingerprinting is a per-row projection (no shuffle); the
    explode multiplies rows by the per-doc fingerprint count (bounded by
    ~len/w), and any downstream index build shuffles only (fp, id)
    pairs. Window minima are computed per offset with ``slice`` +
    ``array_min`` — O(len·w) expression work, no Python."""
    orig_id = F.col(id_col)
    norm = norm_text(text_col)
    staged = stream.df.select(orig_id.alias("__id"), norm.alias("__n"))
    n = F.length(F.col("__n"))
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: md5_int31(F.substring(F.col("__n"), i, F.lit(k))),
        ),
    ).otherwise(F.array(md5_int31(F.col("__n"))))
    staged = staged.select("__id", grams.alias("__g"))
    g = F.col("__g")
    wins = F.when(
        F.size(g) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(g) - (w - 1)),
            lambda i: F.array_min(F.slice(g, i, w)),
        ),
    ).otherwise(F.array(F.array_min(g)))
    out = staged.select(
        F.col("__id").alias(id_col),
        F.explode(F.array_distinct(wins)).alias("fp"),
    )
    return stream._new(out)


def sql_fingerprint_winnow(
    table_expr: str, text: str, id_col: str, *, k: int = 5, w: int = 4
) -> str:
    norm = sql_norm_text(text)
    return f"""
WITH t AS (
  SELECT {id_col}, {norm} AS __n FROM {table_expr}
), g AS (
  SELECT {id_col},
    CASE WHEN len(__n) >= {k} THEN
      [{sql_md5_int31(f"__n[i:i+{k - 1}]")} for i in range(1, len(__n) - {k - 2})]
    ELSE [{sql_md5_int31("__n")}] END AS __g
  FROM t
), wmin AS (
  SELECT {id_col},
    CASE WHEN len(__g) >= {w} THEN
      [list_min(__g[i:i+{w - 1}]) for i in range(1, len(__g) - {w - 2})]
    ELSE [list_min(__g)] END AS __w
  FROM g
)
SELECT {id_col}, unnest(list_distinct(__w)) AS fp FROM wmin
"""


LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def lang_id(stream, text_col: str, alias: str = "pred_lang"):
    """Heuristic language id: stopword-hit counts per language, first
    maximum in a FIXED precedence order (deterministic, mirrorable);
    'und' when nothing matches. Expression-only.

    The token array and the five score columns are staged as REAL
    columns before the CASE chain: each score is referenced ~8 times by
    the precedence comparisons, and an inlined score re-tokenizes the
    text per reference (measured 16.5 s → sub-second at sf0.1).
    Catalyst's CollapseProject keeps non-cheap multi-referenced aliases
    staged, so the tokenize → score chain runs once per row."""
    import functools as _ft

    orig = stream.df.columns
    staged = stream.df.withColumn("__t", tokens(text_col)).withColumns(
        {
            f"__s_{lang}": F.size(
                F.filter(F.col("__t"), lambda t: F.array_contains(F.lit(words), t))
            )
            for lang, words in STOPWORDS.items()
        }
    )
    scores = {lang: F.col(f"__s_{lang}") for lang in LANG_ORDER}
    # nested CASE, first-match in LANG_ORDER (mirrors the SQL CASE chain)
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):
        is_best = _ft.reduce(
            lambda x, y: x & y,
            [scores[lang] >= scores[o] for o in LANG_ORDER if o != lang],
        )
        pred = F.when(is_best & (scores[lang] > 0), F.lit(lang)).otherwise(pred)
    return stream._new(staged.select(*orig, pred.alias(alias)))


def sql_lang_id(table_expr: str, text: str, keep_cols: str, alias: str = "pred_lang") -> str:
    toks = sql_tokens(text)
    score_exprs = ", ".join(
        f"len(list_filter(__t, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + f"], x))) AS s_{lang}"
        for lang in LANG_ORDER
    )
    whens = " ".join(
        "WHEN "
        + " AND ".join(
            [f"s_{lang} >= s_{o}" for o in LANG_ORDER if o != lang] + [f"s_{lang} > 0"]
        )
        + f" THEN '{lang}'"
        for lang in LANG_ORDER
    )
    return f"""
WITH t AS (SELECT {keep_cols}, {toks} AS __t FROM {table_expr}),
s AS (SELECT {keep_cols}, {score_exprs} FROM t)
SELECT {keep_cols}, CASE {whens} ELSE 'und' END AS {alias} FROM s
"""


# --------------------------------------------------------------------- #
# KMV distinct-count sketch
# --------------------------------------------------------------------- #

def approx_distinct_kmv(stream, col, *, k: int = 256, alias: str = "approx_distinct"):
    """Approximate distinct count via a K-MINIMUM-VALUES sketch: hash
    every value to [0, 1), keep the k smallest hashes, estimate
    |distinct| ≈ (k−1) / h_(k) (the k-th minimum). Deterministic — the
    hash is the shared md5 map, so the DuckDB oracle computes the
    IDENTICAL estimate (unlike HLL, whose register layout is
    engine-specific).

    Scale: each partition folds its rows into a local k-distinct-minima
    sketch (one Arrow-vectorized pass — sort/unique per batch over a
    bounded k-state); only partitions × k hashes leave the executors,
    then one tiny merge (distinct + top-k) finishes the combine. A
    ``distinct().orderBy().limit(k)`` formulation would shuffle EVERY
    distinct hash — the very cost the sketch exists to avoid. The
    sketch is order statistics, so per-partition minima then merge IS
    the associative combine, and the result is partitioning-independent
    (the oracle computes the identical k minima globally). Falls back
    to the exact count when fewer than k distinct hashes exist.
    """
    two60 = float(1 << 60)

    def _local_kmv(batches):
        drop_spark_zip_finders()
        import numpy as np
        import pandas as pd

        state = np.empty(0, dtype=np.float64)
        for pdf in batches:
            state = np.sort(
                np.unique(np.concatenate([state, pdf["__h"].values]))
            )[:k]
        yield pd.DataFrame({"__h": state})

    hashes = (
        stream.df.select((md5_int60(to_col(col)) / F.lit(two60)).alias("__h"))
        .mapInPandas(_local_kmv, "__h double")
        .distinct()
        .orderBy("__h")
        .limit(k)
    )
    est = hashes.agg(
        F.when(
            F.count(F.lit(1)) < k,
            F.count(F.lit(1)).cast("double"),
        )
        .otherwise(F.round(F.lit(float(k - 1)) / F.max("__h"), 3))
        .alias(alias)
    )
    return stream._new(est)


def sql_approx_distinct_kmv(table_expr: str, col: str, *, k: int = 256,
                            alias: str = "approx_distinct") -> str:
    two60 = float(1 << 60)
    return f"""
WITH h AS (
  SELECT DISTINCT {sql_md5_int60(col)} / {two60} AS hv FROM {table_expr}
), topk AS (
  SELECT hv FROM h ORDER BY hv LIMIT {k}
)
SELECT CASE WHEN count(*) < {k} THEN count(*)::DOUBLE
       ELSE round({float(k - 1)} / max(hv), 3) END AS {alias}
FROM topk
"""


# --------------------------------------------------------------------- #
# Misra-Gries heavy hitters (exact top-k via bounded-memory candidates)
# --------------------------------------------------------------------- #

def heavy_hitters(stream, key_col, k: int, *, capacity: Optional[int] = None,
                  cnt_alias: str = "cnt"):
    """EXACT top-``k`` most frequent keys via a two-pass Misra-Gries /
    SpaceSaving sketch — completes the sketch family (KMV distinct, HLL
    count-distinct, GK quantiles) with frequency estimation.

    Why not plain ``groupBy().count().orderBy().limit(k)``: that shuffles
    one partial count per distinct key per partition — at 100 TB with
    billions of distinct keys (URLs, n-grams) the shuffle IS the job.
    Here pass 1 holds at most ``capacity`` counters per partition
    (classic MG guarantee: every key with partition frequency >
    N_p/(capacity+1) survives; summing across partitions, every key with
    GLOBAL frequency > N/(capacity+1) is emitted by at least one
    partition — pigeonhole), so only ``capacity × partitions`` candidate
    keys ever leave the executors. Pass 2 recounts the candidates
    exactly: a broadcast semi-join (map-side, no corpus shuffle) +
    map-side-combined count whose shuffle is bounded by candidates ×
    partitions.

    Exactness contract: the result is the true top-k whenever the k-th
    exact candidate count exceeds N/(capacity+1) — verified at run time
    (bounded driver collect of k rows, same discipline as the k-means
    seeds); on violation (capacity too small for the skew, or fewer than
    k candidates) it falls back to the exact full aggregation, so the
    operator NEVER returns an approximate answer — capacity only decides
    which plan computes it. Ties are deterministic (count desc, key asc).
    NULL keys are ignored (filter/fill upstream).

    The per-partition sketch is Arrow-vectorized: value_counts per
    batch, Series.add to merge, and a batched MG decrement (subtract the
    (capacity+1)-th largest residual, keep positives) — no per-row
    Python.
    """
    c = capacity or max(4 * k, 64)
    ktype = dict(stream.df.dtypes)[key_col] if key_col in dict(stream.df.dtypes) \
        else "string"
    df = stream.df.select(F.col(key_col).alias("__key")).filter(
        F.col("__key").isNotNull()
    )

    def _mg(batches):
        drop_spark_zip_finders()
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n_part = 0
        counts = None
        for pdf in batches:
            n_part += len(pdf)
            vc = pdf["__key"].value_counts()
            counts = vc if counts is None else counts.add(vc, fill_value=0)
            if len(counts) > c:
                d = counts.nlargest(c + 1).iloc[-1]
                counts = counts[counts > d] - d
        if n_part:
            # candidates + the partition's row count riding along (NULL
            # sentinel key when every counter decremented away), so the
            # exactness check's N needs no separate corpus scan
            keys = (
                list(counts.index)
                if counts is not None and len(counts)
                else [None]
            )
            yield pd.DataFrame({
                "__key": pd.Series(keys, dtype=object),
                "__pid": pid,
                "__pn": n_part,
            })

    sketch = df.mapInPandas(_mg, f"__key {ktype}, __pid int, __pn long").persist()
    try:
        n_total = (
            sketch.select("__pid", "__pn").distinct()
            .agg(F.sum("__pn")).collect()[0][0]
            or 0
        )
        cands = sketch.filter(F.col("__key").isNotNull()).select("__key").distinct()
        exact = (
            df.join(F.broadcast(cands), "__key", "left_semi")
            .groupBy("__key")
            .agg(F.count(F.lit(1)).alias(cnt_alias))
        )
        topk = exact.orderBy(
            F.col(cnt_alias).desc(), F.col("__key").asc()
        ).limit(k)
        rows = topk.collect()
    finally:
        # release the sketch cache even when an action fails mid-job —
        # retried calls must not accumulate InMemoryRelations
        sketch.unpersist()
    if len(rows) < k or (rows and rows[-1][cnt_alias] * (c + 1) <= n_total):
        # capacity too small for this skew (or < k candidates): exact
        # fallback — same answer the sketch path would give with a
        # bigger capacity, never an approximation
        full = (
            df.groupBy("__key").agg(F.count(F.lit(1)).alias(cnt_alias))
            .orderBy(F.col(cnt_alias).desc(), F.col("__key").asc())
            .limit(k)
        )
        return stream._new(full.withColumnRenamed("__key", key_col))
    # the validation collect already materialized the k result rows —
    # rebuild the result from them instead of re-executing the two-pass
    # plan at action time (k rows, bounded like the k-means seeds)
    spark = stream.df.sparkSession
    out = spark.createDataFrame(rows, topk.schema)
    return stream._new(out.withColumnRenamed("__key", key_col))


# --------------------------------------------------------------------- #
# cosine similarity search over embeddings
# --------------------------------------------------------------------- #

def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (same order as the SQL mirror)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _cosine(a: Column, b: Column) -> Column:
    """Zero-safe rounded cosine, shared by the whole ANN/dedup family:
    0.0 when either norm is 0 (a zero vector is similar to nothing).
    Without the guard ANSI Spark raises DIVIDE_BY_ZERO while DuckDB
    yields inf/nan — found by the hypothesis sweep, pinned by the SQL
    mirrors using the same CASE (``SQL_COS``)."""
    na, nb = _norm2(a), _norm2(b)
    return F.when(na * nb == F.lit(0.0), F.lit(0.0)).otherwise(
        F.round(_dot(a, b) / (na * nb), 6)
    )


def auto_cells(n: int, floor: int = 16) -> int:
    """The shared IVF cell-count dial: ``max(floor, ⌈√n⌉)`` — the
    standard IVF sizing rule, so per-cell population (and therefore the
    in-cell quadratic verify / window work) grows only as √n instead of
    linearly when the corpus scales. Used by ``ann_index_build`` and
    ``diversity_sample`` when the caller passes ``n_cells=None``
    (measured: 12.4× wall at 10× data with 16 pinned cells vs 2.1×
    dialed — docs/SCALING.md)."""
    import math

    n = max(int(n), 0)
    r = math.isqrt(n)
    return max(floor, r + (r * r < n))


def _ivf_seed_units(df, vec_col: str, id_col: str, n_cells: int,
                    *, order: str = "id") -> list:
    """Deterministic seeded centroids, unit-normalized (bounded driver
    collect — renoir's IterationStateHandle shape). Shared by the IVF
    ANN and the IVF semantic-dedup operators so both mirror the same
    SQL ``cells`` CTE.

    ``order="id"`` (default): the ``n_cells`` smallest-id vectors — the
    oracle-mirrored rule every suite query pins. ``order="hash"``: the
    ``n_cells`` smallest hash-ordered ids — a deterministic UNIFORM
    sample of the corpus, used by :meth:`AnnIndex.rebuild`: smallest-id
    seeds only cover whatever distribution the low ids happen to come
    from, while a retrain's whole point is giving LATER-arriving
    (appended, shifted) mass cells of its own — the hash sample covers
    every generation in proportion to its size."""
    key = (
        [F.col(id_col)] if order == "id"
        else [md5_int31(F.col(id_col).cast("string")), F.col(id_col)]
    )
    rows = (
        df.select(F.col(id_col), F.col(vec_col)).orderBy(*key).limit(n_cells).collect()
    )
    units = []
    for r in rows:
        v = [float(x) for x in r[1]]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        units.append([x / nrm for x in v])
    return units


def _lloyd_refine_units(df, units: list, vec_col: str, id_col: str,
                        n_cells: int, *, iters: int = 1,
                        sample_cap: int = 200_000) -> list:
    """DETERMINISTIC spherical-k-means refinement of seeded centroids:
    ``iters`` Lloyd steps over a hash-ordered uniform sample (bounded
    driver collect, ≤ min(32·n_cells, sample_cap) rows). Assignment is
    the index's own rule (argmax of ROUNDED dot against unit
    centroids, ties → lowest cell, the same left-fold dot association
    ``_ivf_assign`` uses — bit-identical assignments), re-centering
    is the float64 mean of the assigned raw vectors, unit-normalized;
    a cell that attracts no sample keeps its seed. Reproducible by
    construction: fixed sample order, fixed-shape numpy arithmetic —
    no RNG anywhere (the determinism contract of the whole ANN layer)."""
    import numpy as np

    S = min(max(32 * n_cells, 4096), int(sample_cap))
    key = [md5_int31(F.col(id_col).cast("string")), F.col(id_col)]
    rows = df.select(F.col(id_col), F.col(vec_col)).orderBy(*key).limit(S).collect()
    if not rows:
        return units
    X = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    out = [list(u) for u in units]
    for _ in range(int(iters)):
        UT = np.array(out, dtype=np.float64).T  # dim × n_cells
        # same dot association + tie/rounding rule as _ivf_assign:
        # left-fold dots, first max = lowest cell
        assign = (-np.round(_ivf_dots_block(X, UT), 9)).argmin(axis=1)
        for c in range(n_cells):
            pts = X[assign == c]
            if not len(pts):
                continue
            m = pts.mean(axis=0)
            nrm = math.sqrt(float((m * m).sum())) or 1.0
            out[c] = [float(x) / nrm for x in m]
    return out


def _ivf_dots_block(mat, UT):
    """Row-block × centroid-matrix dots with the oracle's list_reduce
    LEFT-FOLD association (bit-equal): accumulate one dimension at a
    time in ascending order — same additions, same order as cumsum over
    the dim axis, but O(B × cells) memory instead of materializing the
    B × dim × cells cube (which at 400 cells × 10k-row Arrow batches
    was 2 GB per task — measured 56 s → 4 s for the k=10 sig stage).
    numpy matmul would be faster still but uses pairwise summation —
    a different association, so the oracle hashes would drift."""
    import numpy as np

    acc = np.zeros((mat.shape[0], UT.shape[1]), dtype=np.float64)
    for j in range(mat.shape[1]):
        acc += mat[:, j][:, None] * UT[j][None, :]
    return acc


def _ivf_assign(df, units, *, vec_col_in: str = "cvec", id_schema: str = "id long"):
    """Arrow-vectorized Voronoi assignment: adds ``__cell`` (argmax
    rounded dot against unit centroids, ties → lowest cell) without any
    join or shuffle. ``df`` must carry exactly (id, ``vec_col_in``)."""
    def _assign_cells(batches):
        drop_spark_zip_finders()
        import numpy as np

        UT = np.array(units, dtype=np.float64).T  # dim × n_cells
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(
                [list(map(float, v)) for v in pdf[vec_col_in]], dtype=np.float64
            )
            d = -np.round(_ivf_dots_block(mat, UT), 9)
            yield pdf.assign(__cell=d.argmin(axis=1))  # first min = lowest cell

    vec_t = dict(df.dtypes)[vec_col_in]
    return df.mapInPandas(
        _assign_cells, f"{id_schema}, {vec_col_in} {vec_t}, __cell long"
    )


SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)"
)
SQL_NORM = (
    "sqrt(list_reduce(list_transform({a}, x -> x::DOUBLE * x::DOUBLE),"
    " (x, y) -> x + y))"
)
# zero-safe cosine — mirrors datapipe._cosine exactly
SQL_COS = (
    "CASE WHEN {na} * {nb} = 0 THEN 0.0"
    " ELSE round({dot} / ({na} * {nb}), 6) END"
)
# unit-normalize guard for seeded centroids — mirrors the `or 1.0`
# in _ivf_seed_units
SQL_UNIT_DIV = "(CASE WHEN {nrm} = 0 THEN 1.0 ELSE {nrm} END)"


def ann_cosine_brute(
    stream,
    queries,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
):
    """Brute-force cosine top-k: broadcast the (small) query set against
    the corpus, compute cosine JVM-side, rank per query.

    Scale: the corpus NEVER shuffles — queries broadcast to it; the only
    shuffle is the per-query top-k (tiny: k rows per partition after
    partial ranking). This is the exact baseline the LSH variant trades
    recall against."""
    q = queries.df.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    c = stream.df.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias("cvec")
    )
    cos = _cosine(F.col("qvec"), F.col("cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("qid"))
        .select("qid", id_col, cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col))
    return stream._new(
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def sql_ann_cosine_brute(
    table_expr: str,
    query_pred: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
) -> str:
    dot = SQL_DOT.format(a="q.qvec", b=f"c.{vec_col}")
    nq = SQL_NORM.format(a="q.qvec")
    nc = SQL_NORM.format(a=f"c.{vec_col}")
    cos = SQL_COS.format(dot=dot, na=nq, nb=nc)
    return f"""
WITH q AS (
  SELECT {id_col} AS qid, {vec_col} AS qvec FROM {table_expr} WHERE {query_pred}
), scored AS (
  SELECT q.qid, c.{id_col},
         {cos} AS cos
  FROM {table_expr} c, q
  WHERE c.{id_col} <> q.qid
)
SELECT qid, {id_col}, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos DESC, {id_col}) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def lsh_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from a fixed integer recurrence (no
    RNG — reproducible in SQL as inlined literals).

    The sign comes from bit 16 of the LCG state, NOT the low bit: for an
    LCG mod 2^k with odd multiplier and increment the low bit strictly
    alternates, which made every plane the same ±(+1,−1,+1,…) pattern —
    all vectors collapsed into 2 of 2^n_planes buckets (measured: a
    quadratic in-bucket join, 78 s at sf0.1)."""
    planes = []
    for j in range(n_planes):
        row = []
        x = 1_234_567 + 999_983 * j
        for d in range(dim):
            x = (1_103_515_245 * x + 12_345) % 2_147_483_648
            row.append(1.0 if (x >> 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-plane bucket id via the ``_dot`` sequential fold. Keep the
    higher-order-function form: expanding the dots into explicit
    per-element arithmetic (planes × dims scalar terms) measured 10×
    SLOWER — Catalyst/codegen degrade on multi-thousand-node expression
    trees (q64 6.1 s → 62 s) — while the HOF evaluates in a tight loop."""
    bits = []
    for j, p in enumerate(planes):
        dot_j = _dot(vec, F.array(*[F.lit(v) for v in p]))
        bits.append(F.when(dot_j >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ann_cosine_lsh(
    stream,
    queries,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    n_planes: int = 6,
    n_tables: int = 1,
    dim: int = 64,
):
    """LSH-bucketed cosine top-k — the scale path: random-hyperplane
    signatures put similar vectors in the same bucket; candidates come
    from a bucket EQUI-join; cosine + top-k run within buckets only.

    ``n_tables`` is the RECALL dial (standard multi-table LSH, same
    family as MinHash banding): each table hashes with an independent
    set of ``n_planes`` hyperplanes, candidates are the UNION of
    per-table bucket matches (deduplicated before scoring). Measured on
    the embeddings table (tools/recall_harness.py, sf0.01): one table
    at 6 planes gives recall@5 = 0.06; 8 tables = 0.38; 16 = 0.58 —
    while a single table with FEWER planes inflates bucket sizes
    (quadratic in-bucket work) instead. Scale: corpus explodes ×n_tables into the ONE bucket
    shuffle (linear cost, the documented trade); queries broadcast;
    in-bucket work stays bounded by 2^n_planes bucket granularity."""
    if n_tables == 1:
        planes = lsh_planes(dim, n_planes)
        q = queries.df.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qvec"),
            _bucket_expr(F.col(vec_col), planes).alias("__bkt"),
        )
        c = stream.df.select(
            F.col(id_col),
            F.col(vec_col).alias("cvec"),
            _bucket_expr(F.col(vec_col), planes).alias("__bkt"),
        )
        cand = (
            c.join(F.broadcast(q), "__bkt")
            .filter(F.col(id_col) != F.col("qid"))
        )
    else:
        all_planes = lsh_planes(dim, n_planes * n_tables)

        def sig_map(batches):
            # all L×n_planes signatures in ONE Arrow pass: numpy cumsum
            # along the dim axis reproduces the _dot sequential fold
            # bit-exactly (same trick as IVF assignment, _dots_block) —
            # per-row HOF dots measured ~6 s of the q64 wall time
            drop_spark_zip_finders()
            import numpy as np

            Pm = np.array(all_planes, dtype=np.float64).T  # (dim, L*np)
            shift = 1 << n_planes
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
                keys = np.zeros((len(pdf), n_tables), dtype=np.int64)
                for lo in range(0, len(pdf), 1024):
                    m = mat[lo:lo + 1024]
                    prod = m[:, :, None] * Pm[None, :, :]
                    signs = np.cumsum(prod, axis=1)[:, -1, :] >= 0
                    for t in range(n_tables):
                        b = np.zeros(m.shape[0], dtype=np.int64)
                        for j in range(n_planes):
                            b += signs[:, t * n_planes + j].astype(np.int64) << j
                        keys[lo:lo + 1024, t] = t * shift + b
                pdf = pdf.copy()
                pdf["__bkts"] = [row.tolist() for row in keys]
                yield pdf

        def with_buckets(df, idname):
            base = df.select(
                F.col(id_col).alias(idname), F.col(vec_col).alias("__vec")
            )
            id_type = dict(base.dtypes)[idname]
            vec_type = dict(base.dtypes)["__vec"]
            out = base.mapInPandas(
                sig_map,
                f"{idname} {id_type}, __vec {vec_type}, __bkts array<bigint>",
            )
            # bucket key packs (table, hash) into one long: t*2^planes+h
            return out.select(
                idname, "__vec", F.explode("__bkts").alias("__bkt")
            )

        q = with_buckets(queries.df, "qid").withColumnRenamed("__vec", "qvec")
        c = with_buckets(stream.df, id_col).withColumnRenamed("__vec", "cvec")
        cand = (
            c.join(F.broadcast(q), "__bkt")
            .filter(F.col(id_col) != F.col("qid"))
            # a pair matching in several tables must score ONCE
            .dropDuplicates(["qid", id_col])
        )
    cos = _cosine(F.col("qvec"), F.col("cvec"))
    scored = cand.select("qid", id_col, cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col))
    return stream._new(
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ann_cosine_ivf(
    stream,
    queries,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
):
    """IVF (inverted-file) cosine top-k — the classic ANN scale path next
    to sign-LSH: partition the corpus into ``n_cells`` Voronoi cells
    around centroids, search only the ``nprobe`` cells nearest each
    query.

    Deterministic seeded centroids (the ``n_cells`` smallest-id vectors,
    unit-normalized) keep the oracle exact; a Lloyd's refinement of the
    seeds is available via ``replay`` (see the k-means suite query) when
    recall matters more than reproducibility.

    Scale: cell ASSIGNMENT is one Arrow-vectorized map — the centroid
    matrix (small by definition) ships inside the closure, each batch
    does a block × matrix product, so the corpus gains its cell id
    without any join or shuffle, then shuffles ONCE on the cell id to
    meet the (broadcast) probed queries. argmax-by-dot against
    unit-normalized centroids equals argmin cosine distance (the vector's
    own norm cancels), so assignment needs no sqrt per row. Probing more
    cells (``nprobe``) buys recall linearly in searched volume — the
    standard IVF dial.
    """
    # Assignment is dense linear algebra (a row-block × centroid-matrix
    # product) — the one place a vectorized Arrow batch beats Catalyst
    # expressions: 16 cells × 64 dims as inline expressions either
    # interpret per element (higher-order fold, measured 14 s) or
    # overwhelm janino codegen (26 s compile). numpy's cumsum reproduces
    # the oracle's list_reduce left-fold EXACTLY (same IEEE association),
    # so values stay bit-equal; argmin/stable argsort break ties on the
    # lower cell id, mirroring ORDER BY d, cell. (Shared helpers:
    # _ivf_seed_units / _ivf_dots_block / _ivf_assign, also used by
    # dedup_embedding_ivf.)
    units = _ivf_seed_units(stream.df, vec_col, id_col, n_cells)
    dtypes = dict(stream.df.dtypes)
    vec_t = dtypes[vec_col]
    id_t = dtypes[id_col]  # derive — a hardcoded `long` breaks string ids
    c = _ivf_assign(
        stream.df.select(F.col(id_col), F.col(vec_col).alias("cvec")),
        units, id_schema=f"{id_col} {id_t}",
    )
    qid_t = dict(queries.df.dtypes)[id_col]
    q = _ivf_probe(
        queries.df.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
        ),
        units, nprobe=nprobe,
        out_schema=f"qid {qid_t}, qvec {vec_t}, __cell long",
    )

    cos = _cosine(F.col("qvec"), F.col("cvec"))
    scored = (
        c.join(F.broadcast(q), "__cell")
        .filter(F.col(id_col) != F.col("qid"))
        .select("qid", id_col, cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col))
    return stream._new(
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def sql_ann_cosine_ivf(
    table_expr: str,
    query_pred: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB mirror of :func:`ann_cosine_ivf`: the same seeded
    unit-normalized centroids (computed in SQL from the same ORDER BY
    id LIMIT n prefix), the same rounded argmax-dot assignment, the same
    nprobe probing."""
    nrm = SQL_UNIT_DIV.format(nrm=SQL_NORM.format(a=vec_col))
    dot_cu = SQL_DOT.format(a="t.v", b="cells.u")
    dot_qu = SQL_DOT.format(a="q.qvec", b="cells.u")
    dot = SQL_DOT.format(a="q.qvec", b="c.cvec")
    nq = SQL_NORM.format(a="q.qvec")
    nc = SQL_NORM.format(a="c.cvec")
    cos = SQL_COS.format(dot=dot, na=nq, nb=nc)
    return f"""
WITH cells AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cell,
         list_transform({vec_col}, x -> x::DOUBLE / {nrm}) AS u
  FROM (SELECT * FROM {table_expr} ORDER BY {id_col} LIMIT {n_cells})
), c AS (
  SELECT id, cvec, cell FROM (
    SELECT t.id, t.v AS cvec, cells.cell,
           row_number() OVER (
             PARTITION BY t.id
             ORDER BY -round({dot_cu}, 9), cells.cell
           ) AS rn
    FROM (SELECT {id_col} AS id, {vec_col} AS v FROM {table_expr}) t, cells
  ) WHERE rn = 1
), probed AS (
  SELECT qid, qvec, cell FROM (
    SELECT q.qid, q.qvec, cells.cell,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY -round({dot_qu}, 9), cells.cell
           ) AS rn
    FROM (SELECT {id_col} AS qid, {vec_col} AS qvec
          FROM {table_expr} WHERE {query_pred}) q, cells
  ) WHERE rn <= {nprobe}
), scored AS (
  SELECT q.qid, c.id AS {id_col},
         {cos} AS cos
  FROM c JOIN probed q USING (cell)
  WHERE c.id <> q.qid
)
SELECT qid, {id_col}, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos DESC, {id_col}) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def sql_ann_cosine_lsh(
    table_expr: str,
    query_pred: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    n_planes: int = 6,
    n_tables: int = 1,
    dim: int = 64,
) -> str:
    """DuckDB mirror of :func:`ann_cosine_lsh` (same seeded planes).
    Multi-table candidates are expressed as an OR-join over the
    per-table bucket equalities — identical to the engine's union +
    dedup (a pair scores once however many tables it collides in)."""
    all_planes = lsh_planes(dim, n_planes * n_tables)
    tables = [
        all_planes[t * n_planes:(t + 1) * n_planes] for t in range(n_tables)
    ]

    def bucket_sql(vec: str, planes) -> str:
        terms = []
        for j, p in enumerate(planes):
            lit = "[" + ", ".join(str(v) for v in p) + "]"
            dot_j = SQL_DOT.format(a=vec, b=lit)
            terms.append(f"(CASE WHEN {dot_j} >= 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(terms)

    bucket_cols = ",\n         ".join(
        f"{bucket_sql(vec_col, tables[t])} AS bkt{t}" for t in range(n_tables)
    )
    join_cond = " OR ".join(f"c.bkt{t} = q.bkt{t}" for t in range(n_tables))
    dot = SQL_DOT.format(a="q.qvec", b="c.cvec")
    nq = SQL_NORM.format(a="q.qvec")
    nc = SQL_NORM.format(a="c.cvec")
    cos = SQL_COS.format(dot=dot, na=nq, nb=nc)
    return f"""
WITH q AS (
  SELECT {id_col} AS qid, {vec_col} AS qvec,
         {bucket_cols}
  FROM {table_expr} WHERE {query_pred}
), c AS (
  SELECT {id_col}, {vec_col} AS cvec,
         {bucket_cols}
  FROM {table_expr}
), scored AS (
  SELECT q.qid, c.{id_col},
         {cos} AS cos
  FROM c JOIN q ON ({join_cond})
  WHERE c.{id_col} <> q.qid
)
SELECT qid, {id_col}, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos DESC, {id_col}) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _ivf_probe(qdf, units, *, nprobe: int, out_schema: str):
    """Arrow-vectorized query→cells probe shared by :func:`ann_cosine_ivf`
    and :func:`ann_cosine_ivf_sq8`: each query row fans out to its
    ``nprobe`` nearest cells (rounded argmax-dot against unit centroids,
    stable ties → lowest cell — same rule as the oracle's ORDER BY).
    ``qdf`` must carry exactly (qid, qvec)."""

    def _probe_cells(batches):
        drop_spark_zip_finders()
        import numpy as np
        import pandas as pd

        UT = np.array(units, dtype=np.float64).T
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([list(map(float, v)) for v in pdf["qvec"]], dtype=np.float64)
            d = -np.round(_ivf_dots_block(mat, UT), 9)
            top = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            idx = np.repeat(np.arange(len(pdf)), nprobe)
            yield pd.DataFrame(
                {
                    "qid": pdf["qid"].values[idx],
                    "qvec": pdf["qvec"].values[idx],
                    "__cell": top.ravel(),
                }
            )

    return qdf.mapInPandas(_probe_cells, out_schema)


def _sq8_stats(df, vec_col: str, dim: int):
    """One-row SQ8 grid (``__mins``, ``__scales`` = max - min per dim):
    a map-side-combined aggregate — 2×dim partial extrema per partition,
    one 1-row result to broadcast back into the encode scan. No driver
    collect."""
    return df.agg(
        F.array(
            *[F.min(F.col(vec_col)[i].cast("double")) for i in range(dim)]
        ).alias("__mins"),
        F.array(
            *[F.max(F.col(vec_col)[i].cast("double")) for i in range(dim)]
        ).alias("__maxs"),
    ).select(
        "__mins",
        F.zip_with("__maxs", "__mins", lambda mx, mn: mx - mn).alias("__scales"),
    )


def _sq8_codes(vec: Column) -> Column:
    """SQ8 encode ``floor((x - mn) / s * 255 + 0.5)`` (0 when s = 0)
    against the broadcast ``__mins``/``__scales`` columns — the exact
    IEEE op order the SQL mirrors inline."""
    diff = F.zip_with(vec, F.col("__mins"), lambda x, mn: x.cast("double") - mn)
    return F.zip_with(
        diff,
        F.col("__scales"),
        lambda d, s: F.when(s == F.lit(0.0), F.lit(0.0)).otherwise(
            F.floor(d / s * F.lit(255.0) + F.lit(0.5)).cast("double")
        ),
    )


def _sq8_xhat() -> Column:
    """Dequantize ``__codes``: ``mn + (code / 255) * s`` (same op order
    as the SQL mirrors)."""
    half = F.zip_with(
        F.col("__codes"), F.col("__scales"), lambda cd, s: cd / F.lit(255.0) * s
    )
    return F.zip_with(half, F.col("__mins"), lambda h, mn: mn + h)


def _sq8_candidates(enc, q, *, id_col: str, rerank: int, join):
    """Approximate-ranking stage shared by the SQ8 family: score the
    dequantized corpus against the (broadcast) queries — ``join``
    decides the meet (crossJoin for the full compressed scan, __cell
    equi-join for the IVF-probed variant) — and keep the top ``rerank``
    per query by (rounded cos desc, id)."""
    approx = _cosine(F.col("qvec"), F.col("__xhat"))
    wq = Window.partitionBy("qid").orderBy(F.col("__approx").desc(), id_col)
    return (
        join(enc, F.broadcast(q))
        .filter(F.col(id_col) != F.col("qid"))
        .select("qid", "qvec", id_col, approx.alias("__approx"))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= rerank)
        .select("qid", "qvec", id_col)
    )


def _exact_rerank_topk(stream, cand, *, vec_col: str, id_col: str, k: int,
                       corpus=None):
    """Exact fp32 re-score of a (qid, qvec, id) candidate list (broadcast
    into an id equi-join with the corpus) + final per-query top-k — the
    closing stage of every rerank-style ANN method. ``corpus``: an
    optional pre-staged (id, vec) relation to re-score against instead
    of re-deriving it from ``stream.df`` (the SQ8 family persists ONE
    narrow relation across its stats/encode/rerank passes)."""
    cos = _cosine(F.col("qvec"), F.col("cvec"))
    base = (
        corpus if corpus is not None else stream.df
    ).select(F.col(id_col), F.col(vec_col).alias("cvec"))
    scored = (
        base
        .join(F.broadcast(cand), id_col)
        .select("qid", id_col, cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col))
    return stream._new(
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ann_cosine_sq8(
    stream,
    queries,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    rerank: int = 12,
    dim: int = 64,
):
    """Scalar-quantized (SQ8) cosine top-k with exact rerank — the
    memory/IO scale path next to LSH bucketing and IVF probing: each
    corpus vector is compressed to one byte per dimension (4x smaller
    than fp32), the full scan ranks candidates on the DEQUANTIZED codes,
    and only the ``rerank`` best per query are re-scored against the
    fp32 vectors.

    Quantization grid: per-dimension [min, max] over the corpus,
    ``code = floor((x - mn) / (mx - mn) * 255 + 0.5)`` — the classic
    SQ8 codec (FAISS ``ScalarQuantizer`` family; public knowledge).
    Both the grid and the two-stage selection are mirrored verbatim in
    :func:`sql_ann_cosine_sq8`, so correctness is bit-exact regardless
    of quantization error: approximate scores are rounded to 6 decimals
    and tie-broken by id in BOTH engines, so the candidate ID set —
    and hence the exact-reranked result — is identical.

    Scale notes (100 TB): the stats pass is one map-side-combined
    aggregate (128 partial mins/maxes per partition, one 1-row result)
    broadcast back into the encode scan — no driver collect, no second
    shuffle. At production scale the ``__codes`` column is the artifact
    you persist (write_parquet of (id, codes) is 4x smaller and scans
    4x faster than the fp32 corpus); norms of the dequantized vectors
    would be precomputed into that table rather than re-derived per
    query. The approximate scan never shuffles the corpus — queries
    broadcast to it (same contract as ``ann_cosine_brute``); the only
    shuffles are the two tiny per-query top-N windows, and the rerank
    joins the (nq x rerank)-row candidate list broadcast against the
    corpus. Quantizing on a per-dimension grid keeps the codec
    data-parallel: no codebook training loop (contrast IVF/PQ), so a
    cold corpus encodes in a single pass."""
    # stage the narrow (id, vec) relation ONCE across the method's three
    # corpus passes (stats aggregate, encode scan, fp32 rerank) — the
    # ann_index_build / _staged_probe discipline; released at stream
    # teardown via _retain. At production scale the persisted-codes
    # artifact replaces the cache (docstring above).
    narrow = stream.df.select(F.col(id_col), F.col(vec_col)).persist()
    stats = _sq8_stats(narrow, vec_col, dim)
    enc = (
        narrow.select(F.col(id_col), F.col(vec_col).alias("cvec"))
        .crossJoin(F.broadcast(stats))
        .select(
            id_col, "__mins", "__scales",
            _sq8_codes(F.col("cvec")).alias("__codes"),
        )
    )
    q = queries.df.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    cand = _sq8_candidates(
        enc.select(id_col, _sq8_xhat().alias("__xhat")), q,
        id_col=id_col, rerank=rerank,
        join=lambda c, bq: c.crossJoin(bq),
    )
    return _exact_rerank_topk(
        stream, cand, vec_col=vec_col, id_col=id_col, k=k, corpus=narrow,
    )._retain(narrow)


def sql_ann_cosine_sq8(
    table_expr: str,
    query_pred: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    rerank: int = 12,
    dim: int = 64,
) -> str:
    """DuckDB mirror of :func:`ann_cosine_sq8`: the same per-dimension
    [min, max] grid, the same ``floor([0,255])`` codec (identical IEEE
    op order: ``(x - mn) / s * 255 + 0.5``), the same round-to-6 +
    id tie-break candidate selection, the same exact rerank."""
    approx = SQL_COS.format(
        dot=SQL_DOT.format(a="q.qvec", b="x.xv"),
        na=SQL_NORM.format(a="q.qvec"), nb=SQL_NORM.format(a="x.xv"),
    )
    cos = SQL_COS.format(
        dot=SQL_DOT.format(a="cand.qvec", b="c.v"),
        na=SQL_NORM.format(a="cand.qvec"), nb=SQL_NORM.format(a="c.v"),
    )
    return f"""
WITH c AS (
  SELECT {id_col} AS id, {vec_col} AS v FROM {table_expr}
), q AS (
  SELECT {id_col} AS qid, {vec_col} AS qvec FROM {table_expr}
  WHERE {query_pred}
), stats AS (
  SELECT i, min(v[i]::DOUBLE) AS mn, max(v[i]::DOUBLE) AS mx
  FROM c, range(1, {dim + 1}) t(i)
  GROUP BY i
), st AS (
  SELECT list(mn ORDER BY i) AS mins,
         list(mx - mn ORDER BY i) AS scales
  FROM stats
), xhat AS (
  SELECT c.id,
         list_transform(
           list_zip(
             list_transform(list_zip(c.v, st.mins, st.scales),
               p -> CASE WHEN p[3] = 0 THEN 0.0
                    ELSE floor((p[1]::DOUBLE - p[2]) / p[3] * 255.0 + 0.5)
                    END),
             st.scales, st.mins),
           p -> p[3] + (p[1] / 255.0) * p[2]) AS xv
  FROM c, st
), cand AS (
  SELECT qid, qvec, id FROM (
    SELECT q.qid, q.qvec, x.id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {approx} DESC, x.id) AS rn
    FROM xhat x, q
    WHERE x.id <> q.qid
  ) WHERE rn <= {rerank}
), scored AS (
  SELECT cand.qid, c.id AS {id_col},
         {cos} AS cos
  FROM cand JOIN c ON c.id = cand.id
)
SELECT qid, {id_col}, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos DESC, {id_col}) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def ann_cosine_ivf_sq8(
    stream,
    queries,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
    rerank: int = 12,
    dim: int = 64,
):
    """IVF + SQ8 — the classic two-level ANN stack (FAISS ``IVFx,SQ8``;
    public knowledge): IVF cells bound the SEARCH VOLUME
    (``nprobe/n_cells`` of the corpus per query), SQ8 codes bound the
    SCAN COST of what remains (1 byte/dim, 4x smaller than fp32), and an
    exact fp32 rerank of the top ``rerank`` candidates removes the
    quantization error from the final ranking. Pure composition of
    :func:`ann_cosine_ivf` (same seeded Voronoi assignment, same probe
    rule) and :func:`ann_cosine_sq8` (same per-dim [min,max] codec, same
    round-to-6 + id tie-break candidate selection) — and the DuckDB
    mirror :func:`sql_ann_cosine_ivf_sq8` composes the same two CTE
    chains, so the check stays bit-exact.

    Scale: one stats pass (map-side-combined aggregate, broadcast
    back), one encode+assign pass over the corpus (cell id via the
    Arrow block-matrix product, codes via JVM expressions — no shuffle),
    then ONE shuffle on the cell id to meet the broadcast probed
    queries; candidates rerank against the fp32 corpus through a
    broadcast id join. The persisted artifact at production scale is
    (id, cell, codes) — bucketed by cell it serves every query batch
    without re-encoding."""
    # stage the narrow (id, vec) relation across the FOUR corpus passes
    # (seed collect, stats aggregate, encode+assign scan, fp32 rerank) —
    # the seed collect is a plan-build action, so it also warms the
    # cache for the whole plan; released at stream teardown via _retain
    narrow = stream.df.select(F.col(id_col), F.col(vec_col)).persist()
    units = _ivf_seed_units(narrow, vec_col, id_col, n_cells)
    dtypes = dict(stream.df.dtypes)
    id_t = dtypes[id_col]
    qid_t = dict(queries.df.dtypes)[id_col]
    vec_t = dtypes[vec_col]

    stats = _sq8_stats(narrow, vec_col, dim)
    enc = (
        _ivf_assign(
            narrow.select(F.col(id_col), F.col(vec_col).alias("cvec")),
            units, id_schema=f"{id_col} {id_t}",
        )
        .crossJoin(F.broadcast(stats))
        .select(
            id_col, "__cell", "__mins", "__scales",
            _sq8_codes(F.col("cvec")).alias("__codes"),
        )
    )
    q = _ivf_probe(
        queries.df.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
        ),
        units, nprobe=nprobe,
        out_schema=f"qid {qid_t}, qvec {vec_t}, __cell long",
    )
    cand = _sq8_candidates(
        enc.select(id_col, "__cell", _sq8_xhat().alias("__xhat")), q,
        id_col=id_col, rerank=rerank,
        join=lambda c, bq: c.join(bq, "__cell"),
    )
    return _exact_rerank_topk(
        stream, cand, vec_col=vec_col, id_col=id_col, k=k, corpus=narrow,
    )._retain(narrow)


def sql_ann_cosine_ivf_sq8(
    table_expr: str,
    query_pred: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
    rerank: int = 12,
    dim: int = 64,
    seed_expr: Optional[str] = None,
    stats_expr: Optional[str] = None,
    corpus_expr: Optional[str] = None,
) -> str:
    """DuckDB mirror of :func:`ann_cosine_ivf_sq8`: q50's cell
    assignment/probe CTEs composed with q99's quantization CTEs.

    ``seed_expr`` / ``stats_expr`` (default: ``table_expr``) decouple
    where the cell centroids and the SQ8 grid come from — the
    appended-index case (``AnnIndex.append``): seeds and grid are
    frozen at BUILD time over the build corpus, while the scanned
    corpus is build ∪ appended. ``corpus_expr`` (default:
    ``table_expr``) decouples the SEARCHED corpus from the query
    source — the persisted-index probe case (``AnnIndex.match_batch``/
    ``dedup_batch``): queries come from a batch relation that is NOT
    in the index, so the oracle's candidate set must exclude it too."""
    nrm = SQL_UNIT_DIV.format(nrm=SQL_NORM.format(a=vec_col))
    seed_src = seed_expr or table_expr
    dot_cu = SQL_DOT.format(a="t.v", b="cells.u")
    dot_qu = SQL_DOT.format(a="q.qvec", b="cells.u")
    approx = SQL_COS.format(
        dot=SQL_DOT.format(a="q.qvec", b="x.xv"),
        na=SQL_NORM.format(a="q.qvec"), nb=SQL_NORM.format(a="x.xv"),
    )
    cos = SQL_COS.format(
        dot=SQL_DOT.format(a="cand.qvec", b="c.cvec"),
        na=SQL_NORM.format(a="cand.qvec"), nb=SQL_NORM.format(a="c.cvec"),
    )
    return f"""
WITH cells AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cell,
         list_transform({vec_col}, x -> x::DOUBLE / {nrm}) AS u
  FROM (SELECT * FROM {seed_src} ORDER BY {id_col} LIMIT {n_cells})
), c AS (
  SELECT id, cvec, cell FROM (
    SELECT t.id, t.v AS cvec, cells.cell,
           row_number() OVER (
             PARTITION BY t.id
             ORDER BY -round({dot_cu}, 9), cells.cell
           ) AS rn
    FROM (SELECT {id_col} AS id, {vec_col} AS v
          FROM {corpus_expr or table_expr}) t, cells
  ) WHERE rn = 1
), sc AS (
  SELECT {vec_col} AS cvec FROM {stats_expr or table_expr}
), stats AS (
  SELECT i, min(cvec[i]::DOUBLE) AS mn, max(cvec[i]::DOUBLE) AS mx
  FROM sc, range(1, {dim + 1}) t(i)
  GROUP BY i
), st AS (
  SELECT list(mn ORDER BY i) AS mins,
         list(mx - mn ORDER BY i) AS scales
  FROM stats
), xhat AS (
  SELECT c.id, c.cell,
         list_transform(
           list_zip(
             list_transform(list_zip(c.cvec, st.mins, st.scales),
               p -> CASE WHEN p[3] = 0 THEN 0.0
                    ELSE floor((p[1]::DOUBLE - p[2]) / p[3] * 255.0 + 0.5)
                    END),
             st.scales, st.mins),
           p -> p[3] + (p[1] / 255.0) * p[2]) AS xv
  FROM c, st
), probed AS (
  SELECT qid, qvec, cell FROM (
    SELECT q.qid, q.qvec, cells.cell,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY -round({dot_qu}, 9), cells.cell
           ) AS rn
    FROM (SELECT {id_col} AS qid, {vec_col} AS qvec
          FROM {table_expr} WHERE {query_pred}) q, cells
  ) WHERE rn <= {nprobe}
), cand AS (
  SELECT qid, qvec, id FROM (
    SELECT q.qid, q.qvec, x.id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {approx} DESC, x.id) AS rn
    FROM xhat x JOIN probed q USING (cell)
    WHERE x.id <> q.qid
  ) WHERE rn <= {rerank}
), scored AS (
  SELECT cand.qid, c.id AS {id_col},
         {cos} AS cos
  FROM cand JOIN c ON c.id = cand.id
)
SELECT qid, {id_col}, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos DESC, {id_col}) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def decontaminate_embedding(stream, reference, vec_col: str,
                            ref_vec_col: Optional[str] = None, *,
                            threshold: float = 0.8):
    """Embedding-space decontamination: drop every corpus row whose
    vector is cosine-similar (``>= threshold``) to ANY reference vector
    — the semantic complement of :func:`dedup_against` (which needs an
    exact n-gram/text match). Standard use: reference = benchmark/eval
    embeddings, corpus = training candidates; paraphrased eval leakage
    that exact decontamination misses is caught here.

    Scale shape: the reference collapses to ONE row holding an
    array-of-vectors (benchmark sets are executor-memory-sized by
    definition), broadcast to every task; the corpus-side test is a
    per-row higher-order ``EXISTS`` over that array — ZERO shuffles of
    the corpus and no row multiplication. The broadcast-join
    alternative would expand each corpus row |refs| times and then
    need a re-grouping shuffle to compute the max; this plan touches
    each corpus row exactly once, map-side. Cosine is the shared
    zero-safe rounded :func:`_cosine`, so the DuckDB oracle
    (``sql_decontaminate_embedding``) mirrors it bit-exactly.

    Reference parity: composes renoir's broadcast + filter shape
    (src/operator/mod.rs broadcast, src/operator/filter.rs); the
    embedding-similarity gate is beyond-reference (SemDeDup-style
    decontamination, public knowledge).
    """
    if not threshold > 0:
        # the zero-safe cosine reports 0.0 for zero-norm vectors as a
        # "similar to nothing" sentinel; a threshold <= 0 would invert
        # that into "similar to everything" (a single zero-norm
        # reference would drop the whole corpus) — reject it
        raise ValueError(
            f"decontaminate_embedding: threshold must be > 0, got {threshold}"
        )
    rcol = ref_vec_col or vec_col
    refs = reference.df.agg(F.collect_list(to_col(rcol)).alias("__refs"))
    vec = to_col(vec_col)
    hit = F.exists(
        F.col("__refs"), lambda r: _cosine(vec, r) >= F.lit(float(threshold))
    )
    # NULL-vec pin: Spark's EXISTS yields NULL for a NULL vector (its
    # cosine is NULL), which `~hit` would silently DROP, while the SQL
    # mirror's NOT EXISTS keeps the row (the NULL predicate just empties
    # the subquery). coalesce(false) makes both engines keep it.
    out = (
        stream.df.crossJoin(F.broadcast(refs))
        .filter(~F.coalesce(hit, F.lit(False)))
        .drop("__refs")
    )
    return stream._new(out)


def sql_decontaminate_embedding(table_expr: str, ref_expr: str,
                                vec_col: str, ref_vec_col: str,
                                cols: str, *, threshold: float) -> str:
    cos = SQL_COS.format(
        dot=SQL_DOT.format(a=f"t.{vec_col}", b=f"r.{ref_vec_col}"),
        na=SQL_NORM.format(a=f"t.{vec_col}"),
        nb=SQL_NORM.format(a=f"r.{ref_vec_col}"),
    )
    return f"""
SELECT {cols} FROM {table_expr} t
WHERE NOT EXISTS (
  SELECT 1 FROM {ref_expr} r
  WHERE {cos} >= {float(threshold)}
)
"""


# --------------------------------------------------------------------- #
# Corpus versioning: snapshot diff + corpus-level overlap
# --------------------------------------------------------------------- #

# Content fingerprints combine PER-COLUMN digests (a NULL cell becomes
# the 1-char marker '0', which can never equal a 64-char sha256 hex):
# hashing each cell independently makes cell boundaries unforgeable —
# concat_ws over raw cells could not distinguish ['a␟','b'] from
# ['a','␟b'] (ADVICE r7), and any in-band NULL sentinel is spoofable by
# a cell holding the literal sentinel. Digests are hex ∪ {'0'}, so the
# separator never occurs inside a part and the joined string parses
# unambiguously.
_DIFF_SEP = "|"
_DIFF_NULL = "0"


def corpus_diff(stream, old, id_col: str, content_cols: Sequence[str], *,
                include_unchanged: bool = False):
    """Snapshot diff between two corpus versions by content hash: which
    documents were ``added``, ``removed`` or ``changed`` between ``old``
    and this (new) stream — the primitive behind incremental corpus
    builds (reprocess only the delta) and dataset-release audits (what
    changed between v1 and v2).

    Each side collapses to ``(id, sha2-256 over per-column sha2-256
    digests)`` map-side, then ONE full-outer sort-merge join on the id
    decides the status. Hashing each cell independently keeps the
    fingerprint boundary-unforgeable: NULL ≠ '', and a cell containing
    the separator (or any sentinel) cannot collide with a
    differently-split row.

    Scale: both scans prune to ``id + content_cols`` and the 64-char
    hash replaces arbitrarily wide rows before the shuffle, so the join
    moves ~100 bytes/doc regardless of document size; the id is unique
    on each side (no skew) and the join is bucketing-friendly (two
    snapshots written bucketed by id diff with ZERO shuffle). With the
    default ``include_unchanged=False`` the filter runs before any
    downstream consumer, so output is the (tiny) delta, not the corpus.
    """
    def fp(df):
        parts = [
            F.coalesce(
                F.sha2(F.col(c).cast("string"), 256), F.lit(_DIFF_NULL)
            )
            for c in content_cols
        ]
        return df.select(
            to_col(id_col).alias("__id"),
            F.sha2(F.concat_ws(_DIFF_SEP, *parts), 256).alias("__h"),
        )

    n = fp(stream.df).alias("n")
    o = fp(old.df).alias("o")
    j = n.join(o, F.col("n.__id") == F.col("o.__id"), "full_outer")
    status = (
        F.when(F.col("o.__id").isNull(), F.lit("added"))
        .when(F.col("n.__id").isNull(), F.lit("removed"))
        .when(F.col("n.__h") != F.col("o.__h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        F.coalesce(F.col("n.__id"), F.col("o.__id")).alias(id_col),
        status.alias("status"),
    )
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return stream._new(out)


def sql_corpus_diff(new_expr: str, old_expr: str, id_col: str,
                    content_cols: Sequence[str], *,
                    include_unchanged: bool = False) -> str:
    parts = ", ".join(
        f"coalesce(sha256({c}::VARCHAR), '{_DIFF_NULL}')"
        for c in content_cols
    )
    fp = f"sha256(concat_ws('{_DIFF_SEP}', {parts}))"
    where = "" if include_unchanged else "WHERE status <> 'unchanged'"
    return f"""
WITH n AS (SELECT {id_col} AS id_, {fp} AS h FROM {new_expr}),
     o AS (SELECT {id_col} AS id_, {fp} AS h FROM {old_expr})
SELECT {id_col}, status FROM (
  SELECT COALESCE(n.id_, o.id_) AS {id_col},
         CASE WHEN o.id_ IS NULL THEN 'added'
              WHEN n.id_ IS NULL THEN 'removed'
              WHEN n.h <> o.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM n FULL OUTER JOIN o ON n.id_ = o.id_
) {where}
"""


def incremental_rebuild(new, old, prev_output, id_col: str,
                        content_cols: Sequence[str], transform):
    """Incremental corpus rebuild: reprocess ONLY the snapshot delta.
    ``corpus_diff(new, old)`` finds added/removed/changed ids; rows of
    ``prev_output`` (the previous run's curated output) whose ids were
    removed or changed are dropped, only added/changed documents flow
    through ``transform`` (a per-document-pure Stream → Stream stage),
    and the two halves union — at 100 TB with a 0.1% daily delta this
    is a ~1000× cheaper rebuild than from-scratch.

    THE invariant that makes incremental builds trustworthy: when
    ``transform`` is per-document pure and ``prev_output ==
    transform(old)``, the result row-for-row EQUALS ``transform(new)``
    from scratch — qa40's oracle IS the from-scratch pipeline, so the
    equivalence is checked cross-engine, and a Hypothesis property
    pins it under random edit scripts (tests/test_round7.py).

    Scale: the diff is the one full-outer id join (see
    :func:`corpus_diff`); the stale-drop and delta-select are anti/semi
    joins against the DELTA id set — small by construction, so AQE
    broadcasts them and the previous output never shuffles. ``transform``
    touches only delta rows. ``prev_output`` and ``transform(todo)``
    must share a schema (same ``transform``, so they do by
    construction).
    """
    diff = corpus_diff(new, old, id_col, content_cols).df
    stale = diff.filter(
        F.col("status").isin("removed", "changed")
    ).select(id_col)
    fresh = diff.filter(
        F.col("status").isin("added", "changed")
    ).select(id_col)
    kept = prev_output.df.join(stale, id_col, "left_anti")
    todo = new._new(new.df.join(fresh, id_col, "left_semi"))
    return new._new(kept.unionByName(transform(todo).df))


def corpus_overlap(stream, other, text_col: str, *, shingle_n: int = 3):
    """EXACT corpus-level shingle overlap between two corpora: one row of
    ``n_a / n_b / n_inter / n_union / jaccard / containment_a /
    containment_b`` over distinct word ``shingle_n``-gram md5 keys —
    the corpus-pair statistic behind "how much of corpus B is already
    in A?" decisions (buy/crawl/merge) and benchmark-contamination
    estimates at the corpus (not document) level.

    Scale: ONE pass over each corpus (explode → md5 → a side flag), one
    union, ONE shuffle on the uniform 32-char key (map-side partial max
    absorbs repeats), then a 1-row aggregate — no distinct-set
    materialization, no key equi-join, no cross joins: per-key
    membership bits (max of the side flags) turn union/intersection
    counting into three sums over the grouped keys. For 100 TB corpora
    where even that one grouped pass is expensive, use
    :func:`corpus_overlap_kmv` — bottom-k sketches, ~1/sqrt(k) relative
    error.
    """

    def keys(df, a: int, b: int):
        staged = df.select(
            tokens(to_col(text_col)).alias("__tk"),
            norm_text(to_col(text_col)).alias("__nm"),
        )
        return (
            staged.select(
                F.explode(
                    shingles_from(F.col("__tk"), F.col("__nm"), shingle_n)
                ).alias("__s")
            )
            .select(F.md5(F.col("__s")).alias("__h"),
                    F.lit(a).alias("__a"), F.lit(b).alias("__b"))
        )

    u = keys(stream.df, 1, 0).unionByName(keys(other.df, 0, 1))
    g = u.groupBy("__h").agg(F.max("__a").alias("__ia"),
                             F.max("__b").alias("__ib"))
    counts = g.agg(
        F.coalesce(F.sum("__ia"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("__ib"), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.col("__ia") * F.col("__ib")), F.lit(0))
        .cast("long").alias("n_inter"),
        F.count(F.lit(1)).alias("n_union"),
    )
    out = counts.select(
        "n_a", "n_b", "n_inter", "n_union",
        F.round(F.col("n_inter") / F.nullif(F.col("n_union"), F.lit(0)), 6)
        .alias("jaccard"),
        F.round(F.col("n_inter") / F.nullif(F.col("n_a"), F.lit(0)), 6)
        .alias("containment_a"),
        F.round(F.col("n_inter") / F.nullif(F.col("n_b"), F.lit(0)), 6)
        .alias("containment_b"),
    )
    return stream._new(out)


def sql_corpus_overlap(a_expr: str, b_expr: str, text: str, *,
                       shingle_n: int = 3) -> str:
    sh = sql_word_shingles(text, shingle_n)
    return f"""
WITH u AS (
  SELECT md5(s) AS h, 1 AS a, 0 AS b
  FROM (SELECT unnest({sh}) AS s FROM {a_expr})
  UNION ALL
  SELECT md5(s) AS h, 0 AS a, 1 AS b
  FROM (SELECT unnest({sh}) AS s FROM {b_expr})
), g AS (
  SELECT h, max(a) AS ia, max(b) AS ib FROM u GROUP BY h
), counts AS (
  SELECT CAST(coalesce(sum(ia), 0) AS BIGINT) AS n_a,
         CAST(coalesce(sum(ib), 0) AS BIGINT) AS n_b,
         CAST(coalesce(sum(ia * ib), 0) AS BIGINT) AS n_inter,
         count(*) AS n_union
  FROM g
)
SELECT n_a, n_b, n_inter, n_union,
       round(n_inter / nullif(n_union, 0), 6) AS jaccard,
       round(n_inter / nullif(n_a, 0), 6) AS containment_a,
       round(n_inter / nullif(n_b, 0), 6) AS containment_b
FROM counts
"""


_KMV_SPACE = float(1 << 60)


# NULL-normalized text contributes one sentinel shingle key, mirroring
# exact corpus_overlap's counting of the NULL group key (md5(NULL) is
# NULL there and groupBy keeps it as a key; here a NULL hash would
# poison the bottom-k — NULL sorts FIRST ascending — and crash the
# driver-side merge, so the sentinel stands in for it).
_KMV_NULL = "␀"


def _kmv_bottomk_df(df, text_col: str, shingle_n: int, k: int):
    """The per-corpus KMV sketch as a (lazy) ``k``-row DataFrame — the
    TRUE sketch shape: each partition folds its shingle hashes into a
    local bottom-k inside ``mapInPandas`` (bounded numpy state), so
    only ≤ k·partitions rows ever reach the merge shuffle; bottom-k of
    per-partition bottom-k distinct ≡ global bottom-k distinct (order
    statistics compose). A ``distinct().orderBy().limit(k)`` over the
    raw hashes would shuffle EVERY distinct shingle — the same exchange
    class as the exact pass the sketch exists to escape (the round-7
    weak mark). Exposed at module level so the plan test can assert
    every Exchange sits ABOVE the sketch stage.

    Two measured costs trimmed (tools/scale_curve.py, 10×/30× sf0.1):
    no ``explode`` — the per-document shingle array is hashed
    element-wise in the JVM and ships as ONE ``array<long>`` row per
    document (row-explosion machinery + per-row Arrow framing were the
    sketch's dominant cost, not the shuffle it avoids); and each Arrow
    batch is pruned against the running k-th-smallest bound before the
    sort, so after the first batch only candidate minima (a vanishing
    fraction) pay the numpy merge."""

    def _local(batches):
        drop_spark_zip_finders()
        import numpy as np
        import pandas as pd

        state = np.empty(0, dtype=np.int64)
        bound = None
        for pdf in batches:
            vals = [
                np.asarray(a, dtype=np.int64)
                for a in pdf["hs"]
                if a is not None and len(a)
            ]
            if not vals:
                continue
            arr = np.concatenate(vals)
            if bound is not None:
                arr = arr[arr < bound]
            if len(arr) == 0:
                continue
            state = np.unique(np.concatenate([state, arr]))[: int(k)]
            if len(state) == int(k):
                bound = state[-1]
        yield pd.DataFrame({"h": state})

    staged = df.select(
        tokens(to_col(text_col)).alias("__tk"),
        norm_text(to_col(text_col)).alias("__nm"),
    )
    hs = F.transform(
        shingles_from(F.col("__tk"), F.col("__nm"), shingle_n),
        lambda s: F.conv(
            F.substring(F.md5(F.coalesce(s, F.lit(_KMV_NULL))), 1, 15),
            16, 10,
        ).cast("long"),
    )
    return (
        staged.select(hs.alias("hs"))
        .mapInPandas(_local, "h long")
        .distinct().orderBy("h").limit(int(k))
    )


def corpus_overlap_kmv(stream, other, text_col: str, *, shingle_n: int = 3,
                       k: int = 1024):
    """KMV (bottom-k) sketch ESTIMATE of corpus shingle overlap — the
    100 TB path for :func:`corpus_overlap`: per corpus, the k smallest
    distinct 60-bit shingle hashes via PER-PARTITION bottom-k sketches
    (``mapInPandas`` bounded state — only k·partitions rows shuffle,
    never the corpus-wide distinct key set; the corpus never meets the
    other corpus in a join); the two k-value sketches merge DRIVER-side
    (2k longs — the documented bounded collect). Jaccard estimate =
    fraction of the merged bottom-k present in both sketches (Beyer et
    al.'s K-Minimum-Values estimator); distinct-count estimate =
    (k-1) / kth-smallest-normalized. Relative error ~1/sqrt(k) (k=1024
    → ~3%). Returns a 1-row DataFrame:
    ``k_eff / union_est / inter_est / jaccard_est``.

    NULL/empty-normalized text maps to a sentinel key, matching the
    exact pass's counting of the NULL shingle key (and keeping the
    driver-side merge total-orderable).

    Use when the exact distinct-key shuffle is the bottleneck; validate
    on a sample against :func:`corpus_overlap` (tests do exactly that).
    """
    both = (
        _kmv_bottomk_df(stream.df, text_col, shingle_n, k)
        .withColumn("side", F.lit(0))
        .unionByName(
            _kmv_bottomk_df(other.df, text_col, shingle_n, k)
            .withColumn("side", F.lit(1))
        )
        .collect()  # ONE action: both branch sketches share the job
    )
    sa = [r.h for r in both if r.side == 0]
    sb = [r.h for r in both if r.side == 1]
    set_a, set_b = set(sa), set(sb)
    merged = sorted(set_a | set_b)[: int(k)]
    m = len(merged)
    if m == 0:
        union_est = 0.0
        jacc = None
    else:
        kth = merged[-1]
        # exhausted both sketches -> the merged set IS the union (exact)
        if len(set_a) < k and len(set_b) < k:
            union_est = float(len(set_a | set_b))
        else:
            union_est = (m - 1) / (kth / _KMV_SPACE) if kth > 0 else float(m)
        common = sum(1 for h in merged if h in set_a and h in set_b)
        jacc = common / m
    inter_est = (jacc or 0.0) * union_est if m else 0.0
    spark = stream.df.sparkSession
    out = spark.createDataFrame(
        [(m, float(union_est), float(inter_est),
          None if jacc is None else float(jacc))],
        "k_eff int, union_est double, inter_est double, jaccard_est double",
    )
    return stream._new(out)


def sql_corpus_overlap_kmv(a_expr: str, b_expr: str, text: str, *,
                           shingle_n: int = 3, k: int = 1024) -> str:
    """DuckDB mirror of :func:`corpus_overlap_kmv`. Bottom-k of
    per-partition bottom-k distinct ≡ global bottom-k distinct (order
    statistics compose), so the oracle computes each sketch with a
    plain global DISTINCT/ORDER BY/LIMIT and the SAME driver-side
    estimator algebra — the result is partitioning-independent."""
    sh = sql_word_shingles(text, shingle_n)
    hh = f"('0x' || substr(md5(coalesce(s, '{_KMV_NULL}')), 1, 15))::BIGINT"
    return f"""
WITH ha AS (
  SELECT DISTINCT {hh} AS h
  FROM (SELECT unnest({sh}) AS s FROM {a_expr})
  ORDER BY h LIMIT {int(k)}
), hb AS (
  SELECT DISTINCT {hh} AS h
  FROM (SELECT unnest({sh}) AS s FROM {b_expr})
  ORDER BY h LIMIT {int(k)}
), u AS (SELECT h FROM ha UNION SELECT h FROM hb),
merged AS (SELECT h FROM u ORDER BY h LIMIT {int(k)}),
stats AS (
  SELECT count(*) AS m, max(h) AS kth,
         coalesce(sum(CASE WHEN h IN (SELECT h FROM ha)
                            AND h IN (SELECT h FROM hb)
                           THEN 1 ELSE 0 END), 0) AS common
  FROM merged
), est AS (
  SELECT m::INT AS k_eff,
         CASE WHEN m = 0 THEN 0.0::DOUBLE
              WHEN (SELECT count(*) FROM ha) < {int(k)}
               AND (SELECT count(*) FROM hb) < {int(k)}
                   THEN (SELECT count(*) FROM u)::DOUBLE
              WHEN kth > 0 THEN (m - 1) / (kth / {_KMV_SPACE!r})
              ELSE m::DOUBLE END AS union_est,
         CASE WHEN m = 0 THEN NULL
              ELSE common::DOUBLE / m END AS jaccard_est
  FROM stats
)
SELECT k_eff, union_est,
       coalesce(jaccard_est, 0.0) * union_est AS inter_est,
       jaccard_est
FROM est
"""


# --------------------------------------------------------------------- #
# Hybrid retrieval: BM25 + embedding cosine, reciprocal-rank fusion
# --------------------------------------------------------------------- #

def hybrid_search(docs, embs, query_terms: Sequence[str], query_vec_id, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  vec_id_col: str = "vec_id", vec_col: str = "embedding",
                  n_candidates: int = 50, k: int = 10, rrf_k: int = 60,
                  index=None, index_nprobe: int = 8,
                  index_rerank: Optional[int] = None):
    """Hybrid lexical+semantic retrieval with reciprocal-rank fusion
    (RRF): BM25 top-``n_candidates`` over ``docs`` for ``query_terms``
    and cosine top-``n_candidates`` over ``embs`` against the corpus
    vector ``query_vec_id``, fused as score = Σ 1/(rrf_k + rank) with a
    missing list contributing 0 (Cormack et al.'s parameter-free rank
    fusion — no score normalization across incomparable scales).

    Scale: both legs end in TakeOrdered candidate lists (the corpus
    never globally sorts; the BM25 leg shuffles only query-term postings
    — see :func:`renoir_spark.prep.bm25_rank` — and the cosine leg
    broadcasts the single query vector). Fusion then runs on ≤
    2·n_candidates rows: the rank windows and the full-outer join are
    driver-trivial by construction. At 100 TB pass ``index=`` (a
    persisted :class:`renoir_spark.ann_index.AnnIndex`) — the cosine
    leg becomes the partition-filtered IVF probe instead of the brute
    scan; the fusion contract is rank-only, so the legs are
    interchangeable (pinned by a test: full-probe + full-rerank index
    leg ≡ brute leg bit-for-bit). ``index_nprobe`` trades recall for
    probed cells exactly as in ``AnnIndex.query``; ``index_rerank``
    defaults to 4·n_candidates.
    """
    from .prep import bm25_rank

    lex = bm25_rank(
        docs, id_col, text_col, list(query_terms), k=int(n_candidates)
    ).df
    wl = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    lex = lex.select(
        F.col(id_col).alias("__lid"),
        F.row_number().over(wl).cast("long").alias("r_lex"),
    )
    qrow = embs.df.filter(to_col(vec_id_col) == F.lit(query_vec_id))
    if index is not None:
        # the persisted-index leg keeps self-matches (its contract is
        # "neighbors in the index"); drop them and re-rank so the rank
        # numbers feed RRF exactly like the brute leg's
        raw = index.query(
            embs._new(qrow), k=int(n_candidates) + 1,
            nprobe=int(index_nprobe),
            rerank=int(index_rerank or 4 * n_candidates),
        ).df.filter(F.col(vec_id_col) != F.col("qid"))
        ws = Window.orderBy(F.desc("cos"), F.asc(vec_id_col))
        sem = (
            raw.select(
                F.col(vec_id_col).alias("__sid"),
                F.row_number().over(ws).cast("long").alias("r_sem"),
            )
            .filter(F.col("r_sem") <= int(n_candidates))
        )
    else:
        sem = ann_cosine_brute(
            embs, embs._new(qrow), vec_col=vec_col, id_col=vec_id_col,
            k=int(n_candidates),
        ).df.select(
            F.col(vec_id_col).alias("__sid"), F.col("rank").alias("r_sem")
        )
    fused = lex.join(sem, F.col("__lid") == F.col("__sid"), "full_outer")
    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(int(rrf_k)) + F.col("r_lex")),
                   F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(int(rrf_k)) + F.col("r_sem")),
                     F.lit(0.0))
    )
    out = (
        fused.select(
            F.coalesce(F.col("__lid"), F.col("__sid")).alias(id_col),
            F.col("r_lex"), F.col("r_sem"),
            F.round(rrf, 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(int(k))
    )
    return docs._new(out)


def sql_hybrid_search(docs_expr: str, embs_expr: str,
                      query_terms: Sequence[str], query_pred: str, *,
                      id_col: str = "doc_id", text_col: str = "text",
                      vec_id_col: str = "vec_id", vec_col: str = "embedding",
                      n_candidates: int = 50, k: int = 10,
                      rrf_k: int = 60) -> str:
    from .prep import sql_bm25_rank

    bm = sql_bm25_rank(
        docs_expr, id_col, text_col, list(query_terms), k=int(n_candidates)
    )
    ann = sql_ann_cosine_brute(
        embs_expr, query_pred, vec_col=vec_col, id_col=vec_id_col,
        k=int(n_candidates),
    )
    return f"""
WITH lex AS (
  SELECT {id_col} AS lid,
         row_number() OVER (ORDER BY bm25 DESC, {id_col}) AS r_lex
  FROM ({bm})
), sem AS (
  SELECT {vec_id_col} AS sid, rank AS r_sem FROM ({ann})
)
SELECT COALESCE(lid, sid) AS {id_col}, r_lex, r_sem,
       round(coalesce(1.0::DOUBLE / ({int(rrf_k)} + r_lex), 0.0)
             + coalesce(1.0::DOUBLE / ({int(rrf_k)} + r_sem), 0.0), 6)
         AS rrf
FROM lex FULL OUTER JOIN sem ON lid = sid
ORDER BY rrf DESC, {id_col} LIMIT {int(k)}
"""
