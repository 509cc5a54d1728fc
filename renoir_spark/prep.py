"""Training-data preparation operators (LLM-pipeline expansion pack).

Beyond the dedup/ANN/text family in :mod:`datapipe`, a production
training-data pipeline needs: PII redaction, heuristic quality filtering
(Gopher-style rules), repetition analysis, deterministic sampling
(stratified / fractional), sequence packing to a context length, TF-IDF
term weighting, BM25 retrieval, n-gram benchmark decontamination, and
domain-mix rebalancing. Each operator here is expression-first (JVM-side,
whole-stage-codegen friendly), shuffles only on real keys, and ships a
``sql_*`` twin producing the exact DuckDB oracle so the driver can verify
values bit-for-bit.

Cross-engine discipline (same rules as datapipe.py):
- shared md5-based hashes (:func:`datapipe.md5_int31`) inlined into BOTH
  plans so sampling/packing decisions are deterministic and identical;
- every computed float is ``round(x, 6)`` on both sides;
- regexes restricted to the Java∩RE2 common dialect (no lookaround,
  no backreferences) so Spark and DuckDB match the same spans.

Scale notes are inline per operator; none of them is all-pairs and none
collects to the driver.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .datapipe import (
    MINHASH_P,
    _spread_for_compute,
    md5_int31,
    norm_text,
    sql_md5_int31,
    sql_norm_text,
    sql_tokens,
    tokens,
)
from .util import drop_spark_zip_finders, free_local_checkpoint, to_col

# --------------------------------------------------------------------- #
# PII redaction
# --------------------------------------------------------------------- #

# Java-regex ∩ RE2 safe patterns. Order matters: the running text is
# redacted kind-by-kind, counting matches BEFORE each replacement, so a
# credit-card digit run is not double-counted as a phone number once
# phone has already been replaced.
PII_PATTERNS: Dict[str, str] = {
    # local@domain.tld — conservative, ASCII-only
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # 13-16 contiguous digits (card-number-ish); before phone so the
    # longer digit run wins
    "ccn": r"\b\d{13,16}\b",
    # 555-012-3456 / 555 012 3456 / +1-555-012-3456
    "phone": r"\+?\d{1,3}[- ]\d{3}[- ]\d{4,7}\b",
    # dotted quad
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

PII_KINDS: Sequence[str] = tuple(PII_PATTERNS)


def pii_redact(stream, text_col: str, *, kinds: Sequence[str] = PII_KINDS):
    """Redact PII spans in ``text_col`` → ``<KIND>`` tokens, adding one
    ``pii_<kind>`` match-count column per kind and ``text_redacted``.

    All work is a chain of ``regexp_count`` + ``regexp_replace`` Column
    expressions — map-side only, zero shuffles, codegen'd in the JVM.
    At 100 TB this runs at scan speed; the regexes are the documented
    Java∩RE2 subset so the oracle matches span-for-span.
    """
    df = stream.df
    cur = to_col(text_col)
    counts = []
    for kind in kinds:
        pat = PII_PATTERNS[kind]
        # cast long: DuckDB len(regexp_extract_all(..)) is BIGINT and the
        # driver hashes pandas dtypes — int32 vs int64 would mismatch
        counts.append(
            F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"pii_{kind}")
        )
        cur = F.regexp_replace(cur, pat, f"<{kind.upper()}>")
    out = df.select("*", *counts, cur.alias("text_redacted"))
    return stream._new(out)


def sql_pii_redact(table_expr: str, text: str, keep_cols: str,
                   kinds: Sequence[str] = PII_KINDS) -> str:
    """DuckDB twin of :func:`pii_redact` (same order, same patterns)."""
    cur = text
    counts = []
    for kind in kinds:
        pat = PII_PATTERNS[kind].replace("'", "''")
        counts.append(
            f"len(regexp_extract_all({cur}, '{pat}')) AS pii_{kind}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '<{kind.upper()}>', 'g')"
    cols = ", ".join(counts)
    return (
        f"SELECT {keep_cols}, {cols}, {cur} AS text_redacted "
        f"FROM {table_expr}"
    )


# --------------------------------------------------------------------- #
# Gopher-style quality rules
# --------------------------------------------------------------------- #

# Tiny fixed english stopword list shared verbatim with the oracle (the
# Gopher rule is "≥ 2 of a small stop set present").
QUALITY_STOPWORDS: Sequence[str] = ("the", "a", "and", "of", "to", "in", "is")


def quality_gopher(
    stream,
    text_col: str,
    *,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
):
    """Gopher-rule quality gate (Rae et al. 2021 §A1.1 shape): token
    count bounds, mean word length bounds, fraction of tokens containing
    an alphabetic character, and ≥ N stopword hits. Emits the metrics
    plus a ``q_keep`` flag; filtering is left to the caller so rejected
    rows can be audited.

    Pure Column expressions over one materialized token array — no
    shuffle, no Python. The token array is staged as a real column first
    (attribute reference) so higher-order lambdas don't re-tokenize per
    element (the 50× trap documented at datapipe.py shingles_from).
    """
    df = stream.df
    toks = tokens(text_col)
    df = df.withColumn("__toks", toks)
    t = F.col("__toks")
    n = F.size(t)
    total_len = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    mean_len = F.round(total_len / n, 6)
    alpha = F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
    alpha_frac = F.round(alpha / n, 6)
    stop_arr = F.array(*[F.lit(w) for w in QUALITY_STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(t), stop_arr))
    keep = (
        (n >= min_tokens) & (n <= max_tokens)
        & (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
        & (alpha_frac >= min_alpha_frac)
        & (stop_hits >= min_stopword_hits)
    )
    out = (
        df.select(
            "*",
            n.cast("long").alias("q_tokens"),
            mean_len.alias("q_mean_word_len"),
            alpha_frac.alias("q_alpha_frac"),
            stop_hits.cast("long").alias("q_stopword_hits"),
            keep.alias("q_keep"),
        )
        .drop("__toks")
    )
    return stream._new(out)


def sql_quality_gopher(
    table_expr: str,
    text: str,
    keep_cols: str,
    *,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> str:
    stop_list = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return f"""
WITH toked AS (
  SELECT {keep_cols}, {sql_tokens(text)} AS toks FROM {table_expr}
), m AS (
  SELECT {keep_cols},
         len(toks) AS q_tokens,
         round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
               / len(toks), 6) AS q_mean_word_len,
         round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
               / len(toks), 6) AS q_alpha_frac,
         len(list_intersect(list_distinct(toks), [{stop_list}]))
             AS q_stopword_hits
  FROM toked
)
SELECT *,
       (q_tokens >= {min_tokens} AND q_tokens <= {max_tokens}
        AND q_mean_word_len >= {min_mean_word_len}
        AND q_mean_word_len <= {max_mean_word_len}
        AND q_alpha_frac >= {min_alpha_frac}
        AND q_stopword_hits >= {min_stopword_hits}) AS q_keep
FROM m
"""


# --------------------------------------------------------------------- #
# Repetition statistics (dup-word fraction, top n-gram fraction)
# --------------------------------------------------------------------- #

def repetition_stats(stream, id_col: str, text_col: str, *, ngram: int = 2,
                     max_top_frac: float = 0.20):
    """Per-document repetition metrics (Gopher §A1.1 repetition rules,
    word-level form): duplicate-word fraction and the fraction of tokens
    covered by the single most frequent word ``ngram``-gram, plus a
    ``rep_keep`` flag (top-gram coverage ≤ ``max_top_frac``).

    Shape: tokens are exploded to (id, gram) — ONE shuffle on the
    composite key with map-side partial counts, then a per-id max.  The
    (id, gram) count relation is bounded by total token count, never
    quadratic; at 100 TB this is the same plan as wordcount with a doc
    key prepended. Ties on the max count are broken by the
    lexicographically smallest gram so both engines pick the same one.
    """
    df = stream.df
    sid, toks = F.col(id_col), tokens(text_col)
    base = df.select(sid.alias("__id"), toks.alias("__toks"))
    t = F.col("__toks")
    stats = base.select(
        "__id",
        F.size(t).cast("long").alias("rep_tokens"),
        F.round(
            (F.size(t) - F.size(F.array_distinct(t))) / F.size(t), 6
        ).alias("dup_word_frac"),
    )
    # 2-gram explode: zip the token array against itself shifted by n-1
    grams = base.select(
        "__id",
        F.explode(
            F.transform(
                F.slice(t, 1, F.greatest(F.size(t) - (ngram - 1), F.lit(0))),
                lambda x, i: F.concat_ws(
                    " ", *[F.element_at(t, i + j + 1) for j in range(ngram)]
                ),
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("__id", "gram").agg(F.count("*").alias("c"))
    # ties on max count broken by smallest gram — same on both engines
    w = Window.partitionBy("__id").orderBy(F.desc("c"), F.asc("gram"))
    top = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__id", F.col("gram").alias("top_gram"),
                F.col("c").alias("top_gram_count"))
    )
    out = (
        stats.join(top, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "rep_tokens",
            "dup_word_frac",
            "top_gram",
            F.coalesce("top_gram_count", F.lit(0)).alias("top_gram_count"),
            F.round(
                F.coalesce(F.col("top_gram_count"), F.lit(0)) * ngram
                / F.col("rep_tokens"), 6,
            ).alias("top_gram_frac"),
        )
        .withColumn("rep_keep", F.col("top_gram_frac") <= max_top_frac)
    )
    return stream._new(out)


def sql_repetition_stats(table_expr: str, id_col: str, text: str, *,
                         ngram: int = 2, max_top_frac: float = 0.20) -> str:
    return f"""
WITH toked AS (
  SELECT {id_col} AS __id, {sql_tokens(text)} AS toks FROM {table_expr}
), stats AS (
  SELECT __id, len(toks) AS rep_tokens,
         round((len(toks) - len(list_distinct(toks)))::DOUBLE / len(toks), 6)
             AS dup_word_frac
  FROM toked
), grams AS (
  SELECT __id,
         unnest([array_to_string(toks[i:i+{ngram - 1}], ' ')
                 for i in range(1, len(toks) - {ngram - 2})]) AS gram
  FROM toked
), counts AS (
  SELECT __id, gram, count(*) AS c FROM grams GROUP BY __id, gram
), top AS (
  SELECT __id, gram AS top_gram, c AS top_gram_count,
         row_number() OVER (PARTITION BY __id ORDER BY c DESC, gram ASC)
             AS rn
  FROM counts
)
SELECT s.__id AS {id_col}, s.rep_tokens, s.dup_word_frac,
       t.top_gram, coalesce(t.top_gram_count, 0) AS top_gram_count,
       round(coalesce(t.top_gram_count, 0) * {ngram}
             / s.rep_tokens::DOUBLE, 6) AS top_gram_frac,
       (round(coalesce(t.top_gram_count, 0) * {ngram}
              / s.rep_tokens::DOUBLE, 6) <= {max_top_frac}) AS rep_keep
FROM stats s LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (__id)
"""


# --------------------------------------------------------------------- #
# Deterministic sampling
# --------------------------------------------------------------------- #

def sample_fraction(stream, id_col: str, fraction: float, *, salt: str = "s0"):
    """Deterministic fractional sample: keep rows whose 31-bit md5 hash
    of (salt || id) falls below ``fraction`` of the hash space.

    Map-side filter only — NO shuffle, no rand() (reproducible across
    retries/stragglers, unlike ``df.sample`` whose output depends on
    partition layout). This is the only sampling shape that is safe at
    100 TB: every executor decides locally from the row content.
    """
    df = stream.df
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    out = df.filter(h < int(fraction * MINHASH_P))
    return stream._new(out)


def sql_sample_fraction(table_expr: str, id_col: str, fraction: float, *,
                        salt: str = "s0") -> str:
    h = sql_md5_int31(f"concat_ws('|', '{salt}', {id_col}::VARCHAR)")
    return (
        f"SELECT * FROM {table_expr} WHERE {h} < "
        f"{int(fraction * MINHASH_P)}"
    )


def fim_transform(stream, id_col: str, text_col: str, *, rate: float = 0.5,
                  alias: str = "fim_text", pre: str = "<PRE>",
                  mid: str = "<MID>", suf: str = "<SUF>",
                  salt: str = "fim"):
    """Fill-in-the-middle (FIM) reordering for code/text training data
    (Bavarian et al. 2022, public knowledge): a deterministic
    ``rate``-fraction of documents is rewritten in PSM order —
    ``<PRE> prefix <SUF> suffix <MID> middle`` — so the model learns to
    infill; the rest pass through unchanged. Adds ``alias``.

    Split points are TOKEN positions derived from salted md5 hashes of
    the id (0 ≤ i ≤ j ≤ L, uniform over valid splits), so the
    transform is reproducible across retries and engines — no rand().
    The token multiset is preserved exactly (prefix ∪ middle ∪ suffix
    = the document), only the order and sentinels change.

    Scale: pure map-side expressions (split/slice/concat + the salted
    hash gate), ZERO shuffles — fuses into whatever scan feeds it.
    """
    text = to_col(text_col)
    idc = to_col(id_col).cast("string")
    toks = F.split(text, " ")
    L = F.size(toks)
    h1 = md5_int31(F.concat_ws("|", F.lit(salt + "1"), idc))
    h2 = md5_int31(F.concat_ws("|", F.lit(salt + "2"), idc))
    gate = md5_int31(F.concat_ws("|", F.lit(salt + "g"), idc)) < int(
        rate * MINHASH_P
    )
    i = h1 % (L + F.lit(1))
    j = i + h2 % (L - i + F.lit(1))
    psm = F.concat(
        F.lit(pre), F.array_join(F.slice(toks, F.lit(1), i), " "),
        F.lit(suf), F.array_join(F.slice(toks, j + 1, L - j), " "),
        F.lit(mid), F.array_join(F.slice(toks, i + 1, j - i), " "),
    )
    out = stream.df.withColumn(
        alias,
        F.when(text.isNotNull() & gate, psm).otherwise(text),
    )
    return stream._new(out)


def sql_fim_transform(table_expr: str, id_col: str, text: str, *,
                      rate: float = 0.5, alias: str = "fim_text",
                      pre: str = "<PRE>", mid: str = "<MID>",
                      suf: str = "<SUF>", salt: str = "fim") -> str:
    """DuckDB mirror of :func:`fim_transform` (list_slice is inclusive
    [a, b] where Spark's slice takes (pos, length) — bounds mapped
    accordingly)."""
    h1 = sql_md5_int31(f"concat_ws('|', '{salt}1', {id_col}::VARCHAR)")
    h2 = sql_md5_int31(f"concat_ws('|', '{salt}2', {id_col}::VARCHAR)")
    hg = sql_md5_int31(f"concat_ws('|', '{salt}g', {id_col}::VARCHAR)")
    return f"""
SELECT * EXCLUDE (__toks, __L, __i, __j),
       CASE WHEN {text} IS NOT NULL AND {hg} < {int(rate * MINHASH_P)}
            THEN concat(
              '{pre}', array_to_string(list_slice(__toks, 1, __i), ' '),
              '{suf}', array_to_string(list_slice(__toks, __j + 1, __L), ' '),
              '{mid}', array_to_string(list_slice(__toks, __i + 1, __j), ' '))
            ELSE {text} END AS {alias}
FROM (
  SELECT *, __i + ({h2} % (__L - __i + 1)) AS __j FROM (
    SELECT *, {h1} % (__L + 1) AS __i FROM (
      SELECT *, string_split({text}, ' ') AS __toks,
             len(string_split({text}, ' ')) AS __L
      FROM {table_expr}
    )
  )
)
"""


def word_entropy(stream, id_col: str, text_col: str):
    """Per-document token-distribution entropy (nats) — the unigram
    information-density quality signal (Dolma/CCNet-style filters drop
    both extremes: near-zero entropy = boilerplate/repeated tokens, very
    high = random noise). ``H = -Σ (c/n) ln(c/n)`` over the document's
    token counts, rounded to 6 decimals (both engines' libm ln agree at
    that precision — same precedent as the BM25 oracle).

    Shape: ONE shuffle on (id, token) with map-side partial counts, then
    a per-id sum — wordcount with a doc key prepended; never quadratic,
    no state beyond the aggregation buffers."""
    df = stream.df
    toked = df.select(to_col(id_col).alias("__id"), tokens(text_col).alias("__toks"))
    counts = (
        toked.select("__id", F.size("__toks").alias("__n"),
                     F.explode("__toks").alias("__tok"))
        .groupBy("__id", "__n", "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    p = F.col("__c") / F.col("__n")
    # canonical-order sum: a plain F.sum adds in partition order, and a
    # different association can flip the 6th decimal vs the oracle on
    # long documents — instead sort the per-token terms and fold them
    # left-to-right, the exact addition sequence DuckDB's
    # list_sum(list_sort(...)) performs
    out = (
        counts.groupBy("__id")
        .agg(F.sort_array(F.collect_list(p * F.log(p))).alias("__terms"))
        .select(
            F.col("__id").alias(id_col),
            F.round(
                -F.aggregate("__terms", F.lit(0.0), lambda a, x: a + x), 6
            ).alias("entropy"),
        )
    )
    return stream._new(out)


def sql_word_entropy(table_expr: str, id_col: str, text: str) -> str:
    return f"""
WITH toked AS (
  SELECT {id_col} AS __id, {sql_tokens(text)} AS toks FROM {table_expr}
), counts AS (
  SELECT __id, n, tok, count(*) AS c FROM (
    SELECT __id, len(toks) AS n, unnest(toks) AS tok FROM toked
  ) GROUP BY 1, 2, 3
)
SELECT __id AS {id_col},
       round(-list_sum(list_sort(list((c::DOUBLE / n) * ln(c::DOUBLE / n)))), 6)
         AS entropy
FROM counts GROUP BY 1
"""


def unigram_logprob(stream, id_col: str, text_col: str, *,
                    alias: str = "avg_logprob"):
    """Per-document mean token log-probability under a unigram LM
    trained on the corpus ITSELF (add-1 smoothing) — the
    perplexity-style quality filter (CCNet trains a KenLM and drops the
    high-perplexity tail; the unigram form keeps the exact same pipeline
    shape with an oracle-checkable model): ``score = (1/n) Σ_w c_dw ·
    ln((c_w + 1) / (N + V))``, rounded to 6 decimals. Low scores = rare
    garbage tokens; anomalously high = boilerplate. Docs whose text
    yields no tokens (NULL) are omitted — same convention as
    :func:`word_entropy`.

    Plan: the MODEL pass is wordcount-shaped (one (token) shuffle with
    map-side partials, vocabulary-sized result); the SCORING pass joins
    per-(doc, token) counts against the model on the token — a
    vocabulary-sized build side that AQE broadcasts under the threshold
    and hash-joins above it (same shape either way, never corpus ×
    corpus); corpus totals ride a 1-row broadcast. Per-doc terms are
    summed in canonical sorted order (sort_array + left fold ≡ DuckDB
    list_sum(list_sort(...))) so the float sum is association-identical
    on both engines — the q93 discipline.
    """
    df = stream.df
    # NO input spread here (unlike the md5-per-shingle chains):
    # tokenization is a cheap split and both explodes feed map-side
    # partial aggregates — measured WORSE with the round-10 spread
    # (0.67 → 1.03 s at sf0.1): the added exchange of raw text costs
    # more than the parallelism buys.
    base = df.select(to_col(id_col).alias("__id"),
                     tokens(text_col).alias("__toks"))
    occ = base.select(
        "__id", F.size("__toks").alias("__n"), F.explode("__toks").alias("__w")
    )
    # DELIBERATE second explode: deriving the model from the per-(doc,
    # token) counts would need that corpus-scale relation persisted
    # (three consumers), trading a cheap re-scan for a trillion-row
    # cache/spill at real scale — measured slower at sf0.1 too (0.8 →
    # 1.3 s). Recompute-over-cache is the right call for corpus-sized
    # lineage; the model pass is plain wordcount either way.
    model = occ.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    stats = model.agg(F.sum("__c").alias("__NT"), F.count(F.lit(1)).alias("__V"))
    cdw = occ.groupBy("__id", "__n", "__w").agg(F.count(F.lit(1)).alias("__cd"))
    terms = (
        cdw.join(model, "__w")
        .crossJoin(F.broadcast(stats))
        .select(
            "__id", "__n",
            (F.col("__cd")
             * F.log((F.col("__c") + F.lit(1)).cast("double")
                     / (F.col("__NT") + F.col("__V")).cast("double"))
             ).alias("__t"),
        )
    )
    out = (
        terms.groupBy("__id", "__n")
        .agg(F.sort_array(F.collect_list("__t")).alias("__ts"))
        .select(
            F.col("__id").alias(id_col),
            F.round(
                F.aggregate("__ts", F.lit(0.0), lambda a, x: a + x)
                / F.col("__n"), 6,
            ).alias(alias),
        )
    )
    return stream._new(out)


def sql_unigram_logprob(table_expr: str, id_col: str, text: str, *,
                        alias: str = "avg_logprob") -> str:
    return f"""
WITH base AS (
  SELECT {id_col} AS __id, {sql_tokens(text)} AS toks FROM {table_expr}
), occ AS (
  SELECT __id, len(toks) AS n, unnest(toks) AS w FROM base
), model AS (
  SELECT w, count(*) AS c FROM occ GROUP BY w
), stats AS (
  SELECT sum(c) AS nt, count(*) AS v FROM model
), cdw AS (
  SELECT __id, n, w, count(*) AS cd FROM occ GROUP BY 1, 2, 3
), terms AS (
  SELECT __id, n,
         cd * ln((m.c + 1)::DOUBLE / (s.nt + s.v)::DOUBLE) AS t
  FROM cdw JOIN model m USING (w), stats s
)
SELECT __id AS {id_col}, round(list_sum(list_sort(list(t))) / n, 6) AS {alias}
FROM terms GROUP BY __id, n
"""


def bigram_logprob(stream, id_col: str, text_col: str, *,
                   lam: float = 0.8, alias: str = "avg_logprob2",
                   buckets: Optional[int] = None):
    """Per-document mean token log-probability under an INTERPOLATED
    BIGRAM LM trained on the corpus itself — one order up from
    :func:`unigram_logprob`, the closest oracle-checkable shape to the
    KenLM filter CCNet actually runs: ``score = (1/n₂) Σ ln(λ·c(w₁w₂)/
    c₁(w₁) + (1−λ)·(c(w₂)+1)/(N+V))``, rounded to 6. The unigram
    backoff keeps every observed bigram finite (w₂ is in the corpus
    vocabulary by construction); low scores = locally incoherent text
    the unigram model is blind to (right words, wrong order). Docs with
    fewer than 2 tokens are omitted — no bigram evidence either way.

    Plan: TWO wordcount-shaped model passes (distinct observed bigrams
    ≤ total tokens, so the bigram model is corpus-sized at worst, not
    V²; c₁ derives from the bigram model, a second tiny agg); scoring
    joins per-(doc, bigram) counts to the two models on their keys
    (stopword bigrams skew — AQE skew-join absorbs it) with corpus
    totals on a 1-row broadcast; per-doc terms fold in canonical sorted
    order (sort_array + left fold ≡ list_sum(list_sort)) so the float
    sum is association-identical on both engines — the q93 discipline.

    ``buckets``: the 100 TB dial. The exact model relation is
    corpus-sized at worst (every distinct bigram); ``buckets=N`` maps
    unigram and bigram keys through the shared md5 31-bit hash mod N
    (the DSIR hashing trick, prep.py:_dsir_occ), so BOTH model
    relations are ≤ N rows no matter the corpus — colliding n-grams
    pool their counts, a smoothing-like bias that leaves ordering
    nearly intact (parity-tested on planted data). Default None keeps
    the exact model.
    """
    df = stream.df
    # no spread — see unigram_logprob (measured worse)
    base = df.select(to_col(id_col).alias("__id"),
                     tokens(text_col).alias("__toks"))
    if buckets is not None:
        return _bigram_logprob_bucketed(
            stream, base, id_col, lam=float(lam), alias=alias,
            buckets=int(buckets),
        )
    # unigram side (same shape as unigram_logprob's model)
    occ1 = base.select(F.explode("__toks").alias("__w"))
    model1 = occ1.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    stats = model1.agg(F.sum("__c").alias("__NT"),
                       F.count(F.lit(1)).alias("__V"))
    # bigram side: per-doc (w1, w2) pairs from adjacent tokens
    pairs = F.expr(
        "transform(sequence(2, size(__toks)),"
        " i -> struct(__toks[i-2] AS w1, __toks[i-1] AS w2))"
    )
    occ2 = (
        base.filter(F.size("__toks") >= 2)
        .select("__id", (F.size("__toks") - 1).alias("__n2"),
                F.explode(pairs).alias("__p"))
        .select("__id", "__n2", F.col("__p.w1").alias("__w1"),
                F.col("__p.w2").alias("__w2"))
    )
    model2 = occ2.groupBy("__w1", "__w2").agg(
        F.count(F.lit(1)).alias("__c12")
    )
    first = model2.groupBy("__w1").agg(F.sum("__c12").alias("__c1"))
    cdw = occ2.groupBy("__id", "__n2", "__w1", "__w2").agg(
        F.count(F.lit(1)).alias("__cd")
    )
    terms = (
        cdw.join(model2, ["__w1", "__w2"])
        .join(first, "__w1")
        .join(model1.select(F.col("__w").alias("__w2"), "__c"), "__w2")
        .crossJoin(F.broadcast(stats))
        .select(
            "__id", "__n2",
            (F.col("__cd") * F.log(
                F.lit(float(lam)) * F.col("__c12").cast("double")
                / F.col("__c1").cast("double")
                + F.lit(1.0 - float(lam))
                * (F.col("__c") + F.lit(1)).cast("double")
                / (F.col("__NT") + F.col("__V")).cast("double")
            )).alias("__t"),
        )
    )
    out = (
        terms.groupBy("__id", "__n2")
        .agg(F.sort_array(F.collect_list("__t")).alias("__ts"))
        .select(
            F.col("__id").alias(id_col),
            F.round(
                F.aggregate("__ts", F.lit(0.0), lambda a, x: a + x)
                / F.col("__n2"), 6,
            ).alias(alias),
        )
    )
    return stream._new(out)


def sql_bigram_logprob(table_expr: str, id_col: str, text: str, *,
                       lam: float = 0.8,
                       alias: str = "avg_logprob2") -> str:
    return f"""
WITH base AS (
  SELECT {id_col} AS __id, {sql_tokens(text)} AS toks FROM {table_expr}
), model1 AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w
), stats AS (
  SELECT sum(c) AS nt, count(*) AS v FROM model1
), occ2 AS (
  SELECT __id, len(toks) - 1 AS n2,
         unnest([{{'w1': toks[i-1], 'w2': toks[i]}}
                 for i in range(2, len(toks) + 1)]) AS p
  FROM base WHERE len(toks) >= 2
), flat AS (
  SELECT __id, n2, p.w1 AS w1, p.w2 AS w2 FROM occ2
), model2 AS (
  SELECT w1, w2, count(*) AS c12 FROM flat GROUP BY w1, w2
), first AS (
  SELECT w1, sum(c12) AS c1 FROM model2 GROUP BY w1
), cdw AS (
  SELECT __id, n2, w1, w2, count(*) AS cd FROM flat GROUP BY 1, 2, 3, 4
), terms AS (
  SELECT __id, n2,
         cd * ln({float(lam)} * m2.c12::DOUBLE / f.c1::DOUBLE
                 + {1.0 - float(lam)} * (m1.c + 1)::DOUBLE
                   / (s.nt + s.v)::DOUBLE) AS t
  FROM cdw JOIN model2 m2 USING (w1, w2) JOIN first f USING (w1)
       JOIN model1 m1 ON m1.w = cdw.w2, stats s
)
SELECT __id AS {id_col}, round(list_sum(list_sort(list(t))) / n2, 6) AS {alias}
FROM terms GROUP BY __id, n2
"""


def sql_bigram_logprob_bucketed(table_expr: str, id_col: str, text: str,
                                *, buckets: int, lam: float = 0.8,
                                alias: str = "avg_logprob2") -> str:
    """DuckDB mirror of the ``buckets=N`` path: same shared md5 31-bit
    token hash, same arithmetic pair key, same interpolation formula
    over the bucket-pooled counts."""
    B = int(buckets)
    return f"""
WITH base AS (
  SELECT {id_col} AS __id, {sql_tokens(text)} AS toks FROM {table_expr}
), keyed AS (
  SELECT __id, [{sql_md5_int31('t')} % {B} for t in toks] AS bks FROM base
), model1 AS (
  SELECT k2, count(*) AS c
  FROM (SELECT unnest(bks) AS k2 FROM keyed) GROUP BY k2
), stats AS (
  SELECT sum(c) AS nt, count(*) AS v FROM model1
), occ2 AS (
  SELECT __id, len(bks) - 1 AS n2,
         unnest([{{'k1': bks[i-1], 'k2': bks[i]}}
                 for i in range(2, len(bks) + 1)]) AS p
  FROM keyed WHERE len(bks) >= 2
), flat AS (
  SELECT __id, n2, (p.k1 * 1000003 + p.k2) % {B} AS k12,
         p.k1 AS k1, p.k2 AS k2
  FROM occ2
), model2 AS (
  SELECT k12, count(*) AS c12 FROM flat GROUP BY k12
), first AS (
  SELECT k1, count(*) AS c1 FROM flat GROUP BY k1
), cdw AS (
  SELECT __id, n2, k12, k1, k2, count(*) AS cd FROM flat
  GROUP BY 1, 2, 3, 4, 5
), terms AS (
  SELECT __id, n2,
         cd * ln({float(lam)} * m2.c12::DOUBLE / f.c1::DOUBLE
                 + {1.0 - float(lam)} * (m1.c + 1)::DOUBLE
                   / (s.nt + s.v)::DOUBLE) AS t
  FROM cdw JOIN model2 m2 USING (k12) JOIN first f USING (k1)
       JOIN model1 m1 ON m1.k2 = cdw.k2, stats s
)
SELECT __id AS {id_col}, round(list_sum(list_sort(list(t))) / n2, 6) AS {alias}
FROM terms GROUP BY __id, n2
"""


def _bigram_logprob_bucketed(stream, base, id_col: str, *, lam: float,
                             alias: str, buckets: int):
    """The hashed-bucket body of :func:`bigram_logprob` (``buckets=N``):
    identical interpolation formula over bucket-pooled counts. Tokens
    are whitespace-split so ``w1 || ' ' || w2`` is injective before the
    hash; all three count relations (bigram, first-word, unigram) are
    ≤ ``buckets`` rows, so every scoring join is broadcast-sized at any
    corpus scale."""
    B = F.lit(int(buckets))
    # hash each token ONCE (the md5 chain is the per-row cost — pair
    # keys derive arithmetically from the staged token buckets, not
    # from a second and third md5 per bigram occurrence)
    keyed = base.withColumn(
        "__bks", F.transform("__toks", lambda t: md5_int31(t) % B)
    )
    occ1 = keyed.select(F.explode("__bks").alias("__k2"))
    model1 = occ1.groupBy("__k2").agg(F.count(F.lit(1)).alias("__c"))
    stats = model1.agg(F.sum("__c").alias("__NT"),
                       F.count(F.lit(1)).alias("__V"))
    pairs = F.expr(
        "transform(sequence(2, size(__bks)),"
        " i -> struct(__bks[i-2] AS k1, __bks[i-1] AS k2))"
    )
    occ2 = (
        keyed.filter(F.size("__bks") >= 2)
        .select("__id", (F.size("__bks") - 1).alias("__n2"),
                F.explode(pairs).alias("__p"))
        .select(
            "__id", "__n2",
            # bucket of the PAIR: odd-multiplier mix of the two token
            # buckets — same hashing-trick pooling, zero extra md5
            ((F.col("__p.k1") * F.lit(1_000_003) + F.col("__p.k2")) % B)
            .alias("__k12"),
            F.col("__p.k1").alias("__k1"),
            F.col("__p.k2").alias("__k2"),
        )
    )
    model2 = occ2.groupBy("__k12").agg(F.count(F.lit(1)).alias("__c12"))
    first = occ2.groupBy("__k1").agg(F.count(F.lit(1)).alias("__c1"))
    cdw = occ2.groupBy("__id", "__n2", "__k12", "__k1", "__k2").agg(
        F.count(F.lit(1)).alias("__cd")
    )
    terms = (
        cdw.join(model2, "__k12")
        .join(first, "__k1")
        .join(model1, "__k2")
        .crossJoin(F.broadcast(stats))
        .select(
            "__id", "__n2",
            (F.col("__cd") * F.log(
                F.lit(float(lam)) * F.col("__c12").cast("double")
                / F.col("__c1").cast("double")
                + F.lit(1.0 - float(lam))
                * (F.col("__c") + F.lit(1)).cast("double")
                / (F.col("__NT") + F.col("__V")).cast("double")
            )).alias("__t"),
        )
    )
    out = (
        terms.groupBy("__id", "__n2")
        .agg(F.sort_array(F.collect_list("__t")).alias("__ts"))
        .select(
            F.col("__id").alias(id_col),
            F.round(
                F.aggregate("__ts", F.lit(0.0), lambda a, x: a + x)
                / F.col("__n2"), 6,
            ).alias(alias),
        )
    )
    return stream._new(out)


def sample_weighted(stream, id_col: str, weight_expr, *, salt: str = "w0"):
    """Per-row weighted sample: keep a row with probability
    ``weight_expr`` (a column in [0, 1], e.g. a quality score) — the
    quality-weighted corpus downsampling step (CCNet-style: sample
    high-quality documents at a higher rate instead of a hard gate).

    Same scale shape as :func:`sample_fraction`: the keep decision is a
    pure map-side comparison of the row's salted id hash against its OWN
    weight — no shuffle, no rand(), reproducible across retries and
    partition layouts. Weights outside [0, 1] clamp (<=0 never keeps,
    >=1 always keeps); a NULL weight never keeps (coalesced to 0 on BOTH
    engines — Spark's greatest/least SKIP nulls, so without the coalesce
    a NULL weight would silently keep everything).
    """
    df = stream.df
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    w0 = F.coalesce(to_col(weight_expr).cast("double"), F.lit(0.0))
    w = F.greatest(F.lit(0.0), F.least(F.lit(1.0), w0))
    out = df.filter(h < w * MINHASH_P)
    return stream._new(out)


def sql_sample_weighted(table_expr: str, id_col: str, weight_sql: str, *,
                        salt: str = "w0") -> str:
    h = sql_md5_int31(f"concat_ws('|', '{salt}', {id_col}::VARCHAR)")
    w = f"greatest(0.0, least(1.0, coalesce(({weight_sql})::DOUBLE, 0.0)))"
    return f"SELECT * FROM {table_expr} WHERE {h} < {w} * {MINHASH_P}"


def sample_weighted_k(stream, id_col: str, weight_expr, k: int, *,
                      strata: Sequence[str] = (), salt: str = "wk0"):
    """Exact-k weighted sample WITHOUT replacement — the Efraimidis-
    Spirakis A-Res scheme (public knowledge): each row gets key
    ``u^(1/w)`` with ``u`` uniform in (0, 1], the k largest keys win, so
    inclusion probability is proportional to weight and the sample size
    is EXACT (contrast :func:`sample_weighted`, whose output size is a
    random variable). The standard corpus-mixing primitive when a
    budget is fixed ("exactly 1M docs, quality-weighted").

    Determinism discipline: ``u`` derives from the salted id hash (no
    rand(): retry/layout-stable), keys rank as the monotone-equivalent
    ``ln(u)/w`` ROUNDED to 6 decimals with an id tie-break — the q93
    float rule, so a libm-vs-JVM ulp in ``ln`` cannot flip the oracle
    comparison. Rows with NULL or non-positive weight never sample.

    ``strata`` turns it into the per-group form — exactly ``k``
    weighted winners PER stratum ("k docs per domain, quality-weighted"
    — the fixed-budget mixing primitive).

    Scale: one map-side key projection, then global top-k — Spark plans
    ``orderBy().limit(k)`` as TakeOrdered (per-partition partial top-k +
    driver merge of k x partitions rows), no full sort shuffle. The
    stratified form is one shuffle on the strata key + a window rank,
    the :func:`sample_stratified` shape.
    """
    df = stream.df
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    u = (h + F.lit(1)).cast("double") / F.lit(float(MINHASH_P + 1))
    w0 = to_col(weight_expr).cast("double")
    key = F.round(F.log(u) / w0, 6)
    eligible = df.filter(w0 > F.lit(0.0)).withColumn("__k", key)
    if strata:
        w = Window.partitionBy(*strata).orderBy(
            F.col("__k").desc(), F.col(id_col).asc()
        )
        out = (
            eligible.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__k", "__rn")
        )
    else:
        out = (
            eligible.orderBy(F.col("__k").desc(), F.col(id_col).asc())
            .limit(k)
            .drop("__k")
        )
    return stream._new(out)


def sql_sample_weighted_k(table_expr: str, id_col: str, weight_sql: str,
                          k: int, *, strata: str = "", salt: str = "wk0") -> str:
    h = sql_md5_int31(f"concat_ws('|', '{salt}', {id_col}::VARCHAR)")
    u = f"(({h}) + 1)::DOUBLE / {float(MINHASH_P + 1)}"
    w = f"({weight_sql})::DOUBLE"
    if strata:
        return f"""
SELECT * EXCLUDE (__k, __rn) FROM (
  SELECT *, round(ln({u}) / {w}, 6) AS __k,
         row_number() OVER (PARTITION BY {strata}
                            ORDER BY round(ln({u}) / {w}, 6) DESC,
                                     {id_col} ASC) AS __rn
  FROM {table_expr} WHERE {w} > 0
) WHERE __rn <= {k}
"""
    return f"""
SELECT * EXCLUDE (__k) FROM (
  SELECT *, round(ln({u}) / {w}, 6) AS __k
  FROM {table_expr} WHERE {w} > 0
) ORDER BY __k DESC, {id_col} ASC LIMIT {k}
"""


def sample_stratified(stream, id_col: str, strata: Sequence[str], quota: int,
                      *, salt: str = "s0"):
    """Deterministic per-stratum quota sample: within each stratum keep
    the ``quota`` rows with the smallest md5 hash of (salt || id).

    One shuffle on the strata key; rank via window. Scale note: each
    stratum is ranked inside its partition — fine when strata count ≫
    executor count (lang × source at corpus scale); for few huge strata
    use :func:`sample_fraction` with per-stratum fractions
    (:func:`rebalance_mix`) which stays map-side.
    """
    df = stream.df
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    w = Window.partitionBy(*strata).orderBy(F.asc("__h"), F.asc(id_col))
    out = (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__h", "__rn")
    )
    return stream._new(out)


def sql_sample_stratified(table_expr: str, id_col: str, strata: str,
                          quota: int, *, salt: str = "s0") -> str:
    h = sql_md5_int31(f"concat_ws('|', '{salt}', {id_col}::VARCHAR)")
    return f"""
SELECT * EXCLUDE (__h, __rn) FROM (
  SELECT *, {h} AS __h,
         row_number() OVER (PARTITION BY {strata}
                            ORDER BY {h} ASC, {id_col} ASC) AS __rn
  FROM {table_expr}
) WHERE __rn <= {quota}
"""


def rebalance_mix(stream, id_col: str, group_col: str,
                  targets: Dict[str, float], *, salt: str = "mix"):
    """Domain-mix rebalancing: given target SHARES per group (e.g. lang
    weights for a training mix), compute per-group keep-fractions so the
    surviving corpus approaches the target mix, then apply the
    deterministic hash filter.

    Two aggregation passes, zero driver collects: (1) per-group counts
    (tiny relation, broadcast-joined back), (2) the map-side hash
    filter. keep_frac_g = min(1, target_g * scale / count_g) where
    scale = min_g(count_g / target_g) — the largest total size for
    which every group can meet its target share without upsampling.
    All arithmetic is integer/round(…,9) mirrored in the oracle.
    """
    df = stream.df
    g = to_col(group_col)
    counts = df.groupBy(g.alias("__g")).agg(F.count("*").alias("__n"))
    tmap = F.map_from_arrays(
        F.array(*[F.lit(k) for k in targets]),
        F.array(*[F.lit(float(v)) for v in targets.values()]),
    )
    counts = counts.withColumn("__t", F.coalesce(tmap[F.col("__g")], F.lit(0.0)))
    scale = counts.agg(
        F.min(F.when(F.col("__t") > 0, F.col("__n") / F.col("__t"))).alias("__s")
    )
    fracs = (
        counts.crossJoin(F.broadcast(scale))
        .select(
            "__g",
            F.round(
                F.least(F.lit(1.0),
                        F.when(F.col("__n") > 0,
                               F.col("__t") * F.col("__s") / F.col("__n"))
                        .otherwise(F.lit(0.0))),
                9,
            ).alias("__frac"),
        )
    )
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    out = (
        df.join(F.broadcast(fracs), g == F.col("__g"), "left")
        .withColumn("__h", h)
        .filter(F.col("__h") < (F.col("__frac") * MINHASH_P).cast("long"))
        .drop("__g", "__frac", "__h")
    )
    return stream._new(out)


def temperature_mix(stream, id_col: str, group_col: str, *,
                    temperature: float = 2.0, salt: str = "tmix"):
    """Temperature-based mix rebalancing (the multilingual-corpus move:
    sample group g with probability ∝ n_g^(1/T)): derive the target
    shares FROM the data — share_g = n_g^(1/T) / Σ n_j^(1/T) — then
    downsample with the same keep-fraction/hash-filter machinery as
    :func:`rebalance_mix`. T = 1 keeps the natural mix (no-op), T → ∞
    approaches uniform shares; since this engine never upsamples, the
    boosted (rarest) group keeps fraction 1 and the head groups are
    cut toward it. Rows with a NULL group are dropped (no share to
    derive).

    Scale: one per-group count (tiny relation), driver-free share/scale
    arithmetic over that relation (canonical-order sum of rounded
    powers — the q93 float discipline, so both engines see identical
    totals), then the map-side salted-hash filter. Deterministic and
    retry-stable like every sampler here.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    inv_t = 1.0 / float(temperature)
    df = stream.df
    g = to_col(group_col)
    # NULL groups are excluded from the DERIVATION too — their rows are
    # dropped by the join below, and letting a tiny NULL group into the
    # share/scale arithmetic would set the scale and gut every real one
    counts = (
        df.filter(g.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(F.count("*").alias("__n"))
        # persist: tot, scale, AND fracs all consume this relation —
        # unpersisted, each instance re-runs the full-corpus groupBy
        .persist()
    )
    powered = counts.withColumn(
        "__p", F.round(F.pow(F.col("__n").cast("double"), F.lit(inv_t)), 6)
    )
    tot = powered.agg(
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list("__p")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("__tot")
    )
    shares = powered.crossJoin(F.broadcast(tot)).withColumn(
        "__share", F.col("__p") / F.col("__tot")
    )
    scale = shares.agg(
        F.min(
            F.when(F.col("__share") > 0, F.col("__n") / F.col("__share"))
        ).alias("__s")
    )
    fracs = (
        shares.crossJoin(F.broadcast(scale))
        .select(
            "__g",
            F.round(
                F.least(
                    F.lit(1.0), F.col("__share") * F.col("__s") / F.col("__n")
                ),
                9,
            ).alias("__frac"),
        )
    )
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    out = (
        df.join(F.broadcast(fracs), g == F.col("__g"))
        .withColumn("__h", h)
        .filter(F.col("__h") < (F.col("__frac") * MINHASH_P).cast("long"))
        .drop("__g", "__frac", "__h")
    )
    return stream._new(out)._retain(counts)


def sql_temperature_mix(table_expr: str, id_col: str, group_col: str,
                        cols: str, *, temperature: float = 2.0,
                        salt: str = "tmix") -> str:
    """DuckDB mirror of :func:`temperature_mix` (same rounded powers,
    canonical-order total, same hash gate)."""
    inv_t = 1.0 / float(temperature)
    h = sql_md5_int31(f"concat_ws('|', '{salt}', t.{id_col}::VARCHAR)")
    return f"""
WITH counts AS (
  SELECT {group_col} AS g, count(*) AS n FROM {table_expr}
  WHERE {group_col} IS NOT NULL GROUP BY 1
), pw AS (
  SELECT g, n, round(pow(n::DOUBLE, {inv_t!r}), 6) AS p FROM counts
), tot AS (
  SELECT round(list_sum(list_sort(list(p))), 6) AS s FROM pw
), shares AS (
  SELECT g, n, p / (SELECT s FROM tot) AS share FROM pw
), scl AS (
  SELECT min(n / share) AS sc FROM shares WHERE share > 0
), fracs AS (
  SELECT g, round(least(1.0, share * (SELECT sc FROM scl) / n), 9) AS frac
  FROM shares
)
SELECT {cols} FROM {table_expr} t JOIN fracs ON t.{group_col} = fracs.g
WHERE {h} < CAST(floor(frac * {MINHASH_P}) AS BIGINT)
"""


def sql_rebalance_mix(table_expr: str, id_col: str, group_col: str,
                      targets: Dict[str, float], *, salt: str = "mix") -> str:
    pairs = ", ".join(f"('{k}', {float(v)})" for k, v in targets.items())
    h = sql_md5_int31(f"concat_ws('|', '{salt}', t.{id_col}::VARCHAR)")
    return f"""
WITH tgt(g, share) AS (VALUES {pairs}),
counts AS (
  SELECT {group_col} AS g, count(*) AS n FROM {table_expr} GROUP BY 1
), joined AS (
  SELECT c.g, c.n, coalesce(t.share, 0.0) AS share
  FROM counts c LEFT JOIN tgt t ON c.g = t.g
), s AS (
  SELECT min(n / share) AS scale FROM joined WHERE share > 0
), fracs AS (
  SELECT g, round(least(1.0, CASE WHEN n > 0 THEN share * scale / n
                                  ELSE 0.0 END), 9) AS frac
  FROM joined, s
)
SELECT t.* FROM {table_expr} t JOIN fracs f ON t.{group_col} = f.g
WHERE {h} < CAST(floor(f.frac * {MINHASH_P}) AS BIGINT)
"""


def assign_split(stream, id_col: str, weights: Dict[str, float], *,
                 salt: str = "split"):
    """Deterministic train/val/test assignment: the salted 31-bit hash
    of the id falls into consecutive ranges sized by ``weights``
    (normalized). Adds a ``split`` column; map-side only, layout- and
    retry-stable, and the SAME id always lands in the same split across
    runs — the property that keeps eval sets uncontaminated when the
    corpus is rebuilt.
    """
    df = stream.df
    total = float(sum(weights.values()))
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = h < int(acc * MINHASH_P)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return stream._new(df.withColumn("split", expr))


def sql_assign_split(table_expr: str, id_col: str, weights: Dict[str, float],
                     *, salt: str = "split") -> str:
    total = float(sum(weights.values()))
    h = sql_md5_int31(f"concat_ws('|', '{salt}', {id_col}::VARCHAR)")
    items = list(weights.items())
    acc = 0.0
    cases = []
    for name, w in items[:-1]:
        acc += w / total
        cases.append(f"WHEN {h} < {int(acc * MINHASH_P)} THEN '{name}'")
    body = " ".join(cases)
    last = items[-1][0]
    case = f"CASE {body} ELSE '{last}' END" if cases else f"'{last}'"
    return f"SELECT *, {case} AS split FROM {table_expr}"


def split_by_hash(stream, id_col: str, weights: Dict[str, float], *,
                  salt: str = "split") -> Dict[str, "object"]:
    """Materialize :func:`assign_split` as one stream per split name —
    disjoint and exhaustive by construction (consecutive hash ranges).
    """
    labeled = assign_split(stream, id_col, weights, salt=salt)
    return {
        name: labeled.filter(F.col("split") == name)
        for name in weights
    }


def assign_split_by_group(stream, group_col: str, weights: Dict[str, float],
                          *, salt: str = "split"):
    """LEAKAGE-SAFE split assignment: hash the GROUP key (duplicate
    cluster id, registered domain, source shard, ...) instead of the row
    id, so every member of a group lands in the SAME split — near-
    duplicates and same-site pages can never straddle train/eval, the
    contamination channel a per-row :func:`assign_split` leaves open
    (a train doc's near-dup in the eval set inflates every metric).

    Same consecutive-hash-range math as :func:`assign_split` applied to
    the group key; map-side only, no join — the group key must already
    be a column (compose with ``dedup_cluster_minhash``'s ``cluster_id``
    or ``url_registered_domain``). Audit any labeled frame with
    :func:`split_leakage` (structurally empty for this assignment).
    """
    return assign_split(stream, group_col, weights, salt=salt)


def split_leakage(stream, group_col: str, *, split_col: str = "split"):
    """Split-leakage audit: the groups whose members straddle more than
    one split — each with ``n_splits``, the sorted ``splits`` list and
    ``n_rows``. EMPTY output == the split is leakage-free at the group
    granularity; run it on any externally-labeled corpus before trusting
    its eval numbers.

    Scale: one groupBy on the group key (map-side partial aggregation;
    the split label is a tiny enum so collect_set state is bounded);
    output is bounded by the number of LEAKY groups, not the corpus.
    """
    df = (
        stream.df.groupBy(to_col(group_col).alias(group_col))
        .agg(
            F.countDistinct(split_col).alias("n_splits"),
            F.sort_array(F.collect_set(split_col)).alias("splits"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .filter(F.col("n_splits") > 1)
    )
    return stream._new(df)


def sql_split_leakage(table_expr: str, group_col: str, *,
                      split_col: str = "split") -> str:
    return f"""
SELECT {group_col},
       count(DISTINCT {split_col}) AS n_splits,
       list_sort(list(DISTINCT {split_col})) AS splits,
       count(*) AS n_rows
FROM {table_expr}
GROUP BY {group_col}
HAVING count(DISTINCT {split_col}) > 1
"""


# --------------------------------------------------------------------- #
# Sequence packing (concat-and-chunk to a context length)
# --------------------------------------------------------------------- #

def pack_sequences(stream, id_col: str, ntok_col: str, *,
                   max_tokens: int = 2048, n_buckets: int = 64,
                   salt: str = "pack"):
    """Assign documents to fixed-size training sequences
    (concat-and-chunk semantics): documents are laid out in a
    deterministic hash order, token offsets accumulate, and a document
    belongs to the pack where it STARTS: ``pack = offset div
    max_tokens``.

    Scale shape: a single global ordering would funnel the window sum
    through one task, so the layout is two-level — docs are first
    hash-bucketed (``n_buckets`` independent streams, map-side), then
    the running-offset window runs PER BUCKET (partitionBy bucket), so
    all 32 (or 1000) executors pack in parallel.  pack_id =
    bucket * 2^32 + local_pack is globally unique. Deterministic:
    ordering inside a bucket is (md5 hash, id).
    """
    df = stream.df
    sid = to_col(id_col)
    h = md5_int31(F.concat_ws("|", F.lit(salt), sid.cast("string")))
    staged = df.withColumn("__h", h).withColumn(
        "__bucket", (F.col("__h") % n_buckets).cast("long")
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(F.asc("__h"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ntok = to_col(ntok_col)
    out = (
        staged.withColumn("__cum", F.sum(ntok).over(w))
        .select(
            "*",
            (F.col("__cum") - ntok).alias("pack_offset"),
            (
                F.col("__bucket") * F.lit(1 << 32)
                + ((F.col("__cum") - ntok) / max_tokens).cast("long")
            ).alias("pack_id"),
        )
        .drop("__h", "__cum")
        .withColumnRenamed("__bucket", "pack_bucket")
    )
    return stream._new(out)


def sql_pack_sequences(table_expr: str, id_col: str, ntok_col: str, *,
                       max_tokens: int = 2048, n_buckets: int = 64,
                       salt: str = "pack") -> str:
    h = sql_md5_int31(f"concat_ws('|', '{salt}', {id_col}::VARCHAR)")
    return f"""
WITH staged AS (
  SELECT *, {h} AS __h, ({h}) % {n_buckets} AS pack_bucket
  FROM {table_expr}
), cum AS (
  SELECT *, sum({ntok_col}) OVER (
      PARTITION BY pack_bucket ORDER BY __h ASC, {id_col} ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __cum
  FROM staged
)
SELECT * EXCLUDE (__h, __cum),
       CAST(__cum - {ntok_col} AS BIGINT) AS pack_offset,
       CAST(pack_bucket * {1 << 32}
            + (__cum - {ntok_col}) // {max_tokens} AS BIGINT) AS pack_id
FROM cum
"""


# --------------------------------------------------------------------- #
# TF-IDF and BM25
# --------------------------------------------------------------------- #

def tfidf_top_terms(stream, id_col: str, text_col: str, *, k: int = 3):
    """Top-``k`` TF-IDF terms per document.

    Plan: explode tokens → tf = count per (doc, term) (ONE shuffle with
    map-side combine, same as wordcount) → df per term (second small
    agg) → idf joined back ON TERM (the term-df relation is vocabulary-
    sized, orders of magnitude smaller than the corpus — broadcast) →
    per-doc top-k via window row_number. idf = ln((N+1)/(df+1)) + 1
    (smoothed, sklearn shape), score = round(tf * idf, 6).
    """
    df = stream.df
    sid = to_col(id_col)
    base = df.select(sid.alias("__id"), tokens(text_col).alias("__toks"))
    n_docs = base.agg(F.count("*").alias("__N"))
    terms = base.select("__id", F.explode("__toks").alias("term"))
    tf = terms.groupBy("__id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "__id", "term", "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("__N") + 1) / (F.col("df_t") + 1)) + 1),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("__id").orderBy(F.desc("score"), F.asc("term"))
    out = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("__id").alias(id_col), "term", "tf", "score",
                F.col("__rn").cast("long").alias("rank"))
    )
    return stream._new(out)


def sql_tfidf_top_terms(table_expr: str, id_col: str, text: str, *,
                        k: int = 3) -> str:
    return f"""
WITH base AS (
  SELECT {id_col} AS __id, {sql_tokens(text)} AS toks FROM {table_expr}
), n AS (SELECT count(*) AS N FROM base),
terms AS (SELECT __id, unnest(toks) AS term FROM base),
tf AS (SELECT __id, term, count(*) AS tf FROM terms GROUP BY __id, term),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
scored AS (
  SELECT tf.__id, tf.term, tf.tf,
         round(tf.tf * (ln((n.N + 1)::DOUBLE / (d.df_t + 1)) + 1), 6)
             AS score
  FROM tf JOIN dfreq d USING (term), n
)
SELECT __id AS {id_col}, term, tf, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY __id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def bm25_rank(stream, id_col: str, text_col: str, query: Sequence[str], *,
              k: int = 10, k1: float = 1.2, b: float = 0.75):
    """BM25 retrieval: score every document against a fixed bag of query
    terms, return the top-``k`` (score desc, id asc).

    Plan: tokens explode FILTERED TO QUERY TERMS FIRST (the filter is
    pushed below the explode's shuffle, so only query-term postings move
    — at 100 TB this shuffles a few GB, not the corpus), tf per (doc,
    term), df per term (tiny, broadcast), avgdl via a 1-row agg
    (broadcast cross join), idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    score = Σ idf·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)), round 6. Final
    top-k is TakeOrderedAndProject (no global sort).
    """
    df = stream.df
    sid = to_col(id_col)
    qarr = F.array(*[F.lit(t) for t in query])
    base = df.select(sid.alias("__id"), tokens(text_col).alias("__toks"))
    base = base.withColumn("dl", F.size("__toks"))
    stats = base.agg(
        F.count("*").alias("N"), F.avg("dl").alias("avgdl")
    )
    hits = base.select(
        "__id", "dl",
        F.explode(F.filter("__toks", lambda x: F.array_contains(qarr, x)))
        .alias("term"),
    )
    tf = hits.groupBy("__id", "dl", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("__id").alias("df_t"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "__id",
            (
                F.log(1 + (F.col("N") - F.col("df_t") + 0.5)
                      / (F.col("df_t") + 0.5))
                * F.col("tf") * (k1 + 1)
                / (F.col("tf")
                   + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("part"),
        )
        .groupBy("__id")
        .agg(F.round(F.sum("part"), 6).alias("bm25"))
    )
    out = (
        scored.orderBy(F.desc("bm25"), F.asc("__id"))
        .limit(k)
        .select(F.col("__id").alias(id_col), "bm25")
    )
    return stream._new(out)


def sql_bm25_rank(table_expr: str, id_col: str, text: str,
                  query: Sequence[str], *, k: int = 10, k1: float = 1.2,
                  b: float = 0.75) -> str:
    qlist = ", ".join(f"'{t}'" for t in query)
    return f"""
WITH base AS (
  SELECT {id_col} AS __id, {sql_tokens(text)} AS toks FROM {table_expr}
), sized AS (SELECT __id, toks, len(toks) AS dl FROM base),
stats AS (SELECT count(*) AS N, avg(dl) AS avgdl FROM sized),
hits AS (
  SELECT __id, dl, unnest(list_filter(toks, x -> x IN ({qlist}))) AS term
  FROM sized
), tf AS (
  SELECT __id, dl, term, count(*) AS tf FROM hits GROUP BY __id, dl, term
), dfreq AS (SELECT term, count(DISTINCT __id) AS df_t FROM tf GROUP BY term),
scored AS (
  SELECT tf.__id,
         ln(1 + (s.N - d.df_t + 0.5) / (d.df_t + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * tf.dl / s.avgdl)) AS part
  FROM tf JOIN dfreq d USING (term), stats s
)
SELECT __id AS {id_col}, round(sum(part), 6) AS bm25
FROM scored GROUP BY __id
ORDER BY bm25 DESC, __id ASC LIMIT {k}
"""


# --------------------------------------------------------------------- #
# N-gram benchmark decontamination
# --------------------------------------------------------------------- #

def contaminated_ngrams(stream, reference, id_col: str, text_col: str,
                        ref_text_col: str, *, n: int = 8):
    """Benchmark decontamination, n-gram form (GPT-3 appendix C shape):
    flag any document sharing at least one word ``n``-gram with the
    reference (benchmark) corpus, reporting the overlap count.

    Plan: both sides explode to DISTINCT hashed n-grams (31-bit md5 —
    16-byte rows on the shuffle, the text stays home); the reference
    gram set is benchmark-sized (small) so the join broadcasts; per-doc
    overlap count is one map-side-combinable agg. Semantics: left join
    keeps CLEAN docs too (overlap_ngrams = 0) so the caller filters.
    """
    df = stream.df
    sid = to_col(id_col)

    def staged_grams(src_df, cols, txt):
        # stage tokens as a REAL column first: a transform lambda
        # re-evaluates embedded subexpressions per array element, so an
        # inlined split() would re-tokenize once per gram (the measured
        # 50x trap documented at datapipe.shingles_from)
        staged = src_df.select(*cols, tokens(txt).alias("__toks"))
        t = F.col("__toks")
        grams = F.array_distinct(
            F.transform(
                F.slice(t, 1, F.greatest(F.size(t) - (n - 1), F.lit(0))),
                lambda x, i: F.concat_ws(
                    " ", *[F.element_at(t, i + j + 1) for j in range(n)]
                ),
            )
        )
        return staged.select(*cols, F.explode(grams).alias("gram"))

    doc_grams = staged_grams(
        df.select(sid.alias("__id"), to_col(text_col).alias("__txt")),
        ["__id"], "__txt",
    ).select("__id", md5_int31(F.col("gram")).alias("gh"))
    ref_grams = (
        staged_grams(reference.df.select(to_col(ref_text_col).alias("__txt")),
                     [], "__txt")
        .select(md5_int31(F.col("gram")).alias("gh"))
        .distinct()
    )
    overlap = (
        doc_grams.join(F.broadcast(ref_grams), "gh")
        .groupBy("__id")
        .agg(F.count("*").alias("overlap_ngrams"))
    )
    out = (
        df.select(sid.alias("__id"))
        .join(overlap, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            (F.coalesce("overlap_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )
    return stream._new(out)


def sql_contaminated_ngrams(table_expr: str, ref_expr: str, id_col: str,
                            text: str, ref_text: str, *, n: int = 8) -> str:
    def grams_sql(src, id_sel_outer, id_sel_inner, txt):
        return f"""
  SELECT {id_sel_outer}unnest(list_distinct(
      [array_to_string(toks[i:i+{n - 1}], ' ')
       for i in range(1, len(toks) - {n - 2})])) AS gram
  FROM (SELECT {id_sel_inner}{sql_tokens(txt)} AS toks FROM {src}) _t
"""

    return f"""
WITH doc_grams AS (
  SELECT __id, {sql_md5_int31('gram')} AS gh
  FROM ({grams_sql(table_expr, '__id, ', f'{id_col} AS __id, ', text)})
), ref_grams AS (
  SELECT DISTINCT {sql_md5_int31('gram')} AS gh
  FROM ({grams_sql(ref_expr, '', '', ref_text)})
), overlap AS (
  SELECT __id, count(*) AS overlap_ngrams
  FROM doc_grams JOIN ref_grams USING (gh) GROUP BY __id
)
SELECT t.{id_col}, coalesce(o.overlap_ngrams, 0) AS overlap_ngrams,
       (coalesce(o.overlap_ngrams, 0) > 0) AS contaminated
FROM {table_expr} t LEFT JOIN overlap o ON t.{id_col} = o.__id
"""


# --------------------------------------------------------------------- #
# chunk-level dedup (paragraph-granularity, with reassembly)
# --------------------------------------------------------------------- #

def chunk_dedup(stream, id_col: str, text_col: str, *, chunk_words: int = 20):
    """Chunk-level exact dedup with document reassembly: texts are cut
    into fixed ``chunk_words``-word chunks (the paragraph-granularity
    analog for corpora without structural separators — swap the chunker
    for a newline split when documents have real paragraphs); for every
    distinct chunk only its FIRST occurrence (minimum ``(doc, position)``)
    survives, and each document is reassembled from its surviving chunks
    in order. The standard within-corpus boilerplate-removal pass
    (headers, navboxes, license blocks repeated across pages).

    Output: ``id_col``, ``clean_text`` (surviving chunks re-joined; ''
    when everything was dropped), ``n_chunks``, ``n_dropped``.

    Scale: chunk identity travels as the shared 31-bit md5 hash (the
    oracle mirrors collisions exactly); the only wide stage is ONE
    shuffle on the chunk hash (row_number window) plus the per-document
    reassembly groupBy. Linear in total tokens, no all-pairs stage.
    """
    w = chunk_words
    staged = (
        stream.df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .withColumn("__toks", F.split(norm_text(F.col("__text")), " "))
        .withColumn(
            "__nch", F.ceil(F.size("__toks") / F.lit(float(w))).cast("int")
        )
        .withColumn(
            "__chunks",
            F.transform(
                F.sequence(F.lit(0), F.col("__nch") - 1),
                lambda i: F.array_join(F.slice("__toks", i * w + 1, w), " "),
            ),
        )
        .select("__id", F.posexplode("__chunks").alias("__idx", "__chunk"))
        .withColumn("__gh", md5_int31(F.col("__chunk")))
    )
    win = Window.partitionBy("__gh").orderBy("__id", "__idx")
    marked = staged.withColumn("__rn", F.row_number().over(win))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("__idx"), F.col("__chunk"))
    )
    out = (
        marked.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["__chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0)).alias("n_dropped"),
        )
        .select(F.col("__id").alias(id_col), "clean_text", "n_chunks", "n_dropped")
    )
    return stream._new(out)


def sql_chunk_dedup(table_expr: str, id_col: str, text: str, *,
                    chunk_words: int = 20) -> str:
    """DuckDB mirror of :func:`chunk_dedup` (same chunker, same hash)."""
    w = chunk_words
    return f"""
WITH base AS (
  SELECT {id_col} AS id, string_split({sql_norm_text(text)}, ' ') AS toks
  FROM {table_expr}
), ch AS (
  SELECT id,
         [array_to_string(toks[(i*{w}+1):(i*{w}+{w})], ' ')
          for i in range(0, CAST(ceil(len(toks)::DOUBLE / {w}) AS INT))] AS chunks
  FROM base
), ex AS (
  SELECT id, unnest(chunks) AS chunk,
         generate_subscripts(chunks, 1) - 1 AS idx
  FROM ch
), mk AS (
  SELECT id, idx, chunk,
         row_number() OVER (PARTITION BY {sql_md5_int31('chunk')}
                            ORDER BY id, idx) AS rn
  FROM ex
)
SELECT id AS {id_col},
       coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '')
           AS clean_text,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM mk GROUP BY id
"""


def chunk_dedup_cdc(stream, id_col: str, text_col: str, *,
                    divisor: int = 16):
    """Chunk-level exact dedup with CONTENT-DEFINED chunking (the
    storage-dedup CDC idea at token granularity, public knowledge —
    Rabin/gear-hash chunkers): a chunk boundary falls after every token
    whose 31-bit md5 hash ≡ 0 (mod ``divisor``), so expected chunk
    length is ``divisor`` tokens but boundaries are anchored to
    CONTENT. That is the property fixed-size chunking
    (:func:`chunk_dedup`) lacks: insert one word at the front of a
    duplicated document and every fixed chunk shifts (zero dedup);
    CDC boundaries re-synchronize at the first anchor token and all
    later chunks dedup exactly.

    Same dedup contract as :func:`chunk_dedup`: for every distinct
    chunk only its first ``(doc, position)`` occurrence survives, and
    documents are reassembled from surviving chunks in order. Output:
    ``id_col``, ``clean_text``, ``n_chunks``, ``n_dropped``.

    Scale: boundary flags and chunk slicing are per-row array
    expressions (no shuffle); then the same ONE chunk-hash shuffle +
    per-document reassembly groupBy as chunk_dedup. An adversarial
    document with no anchor token becomes one chunk — cap pathological
    chunk length upstream with :func:`split_long_docs` if needed.
    """
    d = int(divisor)
    staged = (
        stream.df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .withColumn("__toks", F.split(norm_text(F.col("__text")), " "))
        .withColumn("__L", F.size("__toks"))
        .withColumn(
            "__bnd",
            F.concat(
                F.array(F.lit(0)),
                F.filter(
                    F.sequence(F.lit(1), F.col("__L")),
                    lambda i: (
                        md5_int31(F.element_at(F.col("__toks"), i))
                        % F.lit(d) == 0
                    ) & (i < F.col("__L")),
                ),
                F.array(F.col("__L")),
            ),
        )
        .withColumn(
            "__chunks",
            F.zip_with(
                F.slice("__bnd", F.lit(1), F.size("__bnd") - 1),
                F.slice("__bnd", F.lit(2), F.size("__bnd") - 1),
                lambda a, b: F.array_join(
                    F.slice(F.col("__toks"), a + 1, b - a), " "
                ),
            ),
        )
        .select("__id", F.posexplode("__chunks").alias("__idx", "__chunk"))
        .withColumn("__gh", md5_int31(F.col("__chunk")))
    )
    win = Window.partitionBy("__gh").orderBy("__id", "__idx")
    marked = staged.withColumn("__rn", F.row_number().over(win))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("__idx"), F.col("__chunk"))
    )
    out = (
        marked.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["__chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("__rn") > 1).cast("long")).alias("n_dropped"),
        )
        .select(F.col("__id").alias(id_col), "clean_text", "n_chunks",
                "n_dropped")
    )
    return stream._new(out)


def sql_chunk_dedup_cdc(table_expr: str, id_col: str, text: str, *,
                        divisor: int = 16) -> str:
    """DuckDB mirror of :func:`chunk_dedup_cdc` (same anchor rule, same
    hash; DuckDB list slicing ``l[a:b]`` is 1-based inclusive where
    Spark's slice takes (pos, length))."""
    d = int(divisor)
    anchor = sql_md5_int31("toks[i]")
    return f"""
WITH base AS (
  SELECT {id_col} AS id, string_split({sql_norm_text(text)}, ' ') AS toks
  FROM {table_expr}
), bn AS (
  SELECT id, toks,
         list_concat(list_concat(
           [0],
           [i for i in range(1, len(toks) + 1)
            if {anchor} % {d} = 0 AND i < len(toks)]),
           [len(toks)]) AS bnd
  FROM base
), ch AS (
  SELECT id,
         [array_to_string(toks[(bnd[i] + 1):bnd[i + 1]], ' ')
          for i in range(1, len(bnd))] AS chunks
  FROM bn
), ex AS (
  SELECT id, unnest(chunks) AS chunk,
         generate_subscripts(chunks, 1) - 1 AS idx
  FROM ch
), mk AS (
  SELECT id, idx, chunk,
         row_number() OVER (PARTITION BY {sql_md5_int31('chunk')}
                            ORDER BY id, idx) AS rn
  FROM ex
)
SELECT id AS {id_col},
       coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '')
           AS clean_text,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM mk GROUP BY id
"""


def drop_common_chunks(stream, id_col: str, text_col: str, *,
                       chunk_words: int = 20, max_df: int = 2):
    """Corpus-frequency boilerplate removal (the CCNet / RefinedWeb
    line-dedup shape): texts are cut into fixed ``chunk_words``-word
    chunks (swap the chunker for a newline split when documents carry
    real line structure) and EVERY occurrence of any chunk that appears
    in ``max_df`` or more distinct documents is dropped — headers,
    navboxes, cookie banners, license blocks. Unlike
    :func:`chunk_dedup` (first occurrence survives), boilerplate
    removal keeps NO copy: a chunk repeated across the corpus is noise
    in all of them.

    Output: ``id_col``, ``clean_text`` (surviving chunks re-joined; ''
    when everything was dropped), ``n_chunks``, ``n_dropped``.

    Scale: chunk identity travels as the shared 31-bit md5 hash; the
    document-frequency table is ONE hash-keyed aggregation
    (``countDistinct`` over (hash, doc) — wordcount-shaped, map-side
    partial on the distinct pairs), re-joined to the exploded chunks on
    the same key (co-partitioned post-agg, AQE coalesces), then one
    per-document reassembly groupBy. Linear in total tokens; no
    all-pairs stage; the df table is orders of magnitude smaller than
    the corpus (distinct chunks only).
    """
    w = chunk_words
    staged = (
        stream.df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .withColumn("__toks", F.split(norm_text(F.col("__text")), " "))
        .withColumn(
            "__nch", F.ceil(F.size("__toks") / F.lit(float(w))).cast("int")
        )
        .withColumn(
            "__chunks",
            F.transform(
                F.sequence(F.lit(0), F.col("__nch") - 1),
                lambda i: F.array_join(F.slice("__toks", i * w + 1, w), " "),
            ),
        )
        .select("__id", F.posexplode("__chunks").alias("__idx", "__chunk"))
        .withColumn("__gh", md5_int31(F.col("__chunk")))
    )
    dfreq = staged.groupBy("__gh").agg(
        F.countDistinct("__id").alias("__df")
    )
    kept_struct = F.when(
        F.col("__df") < max_df, F.struct(F.col("__idx"), F.col("__chunk"))
    )
    out = (
        staged.join(dfreq, "__gh")
        .groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["__chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("__df") >= max_df, 1).otherwise(0)
            ).alias("n_dropped"),
        )
        .select(F.col("__id").alias(id_col), "clean_text", "n_chunks", "n_dropped")
    )
    return stream._new(out)


def sql_drop_common_chunks(table_expr: str, id_col: str, text: str, *,
                           chunk_words: int = 20, max_df: int = 2) -> str:
    """DuckDB mirror of :func:`drop_common_chunks` (same chunker, same
    hash, same document-frequency rule)."""
    w = chunk_words
    return f"""
WITH base AS (
  SELECT {id_col} AS id, string_split({sql_norm_text(text)}, ' ') AS toks
  FROM {table_expr}
), ch AS (
  SELECT id,
         [array_to_string(toks[(i*{w}+1):(i*{w}+{w})], ' ')
          for i in range(0, CAST(ceil(len(toks)::DOUBLE / {w}) AS INT))] AS chunks
  FROM base
), ex AS (
  SELECT id, unnest(chunks) AS chunk,
         generate_subscripts(chunks, 1) - 1 AS idx
  FROM ch
), dfreq AS (
  SELECT {sql_md5_int31('chunk')} AS gh,
         count(DISTINCT id) AS df
  FROM ex GROUP BY 1
), mk AS (
  SELECT e.id, e.idx, e.chunk, d.df
  FROM ex e JOIN dfreq d ON {sql_md5_int31('e.chunk')} = d.gh
)
SELECT id AS {id_col},
       coalesce(string_agg(chunk, ' ' ORDER BY idx)
                FILTER (WHERE df < {max_df}), '') AS clean_text,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN df >= {max_df} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped
FROM mk GROUP BY id
"""


def cap_per_group(stream, id_col: str, group_col: str, cap: int, *,
                  salt: str = "d0"):
    """Deterministic per-group document cap (the per-DOMAIN cap every
    web-scale pipeline applies so one hot site cannot dominate the
    training mix): within each ``group_col`` value, rank rows by the
    salted 31-bit hash of their id (ties broken by id) and keep rank
    ``<= cap``. Hash-ordering makes the kept subset a uniform random
    sample of the group that is REPRODUCIBLE across retries, stragglers
    and re-runs (unlike ``rand()``), and independent of partition
    layout.

    Output: the input columns, capped.

    Scale: ONE shuffle on the group key (row_number window). Hot groups
    (a domain with 10^9 pages) are the known skew point — mitigate by
    pre-filtering with a sampled per-group hash threshold (keep rows
    with hash below ~``cap/|group|`` of the hash space, then exact-rank
    the survivors) so the window only sorts ~cap rows per group; the
    exact window here is the semantics both paths agree on.
    """
    df = stream.df
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    win = Window.partitionBy(group_col).orderBy(
        h.asc(), to_col(id_col).asc()
    )
    out = (
        df.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )
    return stream._new(out)


def sql_cap_per_group(table_expr: str, id_col: str, group_col: str,
                      cap: int, *, salt: str = "d0") -> str:
    h = sql_md5_int31(f"concat_ws('|', '{salt}', {id_col}::VARCHAR)")
    return f"""
SELECT * EXCLUDE (__rn) FROM (
  SELECT *, row_number() OVER (
      PARTITION BY {group_col} ORDER BY {h} ASC, {id_col} ASC) AS __rn
  FROM {table_expr}
) WHERE __rn <= {cap}
"""


def shard_by_tokens(stream, id_col: str, ntok_col: str, n_shards: int):
    """Token-balanced training-shard assignment (the "write N equal
    shards" step that precedes every training run): rows are ranked by
    ``(ntok DESC, id ASC)`` and dealt serpentine across ``n_shards``
    (block 0 deals shards 0..N-1, block 1 deals N-1..0, ...). On a
    monotone-sorted sequence the serpentine deal is the classic
    LPT-style balance: each adjacent block contributes its largest row
    to the shard that previously got the smallest, so per-shard token
    sums differ by at most one block's spread. Deterministic —
    independent of partition layout.

    Adds a ``shard`` column (0-based INT); rows otherwise pass through.

    Scale: the global rank is the distributed zipWithIndex (range
    partition on the sort key + per-partition numbering + broadcast
    offsets — see ``_global_index``); no single-task global window. One
    range exchange total; the downstream shard write repartitions on
    ``shard`` so each output file is written by one task.
    """
    from .stream import _global_index

    df = stream.df
    order = [to_col(ntok_col).desc(), to_col(id_col).asc()]
    indexed, cache = _global_index(df, order, idx="__sidx")
    i0 = F.col("__sidx") - 1
    block = F.floor(i0 / n_shards)
    pos = (i0 % n_shards).cast("int")
    shard = F.when(
        block % 2 == 0, pos
    ).otherwise(F.lit(n_shards - 1) - pos)
    out = indexed.withColumn("shard", shard.cast("int")).drop("__sidx")
    return stream._new(out)._retain(cache)


def sql_shard_by_tokens(table_expr: str, id_col: str, ntok_col: str,
                        n_shards: int) -> str:
    """DuckDB mirror of :func:`shard_by_tokens` (same rank order, same
    serpentine formula)."""
    n = n_shards
    return f"""
SELECT * EXCLUDE (__i0),
       CAST(CASE WHEN (__i0 // {n}) % 2 = 0 THEN __i0 % {n}
                 ELSE {n - 1} - (__i0 % {n}) END AS INT) AS shard
FROM (
  SELECT *, row_number() OVER (ORDER BY {ntok_col} DESC, {id_col} ASC) - 1
             AS __i0
  FROM {table_expr}
)
"""


def write_training_shards(stream, path: str, id_col: str, ntok_col: str,
                          n_shards: int, *, fmt: str = "parquet"):
    """Materialize token-balanced training shards: assign shards with
    :func:`shard_by_tokens`, cluster rows onto their shard (one
    repartition on the shard key, so each hive directory is written by
    one task — no tiny-file spray), and write
    ``path/shard=N/part-*.{fmt}``. Returns the per-shard manifest
    (shard, n_docs, tok_sum) as a Stream for logging/verification.
    """
    sharded = shard_by_tokens(stream, id_col, ntok_col, n_shards)
    df = sharded.df.repartition(n_shards, "shard")
    (df.write.mode("overwrite").partitionBy("shard").format(fmt).save(path))
    spark = df.sparkSession
    manifest = (
        spark.read.format(fmt).load(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(ntok_col).alias("tok_sum"))
        .withColumn("shard", F.col("shard").cast("int"))
    )
    sharded.unpersist()
    return stream._new(manifest)


# --------------------------------------------------------------------- #
# sentence segmentation
# --------------------------------------------------------------------- #

# a sentence = a run of non-terminators plus its trailing terminators;
# no lookaround (Java∩RE2 — DuckDB's RE2 has no lookbehind)
_SENT_RE = r"[^.!?]+[.!?]*"


def split_sentences(stream, id_col: str, text_col: str, *, min_chars: int = 1):
    """Sentence segmentation: one output row per sentence —
    ``(id_col, sent_ix, sentence)`` with ``sent_ix`` 0-based over the
    KEPT sentences. Splits on ``.!?`` runs (terminators stay attached),
    trims each sentence, and drops any shorter than ``min_chars``. The
    primitive under sentence-level dedup/decontamination pipelines
    (pair with :func:`~renoir_spark.datapipe.dedup_exact`-style keys on
    the sentence). NULL text emits no rows.

    Scale: pure map-side regexp_extract_all + array ops + posexplode —
    fuses into the scan, zero shuffles; downstream dedup pays the only
    wide stage.
    """
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(to_col(text_col), F.lit(_SENT_RE), 0),
            lambda s: F.trim(s),
        ),
        lambda s: F.length(s) >= min_chars,
    )
    out = stream.df.select(
        to_col(id_col).alias(id_col),
        F.posexplode(sents).alias("sent_ix", "sentence"),
    ).withColumn(
        # posexplode emits INT; DuckDB's range ordinal is BIGINT — the
        # driver compares pandas dtypes
        "sent_ix", F.col("sent_ix").cast("long")
    )
    return stream._new(out)


def sql_split_sentences(
    table_expr: str, id_col: str, text: str, *, min_chars: int = 1
) -> str:
    """DuckDB mirror of :func:`split_sentences` (zipped unnest gives the
    per-row ordinal)."""
    sents = (
        f"list_filter(list_transform(regexp_extract_all({text}, "
        f"'{_SENT_RE}'), s -> trim(s)), s -> length(s) >= {min_chars})"
    )
    return f"""
SELECT {id_col},
       unnest(range(len({sents}))) AS sent_ix,
       unnest({sents}) AS sentence
FROM {table_expr} WHERE {text} IS NOT NULL
"""


def sentence_dedup(stream, id_col: str, text_col: str, *, min_chars: int = 1):
    """Sentence-level exact dedup with document reassembly — the
    natural-boundary sibling of :func:`chunk_dedup` (Dolma-style
    paragraph/sentence dedup): split on real sentence boundaries
    (:func:`split_sentences`), keep only the FIRST occurrence of every
    distinct normalized sentence (minimum ``(doc, position)``), and
    rebuild each document from its surviving sentences in order. The
    dedup key is the NORMALIZED sentence (case/whitespace-folded) so
    spelling variants of one boilerplate line collapse, while the
    reassembled text keeps the original spelling of the kept copy.

    Output: ``id_col``, ``clean_text``, ``n_sents``, ``n_dropped``.
    Documents with no sentence (NULL/empty/punctuation-only text) emit
    no row — they have nothing to reassemble.

    Scale: identical shape to :func:`chunk_dedup` — ONE shuffle on the
    sentence key (row_number window) plus the per-document reassembly
    groupBy. The key is the full sha2-256 of the normalized sentence
    (collision-free in practice; a narrow hash would silently delete
    distinct sentences at corpus scale), so the shuffle rows carry a
    64-char key instead of 8 bytes — the price of exactness.
    """
    split = split_sentences(stream, id_col, text_col, min_chars=min_chars)
    # sha2, not a narrow hash: "exact" dedup must not delete DISTINCT
    # sentences on a 31-bit collision (birthday bound fires at ~65k
    # distinct sentences); same full-width key role as dedup_exact
    staged = split.df.select(
        F.col(id_col).alias("__id"),
        F.col("sent_ix").alias("__idx"),
        F.col("sentence").alias("__sent"),
    ).withColumn("__gh", F.sha2(norm_text(F.col("__sent")), 256))
    win = Window.partitionBy("__gh").orderBy("__id", "__idx")
    marked = staged.withColumn("__rn", F.row_number().over(win))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("__idx"), F.col("__sent"))
    )
    out = (
        marked.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["__sent"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_sents"),
            F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0)).alias("n_dropped"),
        )
        .select(F.col("__id").alias(id_col), "clean_text", "n_sents", "n_dropped")
    )
    return stream._new(out)


def sql_sentence_dedup(table_expr: str, id_col: str, text: str, *,
                       min_chars: int = 1) -> str:
    """DuckDB mirror of :func:`sentence_dedup` (same splitter, same
    sha2-256 normalized-sentence key)."""
    split = sql_split_sentences(table_expr, id_col, text, min_chars=min_chars)
    gh = f"sha256({sql_norm_text('sentence')})"
    return f"""
WITH split AS ({split}), marked AS (
  SELECT {id_col} AS id, sent_ix, sentence,
         row_number() OVER (PARTITION BY {gh}
                            ORDER BY {id_col}, sent_ix) AS rn
  FROM split
)
SELECT id AS {id_col},
       coalesce(string_agg(sentence, ' ' ORDER BY sent_ix)
                FILTER (WHERE rn = 1), '') AS clean_text,
       count(*) AS n_sents,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM marked GROUP BY id
"""


def split_long_docs(stream, id_col: str, text_col: str, *,
                    max_tokens: int, stride: Optional[int] = None):
    """Sliding-window splitting of long documents into overlapping
    training windows — the complement of :func:`pack_sequences` (which
    concatenates SHORT docs up to the context length): a doc with n >
    ``max_tokens`` whitespace tokens emits windows of exactly
    ``max_tokens`` tokens starting every ``stride`` tokens (default:
    ``max_tokens``, i.e. disjoint), with the LAST window clamped to end
    at the document end (every window is full-length; the tail is
    covered by overlap, never emitted short). Docs at or under the
    limit emit themselves as one window. Output: ``id_col``,
    ``win_ix``, ``win_start`` (1-based token offset), ``win_text``.
    NULL, empty, and whitespace-only text emit nothing.

    The window text preserves the ORIGINAL spelling — this is training
    text, not a dedup key, so no case folding (tokens are raw-text
    whitespace splits, deliberately NOT the normalized :func:`tokens`
    helper the hashing operators share); whitespace RUNS inside a
    window collapse to single spaces, the unavoidable cost of
    token-boundary reassembly.

    Scale: pure expression arithmetic (sequence + slice + posexplode)
    fused into the scan — zero shuffles; output row count is
    ceil(n/stride)-ish per doc, the planner sees an ordinary generate.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be > 0, got {max_tokens}")
    step = int(stride) if stride is not None else int(max_tokens)
    if step <= 0 or step > max_tokens:
        raise ValueError(
            f"stride must be in [1, max_tokens], got {stride}"
        )
    m = int(max_tokens)
    raw = F.trim(to_col(text_col))
    toks = F.split(raw, r"\s+")
    n = F.size(toks)
    nw = F.when(n <= m, F.lit(1)).otherwise(
        F.ceil((n - F.lit(m)) / F.lit(float(step))).cast("int") + 1
    )
    def _start(k):
        # clamp BEFORE slicing: a short doc's n−m+1 is ≤ 0, and a
        # negative Spark slice start would count from the END
        return F.greatest(F.least(k * step + 1, n - F.lit(m) + 1), F.lit(1))

    wins = F.transform(
        F.sequence(F.lit(0), nw - 1),
        lambda k: F.struct(
            _start(k).alias("start"),
            F.array_join(F.slice(toks, _start(k), m), " ").alias("txt"),
        ),
    )
    out = (
        # NULL/empty/whitespace-only docs have no tokens to window
        stream.df.filter(F.length(F.trim(to_col(text_col))) > 0)
        .select(
            to_col(id_col).alias(id_col),
            F.posexplode(wins).alias("win_ix", "__w"),
        )
        .select(
            id_col,
            F.col("win_ix").cast("long").alias("win_ix"),
            F.col("__w.start").cast("long").alias("win_start"),
            F.col("__w.txt").alias("win_text"),
        )
    )
    return stream._new(out)


def sql_split_long_docs(table_expr: str, id_col: str, text: str, *,
                        max_tokens: int, stride: Optional[int] = None) -> str:
    """DuckDB mirror of :func:`split_long_docs` (same window starts,
    same clamping)."""
    m = int(max_tokens)
    step = int(stride) if stride is not None else m
    toks = f"string_split_regex(trim({text}), '\\s+')"
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table_expr}
  WHERE {text} IS NOT NULL AND length(trim({text})) > 0
), wind AS (
  SELECT id,
         [{{'start': greatest(least(k*{step} + 1, len(toks) - {m} + 1), 1),
            'txt': array_to_string(
                toks[greatest(least(k*{step} + 1, len(toks) - {m} + 1), 1):
                     greatest(least(k*{step} + 1, len(toks) - {m} + 1), 1)
                     + {m} - 1], ' ')}}
          for k in range(0, CASE WHEN len(toks) <= {m} THEN 1
                         ELSE CAST(ceil((len(toks) - {m})::DOUBLE / {step})
                              AS INT) + 1 END)] AS wins
  FROM base
)
SELECT id AS {id_col},
       CAST(unnest(range(len(wins))) AS BIGINT) AS win_ix,
       CAST(unnest([w.start for w in wins]) AS BIGINT) AS win_start,
       unnest([w.txt for w in wins]) AS win_text
FROM wind
"""


# --------------------------------------------------------------------- #
# budget / quantile data selection
# --------------------------------------------------------------------- #

def epoch_shuffle(stream, id_col: str, *, seed: int = 0, epoch: int = 0,
                  n_shards: Optional[int] = None,
                  alias: str = "shuffle_pos"):
    """Deterministic seeded GLOBAL shuffle order for a training epoch:
    adds ``alias`` = each row's 1-based position in the order
    ``(md5_int31(seed|epoch|id), id)`` — a reproducible uniform
    permutation (new seed or epoch → a fresh, unrelated order; same
    inputs → byte-identical order on any cluster size / partitioning).
    Training pipelines need this where renoir's ``shuffle`` (and
    Spark's ``rand()``) give a NON-reproducible order: a resumed or
    re-run job must see the exact same data order, and an audit must be
    able to answer "which examples were in step N's batch".

    ``n_shards`` additionally assigns ``shard`` = ``(pos − 1) %
    n_shards`` — round-robin by shuffled position, so every shard is a
    uniform sample of the corpus AND the interleaved concatenation of
    shards 0..n−1 replays the exact global order (the standard
    worker-sharding contract).

    Scale: a bare ``row_number() OVER (ORDER BY hash)`` funnels the
    corpus through ONE task; this reuses the distributed zipWithIndex
    (range-partition on the hash so partition ids follow global order,
    number within partitions, broadcast per-partition offsets —
    stream._global_index), so the only single-task step is a
    ≤num_partitions-row offset cumsum."""
    from .stream import _global_index

    h = md5_int31(
        F.concat_ws("|", F.lit(f"es{int(seed)}e{int(epoch)}"),
                    to_col(id_col).cast("string"))
    )
    df = stream.df.withColumn("__esh", h)
    out, cached = _global_index(df, [F.col("__esh"), to_col(id_col)],
                                idx=alias)
    out = out.drop("__esh")
    if n_shards is not None:
        out = out.withColumn(
            "shard", F.pmod(F.col(alias) - 1, F.lit(int(n_shards)))
        )
    return stream._new(out)._retain(cached)


def sql_epoch_shuffle(table_expr: str, id_col: str, cols: str, *,
                      seed: int = 0, epoch: int = 0,
                      n_shards: Optional[int] = None,
                      alias: str = "shuffle_pos") -> str:
    """DuckDB mirror of :func:`epoch_shuffle` — the brute-force global
    window states the truth the distributed zipWithIndex must match."""
    h = sql_md5_int31(
        f"concat_ws('|', 'es{int(seed)}e{int(epoch)}', {id_col}::VARCHAR)"
    )
    shard = (
        f", ({alias} - 1) % {int(n_shards)} AS shard"
        if n_shards is not None else ""
    )
    return f"""
SELECT {cols}, {alias}{shard} FROM (
  SELECT *, row_number() OVER (ORDER BY {h}, {id_col}) AS {alias}
  FROM {table_expr}
)
"""


def take_token_budget(stream, ntok_col: str, budget: int, *, order):
    """Greedy token-budget fill — "give me the best N-billion tokens":
    rows are ranked by ``order`` (a Column/expr that must be a globally
    UNIQUE ascending priority — wrap descending scores as ``-score``
    and tie-break on the id) and kept while the INCLUSIVE running total
    of ``ntok_col`` still fits in ``budget``; the first row that would
    overflow (and everything after) is cut. Rows with a NULL token
    count are dropped up front — they can't be budgeted. Output keeps
    all columns plus ``cum_tokens``.

    Scale: the global ordered prefix sum reuses the skew-proof chunked
    scan under a constant key (KeyedStream.running_sum): range-partition
    on the priority, partition-local JVM window, ≤P-row carry relation
    — no single-partition global window anywhere.
    """
    pruned = stream._new(stream.df.filter(to_col(ntok_col).isNotNull()))
    cum = pruned.key_by(__bk=F.lit(0)).running_sum(
        order, cum_tokens=to_col(ntok_col)
    )
    # derive from cum so running_sum's correctness persist (and every
    # upstream retained frame) is carried exactly once
    return cum._new(cum.df.filter(F.col("cum_tokens") <= budget).drop("__bk"))


def sql_take_token_budget(
    table_expr: str, ntok: str, budget: int, order_sql: str, cols: str
) -> str:
    """DuckDB mirror of :func:`take_token_budget` (HUGEINT window sum
    cast back to BIGINT so the driver's pandas dtypes line up)."""
    return f"""
SELECT {cols}, cum_tokens FROM (
  SELECT *, CAST(sum({ntok}) OVER (ORDER BY {order_sql}
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM {table_expr} WHERE {ntok} IS NOT NULL
) WHERE cum_tokens <= {budget}
"""


def filter_by_score_quantile(
    stream,
    score_col: str,
    lo: float,
    hi: float,
    *,
    exact: bool = True,
    accuracy: int = 10000,
):
    """Quantile-band selection (the CCNet move: keep the middle of the
    quality distribution, drop both tails): keep rows whose score lies
    inside the corpus's [``lo``, ``hi``] quantile band, bounds
    inclusive. NULL scores are dropped.

    ``exact=True`` uses Spark's exact ``percentile`` (bit-identical to
    DuckDB ``quantile_cont`` — the oracle-checkable path, but it
    buffers values in the agg state); ``exact=False`` switches to the
    Greenwald-Khanna ``approx_percentile`` sketch (bounded mergeable
    state, ``accuracy`` dial) — same plan shape, 100 TB-sized state.
    Either way the thresholds are a 1-row aggregate broadcast back over
    the corpus (the fold_scan pattern): one full scan + one map-side
    filter, no shuffle of the data itself.
    """
    v = to_col(score_col)
    df = stream.df.filter(v.isNotNull())
    ps = F.array(F.lit(float(lo)), F.lit(float(hi)))
    agg = df.agg(
        (
            F.percentile(v, ps) if exact
            else F.percentile_approx(v, ps, F.lit(accuracy))
        ).alias("__qs")
    )
    out = (
        df.crossJoin(F.broadcast(agg))
        .filter((v >= F.col("__qs")[0]) & (v <= F.col("__qs")[1]))
        .drop("__qs")
    )
    return stream._new(out)


def sql_filter_by_score_quantile(
    table_expr: str, score: str, lo: float, hi: float, cols: str
) -> str:
    base = f"(SELECT * FROM {table_expr} WHERE {score} IS NOT NULL)"
    return f"""
SELECT {cols} FROM {base} t
WHERE {score} >= (SELECT quantile_cont({score}, {lo}) FROM {base})
  AND {score} <= (SELECT quantile_cont({score}, {hi}) FROM {base})
"""


# --------------------------------------------------------------------- #
# URL canonicalization + URL-keyed dedup (web-crawl hygiene)
# --------------------------------------------------------------------- #

# tracking params stripped during canonicalization (matched against the
# full "key=value" token; key-only flags match via the (=|$) tail)
_TRACK_RE = r"^(utm_[^=&]*|fbclid|gclid|msclkid|mc_eid|igshid|ref)(=.*)?$"
# ccTLD second-level public suffixes where the registered domain is
# three labels (small deliberate subset of the public-suffix list —
# swap in the full list for production crawls)
_SUFFIX3_RE = (
    r"([^.]+\.(?:co|org|ac|gov|com|net|ne|or)"
    r"\.(?:uk|au|jp|in|kr|br|cn|mx|za))$"
)


def canonical_url(col) -> Column:
    """Canonical form of a URL — the key web-crawl dedup joins on.
    Rules (each mirrored bit-exactly by :func:`sql_canonical_url`):
    lowercase scheme and host (never path/query — those are
    case-sensitive); missing scheme defaults to http; default ports
    (:80 http, :443 https) and a leading ``www.`` are stripped;
    trailing path slashes dropped; tracking query params
    (utm_*/fbclid/gclid/msclkid/mc_eid/igshid/ref) removed; surviving
    params sorted; fragment discarded. NULL in → NULL out.

    Pure JVM expression (regex + higher-order array ops) — no UDF, no
    shuffle; whole-stage codegen keeps it in the scan stage.
    """
    u = F.trim(to_col(col))
    scheme0 = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    scheme = F.when(scheme0 == "", F.lit("http")).otherwise(scheme0)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    host0 = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    host = F.regexp_replace(host0, r"^www\.", "")
    pathqf = F.regexp_replace(rest, r"^[^/?#]*", "")
    # fragment goes FIRST: a '?' inside the fragment (#a/b?c=1) must not
    # resurrect fragment text as query params
    pathq = F.regexp_extract(pathqf, r"^([^#]*)", 1)
    path = F.regexp_replace(
        F.regexp_extract(pathq, r"^([^?]*)", 1), r"/+$", ""
    )
    query = F.regexp_extract(pathq, r"\?(.*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACK_RE),
    )
    qsorted = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(F.lit("")),
    )


def sql_canonical_url(expr: str) -> str:
    """DuckDB scalar mirror of :func:`canonical_url` (same regexes, same
    param filter/sort; ``||`` used for NULL propagation — DuckDB's
    ``concat`` swallows NULLs, Spark's propagates)."""
    u = f"trim({expr})"
    scheme0 = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    scheme = f"(CASE WHEN {scheme0} = '' THEN 'http' ELSE {scheme0} END)"
    rest = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    hostport = f"lower(regexp_extract({rest}, '^([^/?#]*)', 1))"
    host0 = (
        f"(CASE WHEN {scheme} = 'http' THEN regexp_replace({hostport}, ':80$', '')"
        f" WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE {hostport} END)"
    )
    host = f"regexp_replace({host0}, '^www\\.', '')"
    pathqf = f"regexp_replace({rest}, '^[^/?#]*', '')"
    pathq = f"regexp_extract({pathqf}, '^([^#]*)', 1)"
    path = (
        f"regexp_replace(regexp_extract({pathq}, '^([^?]*)', 1), '/+$', '')"
    )
    query = f"regexp_extract({pathq}, '\\?(.*)', 1)"
    params = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{_TRACK_RE}'))"
    )
    qsorted = f"array_to_string(list_sort({params}), '&')"
    return (
        f"({scheme} || '://' || {host} || {path} || "
        f"(CASE WHEN {qsorted} <> '' THEN '?' || {qsorted} ELSE '' END))"
    )


def url_host(col) -> Column:
    """Lowercased host of a URL, any port and a leading ``www.``
    stripped (the per-site grouping key for :func:`cap_per_group` —
    unlike the canonical URL, which keeps NON-default ports because
    they are a distinct origin)."""
    u = F.trim(to_col(col))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    return F.regexp_replace(
        F.regexp_replace(hostport, r":[0-9]+$", ""), r"^www\.", ""
    )


def sql_url_host(expr: str) -> str:
    u = f"trim({expr})"
    rest = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    hostport = f"lower(regexp_extract({rest}, '^([^/?#]*)', 1))"
    return (
        f"regexp_replace(regexp_replace({hostport}, ':[0-9]+$', ''), "
        f"'^www\\.', '')"
    )


def url_registered_domain(col) -> Column:
    """Registrable-domain approximation: last two host labels, or three
    when the suffix is a known second-level ccTLD (co.uk, com.au, ...).
    The per-DOMAIN grouping key (finer-than-host crawls: blog.x.co.uk
    and shop.x.co.uk both → x.co.uk)."""
    return _registered_domain_of_host(url_host(col))


def _registered_domain_of_host(h: Column) -> Column:
    """Registrable domain from an ALREADY-EXTRACTED host column — lets
    callers that need both host and domain pay the host regex chain
    once."""
    return F.when(
        h.rlike(_SUFFIX3_RE), F.regexp_extract(h, _SUFFIX3_RE, 1)
    ).otherwise(F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1))


def sql_url_registered_domain(expr: str) -> str:
    h = sql_url_host(expr)
    return (
        f"(CASE WHEN regexp_matches({h}, '{_SUFFIX3_RE}') "
        f"THEN regexp_extract({h}, '{_SUFFIX3_RE}', 1) "
        f"ELSE regexp_extract({h}, '([^.]+\\.[^.]+)$', 1) END)"
    )


def dedup_url(stream, id_col: str, url_col: str):
    """Exact dedup on the canonical URL: for every canonical form keep
    the minimum-id row (deterministic, layout-independent) and report
    how many raw URLs collapsed onto it. THE first dedup pass of every
    crawl pipeline — far cheaper than content dedup and catches the
    bulk (protocol/case/tracking-param/fragment variants of one page).

    Output: ``id_col``, ``canon_url``, ``n_dupes`` (raw rows collapsed,
    including the kept one).

    Scale: canonicalization is map-side; the only wide stage is ONE
    shuffle on the canonical-url key (min-id + count aggregate). Keys
    are page-cardinality — no skew beyond genuinely hot pages.
    """
    df = stream.df
    canon = canonical_url(F.col(url_col))
    out = (
        df.select(to_col(id_col).alias("__id"), canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("__id").alias(id_col), F.count(F.lit(1)).alias("n_dupes"))
        .select(id_col, "canon_url", "n_dupes")
    )
    return stream._new(out)


def sql_dedup_url(table_expr: str, id_col: str, url_col: str) -> str:
    canon = sql_canonical_url(url_col)
    return f"""
SELECT min({id_col}) AS {id_col}, {canon} AS canon_url,
       count(*) AS n_dupes
FROM {table_expr} GROUP BY 2
"""


def _norm_block_entry(s: str) -> str:
    """Normalize a host/domain blocklist entry to the key space
    :func:`url_host` produces: lowercase, any ``:port`` and a leading
    ``www.`` stripped. Real blocklists mix ``WWW.BadSite.com`` spellings
    freely; without this the entry could never match and the page would
    silently survive."""
    import re as _re

    s = str(s).strip().lower()
    s = _re.sub(r":[0-9]+$", "", s)
    return _re.sub(r"^www\.", "", s)


def filter_urls(
    stream,
    url_col: str,
    *,
    block_hosts: Sequence[str] = (),
    block_domains: Sequence[str] = (),
    block_patterns: Sequence[str] = (),
    invert: bool = False,
):
    """URL blocklist filter (crawl hygiene, UT1-blocklist shape): drop
    rows whose URL's host is in ``block_hosts``, whose registrable
    domain is in ``block_domains`` (so ``spam.example`` blocks every
    subdomain), or whose raw URL matches any regex in
    ``block_patterns`` (Java∩RE2 dialect). Host/domain entries are
    normalized (case/port/``www.``) before matching, so raw-list
    spellings like ``WWW.BadSite.com`` block what a user expects.
    ``invert=True`` keeps ONLY the blocked rows (audit mode). Rows with
    a NULL URL are always dropped — an unvettable page has no place in
    a training corpus.

    Scale: pure map-side expression filter — the literal lists inline
    into the plan, so this suits in-code lists up to a few thousand
    entries. For production blocklists (UT1 adult alone is ~4M hosts)
    use :func:`filter_urls_against`, which broadcasts a blocklist
    relation instead.
    """
    u = to_col(url_col)
    host = url_host(u)  # shared by both list checks: one regex chain
    blocked = F.lit(False)
    if block_hosts:
        blocked = blocked | host.isin(*[_norm_block_entry(h) for h in block_hosts])
    if block_domains:
        blocked = blocked | _registered_domain_of_host(host).isin(
            *[_norm_block_entry(d) for d in block_domains]
        )
    for p in block_patterns:
        blocked = blocked | u.rlike(p)
    keep = blocked if invert else ~blocked
    return stream._new(
        stream.df.filter(u.isNotNull() & F.coalesce(keep, F.lit(False)))
    )


def sql_filter_urls(
    table_expr: str,
    url_col: str,
    cols: str,
    *,
    block_hosts: Sequence[str] = (),
    block_domains: Sequence[str] = (),
    block_patterns: Sequence[str] = (),
    invert: bool = False,
) -> str:
    """DuckDB mirror of :func:`filter_urls` (same host/domain regexes)."""
    def _lit(s: str) -> str:
        return "'" + str(s).replace("'", "''") + "'"

    parts = ["FALSE"]
    if block_hosts:
        parts.append(
            f"{sql_url_host(url_col)} IN ("
            + ", ".join(_lit(_norm_block_entry(h)) for h in block_hosts) + ")"
        )
    if block_domains:
        parts.append(
            f"{sql_url_registered_domain(url_col)} IN ("
            + ", ".join(_lit(_norm_block_entry(d)) for d in block_domains) + ")"
        )
    for p in block_patterns:
        parts.append(f"regexp_matches({url_col}, {_lit(p)})")
    blocked = "(" + " OR ".join(parts) + ")"
    keep = blocked if invert else f"(NOT {blocked})"
    return (
        f"SELECT {cols} FROM {table_expr} "
        f"WHERE {url_col} IS NOT NULL AND coalesce({keep}, FALSE)"
    )


def filter_urls_against(stream, blocklist, url_col: str, *, by: str = "domain"):
    """URL blocklist filter against a RELATION of blocked keys: a column
    named ``host`` or ``domain`` (matching ``by``) must exist in the
    blocklist — anything else raises, because keying an anti-join on
    the wrong column blocks nothing and tells no one. Blocklist values
    are normalized IN the plan (lowercase, ``:port`` and leading
    ``www.`` stripped) so raw production lists match the canonical key
    :func:`url_host` extracts. Broadcast anti-join — the corpus never
    shuffles, the blocklist ships once per executor: the right shape
    for production-size lists (UT1-scale, millions of hosts ≈ tens of
    MB hashed), far beyond any sane ``isin`` literal. NULL URLs are
    dropped, matching :func:`filter_urls`.
    """
    if by not in ("host", "domain"):
        raise ValueError(f"by must be 'host' or 'domain', got {by!r}")
    key = url_host(url_col) if by == "host" else url_registered_domain(url_col)
    bdf = blocklist.df if hasattr(blocklist, "df") else blocklist
    if by not in bdf.columns:
        raise ValueError(
            f"blocklist has no {by!r} column (columns: {bdf.columns}); "
            f"name the key column after the 'by' mode to make the join "
            f"key explicit"
        )
    bkey = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(F.col(by))), r":[0-9]+$", ""),
        r"^www\.", "",
    )
    out = (
        stream.df.filter(to_col(url_col).isNotNull())
        .withColumn("__ukey", key)
        .join(
            # no distinct: anti-join is existence-only, so duplicate
            # blocklist keys are harmless and deduping would add the
            # relation's only exchange
            F.broadcast(bdf.select(bkey.alias("__ukey"))),
            "__ukey",
            "left_anti",
        )
        .drop("__ukey")
    )
    return stream._new(out)


# --------------------------------------------------------------------- #
# BPE tokenizer training (learned merges) + application
# --------------------------------------------------------------------- #

def bpe_train(stream, text_col: str, *, num_merges: int = 50,
              min_pair_count: int = 2, checkpoint_every: int = 8):
    """Learn a byte-pair-encoding merge table FROM the corpus with Spark
    aggregations — the tokenizer-training step of an LLM data pipeline
    (Sennrich et al. 2016 word-level BPE; the algorithm is public
    knowledge, re-derived here with deterministic tie-breaks so reruns
    and the pure-Python reference in tests agree exactly).

    Returns a Stream of ``(rank, left, right, pair_count)`` — merge
    rules in learned order (rank 0 first). Deterministic: the winning
    pair each round is max by (count desc, left asc, right asc).

    Scale shape: the corpus is scanned ONCE into a word-frequency
    relation (vocabulary-sized — orders of magnitude smaller than the
    corpus, the same relation TF-IDF broadcasts); every merge round then
    runs on that relation only: one explode+sum pair count (map-side
    partials, pair-cardinality shuffle), a 1-row driver argmax (bounded
    collect, the k-means-seed discipline), and a pure-JVM left-fold
    rewrite of each word's symbol array (``F.aggregate`` — replace-last
    IS greedy leftmost merging, since a merged symbol can never equal
    its own left half). Lineage is cut every ``checkpoint_every`` rounds
    (the iteration-loop discipline) so round N's plan never replays
    rounds 1..N-1.

    Symbol convention: a word splits into characters plus a trailing
    ``</w>`` end-of-word symbol (so merges can learn word-final units);
    pairs never cross word boundaries.
    """
    df = stream.df
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(text_col)).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    vocab = words.select(
        "__f",
        F.concat(
            # split(w, '') yields CODE POINTS (a lookahead-regex split
            # cuts astral chars — emoji, math symbols — into lone
            # surrogates that serialize as '?', corrupting learned
            # merges and never matching bpe_segment's Python list(word))
            F.expr("split(__w, '')"), F.array(F.lit("</w>"))
        ).alias("__syms"),
    ).localCheckpoint(eager=True)
    # loop hygiene (same contract as iteration._materialize): each eager
    # checkpoint supersedes the previous one, so release the old blocks —
    # otherwise a long-lived session accumulates num_merges /
    # checkpoint_every cached relations per bpe_train call
    prev_ckpt = vocab

    merges = []
    for rank in range(num_merges):
        # a fully-merged word (one symbol) has no pairs — and must not
        # reach the index expression: Spark's sequence(1, 0) steps DOWN
        pairs = (
            vocab.filter(F.size("__syms") >= 2).select(
                "__f",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__syms) - 1), "
                        "i -> struct(element_at(__syms, i) AS a, "
                        "element_at(__syms, i + 1) AS b))"
                    )
                ).alias("__p"),
            )
            .groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
            .agg(F.sum("__f").alias("cnt"))
            .filter(F.col("cnt") >= min_pair_count)
        )
        top = pairs.orderBy(
            F.desc("cnt"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["cnt"]
        merges.append((rank, a, b, cnt))
        la, lb = F.lit(a), F.lit(b)
        merged = F.aggregate(
            "__syms",
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la)
                & (s == lb),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(la, lb)),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        vocab = vocab.select("__f", merged.alias("__syms"))
        if (rank + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
            # the new checkpoint holds the data (eager) — the prior
            # round's blocks are unreachable now, release them for real
            # (Dataset.unpersist does NOT free checkpoint blocks; see
            # util.free_local_checkpoint)
            free_local_checkpoint(prev_ckpt)
            prev_ckpt = vocab

    # the merge table lives on the driver; no plan references vocab
    # after this point, so the final checkpoint's blocks go too
    free_local_checkpoint(prev_ckpt)
    out = spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )
    return stream._new(out)


def bpe_segment(stream, text_col: str, merge_rows: Sequence, *,
                alias: str = "bpe_tokens"):
    """Apply a learned BPE merge table (rows from :func:`bpe_train`) to
    every document: adds ``alias`` = the array of BPE tokens.

    The merge table broadcasts as a plain rank dict; application runs in
    an Arrow-batched pandas stage that encodes each DISTINCT word once
    per batch (memoized — the classic tokenizer fast path: corpus token
    cost is amortized over the Zipf head) with the standard
    lowest-rank-first merge loop. Concatenating the output tokens (and
    stripping ``</w>``) reconstructs the normalized words exactly —
    pinned by a round-trip test."""
    ranks = {(r["left"], r["right"]): int(r["rank"]) for r in merge_rows}
    bc = stream.df.sparkSession.sparkContext.broadcast(ranks)

    out_cols = stream.df.columns + [alias]

    def _encode_word(word: str, rk: dict, cache: dict) -> list:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            best = None
            for i in range(len(syms) - 1):
                r = rk.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best[0]):
                    best = (r, i)
            if best is None:
                break
            # merge EVERY occurrence of the winning pair, leftmost-first
            a, b = syms[best[1]], syms[best[1] + 1]
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            syms = ns
        if len(cache) >= 200_000:
            # bound the per-task memo (Zipf head stays amortized; an
            # unbounded dict over web-scale distinct words — typos,
            # URLs, numbers — would grow with the slice, not the head)
            cache.pop(next(iter(cache)))
        cache[word] = syms
        return syms

    def _apply(batches):
        drop_spark_zip_finders()
        import pandas as pd

        rk = bc.value
        cache: dict = {}
        for pdf in batches:
            toks = []
            for text in pdf["__norm"]:
                if text is None or text == "":
                    toks.append([])
                    continue
                enc = []
                for w in text.split(" "):
                    if w:
                        enc.extend(_encode_word(w, rk, cache))
                toks.append(enc)
            pdf = pdf.drop(columns=["__norm"])
            pdf[alias] = toks
            yield pdf

    base = stream.df.withColumn("__norm", norm_text(text_col))
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in stream.df.schema.fields
    ) + f", `{alias}` array<string>"
    return stream._new(base.mapInPandas(_apply, schema).select(*out_cols))


def upsample_epochs(stream, id_col: str, group_col: str,
                    epochs: Dict[str, float], *, salt: str = "epoch",
                    default_epochs: float = 1.0):
    """Fractional-epoch corpus mixing — "2.5 epochs of code, 0.5 of
    web": every row in group ``g`` is emitted ``floor(e_g)`` times plus
    one extra copy kept with probability ``frac(e_g)``, decided by the
    salted hash of ``(id, copy_index)`` — deterministic, retry-stable,
    and layout-independent (the same doc gets the same copies on every
    run and any partitioning). The output gains an ``epoch_ix`` column
    (0-based copy index) so downstream shuffles/packing see distinct
    rows. ``e < 1`` degrades gracefully into fractional downsampling;
    ``e = 0`` removes the group.

    This is the UPSAMPLING complement of :func:`rebalance_mix` (which
    only downsamples toward target shares): LLM data mixes are quoted
    in epochs per source, and >1 epochs of a small high-quality domain
    cannot be expressed as a keep-fraction.

    Scale shape: the epoch map rides as a literal; the plan is a pure
    map-side ``explode(sequence(0, floor(e)))`` + hash filter — ZERO
    shuffles, no count pass, output size = sum_g(n_g * e_g) exactly in
    expectation. The fractional gate compares the 31-bit hash against
    ``frac * P`` as a DOUBLE on both engines (no long-cast, whose
    truncate-vs-round divergence between Spark and DuckDB would bite
    exactly at the boundary).
    """
    for g, e in epochs.items():
        if e < 0:
            raise ValueError(f"upsample_epochs: negative epochs for {g!r}: {e}")
    if default_epochs < 0:
        raise ValueError("upsample_epochs: negative default_epochs")
    df = stream.df
    if epochs:
        emap = F.map_from_arrays(
            F.array(*[F.lit(k) for k in epochs]),
            F.array(*[F.lit(float(v)) for v in epochs.values()]),
        )
        e = F.coalesce(emap[to_col(group_col)], F.lit(float(default_epochs)))
    else:
        # empty map literal has VOID key type and cannot be probed —
        # "default epochs for every group" is just the constant
        e = F.lit(float(default_epochs))
    h = md5_int31(
        F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string"),
                    F.col("epoch_ix").cast("string"))
    )
    out = (
        df.withColumn("__e", e)
        .withColumn(
            # long sequence: DuckDB's unnest(range(...)) is BIGINT and
            # the driver compare is pandas-dtype-faithful
            "epoch_ix",
            F.explode(F.sequence(F.lit(0).cast("long"), F.floor("__e"))),
        )
        .filter(
            (F.col("epoch_ix") < F.floor("__e"))
            | (h < F.round(F.col("__e") - F.floor("__e"), 9) * F.lit(float(MINHASH_P)))
        )
        .drop("__e")
    )
    return stream._new(out)


def sql_upsample_epochs(table_expr: str, id_col: str, group_col: str,
                        epochs: Dict[str, float], cols: str, *,
                        salt: str = "epoch",
                        default_epochs: float = 1.0) -> str:
    h = sql_md5_int31(
        f"concat_ws('|', '{salt}', {id_col}::VARCHAR, epoch_ix::VARCHAR)"
    )
    if epochs:
        pairs = ", ".join(f"('{k}', {float(v)})" for k, v in epochs.items())
        b = f"""
WITH em(g, e) AS (VALUES {pairs}),
b AS (
  SELECT t.*, CAST(coalesce(em.e, {float(default_epochs)}) AS DOUBLE) AS __e
  FROM {table_expr} t LEFT JOIN em ON t.{group_col} = em.g
)"""
    else:
        b = f"""
WITH b AS (
  SELECT t.*, CAST({float(default_epochs)} AS DOUBLE) AS __e
  FROM {table_expr} t
)"""
    return f"""{b}, x AS (
  SELECT b.*, unnest(range(0, CAST(floor(__e) AS INT) + 1)) AS epoch_ix
  FROM b
)
SELECT {cols}, epoch_ix FROM x
WHERE epoch_ix < floor(__e)
   OR {h} < round(__e - floor(__e), 9) * {MINHASH_P}
"""


# --------------------------------------------------------------------- #
# DSIR — data selection via importance resampling
# --------------------------------------------------------------------- #

def _dsir_occ(df, text_col: str, id_col, *, n_buckets: int,
              ngram: int):
    """Per-document hashed n-gram feature occurrences: (doc id, bucket)
    with one row per gram OCCURRENCE (multiplicity kept), buckets =
    md5_int31(gram) % n_buckets over all 1..ngram word grams.
    ``id_col=None`` emits a constant id — for distribution-only sides
    (e.g. the DSIR target corpus) that need no id column at all."""
    idc = F.lit(0) if id_col is None else to_col(id_col)
    base = df.select(idc.alias("__id"), tokens(text_col).alias("__toks"))

    def _grams_of(n):
        # closure factory: a default-arg lambda would read as binary to
        # PySpark's higher-order-function arity inspection. The
        # size-guard mirrors shingles_from / the SQL CASE: a doc with
        # fewer than n tokens contributes NO n-grams (an unguarded
        # descending sequence feeds element_at invalid indices and
        # aborts the job on any one-word document).
        joined = F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("__toks"), i + j)
                       for j in range(n)]
            ),
        )
        return F.when(F.size("__toks") >= n, joined).otherwise(
            F.array().cast("array<string>")
        )

    gram_arrays = [
        F.col("__toks") if n == 1 else _grams_of(n)
        for n in range(1, ngram + 1)
    ]
    grams = F.concat(*gram_arrays) if len(gram_arrays) > 1 else gram_arrays[0]
    return (
        base.withColumn("__grams", grams)
        .select("__id", F.explode("__grams").alias("__g"))
        .select("__id", (md5_int31(F.col("__g")) % F.lit(n_buckets)).alias("__b"))
    )


def dsir_weights(stream, target, text_col: str, id_col: str, *,
                 n_buckets: int = 4096, ngram: int = 2, lam: float = 1.0,
                 target_text_col: str = None, alias: str = "dsir_logw"):
    """Per-document DSIR log importance weight — Data Selection via
    Importance Resampling (Xie et al. 2023, public knowledge): hashed
    n-gram bucket counts define a target distribution ``p_t`` (over the
    ``target`` corpus) and a raw distribution ``p_r`` (over this
    stream); each raw document scores ``Σ_g ln(p_t[b(g)] / p_r[b(g)])``
    over its gram occurrences, with add-``lam`` smoothing on both
    distributions. High scores = looks like the target domain. Rounded
    to 6 decimals; documents with no tokens are omitted (the
    :func:`word_entropy` convention).

    Plan shape: both distribution passes are wordcount-shaped (one
    bucket shuffle each, ≤ ``n_buckets`` result rows); the per-(doc,
    bucket) counts join the bucket model on a build side bounded by
    ``n_buckets`` (broadcast under AQE); per-doc terms are summed in
    canonical sorted order (sort_array + left fold ≡ DuckDB
    list_sum(list_sort(...))) — the q93 float discipline. Nothing here
    is corpus × corpus, and the model never exceeds ``n_buckets`` rows
    no matter the corpus size.
    """
    tcol = target_text_col or text_col
    # spread both sides to core parallelism when the scans carry too
    # few partitions: the n-gram explode + per-gram md5 is the heavy
    # per-row work and otherwise runs at scan width (no-op at scale)
    raw_occ = _dsir_occ(_spread_for_compute(stream.df), text_col, id_col,
                        n_buckets=n_buckets, ngram=ngram)
    # the target side only feeds a bucket distribution — no id needed,
    # so an external reference corpus without id_col works as target
    tgt_occ = _dsir_occ(_spread_for_compute(target.df), tcol, None,
                        n_buckets=n_buckets, ngram=ngram)
    # ONE explode pass per side: the per-(doc, bucket) counts are the
    # finest aggregate, so the bucket totals DERIVE from them (sum of
    # counts ≡ count of occurrences) — unpersisted, the raw explode
    # chain ran once under the model build and again under the per-doc
    # scoring, and each tiny total re-ran its side's chain too. The
    # persisted relations are bounded: (doc × distinct buckets) rows
    # for cdb, ≤ n_buckets rows for tgt_ct.
    cdb = (
        raw_occ.groupBy("__id", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist()
    )
    raw_ct = cdb.groupBy("__b").agg(F.sum("__c").alias("__cr"))
    tgt_ct = (
        tgt_occ.groupBy("__b").agg(F.count(F.lit(1)).alias("__ct"))
        .persist()
    )
    raw_n = raw_ct.agg(F.sum("__cr").alias("__nr"))
    tgt_n = tgt_ct.agg(
        F.coalesce(F.sum("__ct"), F.lit(0)).alias("__nt")
    )
    lamB = float(lam) * n_buckets
    model = (
        raw_ct.join(tgt_ct, "__b", "left")
        .crossJoin(F.broadcast(raw_n))
        .crossJoin(F.broadcast(tgt_n))
        .select(
            "__b",
            (
                F.log((F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(float(lam)))
                      / (F.col("__nt") + F.lit(lamB)))
                - F.log((F.col("__cr") + F.lit(float(lam)))
                        / (F.col("__nr") + F.lit(lamB)))
            ).alias("__lr"),
        )
    )
    out = (
        # the model is ≤ n_buckets rows BY CONSTRUCTION — broadcast it
        # explicitly rather than relying on AQE's runtime conversion
        cdb.join(F.broadcast(model), "__b")
        .select("__id", (F.col("__c") * F.col("__lr")).alias("__t"))
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("__t")).alias("__ts"))
        .select(
            F.col("__id").alias(id_col),
            F.round(
                F.aggregate("__ts", F.lit(0.0), lambda a, x: a + x), 6
            ).alias(alias),
        )
    )
    return stream._new(out)._retain(cdb, tgt_ct)


def dsir_select(stream, target, text_col: str, id_col: str, k: int, *,
                n_buckets: int = 4096, ngram: int = 2, lam: float = 1.0,
                target_text_col: str = None, salt: str = "dsir0"):
    """DSIR selection: resample ``k`` documents from this stream WITHOUT
    replacement, with inclusion probability ∝ exp(log importance
    weight) — the Gumbel-top-k equivalence (key = logw − ln(−ln u),
    public knowledge), which stays in log space so thousand-term
    documents can't overflow ``exp``. ``u`` derives from the salted id
    hash (deterministic, retry-stable) and the key is rounded to 6
    decimals with an id tie-break — the A-Res discipline of
    :func:`sample_weighted_k`. Documents with no tokens never sample.

    Returns the selected rows with their ``dsir_logw`` attached.

    Scale: :func:`dsir_weights`' bounded-model passes + one broadcast-
    sized join of the weight relation back to the stream + global
    top-k (TakeOrdered: per-partition partial top-k, no full sort).
    """
    w = dsir_weights(stream, target, text_col, id_col,
                     n_buckets=n_buckets, ngram=ngram, lam=lam,
                     target_text_col=target_text_col)
    df = stream.df.join(w.df, id_col)
    h = md5_int31(F.concat_ws("|", F.lit(salt), to_col(id_col).cast("string")))
    u = (h + F.lit(1)).cast("double") / F.lit(float(MINHASH_P + 1))
    key = F.round(F.col("dsir_logw") - F.log(-F.log(u)), 6)
    out = (
        df.withColumn("__k", key)
        .orderBy(F.col("__k").desc(), to_col(id_col).asc())
        .limit(k)
        .drop("__k")
    )
    return stream._new(out)._retain(*w._retained)


def _sql_dsir_occ(table_expr: str, text: str, id_col: str, *,
                  n_buckets: int, ngram: int, tag: str) -> str:
    toks = sql_tokens(text)
    gram_lists = []
    for n in range(1, ngram + 1):
        if n == 1:
            gram_lists.append("toks")
        else:
            gram_lists.append(
                f"CASE WHEN len(toks) >= {n} THEN "
                f"[array_to_string(toks[i:i+{n - 1}], ' ') "
                f"for i in range(1, len(toks) - {n - 2})] ELSE [] END"
            )
    grams = (
        " || ".join(gram_lists) if len(gram_lists) > 1 else gram_lists[0]
    )
    return f"""toked_{tag} AS (
  SELECT {id_col} AS __id, {toks} AS toks FROM {table_expr}
), occ_{tag} AS (
  SELECT __id, ({sql_md5_int31('g')}) % {n_buckets} AS b
  FROM (SELECT __id, unnest({grams}) AS g FROM toked_{tag})
)"""


def sql_dsir_weights(raw_expr: str, target_expr: str, text: str,
                     id_col: str, *, n_buckets: int = 4096,
                     ngram: int = 2, lam: float = 1.0,
                     alias: str = "dsir_logw") -> str:
    """DuckDB mirror of :func:`dsir_weights` (same hash, same buckets,
    same smoothing, same canonical-order sum)."""
    lamB = float(lam) * n_buckets
    return f"""
WITH {_sql_dsir_occ(raw_expr, text, id_col, n_buckets=n_buckets,
                    ngram=ngram, tag='r')},
{_sql_dsir_occ(target_expr, text, id_col, n_buckets=n_buckets,
               ngram=ngram, tag='t')},
raw_ct AS (SELECT b, count(*) AS cr FROM occ_r GROUP BY b),
tgt_ct AS (SELECT b, count(*) AS ct FROM occ_t GROUP BY b),
raw_n AS (SELECT sum(cr) AS nr FROM raw_ct),
tgt_n AS (SELECT coalesce(sum(ct), 0) AS nt FROM tgt_ct),
model AS (
  SELECT raw_ct.b,
         ln((coalesce(ct, 0) + {float(lam)}) / (nt + {lamB}))
         - ln((cr + {float(lam)}) / (nr + {lamB})) AS lr
  FROM raw_ct LEFT JOIN tgt_ct ON raw_ct.b = tgt_ct.b, raw_n, tgt_n
),
cdb AS (SELECT __id, b, count(*) AS c FROM occ_r GROUP BY 1, 2)
SELECT __id AS {id_col},
       round(list_sum(list_sort(list(c * lr))), 6) AS {alias}
FROM cdb JOIN model ON cdb.b = model.b
GROUP BY 1
"""


def sql_dsir_select(raw_expr: str, target_expr: str, text: str,
                    id_col: str, k: int, cols: str, *,
                    n_buckets: int = 4096, ngram: int = 2,
                    lam: float = 1.0, salt: str = "dsir0") -> str:
    """DuckDB mirror of :func:`dsir_select`."""
    w = sql_dsir_weights(raw_expr, target_expr, text, id_col,
                         n_buckets=n_buckets, ngram=ngram, lam=lam)
    h = sql_md5_int31(f"concat_ws('|', '{salt}', t.{id_col}::VARCHAR)")
    u = f"(({h}) + 1)::DOUBLE / {float(MINHASH_P + 1)}"
    return f"""
SELECT {cols}, dsir_logw FROM {raw_expr} t
JOIN ({w}) w ON t.{id_col} = w.{id_col}
ORDER BY round(dsir_logw - ln(-ln({u})), 6) DESC, t.{id_col} ASC
LIMIT {k}
"""


# --------------------------------------------------------------------- #
# Naive-Bayes classifier filter (train + score inside the engine)
# --------------------------------------------------------------------- #

def nb_classify(stream, labeled, text_col: str, id_col: str,
                label_col: str, *, n_buckets: int = 4096,
                ngram: int = 1, pred_alias: str = "pred",
                score_alias: str = "score"):
    """Multinomial Naive Bayes over hashed n-gram buckets — TRAINED on
    the ``labeled`` stream and SCORING this stream, entirely inside the
    engine (the classifier-filter pattern of CCNet / the GPT-3 quality
    filter, public knowledge, with an oracle-checkable model instead of
    an external fasttext binary). Per class ``c``: prior ``ln(docs_c /
    docs)``; likelihood ``ln((ct[c,b] + 1) / (N_c + n_buckets))`` with
    add-1 smoothing over bucket counts. Each scored document gets the
    argmax class and its score (rounded to 6 decimals; ties break to
    the lexicographically smallest class). Documents with no tokens are
    omitted (the :func:`word_entropy` convention); labeled rows with a
    NULL label are ignored.

    Scale: training is one wordcount-shaped pass over the labeled set
    (model ≤ n_buckets × |classes| rows — bounded, explicit broadcast);
    scoring expands per-(doc, bucket) counts by |classes| (a broadcast
    cross of the tiny class relation), sums terms in canonical sorted
    order (the q93 float discipline), and takes the per-doc argmax with
    ONE window shuffle on the doc id. Nothing is corpus × corpus.
    """
    ldf = labeled.df.filter(to_col(label_col).isNotNull())
    lab_occ = _dsir_occ(ldf, text_col, id_col,
                        n_buckets=n_buckets, ngram=ngram)
    lab_ids = ldf.select(
        to_col(id_col).alias("__id"), to_col(label_col).alias("__cls")
    )
    occ_c = lab_occ.join(lab_ids, "__id")
    # one labeled-side explode pass: the per-(class, bucket) counts are
    # the finest aggregate — per-class totals DERIVE from them (sum of
    # counts ≡ count of occurrences); ct is ≤ n_buckets × |classes|
    # rows by construction, so the persist is bounded
    ct = (
        occ_c.groupBy("__cls", "__b")
        .agg(F.count(F.lit(1)).alias("__ct"))
        .persist()
    )
    nc = ct.groupBy("__cls").agg(F.sum("__ct").alias("__nc"))
    docs_c = lab_ids.groupBy("__cls").agg(F.count(F.lit(1)).alias("__dc"))
    total = lab_ids.agg(F.count(F.lit(1)).alias("__dt"))
    classes = (
        docs_c.crossJoin(F.broadcast(total))
        .join(nc, "__cls", "left")
        .select(
            "__cls",
            F.log(F.col("__dc").cast("double") / F.col("__dt")).alias("__prior"),
            F.coalesce(F.col("__nc"), F.lit(0)).alias("__nc"),
        )
    )
    cdb = (
        _dsir_occ(stream.df, text_col, id_col,
                  n_buckets=n_buckets, ngram=ngram)
        .groupBy("__id", "__b").agg(F.count(F.lit(1)).alias("__c"))
    )
    terms = (
        # classes is |classes| rows; ct is ≤ n_buckets × |classes| —
        # both bounded by construction, both explicitly broadcast
        cdb.crossJoin(F.broadcast(classes))
        .join(F.broadcast(ct), ["__cls", "__b"], "left")
        .select(
            "__id", "__cls", "__prior",
            (F.col("__c")
             * F.log((F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(1))
                     .cast("double")
                     / (F.col("__nc") + F.lit(n_buckets)).cast("double"))
             ).alias("__t"),
        )
    )
    scored = (
        terms.groupBy("__id", "__cls", "__prior")
        .agg(F.sort_array(F.collect_list("__t")).alias("__ts"))
        .select(
            "__id", "__cls",
            F.round(
                F.col("__prior")
                + F.aggregate("__ts", F.lit(0.0), lambda a, x: a + x), 6,
            ).alias("__s"),
        )
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("__s").desc(), F.col("__cls").asc()
    )
    out = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__id").alias(id_col),
            F.col("__cls").alias(pred_alias),
            F.col("__s").alias(score_alias),
        )
    )
    return stream._new(out)._retain(ct)


def sql_nb_classify(score_expr: str, labeled_expr: str, text: str,
                    id_col: str, label_col: str, *,
                    n_buckets: int = 4096, ngram: int = 1,
                    pred_alias: str = "pred",
                    score_alias: str = "score") -> str:
    """DuckDB mirror of :func:`nb_classify` (same hash, same buckets,
    same smoothing, same canonical-order sum, same tie-break)."""
    return f"""
WITH {_sql_dsir_occ(f"(SELECT * FROM {labeled_expr} l WHERE l.{label_col} IS NOT NULL)",
                    text, id_col, n_buckets=n_buckets, ngram=ngram,
                    tag='l')},
{_sql_dsir_occ(score_expr, text, id_col, n_buckets=n_buckets,
               ngram=ngram, tag='s')},
lab_ids AS (
  SELECT {id_col} AS __id, {label_col} AS cls FROM {labeled_expr}
  WHERE {label_col} IS NOT NULL
),
occ_c AS (SELECT o.__id, cls, b FROM occ_l o JOIN lab_ids USING (__id)),
ct AS (SELECT cls, b, count(*) AS ct FROM occ_c GROUP BY 1, 2),
nc AS (SELECT cls, count(*) AS nc FROM occ_c GROUP BY 1),
docs_c AS (SELECT cls, count(*) AS dc FROM lab_ids GROUP BY 1),
total AS (SELECT count(*) AS dt FROM lab_ids),
classes AS (
  SELECT docs_c.cls, ln(dc::DOUBLE / dt) AS prior,
         coalesce(nc, 0) AS nc
  FROM docs_c LEFT JOIN nc ON docs_c.cls = nc.cls, total
),
cdb AS (SELECT __id, b, count(*) AS c FROM occ_s GROUP BY 1, 2),
terms AS (
  SELECT __id, classes.cls, prior,
         c * ln((coalesce(ct, 0) + 1)::DOUBLE / (nc + {n_buckets})) AS t
  FROM cdb CROSS JOIN classes
  LEFT JOIN ct ON ct.cls = classes.cls AND ct.b = cdb.b
),
scored AS (
  SELECT __id, cls,
         round(prior + list_sum(list_sort(list(t))), 6) AS s
  FROM terms GROUP BY 1, 2, prior
),
ranked AS (
  SELECT __id, cls, s,
         row_number() OVER (PARTITION BY __id
                            ORDER BY s DESC, cls ASC) AS rn
  FROM scored
)
SELECT __id AS {id_col}, cls AS {pred_alias}, s AS {score_alias}
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------- #
# Dataset card: one-call corpus report
# --------------------------------------------------------------------- #

def corpus_report(stream, id_col: str, text_col: str, *,
                  exact_median: bool = True,
                  features_col: Optional[str] = None,
                  phash_bits: Optional[int] = None):
    """One-call dataset card: a ``(metric string, value double)`` frame
    with the numbers every corpus release ships — size (docs/tokens,
    mean and exact-median doc length), hygiene (exact-duplicate rate on
    the normalized content hash, Gopher-gate pass rate, fraction of
    docs containing any PII pattern) and the heuristic language mix
    (one ``lang_share:<lang>`` row per predicted language). Composes
    the verified primitives (:func:`quality_gopher`, shared
    ``PII_PATTERNS``, :func:`renoir_spark.datapipe.lang_id`,
    ``norm_text``) rather than re-deriving any of them.

    Scale: two corpus scans — the gopher-staged pass feeds ONE global
    aggregate (count-distinct of the 64-char content hash is the only
    key shuffle; everything else is map-side partials), and the
    language pass is a ≤|langs|-row groupBy whose share window runs on
    that tiny aggregate. Output is ~a dozen rows at any corpus size.
    The one non-map-side-partial term: the exact median buffers a
    value→count map on the final reducer, bounded by DISTINCT doc
    token-length values (≤ max doc length, NOT by doc count — fine up
    to million-token docs). ``exact_median=False`` swaps in the
    fixed-state ``percentile_approx`` GK sketch — the same dial as
    :func:`filter_by_score_quantile`'s ``exact=`` — for corpora whose
    length domain is unbounded; the DuckDB mirror covers the exact
    default (sketch internals are engine-specific).

    ``features_col=`` extends the card to a MULTIMODAL corpus: two more
    rows, ``media_decoded_rate`` (fraction of items with non-empty
    decoded features) and ``phash_dup_rate`` (1 − distinct perceptual
    signatures / decoded items — the Hamming-0 media analog of
    ``exact_dup_rate``, same count-distinct-of-a-hash shape in the SAME
    aggregate pass; banded near-dup rates stay
    :func:`~renoir_spark.datapipe.dedup_phash`'s job — a self-join has
    no place inside a two-scan report). ``phash_bits`` auto-dials to
    the narrowest codec width like dedup_phash."""
    import functools as _ft
    import operator as _op

    from .datapipe import lang_id, norm_text

    # project to (id, text) first so the report works on ANY input
    # schema — the gopher stage appends q_* columns, which would
    # collide if the caller's frame already carries them (e.g. a
    # curated output that kept q_tokens)
    keep_cols = [to_col(id_col).alias(id_col),
                 to_col(text_col).alias(text_col)]
    if features_col is not None:
        keep_cols.append(to_col(features_col).alias(features_col))
    narrow_df = stream.df.select(*keep_cols)
    if features_col is not None:
        # the input is typically a Python decode stage; without a cache
        # the report's two scans (the gopher-staged aggregate and the
        # language pass) would each re-run the WHOLE codec, and a
        # bits probe would add a third decode. One narrow cache
        # (id, text, features) = decode once, released with the stream.
        narrow_df = narrow_df.persist()
    narrow = stream._new(narrow_df)
    g = quality_gopher(narrow, text_col).df
    pii_hit = _ft.reduce(
        _op.or_, [to_col(text_col).rlike(p) for p in PII_PATTERNS.values()]
    )
    staged_cols = [
        F.col("q_tokens").alias("__n"),
        F.col("q_keep").cast("int").alias("__k"),
        F.sha2(norm_text(to_col(text_col)), 256).alias("__h"),
        pii_hit.cast("int").alias("__p"),
    ]
    if features_col is not None:
        from .datapipe import phash_expr

        if phash_bits is None:
            probe = (  # reads the narrow cache — no extra decode pass
                narrow_df.select(F.size(to_col(features_col)).alias("n"))
                .filter(F.col("n") > 0)
                .agg(F.min("n").alias("n")).collect()
            )
            n_feat = probe[0]["n"]
            phash_bits = min(int(n_feat), 62) if n_feat is not None else 8
        has = (to_col(features_col).isNotNull()
               & (F.size(to_col(features_col)) > 0))
        staged_cols.append(has.cast("int").alias("__m"))
        staged_cols.append(
            F.when(has, phash_expr(to_col(features_col), phash_bits))
            .alias("__ph")
        )
    staged = g.select(*staged_cols)
    p50 = (
        F.percentile("__n", F.lit(0.5))
        if exact_median
        # GK sketch: fixed state regardless of the length domain
        else F.percentile_approx("__n", F.lit(0.5)).cast("double")
    )
    agg_cols = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("total_tokens"),
        F.round(F.avg("__n"), 6).alias("mean_doc_tokens"),
        p50.alias("p50_doc_tokens"),
        F.round(
            F.lit(1) - F.countDistinct("__h")
            / F.nullif(F.count(F.lit(1)), F.lit(0)), 6
        ).alias("exact_dup_rate"),
        F.round(F.avg("__k"), 6).alias("gopher_pass_rate"),
        F.round(F.avg("__p"), 6).alias("pii_doc_rate"),
    ]
    stack_rows = [
        "'n_docs', cast(n_docs as double)",
        "'total_tokens', cast(total_tokens as double)",
        "'mean_doc_tokens', mean_doc_tokens",
        "'p50_doc_tokens', cast(p50_doc_tokens as double)",
        "'exact_dup_rate', exact_dup_rate",
        "'gopher_pass_rate', gopher_pass_rate",
        "'pii_doc_rate', pii_doc_rate",
    ]
    if features_col is not None:
        agg_cols.append(
            F.round(F.avg("__m"), 6).alias("media_decoded_rate"))
        agg_cols.append(F.round(
            F.lit(1) - F.countDistinct("__ph")
            / F.nullif(F.count("__ph"), F.lit(0)), 6
        ).alias("phash_dup_rate"))
        stack_rows.append("'media_decoded_rate', media_decoded_rate")
        stack_rows.append("'phash_dup_rate', phash_dup_rate")
    agg = staged.agg(*agg_cols)
    scalars = agg.select(F.expr(
        f"stack({len(stack_rows)}, " + ", ".join(stack_rows)
        + ") as (metric, value)"
    ))
    from pyspark.sql.window import Window as _W

    langs = (
        lang_id(narrow, text_col).df
        .groupBy("pred_lang").agg(F.count(F.lit(1)).alias("__c"))
        .select(
            F.concat(F.lit("lang_share:"), F.col("pred_lang")).alias("metric"),
            F.round(
                F.col("__c") / F.sum("__c").over(_W.partitionBy()), 6
            ).alias("value"),
        )
    )
    out = stream._new(scalars.unionByName(langs))
    if features_col is not None:
        out._retain(narrow_df)
    return out


def sql_corpus_report(table_expr: str, id_col: str, text: str, *,
                      fs_exprs=None, phash_bits: int = 0) -> str:
    """DuckDB mirror of :func:`corpus_report`. ``fs_exprs`` (a list of
    SQL expressions recomputing the decoded feature array per row —
    the ORACLE_QA44 fake-codec convention) plus ``phash_bits`` mirror
    the ``features_col=`` extension: the same left-fold mean, the same
    bit packing, the same count-distinct dup rate. A row whose
    ``fs_exprs`` all evaluate NULL counts as UNDECODED (m=0, ph NULL),
    mirroring the Python side's ``isNotNull & size > 0`` guard — so a
    fake codec may model decode failure by emitting all-NULL features.
    Requires ``0 < phash_bits <= len(fs_exprs)``."""
    from .datapipe import sql_lang_id, sql_norm_text

    if fs_exprs is not None:
        if not 0 < phash_bits <= len(list(fs_exprs)):
            raise ValueError(
                f"sql_corpus_report: phash_bits={phash_bits} must be in "
                f"(0, len(fs_exprs)={len(list(fs_exprs))}] — a larger "
                "value would index past the fs list (silent NULL "
                "propagation in DuckDB), zero would generate invalid SQL"
            )

    gopher = sql_quality_gopher(table_expr, text, f"{id_col}, {text}")
    pii = " OR ".join(
        f"regexp_matches({text}, '{p.replace(chr(39), chr(39) * 2)}')"
        for p in PII_PATTERNS.values()
    )
    lang = sql_lang_id(table_expr, text, id_col)
    media_cte = ""
    media_rows = ""
    if fs_exprs is not None:
        fs = ", ".join(f"({e})::FLOAT" for e in list(fs_exprs)[:phash_bits])
        total = "0.0::DOUBLE"
        for j in range(phash_bits):
            total = f"({total} + fs[{j + 1}]::DOUBLE)"
        bit_terms = " + ".join(
            f"(CASE WHEN fs[{j + 1}]::DOUBLE >= mean THEN {1 << j}"
            " ELSE 0 END)"
            for j in range(phash_bits)
        )
        media_cte = f""", mstats AS (
  SELECT round(avg(m), 6) AS media_decoded_rate,
         round(1 - count(DISTINCT ph) / nullif(count(ph), 0), 6)
           AS phash_dup_rate
  FROM (
    SELECT dec AS m,
           CASE WHEN dec = 1 THEN ({bit_terms})::BIGINT END AS ph
    FROM (
      SELECT fs, {total} / len(fs) AS mean,
             CASE WHEN len(list_filter(fs, x -> x IS NOT NULL)) > 0
                  THEN 1 ELSE 0 END AS dec
      FROM (SELECT [{fs}] AS fs FROM {table_expr})
    )
  )
)"""
        media_rows = (
            "\n  UNION ALL SELECT 'media_decoded_rate',"
            " media_decoded_rate FROM mstats"
            "\n  UNION ALL SELECT 'phash_dup_rate', phash_dup_rate"
            " FROM mstats"
        )
    return f"""
WITH staged AS (
  SELECT q_tokens AS n, q_keep::INT AS k,
         sha256({sql_norm_text(text)}) AS h,
         ({pii})::INT AS p
  FROM ({gopher})
), stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         round(avg(n), 6) AS mean_doc_tokens,
         quantile_cont(n, 0.5) AS p50_doc_tokens,
         round(1 - count(DISTINCT h) / nullif(count(*), 0), 6)
           AS exact_dup_rate,
         round(avg(k), 6) AS gopher_pass_rate,
         round(avg(p), 6) AS pii_doc_rate
  FROM staged
), lang_rows AS (
  SELECT 'lang_share:' || pred_lang AS metric,
         round(count(*) / (SELECT count(*) FROM ({lang})), 6) AS value
  FROM ({lang}) GROUP BY pred_lang
){media_cte}
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, n_docs::DOUBLE AS value FROM stats
  UNION ALL SELECT 'total_tokens', total_tokens::DOUBLE FROM stats
  UNION ALL SELECT 'mean_doc_tokens', mean_doc_tokens FROM stats
  UNION ALL SELECT 'p50_doc_tokens', p50_doc_tokens::DOUBLE FROM stats
  UNION ALL SELECT 'exact_dup_rate', exact_dup_rate FROM stats
  UNION ALL SELECT 'gopher_pass_rate', gopher_pass_rate FROM stats
  UNION ALL SELECT 'pii_doc_rate', pii_doc_rate FROM stats
  UNION ALL SELECT metric, value FROM lang_rows{media_rows}
)
"""
