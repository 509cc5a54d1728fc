"""The public API surface: the method names of the four user-facing
classes are pinned, and the operator families are bound straight from
their modules, so each method shows the operator's own signature and
docstring instead of a ``**kw`` forwarder."""

import ast
import importlib
import inspect
import pydoc
from pathlib import Path

import pytest

from renoir_spark import KeyedStream, Stream, StreamContext, WindowedStream
from renoir_spark import datapipe, iteration, multimodal

PKG = Path(__file__).resolve().parent.parent / "renoir_spark"

# public (no leading underscore) names from dir(), sorted
PUBLIC = {
    "Stream": """
        add_timestamps align_filter align_score ann_cosine ann_index_build
        approx_distinct_kmv asof_join assign_split assign_split_by_group
        batch_mode bigram_logprob bm25_rank bpe_segment bpe_train broadcast
        cache cap_per_group chunk_dedup chunk_dedup_cdc collect_all
        collect_cache collect_channel collect_count collect_vec collect_vec_all
        containment_pairs_exact contaminated_ngrams corpus_diff corpus_overlap
        corpus_overlap_kmv corpus_report decode_audio decode_image decode_media
        decontaminate_embedding dedup_against dedup_against_bloom
        dedup_cluster_exact dedup_cluster_minhash dedup_embedding
        dedup_embedding_ivf dedup_exact dedup_index_build dedup_minhash
        dedup_phash dedup_phash_against dedup_simhash dedup_url
        dedup_video_phash diversity_sample drop_common_chunks drop_timestamps
        dsir_select dsir_weights duplicate_span_fraction embed_text
        epoch_shuffle explain filter filter_by_score_quantile filter_map
        filter_urls filter_urls_against fim_transform fingerprint_winnow
        flat_map flatten fold fold_assoc fold_py fold_scan for_each group_by
        group_by_avg group_by_count group_by_count_distinct group_by_cube
        group_by_fold group_by_max_element group_by_min_element
        group_by_quantiles group_by_reduce group_by_rollup group_by_sum
        heavy_hitters hybrid_search incremental_rebuild inspect interval_join
        iterate join join_salted join_with key_by lang_id left_join limit
        longest_duplicate_span map map_async map_async_memo_by map_batches
        map_memo map_rows materialize merge mine_contrastive_pairs minhash_pairs
        nb_classify outer_join pack_binary pack_sequences phash_index_build
        pii_redact quality_gopher rebalance_mix reduce reduce_assoc reduce_scan
        reorder repartition_by repetition_stats replay replication resize_image
        rich_filter_map rich_flat_map rich_map_batches rich_map_custom route
        sample_fraction sample_frames sample_stratified sample_weighted
        sample_weighted_k sentence_dedup shard_by_tokens shuffle
        similar_pairs_exact similar_pairs_ngram sorted_by sorted_limit_by split
        split_by_hash split_leakage split_long_docs split_sentences
        take_token_budget temperature_mix text_stats tfidf_top_terms to_view
        token_count unigram_logprob unique_assoc unique_assoc_by_key unpersist
        upsample_epochs window_all with_column with_columns word_entropy
        write_avro write_csv write_csv_seq write_json write_kafka write_parquet
        write_parquet_sorted write_table_bucketed write_training_shards zip
    """,
    "KeyedStream": """
        asof_join avg collect_vec count delta_iterate drop_key filter flat_map
        fold fold_py fold_scan interval_join join join_outer map max max_element
        min min_element reduce reduce_scan rich_map running_sum sum to_stream
        unkey window
    """,
    "StreamContext": """
        ann_index compact_parquet dedup_index execute from_df phash_index sql
        stream_avro stream_binary stream_channel stream_csv stream_file
        stream_iter stream_json stream_kafka stream_par_iter stream_parquet
        stream_parquet_unbounded stream_range stream_rate stream_table
    """,
    "WindowedStream": """
        count first fold last map max min sum to_vec window_join
    """,
}


@pytest.mark.parametrize(
    "cls", [Stream, KeyedStream, StreamContext, WindowedStream],
    ids=lambda c: c.__name__,
)
def test_public_names_are_pinned(cls):
    got = sorted(n for n in dir(cls) if not n.startswith("_"))
    assert got == PUBLIC[cls.__name__].split()


@pytest.mark.parametrize("cls, name, module, keywords", [
    (Stream, "dedup_minhash", datapipe,
     ["num_hashes", "bands", "shingle_n", "threshold", "bucket_cap"]),
    (Stream, "iterate", iteration, ["adaptive", "shuffle_partitions"]),
    (Stream, "replay", iteration, ["adaptive", "shuffle_partitions"]),
    (Stream, "decode_image", multimodal, ["n_features", "columns"]),
    (Stream, "sample_frames", multimodal, ["num_frames", "n_features"]),
    (KeyedStream, "delta_iterate", iteration,
     ["adaptive", "shuffle_partitions"]),
])
def test_bound_operator_shows_its_own_keywords(cls, name, module, keywords):
    meth = getattr(cls, name)
    assert meth is getattr(module, name)
    params = inspect.signature(meth).parameters
    for kw in keywords:
        assert params[kw].kind is inspect.Parameter.KEYWORD_ONLY
    assert not any(p.kind is p.VAR_KEYWORD for p in params.values())
    doc = pydoc.render_doc(meth)
    assert all(kw in doc for kw in keywords)


def test_misspelled_keyword_raises_type_error():
    # argument binding fails before the body runs, so no Spark is needed
    s = Stream(None, None)
    with pytest.raises(TypeError, match="num_hashs"):
        s.dedup_minhash("text", "id", num_hashs=8)
    with pytest.raises(TypeError, match="adaptiv"):
        s.iterate(1, None, None, None, adaptiv=True)


def _forwarded_function(method: ast.FunctionDef):
    """The function a method only forwards to, else None: a body of a
    function-local ``from .m import f`` and ``return f(self, ...)`` that
    passes nothing but the method's own parameters."""
    body = method.body
    if body and isinstance(body[0], ast.Expr) and isinstance(
        body[0].value, ast.Constant
    ):
        body = body[1:]
    if len(body) != 2:
        return None
    imp, ret = body
    if not (isinstance(imp, ast.ImportFrom) and imp.level == 1
            and imp.module and len(imp.names) == 1):
        return None
    alias = imp.names[0].asname or imp.names[0].name
    call = ret.value if isinstance(ret, ast.Return) else None
    if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Name)
            and call.func.id == alias and call.args
            and isinstance(call.args[0], ast.Name)
            and call.args[0].id == "self"):
        return None
    a = method.args
    own = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
    own |= {p.arg for p in (a.vararg, a.kwarg) if p is not None}
    passed = [x.value if isinstance(x, ast.Starred) else x
              for x in call.args[1:]] + [k.value for k in call.keywords]
    if not all(isinstance(x, ast.Name) and x.id in own for x in passed):
        return None
    mod = importlib.import_module(f".{imp.module}", "renoir_spark")
    target = getattr(mod, imp.names[0].name)
    # a class target (join_with -> JoinBuilder) cannot be bound as an
    # attribute: it would not receive self
    return target if inspect.isfunction(target) else None


@pytest.mark.parametrize("module, cls", [
    ("stream", "Stream"), ("keyed", "KeyedStream"),
])
def test_no_method_only_forwards_to_a_module_function(module, cls):
    tree = ast.parse((PKG / f"{module}.py").read_text())
    node = next(n for n in tree.body
                if isinstance(n, ast.ClassDef) and n.name == cls)
    forwarders = [
        f.name for f in node.body
        if isinstance(f, ast.FunctionDef) and _forwarded_function(f)
    ]
    assert forwarders == [], (
        f"bind these as `name = module.name` class attributes: {forwarders}"
    )
