"""Multimodal columns — image/audio/video as opaque binary + typed metadata.

Design (north star): media travels as a ``binary`` column plus typed
metadata; decode / feature-extract / resize / frame-sample are Arrow-batched
``mapInPandas`` stages so the *Spark-side plumbing* — schema evolution,
partition preservation, UDF signature, batch shape — is real and tested at
any scale.

DECODERS ARE STUBBED: this container has no image/audio libraries, so each
default codec first tries the real library (PIL / soundfile) and otherwise
falls back to a clearly-marked DETERMINISTIC FAKE derived from the bytes'
md5 — stable across runs and engines, useless for real pixels. Production
swap-in is a CONFIG CALL, not a refactor: ``register_codec("image", fn)``
installs a real decoder into the codec registry and every decode stage
built afterwards ships it to the executors; the dataflow around the codec
does not change (contract-tested in tests/test_multimodal.py).

Scale notes: ``binaryFile`` scans split per file (small-file storms should
be packed into parquet with a binary column first — ``pack_binary`` below);
decode stages are pure per-row map work (no shuffle), so executors scale
linearly; frame sampling explodes rows but bounds the factor by
``num_frames``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_SCHEMA = (
    "width int, height int, channels int, format string, features array<float>"
)
AUDIO_SCHEMA = (
    "sample_rate int, n_samples int, duration_s float, features array<float>"
)

_N_FEATURES = 8


def _md5_floats(data: bytes, n: int, salt: str = "") -> list:
    """Deterministic pseudo-features from content bytes (the FAKE path).

    Formula chosen to be SQL-MIRRORABLE: digest the blob once, then
    derive feature i from the ASCII string ``"{salt}:{i}:{hexdigest}"``
    — a DuckDB oracle recomputes it with plain VARCHAR md5 as
    ``md5(salt || ':' || i || ':' || md5(text))`` when the blob is the
    UTF-8 encoding of a text column (the suite's stand-in for media
    bytes; DuckDB 1.0 has no BLOB md5). qa44's oracle recomputes the
    perceptual hash from exactly this."""
    d0 = hashlib.md5(data).hexdigest()
    return [
        int.from_bytes(
            hashlib.md5(f"{salt}:{i}:{d0}".encode()).digest()[:4], "big"
        ) / 2**32
        for i in range(n)
    ]


def _decode_image_fake(data: bytes, n_features: int = _N_FEATURES) -> dict:
    h = hashlib.md5(data).digest()
    return {
        "width": 16 + h[0] % 64,
        "height": 16 + h[1] % 64,
        "channels": 3,
        "format": "fake",
        "features": _md5_floats(data, n_features, "img"),
    }


def _decode_image(data: bytes, n_features: int = _N_FEATURES) -> dict:
    try:  # pragma: no cover - library not present in this container
        from PIL import Image  # noqa: F401
        import io

        img = Image.open(io.BytesIO(data))
        # n_features = the downsampled grayscale grid (n/2 × 2) — the
        # aHash/pHash input; 8 → 4×2, 64 → 32×2
        small = img.convert("L").resize((max(n_features // 2, 1), 2))
        px = list(small.getdata())
        return {
            "width": img.width,
            "height": img.height,
            "channels": len(img.getbands()),
            "format": (img.format or "unknown").lower(),
            "features": [float(p) / 255.0 for p in px],
        }
    except ImportError:
        return _decode_image_fake(data, n_features)


def _decode_audio(data: bytes) -> dict:
    try:  # pragma: no cover - library not present in this container
        import io

        import soundfile as sf

        wav, rate = sf.read(io.BytesIO(data))
        n = len(wav)
        step = max(n // _N_FEATURES, 1)
        feats = [float(abs(wav[i * step : (i + 1) * step]).mean()) for i in range(_N_FEATURES)]
        return {
            "sample_rate": int(rate),
            "n_samples": n,
            "duration_s": float(n / rate),
            "features": feats,
        }
    except ImportError:
        h = hashlib.md5(data).digest()
        rate = 8000 * (1 + h[2] % 6)
        n = 1000 + int.from_bytes(h[3:6], "big") % 100000
        return {
            "sample_rate": rate,
            "n_samples": n,
            "duration_s": float(n / rate),
            "features": _md5_floats(data, _N_FEATURES, "aud"),
        }


# ------------------------------------------------------------------ #
# Codec registry — the production swap-in seam.
#
# The decode stages look codecs up HERE at plan-build time, so swapping
# a real decoder in is one registration call, not a refactor:
#
#     from renoir_spark import multimodal
#     multimodal.register_codec("image", my_pil_decoder)
#
# A codec is a plain picklable callable shipped to the executors inside
# the Arrow stage's closure:
#   image(data: bytes) -> {width:int, height:int, channels:int,
#                          format:str, features:list[float]}
#   audio(data: bytes) -> {sample_rate:int, n_samples:int,
#                          duration_s:float, features:list[float]}
#   frame(data: bytes, idx: int) -> list[float]   (per sampled frame)
# The defaults are the library-or-deterministic-fake functions above —
# honest stand-ins in a container without media libraries.
# ------------------------------------------------------------------ #

def _default_frame(data: bytes, idx: int,
                   n_features: int = _N_FEATURES) -> list:
    return _md5_floats(data, n_features, "frm%d" % int(idx))


def _embed_text_fake(text: str, n_features: int = _N_FEATURES) -> list:
    """Deterministic fake TEXT-TOWER encoder for the joint image-text
    space (the CLIP stand-in). The fake "joint embedding space" maps
    CONTENT to a point: it shares the ``"img"`` salt with the image
    fake, so the caption whose bytes equal its image's content embeds
    to the SAME vector (cosine 1.0 — aligned) while any other caption
    lands at an unrelated md5 point (~chance cosine — misaligned).
    That gives the alignment gate a real signal to test and a
    SQL-mirrorable formula (the qa44 fake-codec convention: feature i
    = md5('img:' || i || ':' || md5(caption))). A production CLIP
    text tower swaps in via ``register_codec("text_embed", fn)``."""
    return _md5_floats(text.encode("utf-8"), n_features, "img")


_CODEC_KEYS = {
    "image": ("width", "height", "channels", "format", "features"),
    "audio": ("sample_rate", "n_samples", "duration_s", "features"),
    "frame": None,
    "text_embed": None,
}
_DEFAULT_CODECS = {
    "image": _decode_image,
    "audio": _decode_audio,
    "frame": _default_frame,
    "text_embed": _embed_text_fake,
}
_codecs = dict(_DEFAULT_CODECS)


def register_codec(kind: str, fn) -> None:
    """Install a real decoder for ``kind`` ("image" | "audio" |
    "frame"). Applies to decode stages built AFTER the call (the codec
    is captured into the Arrow stage's closure at plan-build time)."""
    if kind not in _DEFAULT_CODECS:
        raise ValueError(
            f"register_codec: unknown kind {kind!r} "
            f"(expected one of {sorted(_DEFAULT_CODECS)})"
        )
    if not callable(fn):
        raise TypeError("register_codec: codec must be callable")
    _codecs[kind] = fn


def get_codec(kind: str):
    return _codecs[kind]


def reset_codecs() -> None:
    """Restore the default (library-or-fake) codecs."""
    _codecs.update(_DEFAULT_CODECS)


def _bind_n_features(codec, n_features: Optional[int]):
    """Forward ``n_features`` to codecs that accept it (the defaults
    do); a production codec without the kwarg keeps its plain
    ``codec(data)`` contract untouched."""
    if n_features is None:
        return codec
    import inspect

    try:
        params = inspect.signature(codec).parameters
    except (TypeError, ValueError):  # builtins / C callables
        return codec
    if "n_features" not in params:
        return codec
    n = int(n_features)
    return lambda data: codec(data, n_features=n)


def _check_columns(have, columns, op: str) -> None:
    """Fail fast on a ``columns=`` name absent from the input schema:
    the keep-list filters by membership, so a typo'd name would just
    vanish from the output and resurface as a confusing
    unresolved-column error in a select far downstream (ADVICE round
    10)."""
    if columns is None:
        return
    unknown = sorted(set(columns) - set(have))
    if unknown:
        raise ValueError(
            f"{op}: columns= names not in the input schema: {unknown} "
            f"(have: {sorted(have)})"
        )


def decode_image(stream, content_col: str = "content", out_col: str = "image",
                 *, n_features: Optional[int] = None,
                 columns: Optional[list] = None):
    """binary → ``struct<width, height, channels, format, features>`` via
    Arrow-batched mapInPandas. No shuffle; partitioning preserved.

    ``n_features`` sizes the decoded feature grid when the codec
    supports it (the default codecs do; a real pHash pipeline wants
    ≥ 48 so :func:`renoir_spark.datapipe.dedup_phash` gets a bandable
    signature — 8 features = 2-bit bands = the quadratic band trap at
    corpus scale, measured in docs/SCALING.md).

    ``columns`` (optional): the INPUT columns to keep in the output
    (decoded fields are always appended). Default keeps every column —
    but an Arrow stage is opaque, so a downstream select cannot stop
    the media bytes from being serialized Python→JVM and back; callers
    that only need ids + decoded evidence should pass the narrow list
    (guide §4: control the columns crossing the boundary BOTH ways —
    measured 0.50 → 0.39 s per decode pass at sf0.1 text-sized blobs;
    the factor grows with real media sizes)."""
    fields = ", ".join(
        f"{out_col}_{f.split()[0]} {f.split(maxsplit=1)[1]}"
        for f in IMAGE_SCHEMA.split(", ")
    )
    _check_columns(stream.df.columns, columns, "decode_image")
    keep = (
        [f for f in stream.df.schema.fields]
        if columns is None
        else [f for f in stream.df.schema.fields if f.name in set(columns)]
    )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in keep
    ) + ", " + fields
    out_names = [f.name for f in keep]

    codec = _bind_n_features(get_codec("image"), n_features)  # plan-build

    def _batches(batches: Iterator) -> Iterator:
        for pdf in batches:
            decoded = [codec(bytes(b)) for b in pdf[content_col]]
            out = pdf[out_names].copy() if columns is not None else pdf
            for k in ("width", "height", "channels", "format", "features"):
                out[f"{out_col}_{k}"] = [d[k] for d in decoded]
            yield out

    return stream._new(stream.df.mapInPandas(_batches, schema))


def decode_audio(stream, content_col: str = "content", out_col: str = "audio"):
    """binary → ``struct<sample_rate, n_samples, duration_s, features>``."""
    fields = ", ".join(
        f"{out_col}_{f.split()[0]} {f.split(maxsplit=1)[1]}"
        for f in AUDIO_SCHEMA.split(", ")
    )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in stream.df.schema.fields
    ) + ", " + fields

    codec = get_codec("audio")  # captured at plan-build time

    def _batches(batches: Iterator) -> Iterator:
        for pdf in batches:
            decoded = [codec(bytes(b)) for b in pdf[content_col]]
            for k in ("sample_rate", "n_samples", "duration_s", "features"):
                pdf[f"{out_col}_{k}"] = [d[k] for d in decoded]
            yield pdf

    return stream._new(stream.df.mapInPandas(_batches, schema))


def decode_media(stream, content_col: str = "content", *, image: bool = True,
                 audio: bool = True):
    """Fused image + audio decode in ONE Arrow pass. The content column
    is the heavy payload; chaining decode_image().decode_audio() ships
    it through Python twice — at scale the serialization of the bytes
    dominates the decode stub, so fusing the decoders halves the Arrow
    traffic over the binary column."""
    fields = []
    if image:
        fields += [
            f"image_{f.split()[0]} {f.split(maxsplit=1)[1]}"
            for f in IMAGE_SCHEMA.split(", ")
        ]
    if audio:
        fields += [
            f"audio_{f.split()[0]} {f.split(maxsplit=1)[1]}"
            for f in AUDIO_SCHEMA.split(", ")
        ]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in stream.df.schema.fields
    ) + ", " + ", ".join(fields)

    img_codec = get_codec("image") if image else None
    aud_codec = get_codec("audio") if audio else None

    def _batches(batches: Iterator) -> Iterator:
        for pdf in batches:
            blobs = [bytes(b) for b in pdf[content_col]]
            if image:
                dec = [img_codec(b) for b in blobs]
                for k in ("width", "height", "channels", "format", "features"):
                    pdf[f"image_{k}"] = [d[k] for d in dec]
            if audio:
                dec = [aud_codec(b) for b in blobs]
                for k in ("sample_rate", "n_samples", "duration_s", "features"):
                    pdf[f"audio_{k}"] = [d[k] for d in dec]
            yield pdf

    return stream._new(stream.df.mapInPandas(_batches, schema))


def resize_image(stream, *, width: int, height: int, prefix: str = "image"):
    """Declares the resize: rewrites the metadata columns and re-derives
    features deterministically (REAL resize goes in the same slot once a
    codec exists). Pure projection — stays in codegen."""
    return stream._new(
        stream.df.withColumns(
            {
                f"{prefix}_width": F.lit(width),
                f"{prefix}_height": F.lit(height),
                f"{prefix}_features": F.transform(
                    F.col(f"{prefix}_features"),
                    lambda x: F.round(x * F.lit(float(width * height) / 1024.0), 6),
                ),
            }
        )
    )


def sample_frames(stream, content_col: str = "content", *, num_frames: int = 4,
                  out_col: str = "frame", n_features: Optional[int] = None,
                  columns: Optional[list] = None):
    """Video → one row per sampled frame (frame index + per-frame
    features). The explode factor is bounded by ``num_frames``; frame
    decode itself is the stubbed step. ``n_features`` sizes the frame
    feature grid when the codec supports it (the default does) — the
    decode_image contract, needed for bandable per-frame phashes.

    ``columns`` (optional): the INPUT columns to keep in the output
    (frame fields are always appended) — the :func:`decode_image`
    projection contract. This is usually the LAST Python stage of a
    media chain, so without it the video bytes are serialized
    Python→JVM ``num_frames`` times on the return trip just to be
    dropped by the next select (guide §4.1: control the columns
    crossing the boundary BOTH ways)."""
    _check_columns(stream.df.columns, columns, "sample_frames")
    keep = (
        list(stream.df.schema.fields)
        if columns is None
        else [f for f in stream.df.schema.fields if f.name in set(columns)]
    )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in keep
    ) + f", {out_col}_idx int, {out_col}_features array<float>"
    out_names = [f.name for f in keep]

    codec = get_codec("frame")  # captured at plan-build time
    if n_features is not None:
        import inspect

        try:
            if "n_features" in inspect.signature(codec).parameters:
                inner, nf = codec, int(n_features)
                codec = lambda data, i: inner(data, i, n_features=nf)
        except (TypeError, ValueError):
            pass

    def _batches(batches: Iterator) -> Iterator:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            # row-block repeat, not per-row dict building (iterrows paid
            # ~python-object cost per cell; repeat is one vectorized copy)
            rep = pdf.loc[pdf.index.repeat(num_frames)].reset_index(drop=True)
            idxs = np.tile(np.arange(num_frames), len(pdf))
            out = rep[out_names].copy() if columns is not None else rep
            out[f"{out_col}_idx"] = idxs.astype("int32")
            out[f"{out_col}_features"] = [
                codec(bytes(b), int(i))
                for b, i in zip(rep[content_col], idxs)
            ]
            yield out

    return stream._new(stream.df.mapInPandas(_batches, schema))


# ------------------------------------------------------------------ #
# Image-text alignment gate (the CLIP-score quality filter)
# ------------------------------------------------------------------ #

def embed_text(stream, text_col: str = "caption",
               out_col: str = "text_embedding", *,
               n_features: Optional[int] = None):
    """Caption → joint-space embedding ``array<float>`` via the
    ``"text_embed"`` registry codec (Arrow-batched mapInPandas — the
    decode_image plumbing applied to the text tower; a production CLIP
    text encoder swaps in with ``register_codec("text_embed", fn)``
    and batches over the Arrow rows it is handed). NULL caption →
    NULL embedding (no evidence to embed — the decode-stage NULL
    convention). No shuffle; partitioning preserved."""
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in stream.df.schema.fields
    ) + f", {out_col} array<float>"

    codec = _bind_n_features(get_codec("text_embed"), n_features)

    def _batches(batches: Iterator) -> Iterator:
        for pdf in batches:
            pdf[out_col] = [
                None if t is None else codec(str(t))
                for t in pdf[text_col]
            ]
            yield pdf

    return stream._new(stream.df.mapInPandas(_batches, schema))


def align_score(stream, text_vec_col: str = "text_embedding",
                media_vec_col: str = "image_features",
                out_col: str = "align_cos"):
    """Rounded cosine between the caption's joint-space embedding and
    the media features — the CLIP-score column (Radford et al.,
    public knowledge). Pure JVM expression (the shared zero-safe
    ``datapipe._cosine``): stays in whole-stage codegen, no Python, no
    shuffle. NULL on either side propagates NULL (no evidence — the
    gate drops those rows, it does not score them 0). CONTRACT: both
    vectors must have the same length (``zip_with`` pads a shorter
    side with NULL, which NULLs the score — size ``embed_text``'s
    ``n_features`` to the decode width)."""
    from .datapipe import _cosine

    return stream._new(
        stream.df.withColumn(
            out_col, _cosine(F.col(text_vec_col), F.col(media_vec_col))
        )
    )


def align_filter(stream, *, text_col: str = "caption",
                 features_col: str = "image_features",
                 min_cos: Optional[float] = None,
                 lo: Optional[float] = None, hi: Optional[float] = None,
                 n_features: Optional[int] = None,
                 score_col: str = "align_cos", exact: bool = True):
    """The image-text alignment GATE — the LAION-style "does the
    caption match the image" filter every multimodal corpus ships
    through: embed the caption into the joint space
    (:func:`embed_text`), score each pair with the CLIP-shape cosine
    (:func:`align_score`), then keep rows by an absolute threshold
    (``min_cos``) and/or the corpus-relative quantile band
    (``lo``/``hi`` — :func:`renoir_spark.prep.filter_by_score_quantile`,
    the CCNet middle-band move applied to alignment). NULL scores
    (missing caption or undecoded media) are dropped by either form.

    Scale: one Arrow pass for the text tower + codegen cosine +
    map-side filter — ZERO data shuffles; the quantile form adds only
    a 1-row aggregate broadcast (exact percentile, or the GK sketch
    with ``exact=False`` at unbounded scale). ``n_features`` must
    match the decode width (the :func:`align_score` contract).
    The score column rides along in the output for downstream
    curation/reporting.

    Reference parity: beyond-reference (renoir has no multimodal
    quality gate); composition follows the qa44 fake-codec pattern —
    deterministic fakes here, ``register_codec("text_embed", ...)``
    for a real CLIP tower, mirrored bit-exactly by
    :func:`sql_align_filter`."""
    if min_cos is None and lo is None:
        raise ValueError(
            "align_filter: pass min_cos and/or a (lo, hi) quantile band"
        )
    scored = align_score(
        embed_text(stream, text_col, "__temb", n_features=n_features),
        "__temb", features_col, score_col,
    )
    out = scored._new(scored.df.drop("__temb"))
    out = out._new(out.df.filter(F.col(score_col).isNotNull()))
    if min_cos is not None:
        out = out._new(
            out.df.filter(F.col(score_col) >= F.lit(float(min_cos)))
        )
    if lo is not None:
        from .prep import filter_by_score_quantile

        out = filter_by_score_quantile(
            out, score_col, float(lo),
            1.0 if hi is None else float(hi), exact=exact,
        )
    return out


def sql_fake_features(content_expr: str, n: int, salt: str = "img") -> list:
    """The qa44 fake-codec convention as a reusable list of SQL
    expressions: feature i = first-4-bytes of
    md5('{salt}:' || i || ':' || md5(content)) / 2^32 — exactly
    :func:`_md5_floats` when the blob is the UTF-8 encoding of
    ``content_expr`` (DuckDB's VARCHAR md5 of a string equals the
    Python md5 of its UTF-8 bytes)."""
    return [
        f"('0x' || substr(md5('{salt}:' || {i} || ':' || "
        f"md5({content_expr})), 1, 8))::BIGINT / 4294967296.0"
        for i in range(n)
    ]


def sql_align_filter(table_expr: str, text_expr: str, caption_expr: str,
                     cols: str, *, n_features: int,
                     min_cos: Optional[float] = None,
                     lo: Optional[float] = None,
                     hi: Optional[float] = None) -> str:
    """DuckDB mirror of :func:`align_filter` under the default fake
    codecs: recompute both towers' md5 features (image from
    ``text_expr`` — the suite's text-bytes-as-image-blob convention —
    text from ``caption_expr``), the same zero-safe rounded cosine
    (``SQL_COS``), the same threshold / quantile-band selection."""
    from .datapipe import SQL_COS, SQL_NORM, SQL_DOT

    img = ", ".join(f"({e})::FLOAT" for e in
                    sql_fake_features(text_expr, n_features))
    txt = ", ".join(f"({e})::FLOAT" for e in
                    sql_fake_features(caption_expr, n_features))
    cos = SQL_COS.format(
        dot=SQL_DOT.format(a="iv", b="tv"),
        na=SQL_NORM.format(a="iv"), nb=SQL_NORM.format(a="tv"),
    )
    preds = ["align_cos IS NOT NULL"]
    if min_cos is not None:
        preds.append(f"align_cos >= {float(min_cos)}")
    base = f"""(
  SELECT *, {cos} AS align_cos FROM (
    SELECT *, [{img}] AS iv,
           CASE WHEN ({caption_expr}) IS NOT NULL THEN [{txt}] END AS tv
    FROM {table_expr}
  )
)"""
    where = " AND ".join(preds)
    if lo is None:
        return f"SELECT {cols} FROM {base} t WHERE {where}"
    hi_v = 1.0 if hi is None else float(hi)
    kept = f"(SELECT * FROM {base} t WHERE {where})"
    return f"""
SELECT {cols} FROM {kept} t
WHERE align_cos >= (SELECT quantile_cont(align_cos, {float(lo)}) FROM {kept})
  AND align_cos <= (SELECT quantile_cont(align_cos, {hi_v}) FROM {kept})
"""


def dedup_video_phash(
    stream,
    id_col: str,
    content_col: str = "content",
    *,
    num_frames: int = 4,
    min_matching_frames: int = 3,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    bucket_cap: Optional[int] = None,
):
    """VIDEO near-duplicate dedup: sample ``num_frames`` frames per
    item (the codec registry's frame decoder — deterministic fake here,
    a real keyframe extractor in production), perceptual-hash each
    frame, and call two items near-duplicates when ≥
    ``min_matching_frames`` ALIGNED frames (same sampling index — the
    two items ride the same sampling grid) land within Hamming distance
    ``max_hamming``. Keeps the smallest id per duplicate set. The
    majority vote is what makes this robust where a single whole-file
    hash is not: a re-encode with a changed intro/outro still matches
    on the interior frames.

    Scale: the frame explode is bounded by ``num_frames``; candidates
    come from band equality on (frame_idx, band) — the dedup_phash
    machinery with the frame index fused into the bucket key, so only
    aligned frames ever meet — verified by ``bit_count(xor)``, then ONE
    (pair)-grouped count implements the vote. Never all-pairs; per-item
    state is ``num_frames`` longs. ``bucket_cap`` drops every
    (frame, band) bucket holding more than that many frames before the
    self-join — :func:`~renoir_spark.datapipe.dedup_phash`'s df-cutoff
    with the same miss contract PER FRAME (a frame match is missed
    only if every shared band bucket is over-crowded), and the ≥
    ``min_matching_frames`` vote sits above it, so a video pair
    survives any ``num_frames − min_matching_frames`` missed frames on
    top of that. Mirrored bit-exactly by
    :func:`sql_dedup_video_phash` (suite qa48)."""
    from .datapipe import band_split_expr, phash_expr

    assert bits % bands == 0 and bits <= 62
    band_width = bits // bands

    # columns=: the signature path reads only (id, frame) — without the
    # projection the video bytes ride Python→JVM num_frames times just
    # to be dropped by the very next select (the final keep-join below
    # reads the ORIGINAL stream.df, not this branch)
    frames = sample_frames(
        stream, content_col, num_frames=num_frames, n_features=bits,
        columns=[id_col],
    ).df
    sig = frames.select(
        F.col(id_col).alias("__id"),
        F.col("frame_idx").alias("__f"),
        phash_expr(F.col("frame_features"), bits).alias("__ph"),
    ).persist()
    banded = sig.select(
        "__id", "__f", "__ph",
        band_split_expr(F.col("__ph"), bands, band_width),
    ).select("__id", "__f", "__ph",
             F.col("__b.bidx").alias("bidx"),
             F.col("__b.bval").alias("bval"))
    if bucket_cap is not None:
        crowded = (
            banded.groupBy("__f", "bidx", "bval")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > int(bucket_cap))
            .select("__f", "bidx", "bval")
        )
        banded = banded.join(
            F.broadcast(crowded), ["__f", "bidx", "bval"], "left_anti"
        )
    a = banded.select("__f", "bidx", "bval",
                      F.col("__id").alias("ida"), F.col("__ph").alias("pha"))
    b = banded.select("__f", "bidx", "bval",
                      F.col("__id").alias("idb"), F.col("__ph").alias("phb"))
    # frame matches: aligned frames within the Hamming budget (distinct
    # collapses multi-band hits per frame pair BEFORE the vote)
    fmatch = (
        a.join(b, ["__f", "bidx", "bval"])
        .filter(F.col("ida") < F.col("idb"))
        .filter(F.bit_count(F.col("pha").bitwiseXOR(F.col("phb")))
                <= max_hamming)
        .select("ida", "idb", "__f")
        .distinct()
    )
    dup_ids = (
        fmatch.groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= F.lit(int(min_matching_frames)))
        .select(F.col("idb").alias(id_col))
        .distinct()
    )
    out = stream.df.join(dup_ids, id_col, "left_anti")
    return stream._new(out)._retain(sig)


def sql_dedup_video_phash(
    table_expr: str,
    id_col: str,
    cols: str,
    *,
    frame_fs: "callable",
    num_frames: int = 4,
    min_matching_frames: int = 3,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
) -> str:
    """DuckDB mirror of :func:`dedup_video_phash`. ``frame_fs(fidx, j)``
    returns the SQL expression recomputing frame ``fidx``'s feature
    ``j`` (the fake frame codec's md5 formula over a text-backed blob);
    the rest mirrors the Spark pipeline: per-frame signature, aligned
    band join, Hamming verify, ≥ ``min_matching_frames`` vote."""
    bw = bits // bands
    mask = (1 << bw) - 1

    def sig_leg(fidx: int) -> str:
        fs = ", ".join(f"({frame_fs(fidx, j)})::FLOAT" for j in range(bits))
        total = "0.0::DOUBLE"
        for j in range(bits):
            total = f"({total} + fs[{j + 1}]::DOUBLE)"
        bit_terms = " + ".join(
            f"(CASE WHEN fs[{j + 1}]::DOUBLE >= mean THEN {1 << j}"
            " ELSE 0 END)"
            for j in range(bits)
        )
        return (
            f"SELECT id, {fidx} AS f, ({bit_terms})::BIGINT AS ph FROM ("
            f"SELECT id, fs, {total} / len(fs) AS mean FROM ("
            f"SELECT {id_col} AS id, [{fs}] AS fs FROM {table_expr}))"
        )

    sigs = " UNION ALL ".join(sig_leg(i) for i in range(num_frames))
    band_rows = " UNION ALL ".join(
        f"SELECT id, f, ph, {b} AS bidx, (ph >> {b * bw}) & {mask} AS bval"
        " FROM sig"
        for b in range(bands)
    )
    return f"""
WITH sig AS ({sigs}), banded AS ({band_rows}),
fmatch AS (
  SELECT DISTINCT a.id AS ida, b.id AS idb, a.f
  FROM banded a JOIN banded b
    ON a.f = b.f AND a.bidx = b.bidx AND a.bval = b.bval AND a.id < b.id
  WHERE bit_count(xor(a.ph, b.ph)) <= {max_hamming}
), dups AS (
  SELECT idb FROM (SELECT ida, idb, count(*) AS n FROM fmatch
                   GROUP BY ida, idb)
  WHERE n >= {int(min_matching_frames)}
)
SELECT {cols} FROM {table_expr}
WHERE {id_col} NOT IN (SELECT idb FROM dups)
"""


def pack_binary(stream, path_col: str = "path", content_col: str = "content"):
    """Small-file packing: project (path, content, length) so millions of
    tiny media files can be written to parquet once and scanned with
    normal splits afterwards — the 100 TB answer to binaryFile's
    file-per-task scan."""
    return stream._new(
        stream.df.select(
            F.col(path_col),
            F.col(content_col),
            F.length(F.col(content_col)).alias("length"),
        )
    )
