"""Multimodal columns (SURVEY.md §2b / driver mandate): image/audio/video as
opaque BINARY columns + typed metadata, processed with Arrow-batched pandas
over mapInPandas.

No media libraries exist in this container, so the codec layer is explicitly
stubbed (see _decode_image): a clearly-marked deterministic fake derives
"decoded" properties from the bytes. Everything Spark-side is REAL and
tested — schemas, binary handling, mapInPandas batch shapes, partitioning —
so swapping in PIL/librosa/pyav later changes one function.

The media table itself is synthesized from `documents` (deterministic:
media = utf-8 bytes of the text, media_type round-robins by doc_id), since
the driver tables carry no binary column.

Scale notes: mapInPandas streams Arrow record batches — bytes never
materialize as Python objects per row, and output can be wider/narrower than
input (frame sampling explodes, feature extraction projects). Batch size is
governed by spark.sql.execution.arrow.maxRecordsPerBatch; for ~MB-scale
media you'd lower it (or pre-repartition by size) to bound executor memory.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._memo import memo_persist
from ..registry import query
from ..sources import load_table

MEDIA_TYPES = ["image", "audio", "video"]


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize (doc_id, media BINARY, media_type, meta STRUCT) from
    documents — the canonical multimodal layout: opaque payload + typed
    metadata columns Catalyst can prune/filter without touching bytes."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("media"),
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("lang").alias("lang"),
            F.col("n_chars").alias("content_hint"),
        ).alias("meta"),
    )


def _decode_image(payload: bytes) -> tuple[int, int]:
    """STUB CODEC — deterministic fake.

    A real implementation would be `PIL.Image.open(io.BytesIO(payload)).size`;
    PIL is not available in this container. The fake derives a stable
    (width, height) from the payload hash so tests are reproducible and the
    surrounding Spark plumbing (binary in, struct out, Arrow batching) is
    exercised for real.
    """
    h = hashlib.sha256(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: whole Arrow batches in, feature frames out."""
    for pdf in batches:
        payloads = pdf["media"]
        dims = [_decode_image(p) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": payloads.map(len).astype("int64"),
                "sha256": payloads.map(lambda p: hashlib.sha256(p).hexdigest()),
                "width": pd.Series([d[0] for d in dims], dtype="int32"),
                "height": pd.Series([d[1] for d in dims], dtype="int32"),
            }
        )


def extract_features(media: DataFrame) -> DataFrame:
    return media.mapInPandas(_extract_features, schema=_FEATURES_SCHEMA)


_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)

_FRAME_BYTES = 64
_SAMPLE_EVERY = 4


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Video stand-in: treat the payload as fixed-size frames, keep every
    Nth — the 1:N exploding output shape of real frame sampling."""
    for pdf in batches:
        ids, idxs, frames = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
            n_frames = len(payload) // _FRAME_BYTES
            for i in range(0, n_frames, _SAMPLE_EVERY):
                ids.append(doc_id)
                idxs.append(i)
                frames.append(bytes(payload[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame": frames,
            }
        )


def sample_frames(media: DataFrame) -> DataFrame:
    return media.mapInPandas(_sample_frames, schema=_FRAMES_SCHEMA)


@query(
    "multimodal_features",
    oracle="""
    SELECT
      doc_id,
      CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      sha256(text) AS sha256
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary feature extraction through the Arrow path. n_bytes/sha256 are
    oracle-checked against DuckDB computing the same over the source bytes —
    proving the binary payload survives the Spark→Arrow→pandas round trip
    byte-exact. width/height come from the stub codec (dropped here)."""
    return extract_features(media_table(spark, sf_dir)).select(
        "doc_id", "media_type", "n_bytes", "sha256"
    )


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
        CAST(octet_length(encode(text)) // {_FRAME_BYTES} AS BIGINT) AS n_frames
      FROM documents
    )
    SELECT doc_id,
      CAST(CEIL(n_frames / {_SAMPLE_EVERY}.0) AS BIGINT) AS n_frames_sampled,
      CAST(CEIL(n_frames / {_SAMPLE_EVERY}.0) * {_FRAME_BYTES} AS BIGINT)
        AS sampled_bytes
    FROM m WHERE n_frames > 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (1:N explode through mapInPandas). Oracled via the
    sampler's size contract: keeping every {_SAMPLE_EVERY}th complete
    {_FRAME_BYTES}-byte frame yields ceil(n_frames/{_SAMPLE_EVERY}) frames of
    exactly {_FRAME_BYTES} bytes — DuckDB recomputes both from the payload
    length alone, so a lost Arrow batch, a short frame slice, or an
    off-by-one in the stride fails the hash. Byte-level exactness tests in
    tests/test_multimodal.py."""
    media = media_table(spark, sf_dir)
    frames = sample_frames(media)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames_sampled"),
        F.sum(F.length("frame")).cast("bigint").alias("sampled_bytes"),
    )


_RESIZE_W, _RESIZE_H = 32, 32

_RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("resized", T.BinaryType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
    ]
)


def _resize_payload(payload: bytes, w: int, h: int) -> bytes:
    """STUB CODEC — deterministic fake resize.

    A real implementation would be PIL `Image.open(...).resize((w, h))` /
    ffmpeg scale; neither library is in this container. The fake emits
    exactly w*h bytes by tiling the payload (empty payload → zeros), so the
    output-size contract of a real resize (fixed target dims) holds and the
    Spark plumbing — binary in, binary out, Arrow batching — is real.
    """
    target = w * h
    if not payload:
        return bytes(target)
    reps = -(-target // len(payload))
    return (payload * reps)[:target]


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "resized": pdf["media"].map(
                    lambda p: _resize_payload(p, _RESIZE_W, _RESIZE_H)
                ),
                "out_w": pd.Series([_RESIZE_W] * len(pdf), dtype="int32"),
                "out_h": pd.Series([_RESIZE_H] * len(pdf), dtype="int32"),
            }
        )


def resize_media(media: DataFrame) -> DataFrame:
    return media.mapInPandas(_resize_batches, schema=_RESIZED_SCHEMA)


@query(
    "multimodal_resize",
    oracle=f"""
    SELECT
      CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
        AS media_type,
      {_RESIZE_W} AS out_w,
      {_RESIZE_H} AS out_h,
      COUNT(*) AS n_media,
      CAST(COUNT(*) * {_RESIZE_W * _RESIZE_H} AS BIGINT) AS total_resized_bytes
    FROM documents
    GROUP BY 1
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (1:1 binary→binary transform through mapInPandas).
    Oracled via the resize contract: every payload must come back as exactly
    {_RESIZE_W}×{_RESIZE_H} bytes, so per-media-type counts and total output
    bytes are recomputable by DuckDB from the source table — a dropped row or
    wrong-size output breaks the hash. Byte-level determinism asserted in
    tests/test_multimodal.py."""
    media = media_table(spark, sf_dir)
    out = resize_media(media)
    return out.groupBy("media_type", "out_w", "out_h").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.length("resized")).cast("bigint").alias("total_resized_bytes"),
    )


@query(
    "multimodal_dedup_exact",
    oracle="""
    SELECT
      md5(text) AS content_md5,
      MIN(doc_id) AS keeper_doc_id,
      COUNT(*) AS n_copies,
      CAST(MIN(octet_length(encode(text))) AS BIGINT) AS payload_bytes
    FROM documents
    GROUP BY 1
    """,
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup: group by content hash of the opaque BINARY
    payload, keep the lowest doc_id.

    Stage one of every multimodal dedup pipeline (before any perceptual
    hashing): at 100 TB the groupBy ships 16-byte digests + ids — the
    payload bytes never shuffle (the hash is computed scan-side). The
    oracle recomputes the same md5 from the text the payload was encoded
    from (md5(utf8-bytes) == md5(string) in both engines).
    """
    m = media_table(spark, sf_dir)
    return (
        m.select(
            F.md5("media").alias("content_md5"),
            "doc_id",
            F.octet_length("media").alias("nb"),
        )
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("nb").cast("long").alias("payload_bytes"),
        )
    )


@query(
    "multimodal_storage_stats",
    oracle="""
    WITH media AS (
      SELECT
        doc_id,
        encode(text) AS payload,
        ['image', 'audio', 'video'][(CAST(doc_id % 3 AS INT)) + 1] AS media_type,
        lang
      FROM documents
    )
    SELECT
      media_type,
      lang,
      COUNT(*) AS n_assets,
      CAST(SUM(CAST(octet_length(payload) AS BIGINT)) AS BIGINT) AS total_bytes,
      CAST(MAX(octet_length(payload)) AS BIGINT) AS max_bytes,
      CAST(COUNT(DISTINCT md5(CAST(payload AS VARCHAR))) AS BIGINT) AS n_distinct_payloads
    FROM media
    GROUP BY media_type, lang
    """,
)
def multimodal_storage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-inventory rollup over the multimodal table: per (media type,
    language) counts, byte footprints, and distinct-payload cardinality —
    the storage report a media lakehouse runs before planning dedup or
    transcode passes. The payload column participates ONLY through
    length and digest (both computed in the scan projection), so bytes
    never shuffle — the discipline every multimodal operator here keeps.
    """
    m = media_table(spark, sf_dir)
    return (
        m.select(
            "media_type",
            F.col("meta.lang").alias("lang"),
            F.length("media").alias("nb"),
            F.md5("media").alias("h"),
        )
        .groupBy("media_type", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.col("nb").cast("long")).cast("long").alias("total_bytes"),
            F.max("nb").cast("long").alias("max_bytes"),
            F.countDistinct("h").alias("n_distinct_payloads"),
        )
    )


@query(
    "multimodal_clip_training_pairs",
    oracle="""
    WITH img AS (
      SELECT doc_id, text, n_chars,
             md5(CAST(doc_id AS VARCHAR) || ':clip') AS shuf
      FROM documents WHERE doc_id % 3 = 0
    ), w AS (
      SELECT doc_id, n_chars, md5(text) AS payload_md5, shuf,
             LEAD(doc_id) OVER (ORDER BY shuf) AS nxt,
             FIRST_VALUE(doc_id) OVER (
               ORDER BY shuf
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS fst
      FROM img
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS caption_chars,
           payload_md5,
           COALESCE(nxt, fst) AS neg_doc_id,
           CASE WHEN CAST(CONCAT('0x', substr(md5('clipsplit:'
                      || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 10 < 9
                THEN 'train' ELSE 'valid' END AS split
    FROM w
    """,
)
def multimodal_clip_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (CLIP-style) training-pair construction over the image
    assets: each image pairs with its own caption (positive) and with the
    NEXT image's caption in a deterministic md5-shuffled ring (in-batch
    negative — the standard trick, made restart-stable by replacing the
    RNG shuffle with a salted-hash order; wraparound pairs the last with
    the first). A portable 90/10 split rides along. Payload integrity is
    pinned by md5 of the binary itself, so the oracle checks the BYTES
    the pair pipeline would ship, not just ids.

    Scale shape: metadata-only until the final consumer — the binary
    column is never shuffled here (the md5 runs scan-side); the ring is
    one window over the image subset. At billions of assets, partition
    the ring by a shuffle-bucket column so the window never sees a global
    sort (negatives stay within a bucket — equally valid contrastively).
    """
    m = media_table(spark, sf_dir).where(F.col("media_type") == "image")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from pyspark.sql import Window as W

    base = m.join(d, "doc_id").select(
        "doc_id",
        "n_chars",
        F.md5("media").alias("payload_md5"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":clip"))).alias("shuf"),
    )
    w = W.orderBy("shuf")
    wall = W.orderBy("shuf").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    split_hash = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("clipsplit:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    return base.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("caption_chars"),
        "payload_md5",
        F.coalesce(F.lead("doc_id").over(w), F.first("doc_id").over(wall)).alias(
            "neg_doc_id"
        ),
        F.when(split_hash < 9, "train").otherwise("valid").alias("split"),
    )


@query(
    "multimodal_phash_near_dup",
    oracle="""
    WITH crops AS (
      SELECT doc_id,
        substr(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), 1, 256)
          AS crop
      FROM documents
    ),
    sigs AS (
      SELECT doc_id,
        CAST(CONCAT('0x', substr(md5(crop), 1, 8)) AS BIGINT) AS c0,
        CAST(CONCAT('0x', substr(md5(crop), 9, 8)) AS BIGINT) AS c1,
        CAST(CONCAT('0x', substr(md5(crop), 17, 8)) AS BIGINT) AS c2,
        CAST(CONCAT('0x', substr(md5(crop), 25, 8)) AS BIGINT) AS c3
      FROM crops
    ),
    posts AS (
      SELECT doc_id, 0 AS block_no, c0 AS bv FROM sigs
      UNION ALL SELECT doc_id, 1, c1 FROM sigs
      UNION ALL SELECT doc_id, 2, c2 FROM sigs
      UNION ALL SELECT doc_id, 3, c3 FROM sigs
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM posts a JOIN posts b
        ON a.block_no = b.block_no AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
      CAST(bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1))
         + bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3))
        AS BIGINT) AS hamming
    FROM cand c
    JOIN sigs s1 ON s1.doc_id = c.doc_a
    JOIN sigs s2 ON s2.doc_id = c.doc_b
    WHERE bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1))
        + bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3)) <= 3
    """,
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the binary media
    column: a 128-bit fingerprint per payload, pairs within Hamming
    distance 3 found via PIGEONHOLE BLOCKING — the fingerprint splits
    into 4 x 32-bit blocks, <= 3 flipped bits leave at least one block
    intact, so candidates meet through a plain equi-join on (block_no,
    block_value) and recall is complete by construction (the same
    4-block recipe as dedup_simhash). Payload bytes are touched only at
    the scan; 4 longs per asset shuffle.

    STUB NOTE (multimodal codec policy, module docstring): with real
    codecs the fingerprint would be a DCT pHash of the decoded image;
    here the payload decodes, normalizes (case/whitespace), and CROPS to
    a fixed 256-byte window before hashing — the same normalize-then-
    digest structure (edits outside the crop don't move the hash, so
    template-sharing near-dups land at Hamming 0). The stand-in keeps
    every downstream stage (block postings, candidate join, Hamming
    verify) real, tested, and ORACLED: DuckDB recomputes fingerprints
    from the same bytes and brute-replays the blocking.
    """
    def build() -> DataFrame:
        m = media_table(spark, sf_dir)
        crop = F.substring(
            F.lower(
                F.regexp_replace(
                    F.trim(F.decode("media", "UTF-8")), r"\s+", " "
                )
            ),
            1,
            256,
        )
        hexmd5 = F.md5(crop)
        chunk = lambda i: F.conv(  # noqa: E731
            F.substring(hexmd5, 1 + 8 * i, 8), 16, 10
        ).cast("long")
        # persisted: the fingerprint frame feeds the 4 block postings, both
        # candidate-join sides, AND both verify sides — unpersisted, the
        # decode+normalize+md5 scan re-runs 10x (scan-audit finding,
        # lesson 27). 4 longs per asset; bytes never leave the scan.
        return m.select("doc_id", *[chunk(i).alias(f"c{i}") for i in range(4)])

    sigs = memo_persist("multimodal.phash_sigs", spark, sf_dir, build)
    posts = None
    for i in range(4):
        p = sigs.select(
            "doc_id", F.lit(i).alias("block_no"), F.col(f"c{i}").alias("bv")
        )
        posts = p if posts is None else posts.unionAll(p)
    a = posts.select(
        F.col("doc_id").alias("doc_a"), "block_no", "bv"
    )
    b = posts.select(
        F.col("doc_id").alias("doc_b"), F.col("block_no").alias("bn2"), F.col("bv").alias("bv2")
    )
    cand = (
        a.join(
            b,
            (F.col("block_no") == F.col("bn2"))
            & (F.col("bv") == F.col("bv2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    s1 = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"c{i}").alias(f"a{i}") for i in range(4)]
    )
    s2 = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"c{i}").alias(f"b{i}") for i in range(4)]
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))) for i in range(4)
    )
    return (
        cand.join(s1, "doc_a")
        .join(s2, "doc_b")
        .where(ham <= 3)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
    )


@query(
    "multimodal_quality_gates",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
        (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)]
          AS media_type,
        octet_length(encode(text)) AS n_bytes,
        64 + CAST(CONCAT('0x', substr(sha256(text), 1, 2)) AS INT) % 192
          AS width,
        64 + CAST(CONCAT('0x', substr(sha256(text), 3, 2)) AS INT) % 192
          AS height
      FROM documents
    ),
    gated AS (
      SELECT media_type,
        CASE WHEN n_bytes < 64 THEN 'too_few_bytes'
             WHEN width < 96 OR height < 96 THEN 'too_small'
             WHEN GREATEST(width, height) > 2 * LEAST(width, height)
               THEN 'extreme_aspect'
             ELSE 'kept' END AS verdict
      FROM feats
    )
    SELECT media_type, verdict, COUNT(*) AS n,
      ROUND(CAST(COUNT(*) AS DOUBLE)
            / CAST(SUM(COUNT(*)) OVER (PARTITION BY media_type) AS DOUBLE),
            6) AS share
    FROM gated GROUP BY media_type, verdict
    """,
)
def multimodal_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media quality-gate census — the image-filtering stage of a
    multimodal pretraining pipeline (LAION-style): per media type, how
    many assets each gate drops (payload too small, decoded dims under
    96px, aspect ratio beyond 2:1) and how many survive. First failing
    gate wins (the CASE order IS the pipeline order).

    The decode is the stub codec's documented contract (dims derived
    from the payload sha256 — _decode_image), which is exactly what lets
    DuckDB replay the whole report: sha256 over the utf-8 payload,
    hex-byte arithmetic, integer gates, exact shares. Swapping in PIL
    changes _decode_image and drops the oracle to rows-only — the
    Spark-side plumbing (mapInPandas Arrow batches over binary) is the
    real, tested artifact.

    At 100 TB: one mapInPandas pass over the media scan (bytes touched
    once, never shuffled), then a <= 12-row census.
    """
    feats = extract_features(media_table(spark, sf_dir))
    verdict = (
        F.when(F.col("n_bytes") < 64, "too_few_bytes")
        .when((F.col("width") < 96) | (F.col("height") < 96), "too_small")
        .when(
            F.greatest("width", "height") > 2 * F.least("width", "height"),
            "extreme_aspect",
        )
        .otherwise("kept")
    )
    from pyspark.sql import Window

    gated = feats.select("media_type", verdict.alias("verdict"))
    counts = gated.groupBy("media_type", "verdict").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("media_type")
    return counts.select(
        "media_type",
        "verdict",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("share"),
    )
