"""Multimodal span processing: image/audio/video as opaque binary columns
with typed metadata.

The extraction engine's span model carries media as references
(`media_ref`); a training-data pipeline additionally needs the bytes and
per-modality features. This module implements the Spark-side plumbing —
schemas, batch iterators, partitioning contract — for decode /
feature-extract / frame-sample stages as Arrow-batched
``mapInPandas`` operators.

The actual codecs (PIL/ffmpeg/librosa) are NOT available in this
environment, so the decode step is pluggable:

* ``decoder="stub"`` raises NotImplementedError at task level (fail fast,
  clearly marked),
* ``decoder="fake"`` produces deterministic synthetic features derived
  from the bytes' digest — the default for tests/benches so the full
  distributed path (schema, batching, shuffle) runs for real.

Everything around the codec — media table schema, batch shape, the
round-robin spread before decoding — is production-real.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartreader_spark.layout import spread

# one row per media object extracted from a document's spans
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType()),  # img | video | audio | ...
        T.StructField("payload", T.BinaryType()),  # opaque bytes (may be null)
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),  # 16-dim
        T.StructField("error", T.StringType()),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("frame_sha256", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def media_table_from_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → one row per media span, payload left NULL (bytes
    live in object storage keyed by media_ref; a fetch stage would fill
    them). Pure built-ins: explode + filter pushed into the scan."""
    return (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "html")
        .select(
            "doc_id",
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.kind").alias("kind"),
            F.lit(None).cast("binary").alias("payload"),
            F.create_map(
                F.lit("offset"), F.col("s.offset").cast("string"),
            ).alias("meta"),
        )
        .filter(F.col("media_ref").isNotNull())
    )


def _fake_image_decode(payload: bytes | None, ref: str) -> tuple:
    """Deterministic synthetic decode: digest-derived dims + 16-dim
    feature. Stands in for PIL decode + embedding; same output shape."""
    basis = payload if payload is not None else ref.encode("utf-8")
    digest = hashlib.sha256(basis).digest()
    width = 64 + digest[0] * 8
    height = 64 + digest[1] * 8
    channels = 3
    feature = [round(b / 255.0, 6) for b in digest[:16]]
    return width, height, channels, hashlib.sha256(basis).hexdigest(), feature


def image_features(media: DataFrame, decoder: str = "fake",
                   num_partitions: int | None = None) -> DataFrame:
    """Decode + feature-extract images. Arrow-batched; the optional spread
    mirrors the extraction stage (payload bytes are the skew dimension)."""
    imgs = media.filter(F.col("kind").isin("img", "picture", "figure", "media"))
    if num_partitions:
        imgs = spread(imgs, num_partitions)

    def batch_fn(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for doc_id, ref, payload in zip(pdf["doc_id"], pdf["media_ref"], pdf["payload"]):
                try:
                    if decoder == "stub":
                        raise NotImplementedError(
                            "image decode requires PIL/turbojpeg — not in this environment"
                        )
                    w, h, c, digest, feat = _fake_image_decode(payload, ref)
                    recs.append((doc_id, ref, w, h, c, digest, feat, None))
                except NotImplementedError as e:
                    recs.append((doc_id, ref, None, None, None, None, None, str(e)))
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "media_ref", "width", "height", "channels",
                         "sha256", "feature", "error"],
            )

    return imgs.mapInPandas(batch_fn, IMAGE_FEATURES_SCHEMA)


def sample_video_frames(media: DataFrame, every_ms: int = 1000,
                        max_frames: int = 8, decoder: str = "fake") -> DataFrame:
    """Frame-sampling stage for video spans: one output row per sampled
    frame. Deterministic fake: frame count derived from the ref digest."""
    vids = media.filter(F.col("kind").isin("video", "media"))

    def batch_fn(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for doc_id, ref, payload in zip(pdf["doc_id"], pdf["media_ref"], pdf["payload"]):
                try:
                    if decoder == "stub":
                        raise NotImplementedError("frame sampling requires ffmpeg")
                    basis = payload if payload is not None else ref.encode("utf-8")
                    digest = hashlib.sha256(basis).digest()
                    n_frames = 1 + digest[0] % max_frames
                    for i in range(n_frames):
                        # ASCII frame-key suffix: the fake codec's arithmetic
                        # stays reproducible in plain SQL (sha256 over text)
                        frame_digest = hashlib.sha256(
                            basis + (f"#frame{i}").encode("utf-8")
                        ).hexdigest()
                        recs.append((doc_id, ref, i, i * every_ms, frame_digest, None))
                except NotImplementedError as e:
                    recs.append((doc_id, ref, None, None, None, str(e)))
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "media_ref", "frame_idx", "ts_ms",
                         "frame_sha256", "error"],
            )

    return vids.mapInPandas(batch_fn, FRAME_SAMPLE_SCHEMA)
