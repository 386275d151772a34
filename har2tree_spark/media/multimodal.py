"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing — schema, partitioning, Arrow batch shapes, UDF
signatures — is real and tested. ``extract_features`` histograms the raw
payload bytes, a deterministic stand-in for an image decoder that the
DuckDB oracle can replay; a real codec would swap in inside the same
``mapInPandas`` function and keep every plan unchanged.

Layout follows the reference's embedded-resource model (binary bodies keyed
by digest, reference nodes.py:100, helper.py:85-127): blobs are hashed
early and joins ship hashes, never payloads (SURVEY.md §7.3 point 6).

DIGEST DOMAIN CONTRACT: ``payload_hex_sha256`` (and the ``source_hex_sha256`` it
feeds in frame sampling) is sha256 over the LOWERCASE-HEX ENCODING of the
payload, not over the raw bytes — SQL engines' sha256 (the oracle dialect
included) is VARCHAR-only, and hex is bijective with the bytes so dedup /
join semantics are unchanged. An external system computing a raw-byte blob
digest will NOT match this column; re-digest as
``sha256(payload.hex().encode())`` to interoperate. All in-repo consumers
(``sample_frames``, ``media_dedup``, the media gate oracles) share this
domain."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        # sha256 over the lowercase-hex ENCODING of payload (see the
        # digest-domain contract in the module docstring)
        T.StructField("payload_hex_sha256", T.StringType(), True),
    ]
)

FEATURE_DIM = 16
MEDIA_SEED = 42
FRAME_EVERY_MS = 5000


def payload_bytes(i: int) -> bytes:
    """Payload for media row ``i``: the first ``64 + i % 192`` bytes of the
    md5 chain md5(f"{MEDIA_SEED}:{i}:0") || md5(f"{MEDIA_SEED}:{i}:1") || ...
    — chosen over an RNG stream precisely so a SQL oracle can replay it
    (DuckDB: md5('42:5:0') || md5('42:5:1') ... -> from_hex)."""
    size = 64 + i % 192
    blocks = (size + 15) // 16
    raw = b"".join(
        hashlib.md5(f"{MEDIA_SEED}:{i}:{j}".encode()).digest() for j in range(blocks)
    )
    return raw[:size]


def synthesize_media(spark, n: int) -> DataFrame:
    """Deterministic fake media table (binary payload derived from the id
    and ``MEDIA_SEED``) for exercising the plumbing at any scale —
    distributed generation, one partition per core."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                mtype = ["image", "audio", "video"][int(i) % 3]
                payload = payload_bytes(int(i))
                rows.append(
                    {
                        "media_id": f"m{int(i):08d}",
                        "doc_id": f"doc-{int(i) % max(1, n // 4):08d}",
                        "media_type": mtype,
                        "payload": payload,
                        "width": 64 if mtype == "image" else None,
                        "height": 64 if mtype == "image" else None,
                        "duration_ms": 1000 * (int(i) % 30) if mtype != "image" else None,
                        # digest over the lowercase-hex encoding (bijective
                        # with the bytes): SQL engines' sha256 is
                        # VARCHAR-only, so this keeps the content digest
                        # replayable by the DuckDB oracle
                        "payload_hex_sha256": hashlib.sha256(
                            payload.hex().encode()
                        ).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(
        0, n, numPartitions=spark.sparkContext.defaultParallelism
    ).mapInPandas(gen, MEDIA_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Per-blob feature vector via mapInPandas (Arrow-batched binary in,
    array<float> out). The 'decoder' is a deterministic byte-histogram
    over the raw payload, which the DuckDB oracle replays."""

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("media_type", T.StringType(), True),
            T.StructField("hist", T.ArrayType(T.IntegerType()), True),
            T.StructField("feature", T.ArrayType(T.FloatType()), True),
        ]
    )

    def fx(batches):
        for pdf in batches:
            feats = []
            hists = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                # bin width 256/FEATURE_DIM=16 == the high hex nibble of
                # each byte, which is what lets a SQL oracle replay the
                # histogram from the payload's hex representation
                hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
                v = hist.astype(np.float32)
                n = float(np.linalg.norm(v))
                hists.append(hist.astype(np.int32).tolist())
                feats.append((v / n if n else v).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "hist": hists,
                    "feature": feats,
                }
            )

    return media.mapInPandas(fx, out_schema)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per sampled
    timestamp, every ``FRAME_EVERY_MS`` (explode on a JVM-computed
    sequence; the decode of the actual frame is the same stubbed codec)."""
    v = media.filter(F.col("media_type") == "video")
    ts = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(F.col("duration_ms") - 1, F.lit(0)).cast("long"),
        F.lit(FRAME_EVERY_MS).cast("long"),
    )
    return v.select(
        "media_id",
        "doc_id",
        F.explode(ts).alias("frame_ms"),
        F.col("payload_hex_sha256").alias("source_hex_sha256"),
    )


def media_dedup(media: DataFrame) -> DataFrame:
    """Exact blob dedup by payload digest (hash early, ship hashes)."""
    return media.groupBy("payload_hex_sha256").agg(
        F.count("*").cast("long").alias("n_blobs"),
        F.min("media_id").alias("keeper"),
    )
