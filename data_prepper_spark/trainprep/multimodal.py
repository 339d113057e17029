"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched mapInPandas.

METADATA-LEVEL DECODE IS REAL: ``fake=False`` (the default decode
boundary) parses PNG / JPEG / GIF / WAV container headers with the
pure-python parsers in :mod:`trainprep.mediadecode` — dimensions, bit
depth, color info, animation frame counts, channels/sample-rate/
sample-frame counts, EXIF presence.  PIXEL/SAMPLE decode (the part
that genuinely needs libjpeg/libffmpeg) stays out of scope; unknown
signatures raise ValueError (route to the DLQ, operators/dlq.py).
``fake=True`` keeps the old deterministic pseudo-decode for pipeline-
shape tests whose payloads aren't real containers.

Reference analog: binary appears in the reference only at codec
boundaries (/root/reference/data-prepper-plugins/s3-source/src/main/java/
org/opensearch/dataprepper/plugins/source/s3/S3ObjectWorker.java:89-96 —
compressed object bytes → decoded events); this module is the same
boundary generalized to media blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "n_bytes long, content_hash string"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "n_frames int, format string, channels int, sample_rate int, "
    "exif_present boolean, feature array<float>"
)


def attach_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata for an opaque binary column — JVM-side only
    (octet length + md5); never deserializes the blob in Python."""
    return df.withColumn("n_bytes", F.octet_length(F.col(payload_col)).cast("long")).withColumn(
        "content_hash", F.md5(F.col(payload_col))
    )


def decode_stub(payload: bytes, kind: str, fake: bool = False) -> dict:
    """Legacy test shim: the deterministic PSEUDO-decode used by
    pipeline-shape tests whose payloads aren't real containers.  The
    REAL metadata-level decode boundary is
    :func:`mediadecode.decode_media` (PNG/JPEG/GIF/WAV header parsers) —
    fake=False here now delegates to it."""
    if not fake:
        from .mediadecode import decode_media

        return decode_media(payload)
    n = len(payload)
    h = int.from_bytes(payload[:8].ljust(8, b"\0"), "big", signed=False)
    return {
        "width": (h % 640) + 1 if kind == "image" else 0,
        "height": ((h >> 16) % 480) + 1 if kind == "image" else 0,
        "n_frames": (n % 240) + 1 if kind in ("video", "audio") else 1,
    }


def extract_features(
    df: DataFrame,
    fake: bool = True,
    feature_dim: int = 8,
) -> DataFrame:
    """media rows → per-item decoded metadata + a feature vector, via one
    mapInPandas pass (Arrow batches; one Python call per batch, not per
    row).  fake=False: REAL header decode (mediadecode.decode_media —
    PNG/JPEG/GIF/WAV), raising on unknown/corrupt signatures; fake=True:
    the deterministic pseudo-decode for non-container test payloads.
    The feature is a seeded hash-projection of the payload —
    deterministic, so downstream similarity ops are testable."""
    out_cols = ["media_id", "kind", "n_bytes", "width", "height",
                "n_frames", "format", "channels", "sample_rate",
                "exif_present", "feature"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, kind, payload, nb in zip(
                b["media_id"], b["kind"], b["payload"], b["n_bytes"]
            ):
                d = decode_stub(bytes(payload), kind, fake=fake)
                rng = np.random.default_rng(
                    [int(mid) & 0x7FFFFFFF, len(payload) & 0x7FFFFFFF]
                )
                feat = rng.standard_normal(feature_dim).astype(np.float32)
                rows.append((
                    int(mid), kind, int(nb), d["width"], d["height"],
                    d["n_frames"], d.get("format"), d.get("channels"),
                    d.get("sample_rate"), d.get("exif_present"),
                    feat.tolist(),
                ))
            yield pd.DataFrame(rows, columns=out_cols)

    cols = ["media_id", "kind", "payload", "n_bytes"]
    return df.select(*cols).mapInPandas(fn, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling arithmetic (real): for each video row, the list of
    frame indices a decoder should extract — sequence stepped by every_n,
    JVM-side.  The decode of those frames is behind decode_stub."""
    return df.withColumn(
        "sample_frames",
        F.when(
            F.col("n_frames") > 0,
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n)),
        ).otherwise(F.array().cast("array<int>")),
    )
