"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched ``mapInPandas``.

The image/audio decode libraries are NOT in this container, so the decode step
is a clearly-marked deterministic FAKE (``fake_decode_meta``) / explicit stub
(``decode_image``); the Spark-side plumbing — binary schema, mapInPandas batch
shape, partition behavior, explode of per-frame rows — is real and
oracle-checked (the fake metadata is pure arithmetic on bytes, reproducible
in SQL).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F

from recidiviz_data_spark.operators.base import _q, _qx
from recidiviz_data_spark.operators.relational import load

MM_SCHEMA = "doc_id bigint, byte_len bigint, first_byte bigint, width bigint, height bigint, n_frames bigint"


def decode_image(payload: bytes):
    """Real decode would use PIL/libjpeg — not available in this container."""
    raise NotImplementedError(
        "image decode requires PIL/opencv (absent here); use fake_decode_meta "
        "for plumbing tests and swap this in on a cluster with the libs"
    )


def fake_decode_meta(payload: bytes) -> tuple[int, int, int, int, int]:
    """Deterministic FAKE decode: metadata derived from the raw bytes only.
    first = code point of the first character (NOT the first byte — matches
    the SQL oracle's ascii() for non-ASCII text too); -1 when empty."""
    n = len(payload)
    first = ord(payload.decode("utf-8")[0]) if n else -1
    return n, first, n % 640, (n * 7) % 480, n % 24 + 1


def _decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        meta = [fake_decode_meta(b) for b in pdf["payload"]]
        out = pd.DataFrame(meta, columns=["byte_len", "first_byte", "width", "height", "n_frames"])
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


@_q(
    "mm_binary_decode_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(CASE WHEN length(text) = 0 THEN -1
                     ELSE ascii(substr(text, 1, 1)) END AS BIGINT) AS first_byte,
           CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height,
           CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def mm_binary_decode_meta(spark, sf_dir):
    """Binary-column decode plumbing: documents.text encoded to a binary
    'payload' column, metadata extracted in Arrow-batched mapInPandas —
    the exact shape a real image/audio feature-extractor takes."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(_decode_batches, schema=MM_SCHEMA)


@_q(
    "mm_frame_sample",
    """
    WITH meta AS (SELECT doc_id, CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS n_frames
                  FROM documents)
    SELECT doc_id, CAST(frame AS BIGINT) AS frame
    FROM meta, UNNEST(generate_series(0, n_frames - 1, 4)) t(frame)
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Frame sampling over 'video' binaries: one row per sampled frame index
    (every 4th) — explode of a per-row sequence, the distributed shape of
    frame extraction."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    n_frames = (F.length("payload") % 24 + 1).cast("long")
    return d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_frames - 1, F.lit(4).cast("long"))).alias("frame"),
    )


RESIZE_SCHEMA = "doc_id bigint, width bigint, height bigint, out_w bigint, out_h bigint"


def _resize_batches(it):
    """Deterministic aspect-preserving 'resize' of the fake-decoded dims to
    a 224 bounding box — integer arithmetic, so the SQL oracle reproduces it
    exactly (the project depends on no image library; the geometry stands in
    for the pixel work)."""
    for pdf in it:
        meta = [fake_decode_meta(b) for b in pdf["payload"]]
        w = pd.Series([m[2] for m in meta], dtype="int64")
        h = pd.Series([m[3] for m in meta], dtype="int64")
        mx = pd.concat([w, h], axis=1).max(axis=1).clip(lower=1)
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "width": w,
                "height": h,
                "out_w": (w * 224) // mx,
                "out_h": (h * 224) // mx,
            }
        )
        yield out


@_qx(
    "x_mm_resize",
    """
    WITH meta AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
             CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height
      FROM documents)
    SELECT doc_id, width, height,
           (width * 224) // greatest(width, height, 1) AS out_w,
           (height * 224) // greatest(width, height, 1) AS out_h
    FROM meta
    """,
)
def x_mm_resize(spark, sf_dir):
    """Multimodal feature-extract/resize plumbing: binary payload ->
    mapInPandas -> aspect-preserving target-box dims (vectorized integer
    math in pandas — the exact batch shape a real PIL/opencv resize takes;
    the pixel work is the only stubbed part, per the container's missing
    image libs)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(_resize_batches, schema=RESIZE_SCHEMA)


ENERGY_SCHEMA = "doc_id bigint, window_idx bigint, n_samples bigint, energy bigint"
ENERGY_WINDOW = 256


def _audio_energy_batches(it):
    """Windowed sum-of-squares over a per-doc sample stream — the exact
    batch shape of an audio frame-energy / VAD feature extractor. The
    'samples' are the text's code points (utf-32-le reinterpretation gives
    them as a numpy vector directly), standing in for PCM samples the
    container's missing audio libs would decode; the windowing, vectorized
    energy math, and per-window row explode are the real thing."""
    import numpy as np

    for pdf in it:
        out_doc, out_wi, out_n, out_e = [], [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if not text:
                continue
            cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            for wi in range(0, len(cps), ENERGY_WINDOW):
                w = cps[wi : wi + ENERGY_WINDOW]
                out_doc.append(doc_id)
                out_wi.append(wi // ENERGY_WINDOW)
                out_n.append(len(w))
                out_e.append(int((w * w).sum()))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "window_idx": pd.Series(out_wi, dtype="int64"),
                "n_samples": pd.Series(out_n, dtype="int64"),
                "energy": pd.Series(out_e, dtype="int64"),
            }
        )


@_qx(
    "x_mm_audio_energy",
    f"""
    WITH cps AS (SELECT doc_id, (i - 1) // {ENERGY_WINDOW} AS window_idx,
                        ascii(substr(text, i, 1)) AS cp
                 FROM documents, UNNEST(generate_series(1, length(text))) t(i)
                 WHERE length(text) > 0)
    SELECT doc_id, CAST(window_idx AS BIGINT) AS window_idx,
           COUNT(*) AS n_samples,
           CAST(SUM(CAST(cp AS BIGINT) * cp) AS BIGINT) AS energy
    FROM cps GROUP BY 1, 2
    """,
)
def x_mm_audio_energy(spark, sf_dir):
    """Audio-column plumbing: per-window energy (sum of squared samples)
    over each doc's sample stream via Arrow-batched mapInPandas — the
    feature-extraction stage of an audio pipeline (VAD, loudness
    normalization, silence trimming all start here). Samples are code
    points standing in for PCM (no audio libs in this container); windowing
    and the vectorized numpy energy math are real and oracle-exact."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.mapInPandas(_audio_energy_batches, schema=ENERGY_SCHEMA)
