"""Multimodal column operators (beyond-reference, north-star scale).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; decode / feature-extract run as Arrow-batched
``mapInPandas`` kernels, resize planning and frame sampling as native
column math. The media libraries are not
in this container, so the decode kernels are import-gated stubs with a
deterministic fake — the Spark-side plumbing (schema, partitioning,
UDF signature, batch shape) is real and tested.

Scale shape: payloads never pass through a shuffle — metadata is
extracted in the scan stage, filters run on metadata alone, and only
surviving rows' bytes reach the (CPU-heavy) decode stage.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def as_media(
    df: DataFrame, payload_col: str, id_col: str, kind: str = "image"
) -> DataFrame:
    """Wrap any binary column into the typed media shape; metadata that
    is derivable natively (size, digest) is computed JVM-side so later
    metadata-only filters never deserialize payloads in Python."""
    p = F.col(payload_col)
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        p.alias("payload"),
        F.struct(
            F.octet_length(p).cast("long").alias("n_bytes"),
            F.sha2(p, 256).alias("digest"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def _real_decode(kind: str, payload: bytes) -> dict:
    """Import-gated real kernel (PIL / soundfile / pyav)."""
    raise NotImplementedError(
        "media codecs not installed in this environment; use "
        "fake_decode for hermetic tests"
    )


def fake_decode(kind: str, payload: bytes) -> dict:
    """Deterministic decode stand-in: dimensions/frames/features derive
    from the payload's md5 digest. Same return contract as a real
    decoder; md5 (not a keyed/uncommon hash) so any engine with an md5
    builtin can independently recompute the expected metadata — the
    correctness oracle does exactly that."""
    import hashlib

    h = hashlib.md5(payload or b"").digest()
    return {
        "width": 16 + h[0] % 240,
        "height": 16 + h[1] % 240,
        "n_frames": 1 if kind == "image" else 1 + h[2] % 64,
        "features": [((h[i % 16] * 31 + i) % 256) / 255.0 for i in range(8)],
    }


def decode_media(
    media: DataFrame, decoder=_real_decode, batch_hint: int | None = None
) -> DataFrame:
    """Decode/feature-extract via ``mapInPandas`` — payload bytes cross
    to Python once, Arrow-batched; output is payload-free (narrow)."""
    import pandas as pd

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                d = decoder(r.kind, bytes(r.payload) if r.payload is not None else b"")
                out.append(
                    {
                        "media_id": r.media_id,
                        "kind": r.kind,
                        "width": d["width"],
                        "height": d["height"],
                        "n_frames": d["n_frames"],
                        "features": d["features"],
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in DECODED_SCHEMA.fields])

    return media.select("media_id", "kind", "payload").mapInPandas(
        _run, DECODED_SCHEMA
    )


def sample_frames(decoded: DataFrame, every_n: int = 8) -> DataFrame:
    """Frame sampling plan (video): one row per kept frame index —
    native explode over the frame count; the per-frame pixel fetch would
    be a second decode_media pass over only sampled (media_id, frame)."""
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1)
    kept = F.filter(idx, lambda i: i % every_n == 0)
    return decoded.select(
        "media_id", F.explode(kept).alias("frame_index")
    )


def plan_resize(
    media: DataFrame, max_side: int = 224, meta_col: str = "meta"
) -> DataFrame:
    """The NATIVE half of image resizing: target dimensions from the
    metadata struct alone — aspect-preserving, longest side capped at
    ``max_side``, never upscaled — so an expensive pixel pass runs
    only on rows whose target differs from the source, selected
    WITHOUT touching payload bytes. Pure column math;
    floor semantics match any external planner."""
    w = F.col(f"{meta_col}.width").cast("double")
    h = F.col(f"{meta_col}.height").cast("double")
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / F.greatest(w, h))
    tw = F.greatest(F.lit(1), F.floor(w * scale)).cast("int")
    th = F.greatest(F.lit(1), F.floor(h * scale)).cast("int")
    return media.withColumn(
        "target_width", tw
    ).withColumn("target_height", th).withColumn(
        "needs_resize",
        (tw != F.col(f"{meta_col}.width"))
        | (th != F.col(f"{meta_col}.height")),
    )


def fake_feature_kernel(kind: str, payload: bytes, n_dims: int = 16) -> list[int]:
    """Deterministic stand-in feature extractor: the codepoint-bucket
    histogram of the payload decoded as UTF-8 (bucket = min(cp,255)//16
    over ``n_dims`` = 16 buckets). Counts are INTEGERS — exact in any
    engine, so the whole extraction replays in SQL with zero float
    risk; normalization happens downstream in column expressions, not
    in Python (Python's banker's rounding vs SQL round() diverges on
    exact .5 fractions like k/128)."""
    text = payload.decode("utf-8", errors="strict") if payload else ""
    counts = [0] * n_dims
    for ch in text:
        counts[min(ord(ch), 255) // 16] += 1
    return counts


def extract_features(
    media: DataFrame, extractor=fake_feature_kernel, n_dims: int = 16
) -> DataFrame:
    """Feature-extraction step of the multimodal pipeline via
    ``mapInPandas`` — payload bytes cross to Python once,
    Arrow-batched; output is (media_id, n_units, counts array<long>)
    — payload-free and narrow. ``n_units`` is the total unit count
    (Σ counts), the normalization denominator for downstream column
    math."""
    import pandas as pd

    schema = (
        "media_id long, n_units long, counts array<long>"
    )

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                c = extractor(
                    r.kind, bytes(r.payload) if r.payload is not None else b""
                )
                out.append(
                    {
                        "media_id": r.media_id,
                        "n_units": int(sum(c)),
                        "counts": c,
                    }
                )
            yield pd.DataFrame(out, columns=["media_id", "n_units", "counts"])

    return media.select("media_id", "kind", "payload").mapInPandas(_run, schema)
