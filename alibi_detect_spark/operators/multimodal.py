"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

The real decoders (PIL/ffmpeg/torchaudio) are NOT in this environment, so the
decode step is STUBBED: ``decode_payload`` raises ``NotImplementedError`` for
real codecs and provides a deterministic fake decoder (payload bytes →
uint8 tensor of the metadata's shape) so the Spark-side plumbing — schema,
partitioning, UDF signature, batch shape, feature math — is real and tested.
Swapping in a real codec is a one-function change inside the UDF closure.

Scale posture: payloads never shuffle — every stage is a map pass emitting
small fixed-width features; the only shuffle is the optional groupBy in
:func:`media_stats`. Arrow batch size bounds executor memory
(``spark.sql.execution.arrow.maxRecordsPerBatch``), the natural knob when a
row carries megabytes of payload.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .partitioning import spread

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("channels", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            False,
        ),
    ]
)

FEATURE_DIM = 16


def decode_payload(payload: bytes, kind: str, meta: dict) -> np.ndarray:
    """STUB decoder. Real codecs are unavailable in this container; a real
    deployment replaces the fake branch with PIL/soundfile/ffmpeg decode.

    Fake decode: interpret the payload bytes as the row-major uint8 tensor of
    the declared shape (deterministic, shape-checked) — enough to exercise
    every downstream stage for real."""
    try:  # pragma: no cover - the real-decoder path needs external libs
        if kind == "image":
            import PIL  # noqa: F401

            raise NotImplementedError("real image decode: wire PIL.Image.open here")
        if kind == "audio":
            import soundfile  # noqa: F401

            raise NotImplementedError("real audio decode: wire soundfile.read here")
    except ImportError:
        pass
    _i = lambda k: int(meta[k])  # noqa: E731 — Arrow structs with nulls may surface ints as floats
    if kind == "image":
        shape = (_i("height"), _i("width"), _i("channels"))
    elif kind == "audio":
        shape = (_i("n_frames"),)
    elif kind == "video":
        shape = (_i("n_frames"), _i("height"), _i("width"), _i("channels"))
    else:
        raise ValueError(f"unknown kind {kind!r}")
    need = int(np.prod(shape))
    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.size < need:
        raise ValueError(f"payload too short for declared shape {shape}")
    return buf[:need].reshape(shape)


def synth_media(spark, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (mix64-derived payload bytes)."""
    from ..synth import mix64

    kinds = np.array(["image", "audio", "video"])

    def gen(batches):
        for pdf in batches:
            i = pdf["id"].to_numpy().astype(np.int64)
            h = mix64(i.view(np.uint64) ^ np.uint64(seed))
            kind = kinds[(h % np.uint64(3)).astype(int)]
            rows = []
            for idx, k, hh in zip(i, kind, h):
                if k == "image":
                    w, ht, c = 8 + int(hh % np.uint64(8)), 8, 3
                    meta = (w, ht, c, None, None)
                    size = w * ht * c
                elif k == "audio":
                    nf = 64 + int(hh % np.uint64(64))
                    meta = (None, None, None, 16_000, nf)
                    size = nf
                else:
                    w, ht, c, nf = 4, 4, 3, 2 + int(hh % np.uint64(3))
                    meta = (w, ht, c, None, nf)
                    size = nf * ht * w * c
                reps = (size + 7) // 8
                payload = mix64(np.arange(reps, dtype=np.uint64) ^ hh).tobytes()[:size]
                rows.append((f"m-{idx:08d}", k, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(0, n_rows).mapInPandas(gen, schema=MEDIA_SCHEMA)


def media_from_documents(docs: DataFrame, text: str = "text") -> DataFrame:
    """Reshape the driver's documents table into the MEDIA_SCHEMA: each doc's
    UTF-8 bytes become an opaque binary payload with audio-typed metadata
    (n_frames = byte count — the corpus is ASCII, so chars == bytes). This
    exercises the REAL multimodal plumbing (binary column → fake decode →
    segment-reduction features) on driver-provided data, making the whole
    path oracle-checkable: the fake decoder reads the payload bytes as the
    uint8 tensor, which the SQL twin reproduces with ``ascii(text[i])``."""
    meta = F.struct(
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("channels"),
        F.lit(16_000).cast("int").alias("sample_rate"),
        F.length(text).cast("int").alias("n_frames"),
    )
    return docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("audio").alias("kind"),
        F.col(text).cast("binary").alias("payload"),
        meta.alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """decode → per-item feature vector (mean/std/min/max + hash-projection
    embedding), one Arrow batch at a time. Emits fixed-width columns only —
    the binary payload is dropped before anything shuffles."""

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            # decode is per-item by nature (variable shapes / real codecs);
            # ALL feature math below is vectorized over the whole Arrow batch
            # via a ragged concat + segment reductions — no per-row Python in
            # the numeric path (the repo invariant a real codec swap inherits)
            flats = [
                decode_payload(
                    bytes(pdf["payload"].iloc[r]), pdf["kind"].iloc[r], pdf["meta"].iloc[r]
                ).ravel().astype(np.float64)
                for r in range(n)
            ]
            lengths = np.array([f.size for f in flats], dtype=np.int64)
            # zero-length decodes (e.g. a real codec returning a 0-frame
            # clip) would break reduceat (repeated/ OOB offsets return the
            # NEXT row's head); give them a 1-element NaN placeholder and
            # blank the stats afterwards
            empty = lengths == 0
            if empty.any():
                flats = [f if f.size else np.array([np.nan]) for f in flats]
                lengths = np.maximum(lengths, 1)
            flat = np.concatenate(flats)
            offsets = np.concatenate([[0], np.cumsum(lengths)[:-1]])
            sums = np.add.reduceat(flat, offsets)
            means = sums / lengths
            sumsq = np.add.reduceat(flat * flat, offsets)
            stds = np.sqrt(np.maximum(sumsq / lengths - means * means, 0.0))
            if empty.any():
                means[empty] = np.nan
                stds[empty] = np.nan
            # deterministic hash-projection embedding: FEATURE_DIM strided
            # sums per row = one segment-keyed bincount (uint8 inputs → the
            # sums are exact integers, so this is bit-identical to the old
            # per-stride loop under any vectorization order)
            rid = np.repeat(np.arange(n, dtype=np.int64), lengths)
            pos = np.arange(flat.size, dtype=np.int64) - np.repeat(offsets, lengths)
            feats = np.bincount(
                rid * FEATURE_DIM + pos % FEATURE_DIM,
                weights=np.nan_to_num(flat, nan=0.0),
                minlength=n * FEATURE_DIM,
            ).reshape(n, FEATURE_DIM) % 997.0
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "mean_val": np.round(means, 6),
                    "std_val": np.round(stds, 6),
                    "embedding": list(feats),
                }
            )

    schema = "media_id string, kind string, mean_val double, std_val double, embedding array<double>"
    # spread the payload batches before the python stage: a single-file scan
    # is one partition, which would serialize every decode on one worker
    # (partition-count-guarded — a no-op when the scan is already parallel)
    return spread(media, "media_id").mapInPandas(fn, schema=schema)


def resize_images(media: DataFrame, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """decode → nearest-neighbor resize → re-encode to binary. Shows the
    payload-in/payload-out stage shape (the pattern for any transcode)."""

    def fn(batches):
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "image"]
            if not len(pdf):
                continue
            out = []
            for r in range(len(pdf)):
                meta = pdf["meta"].iloc[r]
                arr = decode_payload(bytes(pdf["payload"].iloc[r]), "image", meta)
                ys = (np.arange(out_h) * arr.shape[0] // out_h)
                xs = (np.arange(out_w) * arr.shape[1] // out_w)
                small = arr[np.ix_(ys, xs)]
                out.append((pdf["media_id"].iloc[r], small.tobytes(), out_w, out_h, arr.shape[2]))
            yield pd.DataFrame(out, columns=["media_id", "payload", "width", "height", "channels"])

    schema = "media_id string, payload binary, width int, height int, channels int"
    return media.mapInPandas(fn, schema=schema)


def sample_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """Video frame sampling: decode → take every k-th frame → one row per
    sampled frame (explode happens POST-decode, map-side)."""

    def fn(batches):
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "video"]
            if not len(pdf):
                continue
            ids, fidx, frames = [], [], []
            for r in range(len(pdf)):
                meta = pdf["meta"].iloc[r]
                arr = decode_payload(bytes(pdf["payload"].iloc[r]), "video", meta)
                for j in range(0, arr.shape[0], every):
                    ids.append(pdf["media_id"].iloc[r])
                    fidx.append(j)
                    frames.append(arr[j].tobytes())
            yield pd.DataFrame({"media_id": ids, "frame_idx": fidx, "frame": frames})

    return media.mapInPandas(fn, schema="media_id string, frame_idx int, frame binary")


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind payload statistics — pure column math on metadata, no decode."""
    return (
        media.select("kind", F.length("payload").alias("nbytes"))
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("nbytes").alias("total_bytes"),
            F.min("nbytes").alias("min_bytes"),
            F.max("nbytes").alias("max_bytes"),
        )
    )


def json_metadata_stats(
    df: DataFrame,
    json_col: str,
    field: str,
    key: str,
) -> DataFrame:
    """Typed-metadata extraction from a semi-structured JSON column + per-key
    statistics — the metadata side of the multimodal data model (opaque
    payloads carry typed JSON sidecars; here the extraction is relational and
    never touches a payload).

    Spark-first shape: ``get_json_object`` runs JVM-side inside whole-stage
    codegen (no Python), the aggregate is one partial+final groupBy with
    exact integer sums, and the median uses the exact-``percentile``
    micro-unit recipe (integer inputs make interpolation midpoints exact
    halves both engines round identically)."""
    k = F.get_json_object(F.col(json_col), f"$.{field}").cast("long")
    return (
        df.select(F.col(key), k.alias("kv"))
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("kv").cast("long").alias("sum_k"),
            F.min("kv").cast("long").alias("min_k"),
            F.max("kv").cast("long").alias("max_k"),
            F.round(F.sum("kv").cast("double") / F.count(F.lit(1)), 6).alias("avg_k"),
            F.round(F.expr("percentile(kv, 0.5)")).cast("long").alias("p50_k"),
        )
    )
