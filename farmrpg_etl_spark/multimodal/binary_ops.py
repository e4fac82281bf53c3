"""Multimodal column plumbing (north-star extension).

Images / audio / video are opaque ``binary`` columns keyed by
``media_id`` and typed by ``kind``. The Spark-side plumbing — schema
handling, Arrow batch shape, ``mapInPandas`` signatures,
partitioning — is real and tested; the actual codec step is stubbed
(image/audio libraries are not available in this environment) behind
``_decode_stub``, which is a clearly-marked deterministic fake.

Scale notes: binary payloads ride in Arrow record batches; keep
``spark.sql.files.maxPartitionBytes`` small enough that a partition
of blobs fits executor memory, and use ``mapInPandas`` (streaming
iterator of batches) rather than collect-style UDFs so one oversized
partition never materializes at once.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = "media_id long, n_bytes long, digest string"


def extract_binary_meta(
    df: DataFrame, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """Byte-level metadata over opaque blobs via Arrow-batched
    mapInPandas: (media_id, n_bytes, digest=md5 hex).

    This is the real distributed code path a decode/feature-extract
    step plugs into; md5 here matches Spark's built-in ``F.md5`` so
    results are independently checkable.
    """
    id_name, data_name = id_col, data_col

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame(
                {
                    "media_id": pdf[id_name].astype("int64"),
                    "n_bytes": pdf[data_name].map(len).astype("int64"),
                    "digest": pdf[data_name].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )
            yield out

    return df.select(id_col, data_col).mapInPandas(batches, schema=META_SCHEMA)


def _decode_stub(data: bytes, kind: str) -> dict:
    """STUB decoder — deterministic fake.

    Real deployments replace this with PIL / torchaudio / pyav decode.
    The fake derives plausible dimensions from the payload hash so the
    downstream schema/partitioning logic is fully exercised."""
    h = hashlib.md5(data).digest()
    if kind == "image":
        return {"width": 64 + h[0] % 192, "height": 64 + h[1] % 192, "duration_ms": None}
    if kind in ("audio", "video"):
        return {"width": None, "height": None, "duration_ms": 1000 + int.from_bytes(h[2:4], "big") % 60000}
    raise NotImplementedError(f"unknown media kind: {kind}")


DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, duration_ms int"
)


def decode_media_meta(df: DataFrame) -> DataFrame:
    """Decode/feature-extract stage over (media_id, kind, data) rows
    (stubbed codec)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [
                _decode_stub(bytes(d), k) for d, k in zip(pdf["data"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "n_bytes": pdf["data"].map(len).astype("int64"),
                    "width": pd.array([m["width"] for m in metas], dtype="Int32"),
                    "height": pd.array([m["height"] for m in metas], dtype="Int32"),
                    "duration_ms": pd.array(
                        [m["duration_ms"] for m in metas], dtype="Int32"
                    ),
                }
            )

    return df.select("media_id", "kind", "data").mapInPandas(
        batches, schema=DECODED_SCHEMA
    )


def frame_sample(df: DataFrame, every_n_bytes: int = 4096) -> DataFrame:
    """Frame-sampling plumbing: explode each blob into per-"frame"
    rows (offset, frame_digest) every ``every_n_bytes``. Stand-in for
    video frame extraction; demonstrates the 1→N mapInPandas shape."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, offsets, digests = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["data"]):
                b = bytes(blob)
                for off in range(0, max(len(b), 1), every_n_bytes):
                    ids.append(int(mid))
                    offsets.append(off)
                    digests.append(hashlib.md5(b[off : off + every_n_bytes]).hexdigest())
            yield pd.DataFrame(
                {"media_id": pd.array(ids, dtype="int64"),
                 "frame_offset": pd.array(offsets, dtype="int64"),
                 "frame_digest": digests}
            )

    return df.select("media_id", "data").mapInPandas(
        batches, schema="media_id long, frame_offset long, frame_digest string"
    )


RESIZED_SCHEMA = (
    "media_id long, width int, height int, n_bytes_out long, out_digest string"
)


def resize_media(df: DataFrame) -> DataFrame:
    """Resize/transcode plumbing: binary in → (smaller) binary out with
    per-row target dimensions — the batch shape a real image-resample
    or audio-downsample stage runs in. The codec is a deterministic
    stub (byte-budget truncation: budget = (w*h) % 256 + 32, integer
    arithmetic so the DuckDB oracle reproduces it exactly); real
    deployments swap the truncation for PIL/ffmpeg resampling with the
    SAME mapInPandas signature and schema.

    Input columns: media_id, data (binary), target_w, target_h."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws = pdf["target_w"].astype("int64")
            hs = pdf["target_h"].astype("int64")
            budgets = (ws * hs) % 256 + 32
            outs = [
                bytes(b)[: int(bud)] for b, bud in zip(pdf["data"], budgets)
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "n_bytes_out": pd.array([len(o) for o in outs], dtype="int64"),
                    "out_digest": [hashlib.md5(o).hexdigest() for o in outs],
                }
            )

    return df.select("media_id", "data", "target_w", "target_h").mapInPandas(
        batches, schema=RESIZED_SCHEMA
    )


def embed_binary(
    df: DataFrame, id_col: str, data_col: str, dim: int = 16
) -> DataFrame:
    """Deterministic STAND-IN embedding for opaque binary payloads:
    (id, embedding array<double>) with component j =
    md5(md5(data)|j)[:8] as a uniform double in [-0.5, 0.5). In
    production this step is a model-inference ``mapInPandas`` stage
    (the batch plumbing above); the fake keeps the downstream geometry
    real (stable per content, independent per component) while staying
    pure Catalyst and bit-reproducible in any engine with md5 (DuckDB
    oracle included). The content digest is projected ONCE per row —
    the per-component lambda hashes the 32-char digest, never the
    payload.

    Feeds directly into ``operators.similarity`` (quantization, ANN,
    cosine pairs): the multimodal → embedding → index path of a
    100 TB pipeline with the model swapped for arithmetic."""
    hashed = df.select(F.col(id_col), F.md5(F.col(data_col)).alias("__h"))
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col("__h"), j.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(2**32))
            - F.lit(0.5)
        ),
    )
    return hashed.select(id_col, emb.alias("embedding"))


SYNTH_SCHEMA = "media_id long, kind string, data binary, src_digest string"


def synthesize_real_media(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Encode stage: id → real PNG/BMP/WAV payload (codecs.synth_media_bytes)
    plus the source pixel digest. The binary column rides Arrow batches
    into the decode stage — the write half of a real media round trip."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from farmrpg_etl_spark.multimodal.codecs import synth_media_bytes

        for pdf in it:
            kinds, blobs, digests = [], [], []
            for mid in pdf[id_col]:
                k, b, dg = synth_media_bytes(int(mid))
                kinds.append(k)
                blobs.append(b)
                digests.append(dg)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "kind": kinds,
                    "data": blobs,
                    "src_digest": digests,
                }
            )

    return df.select(id_col).mapInPandas(batches, schema=SYNTH_SCHEMA)


REAL_DECODED_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "duration_ms long, pixel_digest string, n_bytes long"
)


def decode_real_media(df: DataFrame) -> DataFrame:
    """REAL decode stage (codecs.decode_media): PNG chunk-walk +
    inflate + unfilter, BMP header+pixels, WAV RIFF walk. Unknown or
    corrupt payloads are not dropped and do not crash the stage — they
    emit a quarantine row (format='unknown', null metadata), the P9
    error-channel pattern. Input: (media_id, data)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        from farmrpg_etl_spark.multimodal.codecs import decode_media

        for pdf in it:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["data"]):
                b = bytes(blob)
                try:
                    m = decode_media(b)
                except (ValueError, struct.error, zlib.error, IndexError):
                    # The codecs raise ValueError for recognized-but-bad
                    # payloads, but truncated headers surface struct.error
                    # (short unpack), corrupt-deflate IDAT surfaces
                    # zlib.error, and short BMP pixel rows IndexError —
                    # all must land in the quarantine row, never crash
                    # the executor task (P9 invariant).
                    m = {
                        "format": "unknown",
                        "width": None,
                        "height": None,
                        "duration_ms": None,
                        "pixel_digest": None,
                    }
                rows.append(
                    {
                        "media_id": int(mid),
                        "format": m["format"],
                        "width": m["width"],
                        "height": m["height"],
                        "duration_ms": m["duration_ms"],
                        "pixel_digest": m["pixel_digest"],
                        "n_bytes": len(b),
                    }
                )
            yield pd.DataFrame(rows).astype(
                {
                    "media_id": "int64",
                    "width": "Int32",
                    "height": "Int32",
                    "duration_ms": "Int64",
                    "n_bytes": "int64",
                }
            )

    return df.select("media_id", "data").mapInPandas(
        batches, schema=REAL_DECODED_SCHEMA
    )
