"""Multimodal (image/audio/video) column plumbing (SURVEY.md §7 phase 4).

Assets are opaque ``binary`` payloads + typed metadata (schemas.MEDIA).
The Spark-side machinery — schema contract, Arrow-batched
``mapInPandas`` pipelines, batch shaping, partition sizing — is real and
tested; the codec work (image and video decode) sits behind
``_decode_payload``, real for images when Pillow is importable and a
deterministic fake otherwise. Swapping the fake for PIL/torchaudio/pyav
changes ONE function; the distributed plan is unchanged.

Scale notes: payloads dominate row width, so these operators
deliberately run ``mapInPandas`` (streamed Arrow batches, bounded
memory) rather than ``collect``-side loops; binary columns are pruned
unless requested (metadata-only queries never deserialize payloads);
``spark.sql.files.maxPartitionBytes`` governs scan parallelism for
binary-file ingest.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    "asset_id long, media_type string, n_bytes int, checksum string, "
    "width int, height int, duration_ms int"
)

# Real image codec when available (import-guarded: the engine works
# identically without it, falling back to the deterministic stub).
try:  # pragma: no cover - depends on container contents
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:
    _PILImage = None
    HAS_PIL = False


def _decode_payload(media_type: str, payload: bytes) -> dict:
    """Decode one asset's metadata.

    Images decode for REAL when Pillow is importable (width/height from
    the actual codec); audio/video — and images in containers without
    Pillow — fall back to a deterministic fake that derives stable
    pseudo-dimensions from the payload bytes, so tests run end-to-end
    either way. Raises for unknown media types, mirroring a codec error
    path.
    """
    if media_type not in ("image", "audio", "video"):
        raise NotImplementedError(f"no codec for media_type={media_type!r}")
    if media_type == "image" and HAS_PIL and payload:
        import io as _io

        try:
            with _PILImage.open(_io.BytesIO(payload)) as img:
                return {"width": img.width, "height": img.height,
                        "duration_ms": 0}
        except Exception:
            pass  # undecodable bytes -> deterministic fallback below
    n = len(payload)
    head = payload[:4].ljust(4, b"\0")
    seed = int.from_bytes(head, "big")
    if media_type == "image":
        return {"width": 16 + seed % 1024, "height": 16 + (seed >> 10) % 1024,
                "duration_ms": 0}
    return {"width": 0, "height": 0, "duration_ms": 1 + seed % 600000}


def extract_features(df: DataFrame) -> DataFrame:
    """Per-asset features via Arrow-batched mapInPandas: byte size,
    checksum, decoded dimensions. One pass, no shuffle."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"]) if row["payload"] is not None else b""
                meta = _decode_payload(row["media_type"], payload)
                out.append(
                    {
                        "asset_id": row["asset_id"],
                        "media_type": row["media_type"],
                        "n_bytes": len(payload),
                        "checksum": hashlib.md5(payload).hexdigest(),
                        "width": meta["width"],
                        "height": meta["height"],
                        "duration_ms": meta["duration_ms"],
                    }
                )
            yield pd.DataFrame(out, columns=[
                "asset_id", "media_type", "n_bytes", "checksum",
                "width", "height", "duration_ms",
            ])

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def block_hash(
    df: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    bits: int = 32,
) -> DataFrame:
    """Codec-free near-dup signature for opaque binary assets: the
    payload is cut into ``bits`` equal blocks and each contributes one
    parity bit (md5 of the block), so payloads differing in one block
    differ in ~1 signature bit — feed :func:`dedup.hamming_pairs` for
    banded asset-level dedup with NO image/audio decoder in the loop.
    (A codec-aware pipeline swaps in a true perceptual hash — dhash of
    decoded pixels — behind the same (id, hash) contract.)

    Pure codegen projection: ``bits`` md5 calls per row, no UDF, no
    shuffle. Blocks are byte ranges; md5/substring run on the binary
    payload JVM-side.
    """
    from pyspark.sql import functions as F

    blk = f"greatest(cast(ceil(octet_length({payload_col}) / {bits}) AS int), 1)"
    terms = " + ".join(
        f"(cast(conv(substr(md5(substring({payload_col}, 1 + {b} * _blk, _blk)),"
        f" 1, 1), 16, 10) AS bigint) % 2) * {1 << b}"
        for b in range(bits)
    )
    return (
        df.withColumn("_blk", F.expr(blk))
        .select(id_col, F.expr(terms).alias("phash"))
    )


def audio_energy_windows(
    df: DataFrame,
    window_samples: int = 1024,
    sample_rate: int = 16_000,
) -> DataFrame:
    """REAL audio DSP over opaque payloads: interpret each asset's
    bytes as mono PCM16-LE and compute per-window RMS energy + peak —
    the silence-trim / loudness-normalize / voice-activity pre-pass of
    an audio training pipeline. Unlike the image leg (Pillow-optional),
    this needs only numpy (``frombuffer`` + vectorized reductions), so
    the decode is never stubbed.

    Scale shape: Arrow-batched ``mapInPandas``; each asset expands to
    ``n_samples / window_samples`` skinny rows (id, window, rms, peak)
    — payload bytes never leave the executor, and the output is
    metadata-sized. Odd trailing bytes / short tails are dropped
    (contract: only full windows are scored).
    """
    import numpy as np
    import pandas as pd

    def op(batches):
        for pdf in batches:
            ids, wins, rmss, peaks, starts = [], [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                usable = len(b) - (len(b) % 2)
                if usable <= 0:
                    continue
                x = np.frombuffer(b[:usable], dtype="<i2").astype(np.float64)
                x /= 32768.0
                n_win = len(x) // window_samples
                if n_win == 0:
                    continue
                w = x[: n_win * window_samples].reshape(n_win, window_samples)
                rms = np.sqrt((w * w).mean(axis=1))
                pk = np.abs(w).max(axis=1)
                ids.extend([aid] * n_win)
                wins.extend(range(n_win))
                starts.extend(
                    float(i * window_samples) / sample_rate
                    for i in range(n_win)
                )
                rmss.extend(np.round(rms, 6))
                peaks.extend(np.round(pk, 6))
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "window": wins,
                    "start_s": starts,
                    "rms": rmss,
                    "peak": peaks,
                }
            )

    return df.select("asset_id", "payload").mapInPandas(
        op,
        schema="asset_id string, window int, start_s double,"
        " rms double, peak double",
    )
