"""Multimodal column plumbing: opaque binary payloads.

Images/audio/video are carried as ``binary`` columns; decode /
feature-extraction run as Arrow-batched functions over
``mapInPandas`` so each task processes whole record batches. The actual
media decoding is STUBBED (the image/audio libraries are not in this
runtime) behind ``decoder=`` hooks with a deterministic fake for tests —
the Spark-side contract (schema, batch shape, partitioning) is real.

Design for 100 TB: payloads stay columnar in parquet; metadata-only
queries never touch the binary column (Parquet column pruning); the
decode stage is a per-partition map with no shuffle, so it scales with
executor count; downstream feature columns are small and aggregable.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

_PIL_AVAILABLE: bool | None = None  # resolved lazily, once per process


def pillow_image_decoder(payload: bytes) -> np.ndarray:
    """Real image decode via Pillow (lazily imported — present only if the
    runtime gains media libraries; see :func:`default_image_decoder` for
    the auto-activation hook). Returns (h, w, 3) float64 RGB."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        return np.atleast_3d(np.asarray(im.convert("RGB"), dtype=np.float64))


def default_image_decoder(payload: bytes) -> np.ndarray:
    """Auto-activating decode hook: Pillow-backed when the runtime has
    Pillow (checked once per process — the check also runs inside
    executors, so a cluster with media libs installed decodes for real),
    otherwise an honest raise so callers must opt into the deterministic
    fake. THIS runtime has no media libraries; the stub branch is the
    tested one, with a conditional Pillow test that self-activates."""
    global _PIL_AVAILABLE
    if _PIL_AVAILABLE is None:
        import importlib.util

        _PIL_AVAILABLE = importlib.util.find_spec("PIL") is not None
    if _PIL_AVAILABLE:
        return pillow_image_decoder(payload)
    raise NotImplementedError(
        "image decoding requires an image library (e.g. Pillow); "
        "pass decoder=fake_image_decoder for deterministic test output"
    )


def fake_image_decoder(payload: bytes) -> np.ndarray:
    """Deterministic fake: a 4x4x3 'image' derived from the payload bytes
    (so tests can assert exact feature values without a media library)."""
    h = np.frombuffer(
        (payload * (48 // max(len(payload), 1) + 1))[:48], dtype=np.uint8
    )
    return h.reshape(4, 4, 3).astype(np.float64)


def extract_image_features(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    decoder: Callable[[bytes], np.ndarray] = default_image_decoder,
) -> DataFrame:
    """Decode + per-image features via mapInPandas (Arrow batches).

    Output: (id, width, height, n_channels, mean_intensity, std_intensity).
    The decoder runs once per row inside a batch loop — swap in a real
    decoder when the runtime has one."""
    out_schema = (
        f"{id_col} long, width int, height int, n_channels int, "
        "mean_intensity double, std_intensity double"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # decode is inherently per-row (opaque payloads); the feature
            # math is NOT — stack the decoded batch into one ndarray and
            # reduce vectorized (per-image fallback only for ragged shapes)
            arrs = [
                np.atleast_3d(decoder(bytes(p))) for p in pdf[payload_col]
            ]
            if arrs and all(a.shape == arrs[0].shape for a in arrs):
                stack = np.stack(arrs).astype(np.float64)
                means = stack.mean(axis=(1, 2, 3))
                stds = stack.std(axis=(1, 2, 3))
            else:
                means = np.array([float(a.mean()) for a in arrs])
                stds = np.array([float(a.std()) for a in arrs])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    "width": np.array([a.shape[1] for a in arrs], dtype=np.int32),
                    "height": np.array([a.shape[0] for a in arrs], dtype=np.int32),
                    "n_channels": np.array([a.shape[2] for a in arrs], dtype=np.int32),
                    "mean_intensity": means,
                    "std_intensity": stds,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(fn, out_schema)


def fake_audio_decoder(payload: bytes) -> np.ndarray:
    """Deterministic fake waveform (float64 in [-1, 1]) from payload bytes."""
    raw = np.frombuffer((payload * 8)[:256], dtype=np.uint8).astype(np.float64)
    return (raw - 127.5) / 127.5


def extract_audio_features(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    decoder: Callable[[bytes], np.ndarray] = fake_audio_decoder,
) -> DataFrame:
    """(id, n_samples, rms, peak) per audio payload via mapInPandas."""
    out_schema = f"{id_col} long, n_samples int, rms double, peak double"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per-row decode, batch-stacked reductions (see image variant)
            wavs = [
                np.asarray(decoder(bytes(p)), dtype=np.float64)
                for p in pdf[payload_col]
            ]
            if wavs and all(w.shape == wavs[0].shape for w in wavs):
                stack = np.stack(wavs)
                rms = np.sqrt((stack * stack).mean(axis=1))
                peak = np.abs(stack).max(axis=1)
            else:
                rms = np.array([float(np.sqrt(np.mean(w * w))) for w in wavs])
                peak = np.array([float(np.max(np.abs(w))) for w in wavs])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    "n_samples": np.array([len(w) for w in wavs], dtype=np.int32),
                    "rms": rms,
                    "peak": peak,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(fn, out_schema)


def image_ahash(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    decoder: Callable[[bytes], np.ndarray] = default_image_decoder,
    grid: int = 7,
) -> DataFrame:
    """Perceptual average-hash (aHash) per image: decode, channel-SUM
    grayscale, pool to a ``grid x grid`` board of block SUMS, set bit k
    (row-major, MSB first) when cell k exceeds the board mean. Near-dup
    images differ in a few bits — compare with
    ``pipeline.dedup.hamming_distance(col_a, col_b, bits=grid*grid)``
    or bucket on the exact hash for the equality tier.

    SUMS (not means) everywhere: aHash thresholds each cell against the
    board mean, which is invariant to the common positive scaling a mean
    would apply — and with integer-valued decoders (uint8 images, the
    deterministic fake) sums keep every comparison integer-exact, so the
    oracle can recompute the hash bit-for-bit in SQL
    (``grid^2 * cell > total`` avoids floats entirely).

    ``grid**2`` must fit a BIGINT's positive range (<= 7x7 = 49 bits);
    the classic 8x8/64-bit variant would wrap the sign bit. Arrow-batched
    mapInPandas; decode per row (opaque payloads), hash math vectorized
    per batch."""
    if grid * grid > 63:
        raise ValueError(
            f"grid={grid} needs {grid * grid} bits; max 7 (49 bits) to "
            "stay in BIGINT's positive range"
        )
    out_schema = f"{id_col} long, ahash long, grid int"

    def _hash_one(arr: np.ndarray) -> int:
        a = np.atleast_3d(arr)
        gray = a.sum(axis=2)
        rows = np.array_split(np.arange(gray.shape[0]), grid)
        cols = np.array_split(np.arange(gray.shape[1]), grid)
        board = np.array(
            [[gray[np.ix_(r, c)].sum() for c in cols] for r in rows]
        )
        flat = board.ravel()
        bits = grid * grid * flat > flat.sum()
        h = 0
        n = grid * grid
        for k, b in enumerate(bits):
            if b:
                h |= 1 << (n - 1 - k)
        return h

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [_hash_one(decoder(bytes(p))) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    "ahash": np.array(hashes, dtype=np.int64),
                    "grid": np.full(len(hashes), grid, dtype=np.int32),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(fn, out_schema)


def frame_sample_plan(
    df: DataFrame, id_col: str, n_frames: int = 4, duration_col: str | None = None
) -> DataFrame:
    """Video frame-sampling *plan*: emits (id, frame_idx, ts_ms) rows for a
    uniform sample — the decode itself is a downstream mapInPandas stage.
    Pure explode, no shuffle."""
    dur = F.col(duration_col) if duration_col else F.lit(1000 * n_frames)
    return df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx"),
    ).withColumn(
        "ts_ms", (F.col("frame_idx") * dur / F.lit(n_frames)).cast("long")
    )


def resize_images(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    height: int,
    width: int,
    decoder: Callable[[bytes], np.ndarray] = default_image_decoder,
) -> DataFrame:
    """Decode + resize via mapInPandas (Arrow batches): nearest-neighbor
    point sampling to (height, width) in pure NumPy (no box averaging /
    antialiasing — swap in a real resampler along with a real decoder
    when the runtime has media libraries; the deterministic fake decoder
    keeps the Spark plumbing testable here).

    Output: (id, height, width, n_channels, pixels) with ``pixels`` the
    row-major flattened resized image as array<double> — the shape a
    downstream embedding/vision stage consumes."""
    out_schema = (
        f"{id_col} long, height int, width int, n_channels int, "
        "pixels array<double>"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [
                np.atleast_3d(decoder(bytes(p))) for p in pdf[payload_col]
            ]
            if arrs and all(a.shape == arrs[0].shape for a in arrs):
                # uniform batch: ONE stacked gather resizes every image
                h0, w0, _ = arrs[0].shape
                ri = (np.arange(height) * h0 // height).clip(0, h0 - 1)
                ci = (np.arange(width) * w0 // width).clip(0, w0 - 1)
                stack = np.stack(arrs)[:, ri][:, :, ci]
                pixels = list(stack.reshape(len(arrs), -1))
            else:
                pixels = []
                for arr in arrs:
                    h0, w0, _ = arr.shape
                    ri = (np.arange(height) * h0 // height).clip(0, h0 - 1)
                    ci = (np.arange(width) * w0 // width).clip(0, w0 - 1)
                    pixels.append(arr[np.ix_(ri, ci)].ravel())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    "height": np.full(len(arrs), height, dtype=np.int32),
                    "width": np.full(len(arrs), width, dtype=np.int32),
                    "n_channels": np.array(
                        [a.shape[2] for a in arrs], dtype=np.int32
                    ),
                    "pixels": [p.astype(np.float64) for p in pixels],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(fn, out_schema)
