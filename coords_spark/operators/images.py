"""Image payload operators (input_hint; SURVEY.md §2.8 image row).

The multimodal pattern: bytes stay an opaque binary column with typed
metadata (w, h, fmt); decode / verify / feature-extract run as Arrow-batched
pandas UDFs (mapInPandas for multi-column outputs) with numpy kernels
per batch. Arrow batch sizing: the session caps
spark.sql.execution.arrow.maxRecordsPerBatch (session.py) because payload
rows are KB-sized — cap bytes, not just rows (SURVEY.md §7 watch-list 5).

Formats: raw / pngz / q6 are real codecs (kernels/codec.py). jpeg/webp
decode is STUBBED (no image libs in this environment, SURVEY.md §0): the
Spark-side plumbing (schema, batching, signatures) is real and tested; the
codec raises NotImplementedError.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coords_spark.kernels import codec, phash

STUB_FORMATS = ("jpeg", "webp", "avif")

# A malformed payload (truncated buffer, bad signature, corrupt zlib
# stream, wrong length for the declared w*h) must flag the ROW, never
# abort the job — these operators exist to find such rows.
DECODE_ERRORS = (
    NotImplementedError,  # stub formats (jpeg/webp: no codec lib here)
    ValueError,  # frombuffer/reshape size mismatch, bad magic
    zlib.error,  # corrupt deflate stream (pngz)
    struct.error,  # truncated header
    IndexError,
    OverflowError,
    KeyError,  # unknown fmt string
    TypeError,  # None payload
)

# Observability for the broad DECODE_ERRORS net: every caught decode failure
# is tallied by (fmt, exception class) so a kernel bug that starts
# masquerading as per-row decode failures stays visible. Tallies flow to the
# DRIVER through a Spark accumulator (read with decode_error_counts()) —
# a plain module dict would live only in per-worker Python processes and
# vanish when workers recycle. DECODE_ERROR_COUNTS remains as a worker-local
# mirror for in-process debugging.
DECODE_ERROR_COUNTS: dict[tuple[str, str], int] = {}


class _DictCountParam(AccumulatorParam):
    """Dict-valued AccumulatorParam: merge {(fmt, exc): n} tallies."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, n in b.items():
            a[k] = a.get(k, 0) + n
        return a


# one accumulator per SparkContext (a stale accumulator from a stopped
# context would silently drop executor updates)
_ACC_STATE: dict = {"ctx": None, "acc": None}


def decode_error_accumulator():
    """The per-context decode-error accumulator (None without an active
    SparkContext — pure-kernel tests). Captured into UDF closures at
    operator-construction time on the driver."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    if _ACC_STATE["ctx"] is not sc:
        _ACC_STATE["ctx"] = sc
        _ACC_STATE["acc"] = sc.accumulator({}, _DictCountParam())
    return _ACC_STATE["acc"]


def decode_error_counts() -> dict[tuple[str, str], int]:
    """Driver-side view of all executors' decode-error tallies.

    AT-LEAST-ONCE semantics (ADVICE r4): the accumulator is updated inside
    UDF *transformations*, and Spark only guarantees exactly-once
    accumulator updates inside actions — task retries, speculative
    execution, or stage re-runs double-count. Treat these tallies as
    indicative observability (is decode failing, for which fmt/exception),
    never as exact row counts; exact counts come from the flagged rows
    themselves (decode_ok = false)."""
    acc = _ACC_STATE["acc"]
    return dict(acc.value) if acc is not None else {}


def _note_decode_error(exc: BaseException, fmt, acc=None) -> None:
    k = (str(fmt), type(exc).__name__)
    DECODE_ERROR_COUNTS[k] = DECODE_ERROR_COUNTS.get(k, 0) + 1
    if acc is not None:
        acc.add({k: 1})


def _decode(row_bytes: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt in STUB_FORMATS:
        raise NotImplementedError(
            f"{fmt} decode requires an image codec library not present in this "
            "environment; plug a decoder into coords_spark.kernels.codec"
        )
    return codec.decode_image(row_bytes, fmt, w, h)


def with_payload_verification(
    images: DataFrame, psnr_floor: float = 40.0, max_hamming_lossy: int = 8
) -> DataFrame:
    """Adds (psnr, phash_rec, payload_ok): decodes every payload, recomputes
    the blockhash FROM THE DECODED PIXELS, and checks the per-row invariant
    — lossless formats must roundtrip exactly (psnr inf, hash equal), lossy
    ones >= psnr_floor with the decoded-pixel hash within max_hamming_lossy
    of the stored phash (BASELINE.json:15). If the table carries a
    `caption` column, also adds caption_ok: the caption must equal the
    deterministic expected text derived from (image_id, anchor(phash)) —
    the input_hint's "captions verified equal" invariant."""
    has_caption = "caption" in images.columns
    _acc = decode_error_accumulator()

    # never .add() onto df.schema — it mutates the DataFrame's cached schema
    @F.pandas_udf("psnr double, phash_rec long, payload_ok boolean")
    def _verify(
        iid: pd.Series, b: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series, ph: pd.Series
    ) -> pd.DataFrame:
        n = len(b)
        psnrs = np.empty(n, dtype=np.float64)
        hashes = np.empty(n, dtype=np.int64)
        ok = np.zeros(n, dtype=bool)
        for i in range(n):
            try:
                img = _decode(bytes(b.iloc[i]), fmt.iloc[i], int(w.iloc[i]), int(h.iloc[i]))
            except DECODE_ERRORS as e:
                _note_decode_error(e, fmt.iloc[i], _acc)
                psnrs[i], hashes[i] = float("nan"), 0
                continue
            ref = phash.procedural_image(iid.iloc[i], int(w.iloc[i]), int(h.iloc[i]))
            psnrs[i] = codec.psnr(ref, img)
            hashes[i] = phash.blockhash64(img)
            if codec.is_lossless(fmt.iloc[i]):
                hash_ok = hashes[i] == int(ph.iloc[i])
            else:
                ham = bin((hashes[i] ^ int(ph.iloc[i])) & ((1 << 64) - 1)).count("1")
                hash_ok = ham <= max_hamming_lossy
            ok[i] = psnrs[i] >= psnr_floor and hash_ok
        return pd.DataFrame(
            {
                "psnr": np.where(np.isinf(psnrs), 999.0, psnrs),
                "phash_rec": hashes,
                "payload_ok": ok,
            }
        )

    @F.pandas_udf("boolean")
    def _caption_ok(iid: pd.Series, ph: pd.Series, cap: pd.Series) -> pd.Series:
        from coords_spark.fixtures import expected_caption

        lat, lon = phash.anchor(ph.to_numpy())
        out = []
        for s, la, lo, c in zip(iid, lat, lon, cap):
            try:
                idx = int(s[3:])
            except (ValueError, TypeError):
                out.append(False)
                continue
            out.append(c == expected_caption(idx, la, lo))
        return pd.Series(out)

    out = images.withColumn(
        "_pv",
        _verify(
            F.col("image_id"), F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h"), F.col("phash")
        ),
    ).select("*", "_pv.psnr", "_pv.phash_rec", "_pv.payload_ok").drop("_pv")
    if has_caption:
        out = out.withColumn(
            "caption_ok", _caption_ok(F.col("image_id"), F.col("phash"), F.col("caption"))
        )
    return out


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized popcount of a uint64 array (numpy 1.x has no
    bitwise_count): unpack each value's 8 bytes to bits and sum."""
    return np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)


# keep the vectorized hash stage's float64 working set bounded per slice
# (blockhash64_batch converts each (N, h, w, 3) stack to float64)
_BATCH_HASH_BYTES = 32 << 20


def _hash_stack(imgs: np.ndarray) -> np.ndarray:
    """blockhash64 of every image in a same-shape stack — bit-identical to
    the per-row kernel (blockhash64 delegates to blockhash64_batch for
    h, w multiples of 8; other shapes fall back per image)."""
    n, h, w = imgs.shape[0], imgs.shape[1], imgs.shape[2]
    out = np.empty(n, dtype=np.int64)
    if h % 8 == 0 and w % 8 == 0:
        step = max(1, _BATCH_HASH_BYTES // max(h * w * 3 * 8, 1))
        for lo in range(0, n, step):
            out[lo : lo + step] = phash.blockhash64_batch(imgs[lo : lo + step])
    else:
        for i in range(n):
            out[i] = phash.blockhash64(imgs[i])
    return out


def _decode_hash_batch(b, fmts: list, ws, hs, acc=None) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized decode + blockhash over one Arrow binary batch.

    Groups rows by (fmt, w, h): `raw`/`q6` payloads of the expected length
    decode as ONE gather over the Arrow data buffer (zero per-row Python),
    `pngz` decompresses per row (stdlib zlib, C-speed) with the hash still
    batched per shape. Any row that doesn't fit the fast path — stub or
    unknown fmt, null payload, length mismatch, corrupt stream — runs the
    exact scalar path of the pre-r8 loop, preserving flag/accumulator
    semantics per row. Returns (hashes int64[n], decoded bool[n]); failed
    rows keep hash 0 / decoded False."""
    n = len(b)
    hashes = np.zeros(n, dtype=np.int64)
    decoded = np.zeros(n, dtype=bool)
    if n == 0:
        return hashes, decoded
    if isinstance(b, pa.ChunkedArray):
        b = b.combine_chunks()
    odt = np.int64 if pa.types.is_large_binary(b.type) else np.int32
    offsets = np.frombuffer(b.buffers()[1], dtype=odt)[
        b.offset : b.offset + n + 1
    ].astype(np.int64)
    data_buf = b.buffers()[2]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.zeros(0, np.uint8)
    )
    lens = offsets[1:] - offsets[:-1]
    valid = (
        np.asarray(b.is_valid()) if b.null_count else np.ones(n, dtype=bool)
    )

    # a null w/h arrives as NaN: its row takes the scalar path, where
    # int(NaN) raises ValueError and DECODE_ERRORS flags the row
    valid = valid & ~np.isnan(np.asarray(ws, dtype=float)) & ~np.isnan(np.asarray(hs, dtype=float))
    groups: dict[tuple, list[int]] = {}
    fallback: list[int] = []
    for i in range(n):
        if not valid[i]:
            fallback.append(i)
            continue
        groups.setdefault((fmts[i], int(ws[i]), int(hs[i])), []).append(i)

    pngz_shapes: dict[tuple[int, int], tuple[list[int], list[np.ndarray]]] = {}
    for (f, w, h), rows_l in groups.items():
        rows = np.asarray(rows_l, dtype=np.int64)
        if f in ("raw", "q6") and w > 0 and h > 0:
            want = w * h * 3
            good = rows[lens[rows] == want]
            fallback.extend(int(i) for i in rows[lens[rows] != want])
            # the gather's int64 index array is 8x the payload bytes —
            # slice by payload size so the working set stays ~36 MB
            step = max(1, (4 << 20) // max(want, 1))
            for lo in range(0, good.size, step):
                sl = good[lo : lo + step]
                flat = data[offsets[sl][:, None] + np.arange(want)[None, :]]
                imgs = flat.reshape(-1, h, w, 3)
                if f == "q6":
                    imgs = np.minimum(
                        imgs.astype(np.uint16) * 4 + 1, 255
                    ).astype(np.uint8)
                hashes[sl] = _hash_stack(imgs)
                decoded[sl] = True
        elif f == "pngz":
            for i in rows_l:
                try:
                    img = codec.decode_pngz(
                        memoryview(data[offsets[i] : offsets[i + 1]])
                    )
                except DECODE_ERRORS as e:
                    _note_decode_error(e, f, acc)
                    continue
                shp = (img.shape[0], img.shape[1])
                idxs, imgs_l = pngz_shapes.setdefault(shp, ([], []))
                idxs.append(i)
                imgs_l.append(img)
        else:
            fallback.extend(rows_l)
    for (_h, _w), (idxs, imgs_l) in pngz_shapes.items():
        sl = np.asarray(idxs, dtype=np.int64)
        step = max(1, _BATCH_HASH_BYTES // max(_h * _w * 3, 1))
        for lo in range(0, sl.size, step):
            ss = sl[lo : lo + step]
            hashes[ss] = _hash_stack(np.stack(imgs_l[lo : lo + step]))
            decoded[ss] = True
    # exact pre-r8 scalar path for everything unusual
    for i in fallback:
        try:
            img = _decode(b[i].as_buffer(), fmts[i], int(ws[i]), int(hs[i]))
        except DECODE_ERRORS as e:
            _note_decode_error(e, fmts[i], acc)
            continue
        hashes[i] = phash.blockhash64(img)
        decoded[i] = True
    return hashes, decoded


def with_decode_check_arrow(images: DataFrame, max_hamming_lossy: int = 8) -> DataFrame:
    """Arrow-native decode check (Spark 4 ``arrow_udf``): payload buffers
    are read as zero-copy slices of the Arrow data buffer and decoded in
    same-shape batches (one numpy gather per raw/q6 group, per-row zlib
    for pngz), with the blockhash always computed via the bit-identical
    batch kernel — no per-row numpy call chain (guide §4.2)."""
    _acc = decode_error_accumulator()

    @F.arrow_udf("phash_rec long, decode_ok boolean")
    def _check(
        b: pa.Array, fmt: pa.Array, w: pa.Array, h: pa.Array, ph: pa.Array
    ) -> pa.Array:
        n = len(b)
        fmts = fmt.to_pylist()
        ws = w.to_numpy(zero_copy_only=False)
        hs = h.to_numpy(zero_copy_only=False)
        phs = ph.to_numpy(zero_copy_only=False).astype(np.int64)
        hashes, decoded = _decode_hash_batch(b, fmts, ws, hs, _acc)
        lossless = np.fromiter(
            (codec.is_lossless(f) for f in fmts), dtype=bool, count=n
        )
        ham = _popcount64(hashes.view(np.uint64) ^ phs.view(np.uint64))
        ok = decoded & np.where(
            lossless, hashes == phs, ham <= max_hamming_lossy
        )
        return pa.StructArray.from_arrays(
            [pa.array(hashes, pa.int64()), pa.array(ok, pa.bool_())],
            names=["phash_rec", "decode_ok"],
        )

    return images.withColumn(
        "_dc", _check(F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h"), F.col("phash"))
    ).select("*", "_dc.phash_rec", "_dc.decode_ok").drop("_dc")


# default: the Arrow-native path (zero python bytes-object churn)
with_decode_check = with_decode_check_arrow


def with_decode_check_chunk(
    images: DataFrame, split_set, base_level: int, max_hamming_lossy: int = 8
) -> DataFrame:
    """The fully-fused ingest pass 2: decode + hash verify + anchor + cell +
    chunk assignment in ONE Arrow UDF — a single JVM->Python boundary for
    the whole per-row pipeline (bytes in, verdict + placement out)."""
    import numpy as _np

    from coords_spark.kernels import mercator as _mercator
    from coords_spark.kernels import zcurve as _zcurve
    from coords_spark.operators.tiling import assign_chunks_np

    split_sorted = _np.sort(_np.asarray(split_set, dtype="int64"))
    _acc = decode_error_accumulator()

    @F.arrow_udf("phash_rec long, decode_ok boolean, lat int, lon int, cell long, chunk_id long")
    def _full(
        b: pa.Array, fmt: pa.Array, w: pa.Array, h: pa.Array, ph: pa.Array
    ) -> pa.Array:
        n = len(b)
        hashes = _np.zeros(n, dtype=_np.int64)
        ok = _np.zeros(n, dtype=bool)
        fmts = fmt.to_pylist()
        ws = w.to_numpy(zero_copy_only=False)
        hs = h.to_numpy(zero_copy_only=False)
        phs = ph.to_numpy(zero_copy_only=False)
        for i in range(n):
            try:
                img = _decode(b[i].as_buffer(), fmts[i], int(ws[i]), int(hs[i]))
            except DECODE_ERRORS as e:
                _note_decode_error(e, fmts[i], _acc)
                continue
            hashes[i] = phash.blockhash64(img)
            if codec.is_lossless(fmts[i]):
                ok[i] = hashes[i] == int(phs[i])
            else:
                ham = bin((hashes[i] ^ int(phs[i])) & ((1 << 64) - 1)).count("1")
                ok[i] = ham <= max_hamming_lossy
        lat, lon = phash.anchor(phs)
        ux, uy = _mercator.latlon_i32_to_unit(lat, lon)
        gx, gy = _zcurve.unit_to_grid(ux, uy)
        cell = _zcurve.cell_from_point(gx, gy, base_level).astype("int64")
        chunk = assign_chunks_np(cell, split_sorted, base_level)
        return pa.StructArray.from_arrays(
            [
                pa.array(hashes, pa.int64()),
                pa.array(ok, pa.bool_()),
                pa.array(lat, pa.int32()),
                pa.array(lon, pa.int32()),
                pa.array(cell, pa.int64()),
                pa.array(chunk, pa.int64()),
            ],
            names=["phash_rec", "decode_ok", "lat", "lon", "cell", "chunk_id"],
        )

    return images.withColumn(
        "_f", _full(F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h"), F.col("phash"))
    ).select(
        "*", "_f.phash_rec", "_f.decode_ok", "_f.lat", "_f.lon", "_f.cell", "_f.chunk_id"
    ).drop("_f")


def with_pixel_features(images: DataFrame, grid: int = 4) -> DataFrame:
    """Feature extraction: mean-pooled grid*grid*3 pixel features from the
    decoded payload (array<float>) — the decode->feature shape a training
    pipeline needs; swap the kernel for a real embedding model at will."""
    from pyspark.sql.types import ArrayType, FloatType

    @F.pandas_udf(ArrayType(FloatType()))
    def _feat(b: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        feats = []
        for i in range(len(b)):
            img = _decode(bytes(b.iloc[i]), fmt.iloc[i], int(w.iloc[i]), int(h.iloc[i])).astype(
                np.float32
            )
            hh, ww = img.shape[0], img.shape[1]
            ys = (np.arange(hh) * grid) // hh
            xs = (np.arange(ww) * grid) // ww
            idx = (ys[:, None] * grid + xs[None, :]).ravel()
            f = np.stack(
                [
                    np.bincount(idx, weights=img[..., c].ravel(), minlength=grid * grid)
                    / np.bincount(idx, minlength=grid * grid)
                    for c in range(3)
                ],
                axis=1,
            ).ravel()
            feats.append((f / 255.0).astype(np.float32))
        return pd.Series(feats)

    return images.withColumn(
        "features", _feat(F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h"))
    )


def resized_bytes_col(bytes_col, fmt_col, w_col, h_col, out_w: int, out_h: int):
    """Nearest-neighbor resize -> raw bytes (decode -> index-resample ->
    encode). Arrow-batched; numpy per image."""
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def _rs(b: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        out = []
        for bb, ff, ww, hh in zip(b, fmt, w, h):
            img = _decode(bytes(bb), ff, int(ww), int(hh))
            ys = (np.arange(out_h) * img.shape[0]) // out_h
            xs = (np.arange(out_w) * img.shape[1]) // out_w
            out.append(codec.encode_raw(img[ys][:, xs]))
        return pd.Series(out)

    return _rs(bytes_col, fmt_col, w_col, h_col)
