"""Image payload operators (graft axis pyspark × image; SURVEY.md §2.9).

The input shape is BASELINE.json's input_hint: ``images(image_id,
bytes, w, h, fmt, caption, phash)`` + geo columns. Pillow is absent in
this sandbox, so the codecs are stdlib-only — lossless ``raw`` (RGB
row-major) and ``png`` (zlib deflate, filter 0) with exact pixel
checks, plus the LOSSY ``qzl`` (channel quantization + deflate) that
exercises the PSNR≥40dB verify clause for real (SURVEY.md §7.4,
BASELINE.json per-row invariant).

Pipeline discipline: decode is the only per-row work (codecs are
inherently per-row) and runs inside iterator ``mapInPandas`` batches;
everything around it (phash DCT, stats) is batched numpy.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (callers compose)

PHASH_SIZE = 32  # images are up-sampled to 32x32 before the DCT


# ---------------------------------------------------------------------------
# codecs (stdlib only)
# ---------------------------------------------------------------------------

def raw_encode(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 -> raw RGB row-major bytes."""
    return arr.tobytes()


def raw_decode(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def png_encode(arr: np.ndarray) -> bytes:
    """minimal RGB8 PNG, filter 0 everywhere (lossless)."""
    h, w, _ = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def png_decode(data: bytes) -> np.ndarray:
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        typ = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if typ == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            assert depth == 8 and ctype == 2, "only RGB8 supported"
        elif typ == b"IDAT":
            idat += body
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = 1 + 3 * w
    rows = []
    for r in range(h):
        row = raw[r * stride:(r + 1) * stride]
        assert row[0] == 0, "only filter 0 supported"
        rows.append(np.frombuffer(row[1:], dtype=np.uint8))
    return np.stack(rows).reshape(h, w, 3)


QUANT_BITS = 2  # qzl drops the 2 low bits/channel -> max |err| 2, ~46dB
LOSSY_FMTS = frozenset({"qzl"})


def qzl_encode(arr: np.ndarray) -> bytes:
    """LOSSY stdlib codec: quantize each channel to multiples of
    2^QUANT_BITS (recentred, so max abs error is 2^(QUANT_BITS-1))
    then deflate. Deterministic; exercises the PSNR>=40dB verify path
    (BASELINE.json per-row invariant for lossy codecs) for real —
    uniform quantization error gives MSE 1.5 → ~46 dB."""
    q = ((arr >> QUANT_BITS) << QUANT_BITS) + (1 << (QUANT_BITS - 1))
    return zlib.compress(q.astype(np.uint8).tobytes())


def qzl_decode(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(zlib.decompress(data), dtype=np.uint8) \
        .reshape(h, w, 3)


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "raw":
        return raw_decode(data, w, h)
    if fmt == "png":
        return png_decode(data)
    if fmt == "qzl":
        return qzl_decode(data, w, h)
    raise NotImplementedError(
        f"codec {fmt!r} unavailable in this sandbox (no Pillow); "
        "plumbing (schema/batching) is identical for real codecs")


# ---------------------------------------------------------------------------
# perceptual hash (DCT) + PSNR — batched numpy
# ---------------------------------------------------------------------------

def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2.0 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


_DCT32 = _dct_matrix(PHASH_SIZE)


def phash64(arr: np.ndarray) -> int:
    """64-bit DCT perceptual hash of one HxWx3 uint8 image.

    nearest-neighbor upsample to 32x32 grayscale -> 2D DCT-II -> 8x8
    low-frequency block -> median threshold (DC excluded from median).
    """
    h, w, _ = arr.shape
    gray = arr.astype(np.float64).mean(axis=2)
    ry = PHASH_SIZE // h
    rx = PHASH_SIZE // w
    up = np.repeat(np.repeat(gray, ry, axis=0), rx, axis=1)
    d = _DCT32 @ up @ _DCT32.T
    block = d[:8, :8].ravel()
    med = np.median(block[1:])
    bits = block > med
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out - (1 << 64) if out >= (1 << 63) else out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ---------------------------------------------------------------------------
# deterministic synthetic geo_images (FIXTURES.md §1), generated
# DISTRIBUTED via mapInPandas over spark.range — no driver bottleneck
# ---------------------------------------------------------------------------

_HOT_CITIES = [
    (40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503),
    (-33.8688, 151.2093), (19.4326, -99.1332), (-23.5505, -46.6333),
    (28.6139, 77.2090), (31.2304, 121.4737), (48.8566, 2.3522),
    (-1.2921, 36.8219), (55.7558, 37.6173), (37.7749, -122.4194),
]

IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, "
                 "fmt string, caption string, phash long, "
                 "lat double, lng double")


def _pixels_for(idx: int, w: int, h: int) -> np.ndarray:
    i = np.arange(h)[:, None, None]
    j = np.arange(w)[None, :, None]
    c = np.arange(3)[None, None, :]
    return ((i * 7 + j * 13 + c * 101 + idx * 31) % 256).astype(np.uint8)


def _latlng_for(idx: int) -> tuple[float, float]:
    """seeded stratification: 80% uniform, 15% hot-city clusters
    (skew fixture), 5% poles/seam edge cases."""
    u = (idx * 2654435761 % 2 ** 32) / 2 ** 32
    v = (idx * 40503 % 65536) / 65536.0
    w2 = (idx * 9973 % 8191) / 8191.0
    if u < 0.80:
        return -60.0 + 135.0 * v, -180.0 + 360.0 * w2
    if u < 0.95:
        city = _HOT_CITIES[idx % len(_HOT_CITIES)]
        return (city[0] + (v - 0.5) * 0.2, city[1] + (w2 - 0.5) * 0.2)
    edge = idx % 5
    if edge == 0:
        return 89.99, -180.0 + 360.0 * w2
    if edge == 1:
        return -89.99, -180.0 + 360.0 * w2
    if edge == 2:
        return -60.0 + 135.0 * v, 179.999
    if edge == 3:
        return -60.0 + 135.0 * v, -179.999
    return 0.0, 0.0


def synth_images(spark: SparkSession, n: int,
                 with_bytes: bool = True) -> DataFrame:
    """deterministic geo_images table, generated on executors."""

    def _gen(batches):
        sizes = (8, 16, 32)
        fmts = ("raw", "png", "qzl")  # 1/3 lossy: PSNR path exercised
        encoders = {"raw": raw_encode, "png": png_encode,
                    "qzl": qzl_encode}
        for pdf in batches:
            rows = []
            for idx in pdf["id"].tolist():
                w = sizes[idx % 3]
                h = sizes[(idx // 3) % 3]
                fmt = fmts[idx % 3]
                lat, lng = _latlng_for(idx)
                if with_bytes:
                    px = _pixels_for(idx, w, h)
                    data = encoders[fmt](px)
                    ph = phash64(px)
                else:
                    data, ph = None, 0
                rows.append((f"img{idx:012d}", data, w, h, fmt,
                             f"caption {idx} size {w}x{h} fmt {fmt}",
                             ph, lat, lng))
            yield pd.DataFrame(rows, columns=[
                "image_id", "bytes", "w", "h", "fmt", "caption",
                "phash", "lat", "lng"])

    return spark.range(n).mapInPandas(_gen, IMAGES_SCHEMA)


# ---------------------------------------------------------------------------
# pipeline operators
# ---------------------------------------------------------------------------

VERIFY_SCHEMA = ("image_id string, caption string, phash_ok boolean, "
                 "phash_ham int, pixel_ok boolean, psnr double, "
                 "mean_px double")
PSNR_MIN_DB = 40.0  # BASELINE.json: decoded-pixel PSNR>=40dB for lossy


def verify_images(images: DataFrame) -> DataFrame:
    """decode + recompute phash + PSNR vs the deterministic reference
    pixels — the end-to-end pipeline-integrity op (BASELINE.json
    per-row invariant: exact pixels for lossless codecs, PSNR >=
    40 dB for lossy; caption equality rides through unchanged).
    ``phash_ok`` gates exact-recompute for lossless only — a lossy
    decode legitimately drifts phash bits (reported as ``phash_ham``).
    Iterator mapInPandas; numpy per batch."""

    def _verify(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                arr = decode(row.bytes, row.fmt, row.w, row.h)
                idx = int(row.image_id[3:])
                ref = _pixels_for(idx, row.w, row.h)
                p = psnr(arr, ref)
                lossy = row.fmt in LOSSY_FMTS
                ham = int(bin((phash64(arr) ^ row.phash)
                              & ((1 << 64) - 1)).count("1"))
                pixel_ok = bool(p >= PSNR_MIN_DB) if lossy \
                    else bool(np.array_equal(arr, ref))
                out.append((row.image_id, row.caption,
                            True if lossy else ham == 0, ham, pixel_ok,
                            p if np.isfinite(p) else 1e9,
                            float(arr.mean())))
            yield pd.DataFrame(out, columns=[
                "image_id", "caption", "phash_ok", "phash_ham",
                "pixel_ok", "psnr", "mean_px"])

    return images.mapInPandas(_verify, VERIFY_SCHEMA)


def resize_nn(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """nearest-neighbor resample HxWx3 -> out_h x out_w x 3 (pure
    numpy index gather — the resize kernel real codec pipelines wrap;
    center-of-pixel sampling, matching the common NN convention)."""
    h, w, _ = arr.shape
    yi = np.minimum((np.arange(out_h) + 0.5) * h / out_h, h - 1) \
        .astype(np.int64)
    xi = np.minimum((np.arange(out_w) + 0.5) * w / out_w, w - 1) \
        .astype(np.int64)
    return arr[yi][:, xi]


RESIZED_SCHEMA = ("image_id string, bytes binary, w int, h int, "
                  "fmt string, caption string, phash long")


def resize_images(images: DataFrame, out_w: int,
                  out_h: int) -> DataFrame:
    """distributed image resize (BASELINE.json multimodal op): decode
    -> nearest-neighbor resample -> re-encode raw + recompute phash,
    caption rides through. Iterator mapInPandas, numpy per image —
    the Spark plumbing (schema, batching, binary columns) is the real
    thing; swap the kernel for a codec library on a real cluster."""

    def _resize(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                arr = decode(row.bytes, row.fmt, row.w, row.h)
                rs = resize_nn(arr, out_w, out_h)
                out.append((row.image_id, raw_encode(rs), out_w, out_h,
                            "raw", row.caption, phash64(rs)))
            yield pd.DataFrame(out, columns=[
                "image_id", "bytes", "w", "h", "fmt", "caption",
                "phash"])

    return images.mapInPandas(_resize, RESIZED_SCHEMA)


PHASH_HAMMING_MAX = 7   # 8 bands of 8 bits (pigeonhole: <=7 diffs
#                         leave at least one band identical)


def phash_neardup_pairs(images: DataFrame) -> DataFrame:
    """near-duplicate IMAGE pairs by perceptual-hash hamming distance
    — the multimodal twin of ``text.simhash_pairs`` and the core
    image-dedup op of a training-data pipeline (the graft axis's
    image payload): two crops/re-encodes of the same photo land
    within a few phash bits of each other.

    Same pigeonhole banding (scale path, no all-pairs): split the
    64-bit phash into ``PHASH_HAMMING_MAX + 1`` bands; any pair at
    hamming <= PHASH_HAMMING_MAX agrees exactly on at least one band,
    so the join is a band-key EQUI-join + exact ``bit_count`` filter —
    through :func:`text.banded_hamming_pairs`, so hot band keys (a
    corpus of near-black images sharing a phash band) are
    salt-spread across reducers with the output unchanged.
    Output (i1, i2, hamming), deduped across bands.
    """
    # materialize the thin (id, phash) projection once: the salted band
    # self-join reads it several times, and each read would re-run the
    # Python upstream (payload decode at 100 TB; synth generation here)
    sig = images.select("image_id", "phash").localCheckpoint()
    return _phash_pairs_from_sig(sig)


def _phash_pairs_from_sig(sig: DataFrame) -> DataFrame:
    """core of :func:`phash_neardup_pairs` over a prebuilt (and
    materialized) (image_id, phash) projection — split out so
    :func:`image_components` can share ONE projection with the pair
    generation instead of re-running the upstream per scan."""
    from s2spark.text import banded_hamming_pairs, hamming_bands
    bands = hamming_bands(sig, "image_id", "phash", 64, PHASH_HAMMING_MAX)
    return banded_hamming_pairs(bands, PHASH_HAMMING_MAX) \
        .select(F.col("d1").alias("i1"), F.col("d2").alias("i2"),
                "hamming")


MM_TEMPLATE_CAP = 25   # max images kept per caption template


def multimodal_dedup(images: DataFrame,
                     id_bounds: tuple[int, int] | None = None
                     ) -> DataFrame:
    """CROSS-MODAL curation — the image+caption joint dedup a
    multimodal training pipeline runs: an image survives only if it is
    (a) the canonical of its VISUAL near-dup cluster (phash
    components) and (b) within the per-CAPTION-TEMPLATE diversity cap
    (captions digit-normalized ``[0-9]+ -> #`` so boilerplate like
    "caption 17 size 8x16" collapses to its template; unbounded
    template groups are caption spam).

    Scale shape: the visual side is the oracled pointer-doubling
    components op; the caption side is a projection + an exact
    per-template rank (60-bit md5 template hash — no string shuffle)
    computed through :func:`s2spark.windows.bucketed_row_number`
    (VERDICT r4 item 2): a spam template is exactly the hot key a
    single ``row_number() OVER (PARTITION BY tpl_hash)`` window
    funnels onto one reducer, so the rank instead spreads each
    template across order-preserving id-range buckets (the fixed-
    width ``img%012d`` ids make the numeric suffix order-equivalent
    to the string order) and reassembles the EXACT global rank from
    local ranks + cumulative bucket counts — same output, no
    single-reducer sort. Output (image_id, canonical_id, tpl_hash,
    tpl_rank, keep).
    """
    from s2spark.text import md5_int64
    from s2spark.windows import bucketed_row_number

    # ONE materialized 3-column projection feeds the visual side AND
    # the caption side, so the full image upstream runs once.
    # ``id_bounds`` forwards a known numeric-suffix range to
    # bucketed_row_number, skipping its min/max probe job
    # (stale/clamped bounds are rank-exact, tests pin it).
    base = images.select("image_id", "phash", "caption").localCheckpoint()
    comp = _components_from_sig(base)
    tpl = F.regexp_replace("caption", "[0-9]+", "#")
    cap = base.select("image_id", md5_int64(tpl).alias("tpl_hash"))
    # coalesce the surrogate: an id with no digits yields NULL here and
    # width_bucket(NULL) would silently drop the row at the bucket join
    # (ADVICE r5 item 2) — bucket 0 keeps it, and exactness only needs
    # monotonicity over the ids that DO order by their numeric suffix
    id_num = F.coalesce(
        F.regexp_replace("image_id", "[^0-9]", "").cast("long"), F.lit(0))
    cap = bucketed_row_number(cap, ["tpl_hash"], id_num, ["image_id"],
                              bounds=id_bounds, rank_name="tpl_rank")
    return comp.join(cap, "image_id").select(
        "image_id", "canonical_id", "tpl_hash", "tpl_rank",
        ((F.col("image_id") == F.col("canonical_id"))
         & (F.col("tpl_rank") <= F.lit(MM_TEMPLATE_CAP))).alias("keep"))


def image_tile_stats(images: DataFrame, level: int = 8) -> DataFrame:
    """per-tile image statistics: encode geo -> tile (Column expr) ->
    per-tile counts + phash diversity (approx distinct)."""
    from s2spark import columns as CC
    from s2spark.joins import with_cell_id
    df = with_cell_id(images)
    return df.withColumn("tile_id", CC.parent("cell_id", level)) \
        .groupBy(CC.token("tile_id").alias("tile_token")) \
        .agg(F.count("*").alias("n_images"),
             F.approx_count_distinct("phash").alias("phash_approx_distinct"))


def image_components(images: DataFrame) -> DataFrame:
    """canonical image per phash-near-dup CLUSTER — the image-side
    twin of ``text.dedup_components``: connected components over the
    banded hamming pair graph via the shared pointer-doubling
    min-label engine (string ids order lexicographically; the fixed-
    width ``img%012d`` ids make that identical to numeric order).
    Output (image_id, canonical_id)."""
    # ONE materialized (image_id, phash) projection feeds the pair
    # generation AND the id universe, so the full upstream
    # (payload decode at 100 TB; synth generation here) runs once.
    return _components_from_sig(
        images.select("image_id", "phash").localCheckpoint())


def _components_from_sig(sig: DataFrame) -> DataFrame:
    """core of :func:`image_components` over a materialized projection
    holding (image_id, phash)."""
    from s2spark.text import _components
    pairs = _phash_pairs_from_sig(sig).select(F.col("i1").alias("d1"),
                                              F.col("i2").alias("d2"))
    ids = sig.select(F.col("image_id").alias("doc_id")).distinct()
    return _components(ids, pairs) \
        .select(F.col("doc_id").alias("image_id"), "canonical_id")
