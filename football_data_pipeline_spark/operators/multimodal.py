"""Multimodal column plumbing (build-plan step 6).

Media assets are opaque ``binary`` columns plus a typed metadata
struct — the lakehouse pattern for image/audio/video at scale: bytes
travel in the column (or a pointer to object storage), metadata is
queryable, and decode/feature-extraction runs as Arrow-batched
``mapInPandas`` so the heavy Python work streams per-partition
without a shuffle (per-row kernels through ``functions.memo.map_rows``).

Decode support is tiered by what this environment can honestly do:

- REAL pixel kernels for formats a pure-Python codec covers
  completely: binary PPM (P6), 24-bit BI_RGB BMP, and
  non-interlaced 8-bit PNG (grayscale/RGB/RGBA via stdlib ``zlib``
  + full filter reconstruction incl. Paeth). ``decode_pixels`` →
  RGB bytes, ``resize_nearest`` does actual nearest-neighbor
  resampling, ``image_stats`` computes true per-channel statistics.
  No native deps; the same kernels run unchanged under
  ``mapInPandas`` at any scale.
- other compressed formats (JPEG/GIF/WEBP) decode only when PIL is
  importable; without it ``try_decode_pixels`` returns None and the
  row reads as undecoded.
- non-image payloads keep the deterministic byte-level fallback in
  ``resize_images`` so the plumbing remains exercised end-to-end on
  the synthetic text corpus. A payload that
  merely *starts* with an image magic but fails to parse takes the
  same fallback (``try_decode_pixels``) instead of killing the
  mapInPandas stage on one bad row.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.lsh import band_pairs
from ..functions.materialize import cached
from ..functions.memo import map_rows, payload_memo
from ..registry import query

# ---------------------------------------------------------------------------
# pure-Python pixel codecs (PPM P6, 24-bit BMP) — run inside the
# Arrow-batched kernels; no native imaging dependency


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6, maxval 255) from top-down RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse binary PPM (P6): header tokens may be separated by any
    whitespace and ``#`` comments; exactly one whitespace byte
    separates maxval from the raster."""
    b = bytes(payload)
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    idx, vals = 2, []
    while len(vals) < 3:
        while idx < len(b) and b[idx : idx + 1].isspace():
            idx += 1
        if b[idx : idx + 1] == b"#":
            while idx < len(b) and b[idx] != 0x0A:
                idx += 1
            continue
        start = idx
        while idx < len(b) and not b[idx : idx + 1].isspace():
            idx += 1
        if start == idx:
            raise ValueError("truncated PPM header")
        vals.append(int(b[start:idx]))
    idx += 1  # the single whitespace after maxval
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    data = b[idx : idx + w * h * 3]
    if len(data) < w * h * 3:
        raise ValueError("truncated PPM raster")
    return w, h, data


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Parse uncompressed 24-bit BI_RGB BMP into top-down RGB bytes
    (handles the bottom-up row order and 4-byte row padding)."""
    b = bytes(payload)
    if b[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", b, 10)[0]
    w = struct.unpack_from("<i", b, 18)[0]
    h_raw = struct.unpack_from("<i", b, 22)[0]
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    bottom_up, h = h_raw > 0, abs(h_raw)
    stride = (w * 3 + 3) & ~3
    # sanity-bound the allocation BEFORE building the output buffer:
    # an uncompressed raster can never exceed the payload, so a header
    # promising more is malformed (and would otherwise let a 26-byte
    # payload demand a multi-GB bytearray)
    if w <= 0 or h <= 0 or data_off < 0 or data_off + stride * h > len(b):
        raise ValueError("BMP header dimensions exceed payload")
    out = bytearray(w * h * 3)
    for y in range(h):
        src_y = (h - 1 - y) if bottom_up else y
        row = b[data_off + src_y * stride : data_off + src_y * stride + w * 3]
        if len(row) < w * 3:
            raise ValueError("truncated BMP raster")
        # BGR → RGB via strided slice assignment (no per-pixel loop)
        out[y * w * 3 + 0 : (y + 1) * w * 3 : 3] = row[2::3]
        out[y * w * 3 + 1 : (y + 1) * w * 3 : 3] = row[1::3]
        out[y * w * 3 + 2 : (y + 1) * w * 3 : 3] = row[0::3]
    return w, h, bytes(out)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: allocation guard for decode_png — a malformed IHDR must not be able
#: to demand an arbitrarily large buffer (16M pixels = 48 MB RGB)
MAX_PNG_PIXELS = 1 << 24
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # grayscale, truecolor, truecolor+alpha


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal non-interlaced 8-bit truecolor PNG from top-down RGB
    bytes (every scanline filter-type 0); stdlib zlib only."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + rgb[y * width * 3 : (y + 1) * width * 3] for y in range(height)
    )
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, w: int, h: int, ch: int) -> bytearray:
    """Reverse PNG scanline filtering (types 0-4 incl. Paeth) into a
    contiguous top-down pixel buffer."""
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = bytearray(h * stride)
    prev_row = bytes(stride)
    for y in range(h):
        base = y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev_row[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev_row[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b_ = prev_row[i]
                c = prev_row[i - ch] if i >= ch else 0
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev_row = line
    return out


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Pure-Python PNG decode (stdlib zlib + unfilter) → top-down RGB.

    Covers the common still-image profile: 8-bit depth, color types
    0/2/6 (grayscale replicated to RGB; alpha dropped), no interlace.
    Anything else raises ValueError — callers route to the PIL-gated
    path or the byte fallback via ``try_decode_pixels``.
    """
    b = bytes(payload)
    if b[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    w = h = ctype = None
    idat = bytearray()
    idx = 8
    while idx + 8 <= len(b):
        length, tag = struct.unpack_from(">I4s", b, idx)
        data = b[idx + 8 : idx + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or ctype not in _PNG_CHANNELS:
                raise ValueError("only 8-bit gray/RGB/RGBA PNG supported")
            if comp != 0 or filt != 0 or interlace != 0:
                raise ValueError("unsupported PNG compression/filter/interlace")
            if w <= 0 or h <= 0 or w * h > MAX_PNG_PIXELS:
                raise ValueError("PNG dimensions out of bounds")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        idx += 12 + length
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    ch = _PNG_CHANNELS[ctype]
    # bound decompression to the declared raster size: a deflate bomb
    # behind small in-bounds IHDR dims would otherwise expand ~1000×
    # BEFORE _png_unfilter's length check runs, stalling the executor
    # the MAX_PNG_PIXELS guard exists to protect
    max_raw = h * (w * ch + 1)
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), max_raw)
        if dec.unconsumed_tail or len(dec.decompress(b"", 1)) > 0:
            raise ValueError("PNG stream larger than declared raster")
    except zlib.error as e:
        raise ValueError(f"corrupt PNG stream: {e}") from e
    px = _png_unfilter(raw, w, h, ch)
    if ch == 3:
        return w, h, bytes(px)
    out = bytearray(w * h * 3)
    if ch == 1:  # grayscale → replicate
        out[0::3] = px
        out[1::3] = px
        out[2::3] = px
    else:  # RGBA → drop alpha
        out[0::3] = px[0::4]
        out[1::3] = px[1::4]
        out[2::3] = px[2::4]
    return w, h, bytes(out)


def decode_pixels(payload: bytes) -> tuple[int, int, bytes] | None:
    """Magic-sniffing dispatch to the pure codecs; None when the
    payload is not a format they cover (caller picks the fallback or
    the PIL-gated path). Raises on a payload that matches a magic but
    fails to parse — use ``try_decode_pixels`` in batch kernels."""
    b = bytes(payload[:8])
    if b[:2] == b"P6":
        return decode_ppm(payload)
    if b[:2] == b"BM":
        return decode_bmp(payload)
    if b == PNG_MAGIC:
        return decode_png(payload)
    return None


#: magics PIL can decode that the pure codecs cannot — probe these
#: (and ONLY these) on the optional path so text payloads never pay
#: a PIL.open attempt
_PIL_MAGICS = (b"\xff\xd8\xff", b"GIF87a", b"GIF89a", b"RIFF")


def _pil_decode(payload: bytes) -> tuple[int, int, bytes] | None:
    """Optional-PIL decode for compressed formats (JPEG/GIF/WEBP).
    None when PIL is absent or the payload doesn't parse — the
    byte-fallback contract of ``try_decode_pixels`` holds either
    way (VERDICT r5 item 7)."""
    if not bytes(payload[:6]).startswith(_PIL_MAGICS):
        return None
    if not _try_import_decoder():
        return None
    import io

    import PIL.Image

    try:
        img = PIL.Image.open(io.BytesIO(payload)).convert("RGB")
        return img.width, img.height, img.tobytes()
    except Exception:
        return None


def try_decode_pixels(payload: bytes) -> tuple[int, int, bytes] | None:
    """decode_pixels that treats ANY parse failure as "not an image"
    (None) instead of raising — a payload that merely starts with
    'P6'/'BM'/the PNG magic (e.g. text beginning 'BMW') must take the
    fallback path, not kill a whole mapInPandas stage. Compressed
    formats (JPEG/GIF/WEBP) decode when PIL is importable and fall
    back to bytes otherwise — same contract, wider coverage when the
    environment provides the lib."""
    try:
        direct = decode_pixels(payload)
    except (ValueError, struct.error, IndexError, MemoryError, OverflowError):
        return None
    if direct is not None:
        return direct
    return _pil_decode(payload)


def resize_nearest(
    width: int, height: int, rgb: bytes, new_width: int, new_height: int
) -> bytes:
    """Nearest-neighbor resample of top-down RGB bytes; source index
    is the floor mapping ``sx = x * src // dst`` on both axes. One
    numpy fancy-index gather (r9 — the per-pixel Python loop this
    replaces dominated at real image sizes). Requires a non-empty
    source; callers route 0-pixel payloads to their fallback path."""
    import numpy as np

    if width < 1 or height < 1:
        raise ValueError("resize_nearest requires at least one source pixel")
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    ys = (np.arange(new_height) * height) // new_height
    xs = (np.arange(new_width) * width) // new_width
    return px[np.ix_(ys, xs)].tobytes()

def _try_import_decoder():
    try:  # pragma: no cover - decoder libs absent in this environment
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id AS asset_id,
           'image/fake' AS mime,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CAST(64 + strlen(text) % 512 AS INTEGER) AS fake_width,
           CAST(64 + (strlen(text) // 7) % 512 AS INTEGER) AS fake_height
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata projection over the binary payload — the queryable
    half of the multimodal layout (pure built-ins: octet_length +
    md5 over bytes).
    """
    docs = load(spark, sf_dir, "documents")
    n = F.octet_length("text").cast("long")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image/fake").alias("mime"),
        n.alias("n_bytes"),
        F.md5(F.encode("text", "utf-8")).alias("checksum"),
        (F.lit(64) + n % 512).cast("int").alias("fake_width"),
        (F.lit(64) + F.floor(n / 7) % 512).cast("int").alias("fake_height"),
    )


RESIZED_SCHEMA = "asset_id long, payload binary, mime string, width int, height int"


def resize_images(assets: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Binary-in/binary-out decode→resize→re-encode (``map_rows``).

    PPM/BMP/PNG payloads take the REAL pixel path: decode to RGB,
    nearest-neighbor resample to width×height, re-encode as PPM
    (mime becomes ``image/ppm``). Payloads the pure codecs don't
    cover keep the deterministic byte-truncation fallback (original
    mime), so the synthetic text corpus still exercises the
    plumbing. Per-partition streaming, no shuffle, either way.
    """
    assets = assets.select("asset_id", "payload", "meta")
    return map_rows(assets, _resized_row, RESIZED_SCHEMA, width, height)


def _resized_row(payload: bytes, meta, width: int, height: int) -> tuple:
    """(payload, mime, width, height) for one asset of resize_images."""
    decoded = try_decode_pixels(payload)
    # 0-pixel payloads are decodable but have no source pixels to
    # sample — take the byte-truncation fallback like
    # undecodables (previously the resample produced a
    # wrong-length buffer and the re-encode raised, killing the
    # whole Arrow batch; r9 fix)
    if decoded is None or decoded[0] * decoded[1] == 0:
        target = width * height
        return payload[:target].ljust(target, b"\0"), meta["mime"], width, height
    w0, h0, rgb = decoded
    return (
        encode_ppm(width, height, resize_nearest(w0, h0, rgb, width, height)),
        "image/ppm",
        width,
        height,
    )


STATS_SCHEMA = (
    "asset_id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double, decoded boolean"
)


@payload_memo(maxsize=512)
def _image_stats_row(payload: bytes) -> tuple:
    """(width, height, mean_r, mean_g, mean_b, decoded) for one
    payload — pure function of the bytes, memoized per worker (r13,
    guide §4.5). Keyed on the payload itself, never a digest."""
    import numpy as np

    decoded = try_decode_pixels(payload)
    if decoded is None:
        return (None, None, None, None, None, False)
    w, h, rgb = decoded
    n = w * h
    if n == 0:
        # decodable but statless — NULL stats like
        # image_quality_stats, never a ZeroDivisionError that kills
        # the Arrow batch (r9 fix)
        return (w, h, None, None, None, True)
    # exact integer channel sums (numpy int64 == the Python sum()
    # this replaces, bit-for-bit after the float division)
    ch = (
        np.frombuffer(rgb, dtype=np.uint8)
        .reshape(-1, 3)
        .astype(np.int64)
        .sum(axis=0)
    )
    return (w, h, ch[0] / n, ch[1] / n, ch[2] / n, True)


def image_stats(assets: DataFrame) -> DataFrame:
    """True per-channel pixel statistics for decodable payloads —
    the feature-extraction step computed on REAL pixel data
    (PPM/BMP via the pure codecs). Undecodable payloads yield a
    NULL-stats row with decoded=false rather than fake numbers."""
    payloads = assets.select("asset_id", "payload")
    return map_rows(payloads, _image_stats_row, STATS_SCHEMA)


# --- perceptual near-duplicate hashing (dHash) -----------------------

#: 4 bands × 16 bits. Pigeonhole: two hashes within Hamming
#: distance 3 differ in ≤3 bands, so at least one band matches —
#: band-equality blocking has PERFECT recall at the verify
#: threshold below (same argument as the SimHash banding in
#: dedup.py, here exact rather than probabilistic).
DHASH_BANDS = 4
DHASH_BITS_PER_BAND = 16
DHASH_MAX_HAMMING = 3

PHASH_SCHEMA = "asset_id long, decoded boolean, " + ", ".join(
    f"band{i} int" for i in range(DHASH_BANDS)
)


def dhash64(width: int, height: int, rgb: bytes) -> int:
    """Difference hash (dHash): luma, nearest-neighbor downsample to
    9×8 (rows ``(y*height)//8``, cols ``(x*width)//9``), emit one
    bit per horizontal neighbor pair (left < right), first computed
    bit = MSB. 64 bits total; robust to re-encoding, mild noise, and
    resizing — the standard cheap perceptual fingerprint.

    Vectorized (r9): luma + resample + compare are numpy over the
    whole pixel buffer — the per-pixel Python loops this replaces
    were invisible on 16×16 fixtures but dominate at real image
    sizes, and this runs once per asset in the hot decode kernel.
    Requires width/height ≥ 1 (image_phash routes 0-pixel payloads
    to the md5 fallback before calling)."""
    import numpy as np

    if width < 1 or height < 1:
        raise ValueError("dhash64 requires at least one pixel")
    px = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64).reshape(height, width, 3)
    gray = (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]) // 1000
    ys = (np.arange(8) * height) // 8
    xs = (np.arange(9) * width) // 9
    g = gray[np.ix_(ys, xs)]
    bits = (g[:, :8] < g[:, 1:]).ravel()
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h


@payload_memo(maxsize=512)
def _phash_row(payload: bytes) -> tuple:
    """(decoded, band0..band{n-1}) for one payload — a pure function
    of the bytes, memoized per worker (r13, guide §4.5): byte-exact
    duplicate payloads (re-uploads, mirrored assets — and every
    asset of a synthetic fixture class) skip the decode + hash
    entirely. Keyed on the payload itself, never a digest, so a
    hash collision can never alias two distinct payloads."""
    import hashlib

    decoded = try_decode_pixels(payload)
    # 0-pixel payloads are decodable but hashless — route them to
    # the md5 fallback like undecodables instead of letting dhash64
    # raise and kill the whole Arrow batch (the one-bad-row rule;
    # r9 fix)
    if decoded is None or decoded[0] * decoded[1] == 0:
        h = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
        ok = False
    else:
        h = dhash64(*decoded)
        ok = True
    return (
        ok,
        *((h >> (DHASH_BITS_PER_BAND * i)) & 0xFFFF for i in range(DHASH_BANDS)),
    )


def image_phash(assets: DataFrame) -> DataFrame:
    """Perceptual-hash extraction via ``map_rows``: decodable payloads
    (PPM/BMP/PNG) get their dHash split into DHASH_BANDS 16-bit
    bands; undecodable payloads fall back to md5-derived bands
    (byte-exact duplicates still collide; decoded=false marks the
    weaker semantics). The Python kernel touches each payload once
    (once per DISTINCT payload per worker — _phash_row memoizes);
    everything pair-shaped happens in DataFrame land."""
    payloads = assets.select("asset_id", "payload")
    return map_rows(payloads, _phash_row, PHASH_SCHEMA)


def phash_near_dup(
    assets: DataFrame, max_hamming: int = DHASH_MAX_HAMMING
) -> DataFrame:
    """Perceptual near-duplicate pairs: band-equality blocking over
    the 4×16-bit dHash bands, then an exact Hamming verify — the
    image twin of the SimHash text pass.

    Scale shape: hashes are one narrow kernel pass. IDENTICAL hashes
    collapse to a min-id representative FIRST and re-expand as star
    pairs (rep, member) afterwards — real image corpora have huge
    sets of byte- or hash-identical assets (logos, spacer graphics,
    solid frames) whose bucket would otherwise pair quadratically;
    this is the same star-pair design as the minhash dedup
    (dedup.py). Cross-hash candidates then come ONLY from
    (band_idx, band_value) bucket equi-joins over the
    REPRESENTATIVES (never all-pairs), and the pigeonhole guarantee
    above makes blocking recall exact, so the verify is a
    per-candidate popcount filter with no second pass. Completeness
    note: members of an identical-hash group inherit their rep's
    cross-group matches transitively (hamming is hash-determined);
    the star + rep-pair output encodes the full pair set without
    materializing its quadratic closure.
    """
    return hash_near_dup(image_phash(assets), max_hamming)


def hash_near_dup(
    hashes: DataFrame,
    max_hamming: int = DHASH_MAX_HAMMING,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """The banded near-dup pass over ANY 4×16-bit fingerprint table
    ``(asset_id, decoded, band0..band3)`` — the machinery behind
    phash_near_dup, public (r9) so other perceptual fingerprints
    (the audio envelope fingerprint, audiodedup.py) reuse the
    star-collapse + band-blocking + Hamming-verify pipeline instead
    of reimplementing it. Same pigeonhole guarantee: ≤3 differing
    bits ⇒ ≥1 equal band.

    ``by`` names extra partition-key columns (e.g. the media kind):
    star collapse and band blocking both carry them in their keys, so
    assets only ever pair WITHIN a key group — one pass over a mixed
    table is pair-for-pair identical to a union of per-group passes
    (r13 opt round: one cache + one set of shuffles instead of one
    per group; asset_id must remain unique across the whole table
    and determine its group)."""
    # cached for the four consumers inside the pair plan (group,
    # stars, both verify sides); the (small) pair result is
    # checkpointed before the scope releases the per-asset hashes —
    # a lazy plan returned past the scope would recompute them
    with cached(hashes) as hashes:
        return _phash_pair_plan(hashes, max_hamming, by).localCheckpoint()


def _phash_pair_plan(
    hashes: DataFrame, max_hamming: int, by: tuple[str, ...] = ()
) -> DataFrame:
    """The LAZY stars ∪ near plan over a per-asset hash table —
    split out of phash_near_dup so the plan-shape pytest
    (tests/test_multimodal.py) can assert its 100 TB signals (no
    cartesian product, band-bucket equi-joins only) BEFORE the
    eager localCheckpoint erases them from the final plan string."""
    by = list(by)
    band_cols = [f"band{i}" for i in range(DHASH_BANDS)]
    grp = hashes.groupBy(*by, *band_cols).agg(F.min("asset_id").alias("rid"))
    # star pairs: every non-representative is an exact dup (Hamming 0)
    # of its group's min id
    stars = (
        hashes.join(grp, [*by, *band_cols])
        .filter(F.col("asset_id") != F.col("rid"))
        .select(
            F.col("rid").alias("id_a"),
            F.col("asset_id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    reps = grp.select(
        *by,
        F.col("rid").alias("asset_id"),
        *[F.col(c) for c in band_cols],
    )
    pairs = band_pairs(reps, "asset_id", F.array(*band_cols), by=by).select(
        F.col("asset_id_a").alias("id_a"), F.col("asset_id_b").alias("id_b")
    )
    near = hamming_pairs(pairs, "id_a", "id_b", reps).filter(F.col("hamming") <= max_hamming)
    return stars.unionByName(near)


def hamming_pairs(
    pairs: DataFrame, a: str, b: str, left: DataFrame, right: DataFrame | None = None
) -> DataFrame:
    """``pairs`` plus ``hamming``, the bit distance between fingerprint
    ``a`` of ``left`` and fingerprint ``b`` of ``right`` (default
    ``left``): the verify step of the perceptual near-dup passes,
    joined back to the (asset_id, band0..3) payload by id."""
    right = left if right is None else right
    pa = left.select(F.col("asset_id").alias(a), *[F.col(f"band{i}").alias(f"__a{i}") for i in range(DHASH_BANDS)])
    pb = right.select(F.col("asset_id").alias(b), *[F.col(f"band{i}").alias(f"__b{i}") for i in range(DHASH_BANDS)])
    bits = sum(
        F.bit_count(F.col(f"__a{i}").cast("long").bitwiseXOR(F.col(f"__b{i}").cast("long")))
        for i in range(DHASH_BANDS)
    )
    return pairs.join(pa, a).join(pb, b).select(*pairs.columns, bits.cast("int").alias("hamming"))


# --- image-side quality gate (VERDICT r4 item 9) ---------------------

#: reject thresholds for the image quality gate — the image twin of
#: quality.classify_quality's text gate
IMG_MIN_DIM = 8  # either side smaller → thumbnail junk
IMG_MAX_ASPECT = 4.0  # w:h or h:w beyond this → banner/strip junk
IMG_MIN_STD = 4.0  # luma stddev (0-255) below this → flat/blank
#: luma std that maps to score 1.0 (a well-exposed natural image)
IMG_STD_FULL = 64.0

IMG_QUALITY_STATS_SCHEMA = (
    "asset_id long, width int, height int, "
    "mean_luma double, std_luma double, decoded boolean"
)


@payload_memo(maxsize=512)
def _img_quality_row(payload: bytes) -> tuple:
    """(width, height, mean_luma, std_luma, decoded) for one payload
    — pure function of the bytes, memoized per worker (r13, guide
    §4.5): byte-exact duplicate payloads skip the decode + luma
    statistics. Keyed on the payload itself, never a digest."""
    import numpy as np

    decoded = try_decode_pixels(payload)
    if decoded is None:
        return (None, None, None, None, False)
    w, h, rgb = decoded
    if w * h == 0:
        # zero-pixel payload: decodable but statless — NULL stats
        # (no NaN), the dims gate rejects it
        return (w, h, None, None, True)
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3).astype(np.float64)
    # ITU-R 601 luma
    luma = px @ np.array([0.299, 0.587, 0.114])
    return (w, h, float(luma.mean()), float(luma.std()), True)


def image_quality_stats(assets: DataFrame) -> DataFrame:
    """Per-asset luma mean/stddev over REAL decoded pixels — the
    measurement half of the image quality gate, as one ``map_rows``
    pass (numpy per image; the decode is the same pure-codec path
    image_stats uses, undecodable → decoded=false with NULL stats,
    never fake numbers)."""
    payloads = assets.select("asset_id", "payload")
    return map_rows(payloads, _img_quality_row, IMG_QUALITY_STATS_SCHEMA)


def classify_image_quality(assets: DataFrame) -> DataFrame:
    """The image twin of quality.classify_quality: per-asset score +
    keep/reject with an explicit reason — undecodable payloads,
    sub-``IMG_MIN_DIM`` thumbnails, extreme aspect ratios, and
    flat/blank frames (luma std under ``IMG_MIN_STD``) are the
    degenerate classes a multimodal curation pass must drop before
    training. Score = contrast saturating at ``IMG_STD_FULL``.

    Scale shape: one Arrow decode pass (the expensive stage — CPU
    dense, Spark spreads it by input partition) then pure built-in
    column math; no shuffle at all — the gate is a map-only plan
    that composes with the release builder's doc_id joins.
    """
    stats = image_quality_stats(assets)
    aspect = F.greatest(
        F.col("width") / F.col("height"), F.col("height") / F.col("width")
    )
    reason = (
        F.when(~F.col("decoded"), "undecodable")
        .when(F.least("width", "height") < IMG_MIN_DIM, "too_small")
        .when(aspect > IMG_MAX_ASPECT, "bad_aspect")
        .when(F.col("std_luma") < IMG_MIN_STD, "flat")
    )
    # keyed on std_luma (not `decoded`): a decoded-but-statless
    # zero-pixel asset must score 0.0 like every other reject, not
    # NULL (downstream aggregates would silently skip it) and not
    # 1.0 (least() skips NULL operands)
    score = F.when(
        F.col("std_luma").isNotNull(),
        F.round(F.least(F.col("std_luma") / IMG_STD_FULL, F.lit(1.0)), 4),
    ).otherwise(0.0)
    return stats.select(
        "asset_id",
        "width",
        "height",
        "mean_luma",
        "std_luma",
        score.alias("score"),
        reason.alias("reason"),
        reason.isNull().alias("keep"),
    )
