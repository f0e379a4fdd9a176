"""Multimodal column plumbing (SURVEY.md §2.6).

Images/audio/video are opaque ``binary`` columns plus a typed metadata
struct. The Spark-side machinery — schema, Arrow batching through
mapInPandas, partition sizing — is real and tested, and all three
media families parse REAL container bytes with pure-numpy codecs:
images via ``decode_image`` (netpbm P5/P6, uncompressed BMP 8/24-bit),
audio via ``decode_wav`` (RIFF chunk walk, PCM16), video via
``decode_avi`` (nested LIST walk, uncompressed DIB frames). Six REAL
compressed/structured container codecs are implemented from their
public specs: PNG (stdlib-zlib DEFLATE, CRC chunks, all 5 unfilters —
encode_png / decode_png), GIF87a (variable-width LSB-first LZW —
encode_gif / decode_gif), baseline-sequential JPEG (ITU-T T.81 DCT +
Annex-K Huffman — encode_jpeg / decode_jpeg), TIFF 6.0 baseline
grayscale (IFD walk, both byte orders — encode_tiff_gray /
decode_tiff_gray), QOI grayscale (encode_qoi_gray / decode_qoi_gray),
and TGA grayscale (types 3 raw / 11 RLE, both vertical orientations —
encode_tga_gray / decode_tga_gray). The codecs NOT implemented
(MP3/H.264 and the exotic variants each decoder names — progressive
JPEG, compressed
TIFF, …) raise ``NotImplementedError`` because their libraries are
not in this container — plugging PIL/ffmpeg into the decode functions
is the only change a real deployment makes; every Spark-side shape
stays identical.

Every per-row operator below is a kernel plus an output schema, run
by ``_map_rows`` — one ``mapInPandas`` over (id, blob), so each op is
a single shuffle-free MapInPandas node. The contract, stated once:

- one Arrow batch at a time, so a task never holds a partition of
  blobs in memory (``spark.sql.files.maxPartitionBytes`` bounds the
  rest at 100 TB, where payloads ride in the same parquet row groups);
- undecodable input (the kernel returns None or raises ValueError /
  NotImplementedError) becomes one row whose non-id columns are all
  null instead of a failed task — a crawl shard always has junk bytes;
- output columns are nullable, their dtypes taken from the schema
  (``bigint`` -> Int64, ``int`` -> Int32, everything else object).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = "doc_id bigint, n_bytes bigint, kind string"

_NULLABLE = {"bigint": "Int64", "int": "Int32"}


def _map_rows(df: DataFrame, id_col: str, col: str, schema: str, fn) -> DataFrame:
    """Run ``fn(bytes)`` once per row of ``col`` under the module's
    per-row contract. ``fn`` returns the non-id output columns as a
    tuple, a list of such tuples (one input row fans out to several
    output rows), or None. ``schema`` is a flat DDL string (no commas
    inside a type); its first field names the id column, copied from
    ``id_col``."""
    fields = [f.split(None, 1) for f in schema.split(",")]
    names = [name for name, _ in fields]
    dtypes = [_NULLABLE.get(ddl.strip(), object) for _, ddl in fields]
    null_row = (None,) * (len(names) - 1)

    def op(batches):
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf[col]):
                try:
                    out = fn(bytes(blob))
                except (ValueError, NotImplementedError):
                    out = None
                if not isinstance(out, list):
                    out = [out or null_row]
                rows.extend((doc_id, *row) for row in out)
            cols = list(zip(*rows)) or [()] * len(names)
            yield pd.DataFrame(
                {n: pd.array(list(c), dtype=d) for n, c, d in zip(names, cols, dtypes)}
            )

    return df.select(id_col, col).mapInPandas(op, schema=schema)


def with_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a binary payload column (UTF-8 bytes of the text here;
    in production this is the raw media payload read from parquet)."""
    return df.withColumn("blob", F.encode(F.col(text_col), "UTF-8"))


# ---------------- real raster codecs (pure numpy) ----------------

KIND_PGM = "image/x-portable-graymap"
KIND_PPM = "image/x-portable-pixmap"
KIND_BMP = "image/bmp"
KIND_JPEG = "image/jpeg"


def sniff_kind(blob: bytes) -> str:
    """Magic-byte media sniff for the formats the decoder understands;
    everything else is treated as a text payload."""
    if blob[:2] == b"P5":
        return KIND_PGM
    if blob[:2] == b"P6":
        return KIND_PPM
    if blob[:2] == b"BM":
        return KIND_BMP
    if blob[:2] == b"\xff\xd8":
        return KIND_JPEG
    return "text/plain"


def encode_pgm(img: np.ndarray) -> bytes:
    """Binary PGM (P5, maxval 255) from an (h, w) uint8 array."""
    h, w = img.shape
    return f"P5 {w} {h} 255\n".encode() + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def encode_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) from an (h, w, 3) uint8 array."""
    h, w, _ = img.shape
    return f"P6 {w} {h} 255\n".encode() + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def _netpbm_header(buf: bytes, n_tokens: int) -> tuple[list[int], int]:
    """Parse ``n_tokens`` ASCII integers after the 2-byte magic,
    honoring '#' comments and arbitrary whitespace; returns the values
    and the offset of the first raster byte (one whitespace char after
    the last header token, per the spec)."""
    i, toks = 2, []
    while len(toks) < n_tokens:
        c = buf[i : i + 1]
        if not c:
            raise ValueError("truncated netpbm header")
        if c == b"#":
            while buf[i : i + 1] not in (b"\n", b""):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while buf[j : j + 1] and not buf[j : j + 1].isspace():
                j += 1
            toks.append(int(buf[i:j]))
            i = j
    if not buf[i : i + 1].isspace():
        raise ValueError("netpbm header not terminated by whitespace")
    return toks, i + 1


def _decode_netpbm(buf: bytes) -> tuple[np.ndarray, str]:
    (w, h, maxval), off = _netpbm_header(buf, 3)
    if w <= 0 or h <= 0 or not (0 < maxval < 256):
        raise ValueError(f"unsupported netpbm geometry {w}x{h} maxval {maxval}")
    channels = 3 if buf[:2] == b"P6" else 1
    need = w * h * channels
    if len(buf) - off < need:
        raise ValueError("truncated netpbm raster")
    data = np.frombuffer(buf, np.uint8, count=need, offset=off)
    if channels == 3:
        return data.reshape(h, w, 3), KIND_PPM
    return data.reshape(h, w), KIND_PGM


def _decode_bmp(buf: bytes) -> tuple[np.ndarray, str]:
    if len(buf) < 54:
        raise ValueError("truncated BMP header")
    off = int.from_bytes(buf[10:14], "little")
    w = int.from_bytes(buf[18:22], "little", signed=True)
    h = int.from_bytes(buf[22:26], "little", signed=True)
    bpp = int.from_bytes(buf[28:30], "little")
    compression = int.from_bytes(buf[30:34], "little")
    if compression != 0:
        raise NotImplementedError("compressed BMP not supported")
    if bpp not in (8, 24):
        raise NotImplementedError(f"{bpp}-bpp BMP not supported")
    bottom_up = h > 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError(f"unsupported BMP geometry {w}x{h}")
    row_bytes = (w * (bpp // 8) + 3) & ~3  # rows pad to 4-byte boundary
    if len(buf) - off < row_bytes * h:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(buf, np.uint8, count=row_bytes * h, offset=off).reshape(
        h, row_bytes
    )
    if bpp == 8:
        # 8-bpp pixels are COLOR-TABLE INDICES: read the palette that
        # follows the BITMAPINFOHEADER and map through it. Grayscale
        # palettes (B==G==R per entry) resolve to (h, w) gray; a color
        # palette would change the output shape/meaning, so it raises
        # like the other unsupported variants instead of silently
        # returning raw indices as gray values.
        hdr_size = int.from_bytes(buf[14:18], "little")
        clr_used = int.from_bytes(buf[46:50], "little") or 256
        pal_off = 14 + hdr_size
        pal_end = pal_off + 4 * clr_used
        if pal_end > len(buf) or pal_end > off:
            raise ValueError("truncated BMP color table")
        pal = np.frombuffer(buf, np.uint8, count=4 * clr_used, offset=pal_off).reshape(
            clr_used, 4
        )
        if not (
            np.array_equal(pal[:, 0], pal[:, 1])
            and np.array_equal(pal[:, 1], pal[:, 2])
        ):
            raise NotImplementedError("non-grayscale BMP palette not supported")
        lut = np.arange(256, dtype=np.uint8)
        lut[:clr_used] = pal[:, 0]  # B channel == gray level
        img = lut[rows[:, :w]]
    else:
        img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if bottom_up:
        img = img[::-1]
    return np.ascontiguousarray(img), KIND_BMP


def decode_image(blob: bytes) -> tuple[np.ndarray, str]:
    """Decode an uncompressed raster blob to (pixels, media kind).

    Pure numpy: netpbm P5 -> (h, w) uint8, P6 -> (h, w, 3) uint8, BMP
    (8/24-bit, uncompressed) -> same shapes, and baseline-sequential
    JPEG (grayscale / 4:4:4 color) via the pure-numpy decoder below.
    Remaining compressed formats raise NotImplementedError — the
    container carries no codec libs, and a real deployment swaps
    PIL/ffmpeg in HERE without touching any Spark plumbing."""
    if blob[:2] in (b"P5", b"P6"):
        return _decode_netpbm(blob)
    if blob[:2] == b"BM":
        return _decode_bmp(blob)
    if blob[:2] == b"\xff\xd8":
        return decode_jpeg(blob), KIND_JPEG
    raise NotImplementedError(
        "compressed/unknown media requires codec libs not present in this container"
    )


# backwards-compatible name: the decode entry point used to be a pure
# stub; it now really decodes raster formats and only raises for media
# that needs external codecs
decode_stub = decode_image


def extract_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-blob metadata: byte length + magic-byte kind sniff, a
    deterministic stand-in for a real decoder's bytes-in, features-out
    call."""
    return _map_rows(
        df, id_col, "blob", META_SCHEMA, lambda blob: (len(blob), sniff_kind(blob))
    )


def decode_resize_reencode(
    df: DataFrame,
    id_col: str = "doc_id",
    target_w: int = 8,
    target_h: int = 8,
) -> DataFrame:
    """REAL image pipeline: decode raster blob → nearest-neighbor
    resize → re-encode. Unlike ``resize_frames`` (which views raw
    bytes as a raster), this parses actual image container bytes with
    ``decode_image`` (netpbm/BMP headers, row padding, channel order)
    and writes back a valid netpbm file per row."""

    def resize(blob: bytes):
        img, kind = decode_image(blob)
        ys = (np.arange(target_h) * img.shape[0]) // target_h
        xs = (np.arange(target_w) * img.shape[1]) // target_w
        small = img[np.ix_(ys, xs)]
        out = encode_ppm(small) if img.ndim == 3 else encode_pgm(small)
        return kind, target_w, target_h, out

    return _map_rows(
        df,
        id_col,
        "blob",
        "doc_id bigint, kind string, width int, height int, resized binary",
        resize,
    )


def _pool8(blob: bytes):
    """Decode ``blob`` and integer mean-pool it to 8x8 blocks: (block
    sums, block areas) as int64 (8, 8) arrays, or None under 8 px a
    side. RGB collapses to the exact integer channel sum (r+g+b), so
    the pooling stays integer-exact."""
    img, _ = decode_image(blob)
    if img.ndim == 3:
        img = img.astype(np.int64).sum(axis=2)
    h, w = img.shape
    if h < 8 or w < 8:
        return None
    # block edges, then block sums from one 2-D prefix sum
    ye = (np.arange(9) * h) // 8
    xe = (np.arange(9) * w) // 8
    padded = np.zeros((h + 1, w + 1), dtype=np.int64)
    padded[1:, 1:] = np.add.accumulate(np.add.accumulate(img.astype(np.int64), 0), 1)
    bs = (
        padded[ye[1:, None], xe[None, 1:]]
        - padded[ye[:-1, None], xe[None, 1:]]
        - padded[ye[1:, None], xe[None, :-1]]
        + padded[ye[:-1, None], xe[None, :-1]]
    )
    areas = (ye[1:] - ye[:-1])[:, None] * (xe[1:] - xe[:-1])[None, :]
    return bs, areas


def _bitstring(bits: np.ndarray) -> str:
    return "".join("1" if b else "0" for b in bits.ravel())


def ahash_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual average-hash (aHash) per image — the standard
    near-duplicate-image key (pHash family): decode the REAL container
    bytes (netpbm/BMP via decode_image), mean-pool the raster to 8x8
    blocks, threshold each block against the global mean, read the 64
    bits row-major. All arithmetic is INTEGER — block areas differ
    when h, w % 8 != 0, so the means compare as cross-multiplied
    integers sum_b * A_tot >= total * A_b — and the hash is
    bit-reproducible in any engine, no float mean to drift. Images
    under 8x8 get a null hash."""

    def ahash(blob: bytes):
        pooled = _pool8(blob)
        if pooled is None:
            return None
        bs, areas = pooled
        return (_bitstring(bs * int(areas.sum()) >= int(bs.sum()) * areas),)

    return _map_rows(df, id_col, "blob", "doc_id bigint, ahash string", ahash)


def dhash_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual difference-hash (dHash) per image — aHash's
    gradient-based sibling (more robust to global brightness shifts:
    bits encode LOCAL structure, not distance from a global mean).
    This variant reads the 64 bits from the SAME integer 8x8
    mean-pooling as ahash_images, bit (r, c) = 1 iff block (r, c)'s
    mean exceeds its cyclic right neighbor (r, (c+1) % 8) — the cyclic
    wrap keeps exactly 64 bits without pooling a 9th column, and the
    comparison cross-multiplies the block AREAS (bs1 * A2 > bs2 * A1)
    so non-multiple-of-8 images stay integer-exact."""

    def dhash(blob: bytes):
        pooled = _pool8(blob)
        if pooled is None:
            return None
        bs, areas = pooled
        nb = np.roll(bs, -1, axis=1)
        na = np.roll(areas, -1, axis=1)
        return (_bitstring(bs * na > nb * areas),)

    return _map_rows(df, id_col, "blob", "doc_id bigint, dhash string", dhash)


def frame_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    frame_bytes: int = 256,
    stride: int = 4,
) -> DataFrame:
    """Sample every ``stride``-th fixed-size frame from each blob.

    The video-pipeline shape: a payload splits into frames, a strided
    subset is kept, each sampled frame gets a content hash. Entirely
    JVM-side (sequence → explode → substring → sha2): the per-frame
    fan-out happens AFTER partitioning, so a task only ever expands
    its own rows — no shuffle, scales linearly with corpus bytes.
    A real decoder replaces the byte-slice with ffmpeg frame extraction
    inside mapInPandas; the row shape stays identical."""
    nframes = F.ceil(F.length("blob") / F.lit(frame_bytes)).cast("int")
    idx = F.sequence(F.lit(0), nframes - 1, F.lit(stride))
    out = (
        df.select(id_col, "blob")
        .filter(F.length("blob") > 0)
        .withColumn("frame_no", F.explode(idx))
    )
    frame = F.expr(f"substring(blob, frame_no * {frame_bytes} + 1, {frame_bytes})")
    return out.select(
        id_col,
        "frame_no",
        F.length(frame).cast("long").alias("frame_len"),
        F.sha2(frame, 256).alias("frame_sha"),
    )


def byte_histogram_features(
    df: DataFrame, id_col: str = "doc_id", bins: int = 16
) -> DataFrame:
    """Fixed-width feature vector per blob — the image-embedding
    pipeline shape (bytes in, float vector out). The stand-in
    featurizer is a REAL computation (L1-normalized histogram of byte
    values into ``bins`` buckets); a real deployment swaps in decode +
    model inference without touching the Spark plumbing."""

    def histogram(blob: bytes):
        arr = np.frombuffer(blob, dtype=np.uint8)
        if arr.size == 0:
            return (np.zeros(bins, dtype=np.float64),)
        hist = np.bincount(arr >> (8 - bins.bit_length() + 1), minlength=bins)[:bins]
        return (hist / arr.size,)

    return _map_rows(
        df, id_col, "blob", "doc_id bigint, features array<double>", histogram
    )


def resize_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    src_w: int = 16,
    target_w: int = 8,
    target_h: int = 8,
) -> DataFrame:
    """Image-resize pipeline shape: blob + typed dimension metadata in,
    resized blob + new dimensions out.

    Each blob is viewed as a row-major ``src_w``-wide byte raster
    (height = len/src_w) and downsampled to ``target_h x target_w`` by
    nearest-neighbor index sampling — a REAL vectorized computation
    with the exact shape of a PIL/cv2 resize (decode → ndarray →
    strided gather → re-encode), so swapping in a real decoder touches
    only the two marked lines. Blobs shorter than one source row pass
    through untouched with null dims."""

    def resize(blob: bytes):
        arr = np.frombuffer(blob, dtype=np.uint8)  # decode_stub seam
        src_h = arr.size // src_w
        if src_h < 1:
            return blob, None, None
        img = arr[: src_h * src_w].reshape(src_h, src_w)
        ys = (np.arange(target_h) * src_h) // target_h
        xs = (np.arange(target_w) * src_w) // target_w
        small = img[np.ix_(ys, xs)]  # re-encode seam
        return small.tobytes(), target_w, target_h

    return _map_rows(
        df,
        id_col,
        "blob",
        "doc_id bigint, resized binary, width int, height int",
        resize,
    )


# ---------------- real audio codec (pure numpy) ----------------

KIND_WAV = "audio/wav"


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Canonical 44-byte-header mono PCM16 WAV from an int16 array."""
    pcm = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    n = len(pcm)
    hdr = (
        b"RIFF"
        + (36 + n).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")      # PCM fmt chunk size
        + (1).to_bytes(2, "little")       # audio format: PCM
        + (1).to_bytes(2, "little")       # channels: mono
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")       # block align
        + (16).to_bytes(2, "little")      # bits per sample
        + b"data"
        + n.to_bytes(4, "little")
    )
    return hdr + pcm


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """Parse a PCM16 WAV: walks RIFF chunks (fmt then data wherever
    they sit), validates PCM/16-bit, returns (samples int16, rate).
    Compressed codecs raise NotImplementedError; malformed containers
    raise ValueError."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise NotImplementedError("compressed WAV requires codec libs")
    if bits != 16 or channels != 1:
        raise NotImplementedError(f"{bits}-bit {channels}ch PCM not supported")
    return np.frombuffer(data[: len(data) & ~1], dtype="<i2"), rate


def audio_frame_features(
    df: DataFrame,
    id_col: str = "doc_id",
    frame_samples: int = 400,
) -> DataFrame:
    """REAL audio pipeline: parse WAV containers, then per fixed-size
    frame compute RMS energy and zero-crossing rate — the two features
    every VAD/segmentation front-end starts from, vectorized as a
    reshape to (n_frames, frame) then axis-1 reductions. One row per
    frame; a WAV shorter than one frame gives one row with only its
    kind set."""

    def frames(blob: bytes):
        samples, _rate = decode_wav(blob)
        nf = len(samples) // frame_samples
        if nf == 0:
            return None, None, None, KIND_WAV
        fr = samples[: nf * frame_samples].reshape(nf, frame_samples)
        # exact integer sum-of-squares, THEN one division + sqrt:
        # both correctly rounded IEEE ops, so rms is bit-equal
        # across engines (a float mean would depend on
        # accumulation order)
        xi = fr.astype(np.int64)
        r = np.sqrt((xi * xi).sum(axis=1) / float(frame_samples))
        neg = fr < 0
        z = (neg[:, 1:] != neg[:, :-1]).sum(axis=1) / float(frame_samples - 1)
        return [
            (i, ri, zi, KIND_WAV)
            for i, (ri, zi) in enumerate(zip(np.round(r, 6), np.round(z, 6)))
        ]

    return _map_rows(
        df,
        id_col,
        "blob",
        "doc_id bigint, frame_no int, rms double, zcr double, kind string",
        frames,
    )


# ---------------- real video container (pure numpy) ----------------

KIND_AVI = "video/x-msvideo"


def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + len(body).to_bytes(4, "little") + body + (b"\x00" if len(body) & 1 else b"")


def _list(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


def encode_avi(frames: np.ndarray, fps: int = 25) -> bytes:
    """Minimal uncompressed ('DIB ') AVI from an (n, h, w, 3) RGB uint8
    array: RIFF(AVI ) -> LIST hdrl(avih, LIST strl(strh, strf)) ->
    LIST movi('00db' raw BGR bottom-up frames, BMP row convention)."""
    n, h, w, _ = frames.shape
    row = (w * 3 + 3) & ~3  # DIB rows pad to a 4-byte boundary
    frame_bytes = row * h
    avih = (
        (1_000_000 // fps).to_bytes(4, "little")
        + (frame_bytes * fps).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (0x10).to_bytes(4, "little")  # AVIF_HASINDEX off; flags minimal
        + n.to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (1).to_bytes(4, "little")
        + frame_bytes.to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + b"\x00" * 16
    )
    strh = (
        b"vids"
        + b"DIB "
        + b"\x00" * 12
        + (1).to_bytes(4, "little")      # scale
        + fps.to_bytes(4, "little")      # rate
        + (0).to_bytes(4, "little")
        + n.to_bytes(4, "little")        # length
        + frame_bytes.to_bytes(4, "little")
        + (0xFFFFFFFF).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (0).to_bytes(2, "little") * 4
    )
    strf = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + frame_bytes.to_bytes(4, "little")
        + b"\x00" * 16
    )
    pad = row - w * 3

    def _dib(f: np.ndarray) -> bytes:
        raster = f[::-1, :, ::-1]  # bottom-up, BGR
        if pad == 0:
            return raster.tobytes()
        padded = np.zeros((h, row), dtype=np.uint8)
        padded[:, : w * 3] = raster.reshape(h, w * 3)
        return padded.tobytes()

    movi_body = b"".join(_chunk(b"00db", _dib(f)) for f in frames)
    body = (
        b"AVI "
        + _list(b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
        + _list(b"movi", movi_body)
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_avi(blob: bytes) -> tuple[np.ndarray, tuple[int, int]]:
    """Parse an uncompressed AVI: walk the RIFF tree, read geometry
    from the strf BITMAPINFOHEADER, collect 00db/00dc movi chunks,
    undo the DIB conventions (bottom-up rows, BGR). Returns
    ((n, h, w, 3) RGB uint8, (w, h))."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")

    strf = None
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        nonlocal strf
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
            body_start = pos + 8
            if cid == b"LIST":
                walk(buf, body_start + 4, body_start + size)
            elif cid == b"strf":
                strf = buf[body_start : body_start + size]
            elif cid in (b"00db", b"00dc"):
                frames.append(buf[body_start : body_start + size])
            pos = body_start + size + (size & 1)

    walk(blob, 12, len(blob))
    if strf is None or len(strf) < 24:
        raise ValueError("missing strf header")
    w = int.from_bytes(strf[4:8], "little", signed=True)
    h = int.from_bytes(strf[8:12], "little", signed=True)
    bpp = int.from_bytes(strf[14:16], "little")
    if bpp != 24:
        raise NotImplementedError(f"{bpp}-bpp AVI frames not supported")
    if w <= 0 or h <= 0 or not frames:
        raise ValueError("bad geometry or no frames")
    stride = (w * 3 + 3) & ~3  # DIB rows pad to a 4-byte boundary
    out = []
    for fb in frames:
        if len(fb) < stride * h:
            raise ValueError("truncated frame")
        rows = np.frombuffer(fb, np.uint8, count=stride * h).reshape(h, stride)
        arr = rows[:, : w * 3].reshape(h, w, 3)  # strip row padding
        out.append(arr[::-1, :, ::-1])  # undo bottom-up + BGR
    return np.stack(out), (w, h)


def video_frame_index(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL video pipeline: parse AVI containers from the binary
    column, emit one row per frame with geometry and the sha256 of the
    frame's raw stored payload (hash of what the container carries, so
    an external tool slicing the same file agrees). A real deployment
    swaps ffmpeg into decode_avi for compressed codecs; the row-per-
    frame fan-out stays the same."""
    import hashlib

    def index(blob: bytes):
        frames, (w, h) = decode_avi(blob)
        # hash the stored payload (re-apply DIB conventions)
        return [
            (i, w, h, hashlib.sha256(fr[::-1, :, ::-1].tobytes()).hexdigest(), KIND_AVI)
            for i, fr in enumerate(frames)
        ]

    return _map_rows(
        df,
        id_col,
        "blob",
        "doc_id bigint, frame_no int, width int, height int, frame_sha string, kind string",
        index,
    )


# ---------------- real compressed codec: PNG (zlib is stdlib) ----------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Real PNG encoder for an (h, w) uint8 grayscale array: 8-bit
    color type 0, zlib-compressed IDAT. Scanline filters are chosen to
    exercise the decoder — row 0 None(0), odd rows Sub(1), even rows
    Up(2) — and every chunk carries its correct CRC32."""
    import struct
    import zlib

    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    rows = []
    for y in range(h):
        line = img[y].astype(np.int16)
        if y == 0:
            rows.append(b"\x00" + img[y].tobytes())
        elif y % 2 == 1:  # Sub: raw[x] = cur[x] - cur[x-1]
            d = np.empty(w, dtype=np.int16)
            d[0] = line[0]
            d[1:] = line[1:] - line[:-1]
            rows.append(b"\x01" + (d % 256).astype(np.uint8).tobytes())
        else:  # Up: raw[x] = cur[x] - prev[x]
            d = line - img[y - 1].astype(np.int16)
            rows.append(b"\x02" + (d % 256).astype(np.uint8).tobytes())
    idat = zlib.compress(b"".join(rows), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(blob: bytes) -> np.ndarray:
    """Real PNG decoder (pure numpy + stdlib zlib) for 8-bit grayscale
    (color type 0) and 8-bit RGB (color type 2): signature + chunk
    walk with CRC32 verification, multi-IDAT concatenation, zlib
    inflate, and ALL FIVE scanline filters (None/Sub/Up/Average/
    Paeth). Interlace, palette, and sub-8-bit depths raise
    NotImplementedError like the other codecs' unsupported variants.
    The roundtrip query only reaches the None/Sub/Up filters and
    grayscale; Average, Paeth and RGB are pinned by unit tests."""
    import struct
    import zlib

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(blob):
        (ln,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", blob[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype_i, comp, filt, interlace = ihdr
    if depth != 8 or ctype_i not in (0, 2):
        raise NotImplementedError(f"PNG depth {depth} color {ctype_i}")
    if interlace != 0:
        raise NotImplementedError("interlaced PNG")
    bpp = 3 if ctype_i == 2 else 1
    stride = w * bpp
    raw = zlib.decompress(idat)
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if f == 0:
            rec = line
        elif f == 1:  # Sub — sequential in x, vectorized per pixel-column mod
            rec = line.copy()
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) % 256
        elif f == 2:  # Up
            rec = line + prev
        elif f == 3:  # Average
            rec = line.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (line[x] + (left + prev[x]) // 2) % 256
        elif f == 4:  # Paeth
            rec = line.copy()
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                rec[x] = (line[x] + _paeth(left, int(prev[x]), ul)) % 256
        else:
            raise ValueError(f"PNG filter {f}")
        out[y] = (rec % 256).astype(np.uint8)
    return out.reshape((h, w, 3)) if bpp == 3 else out.reshape((h, w))


def audio_resample(df: DataFrame, id_col: str = "doc_id", factor: int = 2) -> DataFrame:
    """REAL audio DSP step: decode PCM16 WAV → decimate by ``factor``
    (drop-sample resampling; a production pipeline would low-pass
    first, which needs no new plumbing — the seam is this one numpy
    line) → re-encode a valid WAV at the reduced rate."""

    def resample(blob: bytes):
        samples, rate = decode_wav(blob)
        res = samples[::factor]
        return len(samples), len(res), encode_wav(res, rate // factor)

    return _map_rows(
        df,
        id_col,
        "blob",
        f"{id_col} bigint, n_in bigint, n_out bigint, wav binary",
        resample,
    )


# --------------------------------------------------------------------
# REAL GIF87a codec (LZW): second compressed container after PNG,
# implemented from the published format spec — grayscale global color
# table, LSB-first variable-width LZW code stream in length-prefixed
# sub-blocks. Encoder and decoder share the standard code-width
# convention (width grows when next_code reaches 2^width, CLEAR resets
# the table), so the pair is self-consistent AND spec-conformant for
# non-interlaced single-frame images.


def _lzw_compress(indices: np.ndarray, min_code_size: int = 8) -> bytes:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    size = min_code_size + 1
    next_code = eoi + 1
    table: dict[tuple[int, int], int] = {}
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, size)
    it = iter(int(x) for x in indices)
    w = next(it)
    for c in it:
        if (w, c) in table:
            w = table[(w, c)]
        else:
            emit(w, size)
            table[(w, c)] = next_code
            next_code += 1
            if next_code == (1 << size) and size < 12:
                size += 1
            if next_code == 4096:  # table full: reset (spec behavior)
                emit(clear, size)
                table.clear()
                size = min_code_size + 1
                next_code = eoi + 1
            w = c
    emit(w, size)
    # the decoder adds a table entry for this last code too; EOI must
    # be written at the width that entry gives it
    if next_code + 1 == (1 << size) and size < 12:
        size += 1
    emit(eoi, size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int = 8) -> np.ndarray:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << min_code_size)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while True:
        while nbits < size:
            if pos >= len(data):
                raise ValueError("LZW stream truncated before EOI")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << size) - 1)
        acc >>= size
        nbits -= size
        if code == clear:
            table = table[: (1 << min_code_size) + 2]
            size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        # the decoder's table trails the encoder's by one entry (the
        # string the encoder is currently building), so the width must
        # grow one entry EARLY — the standard GIF decode convention
        if len(table) == (1 << size) - 1 and size < 12:
            size += 1
        prev = entry
    return np.frombuffer(bytes(out), np.uint8)


def encode_gif(img: np.ndarray) -> bytes:
    """Encode a 2-D uint8 grayscale raster as a real GIF87a file:
    256-entry grayscale global color table, one non-interlaced image,
    LZW-compressed pixel indices in <=255-byte sub-blocks."""
    h, w = img.shape
    out = bytearray(b"GIF87a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF7, 0x00, 0x00])  # GCT present, 8-bit, 256 entries
    for i in range(256):  # identity grayscale palette
        out += bytes([i, i, i])
    out += b"\x2c" + b"\x00" * 4  # image descriptor at (0,0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
    out += bytes([8])  # LZW minimum code size
    lzw = _lzw_compress(img.reshape(-1))
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(blob: bytes) -> np.ndarray:
    """Decode a single-frame non-interlaced GIF87a/89a back to the 2-D
    uint8 raster via the global color table (graylevel = red channel
    of the palette entry). Walks the real container: header, LSD,
    GCT, image descriptor, sub-block-framed LZW stream; the LZW
    decoder grows its code width one entry early and resets on the
    encoder's 4096-entry CLEAR."""
    if len(blob) < 13 or blob[:4] != b"GIF8" or blob[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF file")
    packed = blob[10]
    if not packed & 0x80:
        raise NotImplementedError("GIF without global color table")
    gct_n = 2 << (packed & 0x07)
    pos = 13
    palette = np.frombuffer(blob[pos : pos + gct_n * 3], np.uint8).reshape(-1, 3)
    pos += gct_n * 3
    while pos < len(blob) and blob[pos] == 0x21:  # skip extensions
        pos += 2
        while blob[pos]:
            pos += 1 + blob[pos]
        pos += 1
    if pos >= len(blob) or blob[pos] != 0x2C:
        raise ValueError("image descriptor not found")
    w = int.from_bytes(blob[pos + 5 : pos + 7], "little")
    h = int.from_bytes(blob[pos + 7 : pos + 9], "little")
    idesc = blob[pos + 9]
    if idesc & 0x40:
        raise NotImplementedError("interlaced GIF")
    if idesc & 0x80:
        raise NotImplementedError("local color table")
    pos += 10
    min_code = blob[pos]
    pos += 1
    lzw = bytearray()
    while blob[pos]:
        n = blob[pos]
        lzw += blob[pos + 1 : pos + 1 + n]
        pos += 1 + n
    idx = _lzw_decompress(bytes(lzw), min_code)
    if len(idx) != w * h:
        raise ValueError(f"decoded {len(idx)} pixels for {w}x{h} image")
    return palette[idx, 0].reshape(h, w)


# ---------------- real compressed codec: baseline JPEG ----------------
# Pure-numpy baseline-sequential JPEG (ITU-T T.81): DCT-based, 8-bit,
# Huffman entropy coding with the Annex K "typical" tables. Encoder
# handles 8-bit grayscale; decoder handles baseline grayscale and
# 3-component 4:4:4 (JFIF YCbCr), with restart markers. Progressive
# (SOF2), arithmetic coding, 12-bit precision, and chroma subsampling
# raise NotImplementedError like the other codecs' unsupported
# variants. (Reference has no media codecs at all — this extends the
# multimodal shelf, reference source/koalas/dataframe.d:73-311.)

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# ITU T.81 Annex K.3 typical Huffman tables: (BITS counts 1..16, HUFFVAL)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_canonical(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical JPEG Huffman table: symbol -> (code, length)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the bit-at-a-time decoder."""
    return {(ln, c): s for s, (c, ln) in _huff_canonical(bits, vals).items()}


# orthonormal 8-point DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1)u*pi/16)
_DCT_A = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _fdct(block: np.ndarray) -> np.ndarray:
    """Forward 2-D DCT of a level-shifted 8x8 float block: S = A B A^T."""
    return _DCT_A @ block @ _DCT_A.T


def _idct(coef: np.ndarray) -> np.ndarray:
    """Inverse 2-D DCT: B = A^T S A."""
    return _DCT_A.T @ coef @ _DCT_A


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


class _BitReader:
    """Bit reader over entropy-coded data, unstuffing FF00 and
    stopping at (but remembering) RST/other markers."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn must be consumed via sync()
                raise _AtMarker(nxt)
            else:
                raise _AtMarker(nxt)
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.acc, self.n = 0, 0
        while self.buf[self.pos] != 0xFF or self.buf[self.pos + 1] == 0x00:
            self.pos += 1
        m = self.buf[self.pos + 1]
        if not (0xD0 <= m <= 0xD7):
            raise ValueError(f"expected RST marker, found FF{m:02X}")
        self.pos += 2


class _AtMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map the t-bit magnitude v to its signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def encode_jpeg(img: np.ndarray, quant: np.ndarray | None = None) -> bytes:
    """REAL baseline-sequential JPEG encoder for an (h, w) uint8
    grayscale array whose dims are multiples of 8: level shift,
    orthonormal 2-D DCT, quantization (default: an all-ones table —
    chosen so DC-only content round-trips EXACTLY, see
    jpeg_roundtrip), zigzag, and Annex-K Huffman entropy coding with
    byte stuffing. Emits SOI/DQT/SOF0/DHT/SOS/EOI."""
    import struct

    h, w = img.shape
    if h % 8 or w % 8:
        raise ValueError("encode_jpeg needs multiple-of-8 dims")
    q = np.ones((8, 8), dtype=np.int64) if quant is None else quant.astype(np.int64)
    dc_tab = _huff_canonical(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_tab = _huff_canonical(_AC_LUMA_BITS, _AC_LUMA_VALS)
    bw = _BitWriter()
    pred = 0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            blk = img[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            coef = np.round(_fdct(blk) / q).astype(np.int64)
            zz = coef.flatten()[_ZIGZAG]
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            t = _category(diff)
            code, ln = dc_tab[t]
            bw.put(code, ln)
            if t:
                bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
            run = 0
            last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
            for k in range(1, 64):
                if k > last_nz:
                    break
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    code, ln = ac_tab[0xF0]  # ZRL
                    bw.put(code, ln)
                    run -= 16
                s = _category(v)
                code, ln = ac_tab[(run << 4) | s]
                bw.put(code, ln)
                bw.put(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if last_nz < 63:
                code, ln = ac_tab[0x00]  # EOB
                bw.put(code, ln)
    zz_q = q.flatten()[_ZIGZAG]
    dqt = b"\x00" + bytes(int(x) & 0xFF for x in zz_q)
    parts = [b"\xff\xd8"]  # SOI
    parts.append(b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    parts.append(b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof)
    dht_dc = b"\x00" + bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS)
    dht_ac = b"\x10" + bytes(_AC_LUMA_BITS) + bytes(_AC_LUMA_VALS)
    parts.append(b"\xff\xc4" + struct.pack(">H", 2 + len(dht_dc)) + dht_dc)
    parts.append(b"\xff\xc4" + struct.pack(">H", 2 + len(dht_ac)) + dht_ac)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    parts.append(b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos)
    parts.append(bw.flush())
    parts.append(b"\xff\xd9")  # EOI
    return b"".join(parts)


def decode_jpeg(blob: bytes) -> np.ndarray:
    """REAL baseline-sequential JPEG decoder (pure numpy + stdlib):
    marker walk, DQT/DHT table collection, Huffman entropy decode
    with FF00 unstuffing and RSTn restart handling, dequantization,
    un-zigzag, orthonormal inverse DCT, level shift + clamp. Supports
    8-bit grayscale and 3-component 4:4:4 (JFIF YCbCr -> RGB).
    Progressive (SOF2), arithmetic coding (SOF9+), 12-bit precision,
    and chroma subsampling raise NotImplementedError, matching the
    other codecs' unsupported-variant convention."""
    import struct

    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, comps) with comps = [(cid, hs, vs, tq)]
    restart = 0
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        marker = blob[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        body = blob[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZIGZAG] = np.frombuffer(
                    body, np.uint8, 64, i + 1
                ).astype(np.int64)
                qtabs[tq] = tab.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                htabs[(tc, th)] = _huff_decode_map(bits, vals)
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                hs, vs = hv >> 4, hv & 0xF
                if (hs, vs) != (1, 1):
                    raise NotImplementedError("chroma subsampling")
                comps.append((cid, hs, vs, tq))
            frame = (h, w, comps)
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"SOF{marker - 0xC0} JPEG")
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []  # (comp_idx, dc_tab, ac_tab)
            h, w, comps = frame
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                idx = next(
                    i for i, cc in enumerate(comps) if cc[0] == cs
                )
                scan.append((idx, tt >> 4, tt & 0xF))
            br = _BitReader(blob, pos + 2 + seglen)
            bh, bw_ = (h + 7) // 8, (w + 7) // 8
            planes = [
                np.zeros((bh * 8, bw_ * 8), dtype=np.float64)
                for _ in comps
            ]
            preds = [0] * len(comps)
            mcu = 0
            for by in range(bh):
                for bx in range(bw_):
                    if restart and mcu and mcu % restart == 0:
                        br.sync_restart()
                        preds = [0] * len(comps)
                    mcu += 1
                    for idx, tdc, tac in scan:
                        dct = htabs[(0, tdc)]
                        act = htabs[(1, tac)]
                        zz = np.zeros(64, dtype=np.int64)
                        t = _read_symbol(br, dct)
                        diff = _extend(br.bits(t), t) if t else 0
                        preds[idx] += diff
                        zz[0] = preds[idx]
                        k = 1
                        while k < 64:
                            rs = _read_symbol(br, act)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            s = rs & 0xF
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(br.bits(s), s)
                            k += 1
                        q = qtabs[comps[idx][3]]
                        coef = np.zeros(64, dtype=np.int64)
                        coef[_ZIGZAG] = zz
                        blkc = coef.reshape(8, 8) * q
                        planes[idx][
                            by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                        ] = _idct(blkc.astype(np.float64))
            out = [
                np.clip(np.round(p[:h, :w]) + 128.0, 0, 255).astype(np.uint8)
                for p in planes
            ]
            if len(out) == 1:
                return out[0]
            # JFIF YCbCr -> RGB
            y = out[0].astype(np.float64)
            cb = out[1].astype(np.float64) - 128.0
            cr = out[2].astype(np.float64) - 128.0
            rgb = np.stack(
                [
                    y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb,
                ],
                axis=-1,
            )
            return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        # APPn / COM / others: skip
        pos += 2 + seglen
    raise ValueError("JPEG truncated: no scan decoded")


def _read_symbol(br: "_BitReader", table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln <= 16:
        code = (code << 1) | br.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def jpeg_roundtrip(
    df: DataFrame, id_col: str = "doc_id", blocks: int = 16
) -> DataFrame:
    """Compressed-codec pipeline #3: text bytes -> a 32x32 grayscale
    raster of 8x8 CONSTANT blocks (one per input byte) -> REAL
    baseline JPEG encode (all-ones quant table) -> REAL JPEG decode ->
    decoded pixels out.

    Why constant blocks: JPEG is lossy in general, but a constant
    block's spectrum is pure DC = 8*(v-128) — an exact integer that
    survives quantization at q=1 and inverts to exactly v — so THIS
    JPEG decodes bit-exactly and the decoded-pixel sha is
    SQL-derivable (repeat-expansion of the source chars), giving the
    lossy codec the same end-to-end oracle as the lossless roundtrips.
    The AC coefficient path (runs, ZRL, EOB), general lossy accuracy
    vs an independent naive IDCT, restart markers, and the color path
    are pinned by unit tests (tests/test_multimodal.py) where
    exactness is not required. Payloads shorter than ``blocks`` bytes
    yield null pixels."""
    side = int(np.sqrt(blocks))

    def roundtrip(raster: bytes):
        if len(raster) < blocks:
            return None
        vals = np.frombuffer(raster, np.uint8, blocks)
        img = np.repeat(np.repeat(vals.reshape(side, side), 8, axis=0), 8, axis=1)
        jpg = encode_jpeg(img)
        return len(jpg), decode_jpeg(jpg).tobytes()

    return _map_rows(
        df,
        id_col,
        "raster",
        f"{id_col} bigint, jpeg_bytes bigint, pixels binary",
        roundtrip,
    )


# ---------------- TIFF 6.0 baseline (uncompressed grayscale) ----------------

KIND_TIFF = "image/tiff"


def encode_tiff_gray(img: np.ndarray) -> bytes:
    """Minimal valid TIFF 6.0 — the archival/scan format — with a
    little-endian header and ONE IFD holding the
    baseline-required tags for an uncompressed 8-bit grayscale image
    (ImageWidth 256, ImageLength 257, BitsPerSample 258,
    Compression 259 = 1, PhotometricInterpretation 262 = 1 (BlackIsZero),
    StripOffsets 273, RowsPerStrip 278 = full height, StripByteCounts
    279), pixel data in one strip after the IFD. Built from the public
    TIFF 6.0 spec — no imaging libs."""
    import struct

    h, w = img.shape
    data = img.astype(np.uint8).tobytes()
    entries = []  # (tag, type, count, value)
    SHORT, LONG = 3, 4
    # strip starts right after: 8-byte header + 2 (count) + 9*12 + 4
    strip_off = 8 + 2 + 9 * 12 + 4
    entries = [
        (256, LONG, 1, w),
        (257, LONG, 1, h),
        (258, SHORT, 1, 8),
        (259, SHORT, 1, 1),
        (262, SHORT, 1, 1),
        (273, LONG, 1, strip_off),
        (277, SHORT, 1, 1),
        (278, LONG, 1, h),
        (279, LONG, 1, len(data)),
    ]
    out = struct.pack("<2sHI", b"II", 42, 8)
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        if typ == SHORT:
            out += struct.pack("<HHIHH", tag, typ, cnt, val, 0)
        else:
            out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)  # next-IFD pointer: none
    assert len(out) == strip_off
    return out + data


def decode_tiff_gray(blob: bytes) -> np.ndarray:
    """Parse the IFD (both byte orders), verify baseline-grayscale
    assumptions (compression 1, 8 bps, 1 sample), walk the strip
    table, return (h, w) uint8. Raises ValueError on malformed input
    and NotImplementedError on compressed/planar variants — the same
    explicit-gap policy as the JPEG/MP3 codecs."""
    import struct

    if len(blob) < 8:
        raise ValueError("short tiff")
    bo = blob[:2]
    if bo == b"II":
        e = "<"
    elif bo == b"MM":
        e = ">"
    else:
        raise ValueError("not a tiff")
    magic, ifd_off = struct.unpack(e + "HI", blob[2:8])
    if magic != 42:
        raise ValueError("bad tiff magic")
    # a truncated IFD / out-of-range offset surfaces as struct.error
    # and a missing required tag (256/257/273/279) as KeyError; both
    # are malformed input, so re-raise as the documented ValueError
    # (callers' null-on-undecodable policy catches only
    # ValueError/NotImplementedError)
    try:
        n = struct.unpack(e + "H", blob[ifd_off : ifd_off + 2])[0]
        tags: dict[int, list[int]] = {}
        for i in range(n):
            o = ifd_off + 2 + 12 * i
            tag, typ, cnt = struct.unpack(e + "HHI", blob[o : o + 8])
            sz = {1: 1, 3: 2, 4: 4}.get(typ)
            if sz is None:
                continue
            total = sz * cnt
            if total <= 4:
                raw = blob[o + 8 : o + 8 + total]
            else:
                off = struct.unpack(e + "I", blob[o + 8 : o + 12])[0]
                raw = blob[off : off + total]
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            tags[tag] = list(struct.unpack(e + fmt * cnt, raw))
        if tags.get(259, [1])[0] != 1:
            raise NotImplementedError("compressed tiff")
        if tags.get(258, [8])[0] != 8 or tags.get(277, [1])[0] != 1:
            raise NotImplementedError("non-8-bit-gray tiff")
        w, h = tags[256][0], tags[257][0]
        offs = tags[273]
        counts = tags[279]
    except (struct.error, KeyError, IndexError) as exc:
        raise ValueError(f"malformed tiff: {exc}") from exc
    data = b"".join(blob[o : o + c] for o, c in zip(offs, counts))
    if len(data) < w * h:
        raise ValueError("truncated strips")
    return np.frombuffer(data, np.uint8, w * h).reshape((h, w))


# ---------------- QOI (Quite OK Image, 2022 spec) ----------------

KIND_QOI = "image/qoi"


def encode_qoi_gray(img: np.ndarray) -> bytes:
    """QOI (2022), the modern lossless byte-stream codec: encoder for a
    grayscale raster (emitted as 3-channel, r=g=b
    — QOI has no gray mode): the full op set from the public 1-page
    spec — RUN (up to 62), INDEX (64-slot (3r+5g+7b+11a)%64 hash
    table), DIFF (2-bit channel deltas, bias 2), LUMA (6-bit dg plus
    4-bit dr-dg/db-dg), RGB literal fallback; big-endian dims header,
    7x00+01 end marker."""
    import struct

    h, w = img.shape
    out = bytearray(b"qoif" + struct.pack(">IIBB", w, h, 3, 0))
    index = [(0, 0, 0, 0)] * 64
    pr = pg = pb = 0
    pa = 255
    run = 0
    for v in img.astype(np.uint8).ravel():
        r = g = b = int(v)
        if (r, g, b) == (pr, pg, pb):
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        k = (r * 3 + g * 5 + b * 7 + pa * 11) % 64
        if index[k] == (r, g, b, pa):
            out.append(k)
        else:
            index[k] = (r, g, b, pa)
            dr = (r - pr) & 0xFF
            dg = (g - pg) & 0xFF
            db = (b - pb) & 0xFF
            sdr = dr - 256 if dr > 127 else dr
            sdg = dg - 256 if dg > 127 else dg
            sdb = db - 256 if db > 127 else db
            if -2 <= sdr <= 1 and -2 <= sdg <= 1 and -2 <= sdb <= 1:
                out.append(
                    0x40 | ((sdr + 2) << 4) | ((sdg + 2) << 2) | (sdb + 2)
                )
            elif (
                -32 <= sdg <= 31
                and -8 <= sdr - sdg <= 7
                and -8 <= sdb - sdg <= 7
            ):
                out.append(0x80 | (sdg + 32))
                out.append(((sdr - sdg + 8) << 4) | (sdb - sdg + 8))
            else:
                out += bytes((0xFE, r, g, b))
        pr, pg, pb = r, g, b
    if run:
        out.append(0xC0 | (run - 1))
    out += b"\x00" * 7 + b"\x01"
    return bytes(out)


def decode_qoi_gray(blob: bytes) -> np.ndarray:
    """QOI decoder (3-channel stream; returns the red channel as the
    grayscale raster — encoder wrote r=g=b). Full op set; ValueError
    on bad magic/truncation, NotImplementedError on 4-channel."""
    import struct

    if blob[:4] != b"qoif":
        raise ValueError("not a qoi")
    w, h, ch, _cs = struct.unpack(">IIBB", blob[4:14])
    if ch == 4:
        raise NotImplementedError("rgba qoi")
    n = w * h
    px = np.empty(n, np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r = g = b = 0
    a = 255
    i, p = 14, 0
    while p < n:
        if i >= len(blob) - 7:
            raise ValueError("truncated qoi")
        op = blob[i]
        i += 1
        if op == 0xFE:
            r, g, b = blob[i], blob[i + 1], blob[i + 2]
            i += 3
        elif op == 0xFF:
            raise NotImplementedError("rgba op in rgb stream")
        else:
            tag = op >> 6
            if tag == 0:  # INDEX
                r, g, b, a = index[op & 0x3F]
            elif tag == 1:  # DIFF
                r = (r + ((op >> 4) & 3) - 2) & 0xFF
                g = (g + ((op >> 2) & 3) - 2) & 0xFF
                b = (b + (op & 3) - 2) & 0xFF
            elif tag == 2:  # LUMA
                dg = (op & 0x3F) - 32
                nx = blob[i]
                i += 1
                r = (r + dg + ((nx >> 4) & 0xF) - 8) & 0xFF
                g = (g + dg) & 0xFF
                b = (b + dg + (nx & 0xF) - 8) & 0xFF
            else:  # RUN
                run = (op & 0x3F) + 1
                px[p : p + run] = r
                p += run
                continue
        index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = (r, g, b, a)
        px[p] = r
        p += 1
    return px.reshape((h, w))


# ---------------- real container #6: TGA (Truevision TARGA) ----------------
# Implemented from the public TGA 2.0 spec (Truevision, 1991): 18-byte
# header, image types 3 (uncompressed grayscale) and 11 (RLE
# grayscale). RLE packets: header bit7=1 -> run of (n&0x7F)+1 copies
# of ONE pixel; bit7=0 -> (n&0x7F)+1 literal pixels. The encoder is
# the compressed path (type 11, top-down via descriptor bit 5, runs
# never crossing row boundaries per the spec's recommendation); the
# decoder accepts both types and both vertical orientations.

KIND_TGA = "image/x-tga"


def encode_tga_gray(img: np.ndarray) -> bytes:
    """REAL RLE TGA encoder for an (h, w) uint8 grayscale raster:
    type-11 (RLE black&white), top-down, per-row run packets — the
    one run-length-compressed path among the lossless roundtrips
    (PNG/GIF use DEFLATE/LZW, TIFF/QOI strips and byte ops)."""
    h, w = img.shape
    hdr = bytes(
        [
            0,  # id length
            0,  # no color map
            11,  # RLE grayscale
            0, 0, 0, 0, 0,  # color map spec (none)
            0, 0, 0, 0,  # x/y origin
            w & 0xFF, w >> 8,
            h & 0xFF, h >> 8,
            8,  # bits per pixel
            0x20,  # descriptor: top-down rows
        ]
    )
    out = bytearray(hdr)
    for row in img:
        i = 0
        while i < w:
            run = 1
            while i + run < w and run < 128 and row[i + run] == row[i]:
                run += 1
            if run > 1:
                out.append(0x80 | (run - 1))
                out.append(int(row[i]))
                i += run
            else:
                # literal packet: collect until next run of >=3 starts
                j = i + 1
                while (
                    j < w
                    and j - i < 128
                    and not (
                        j + 2 < w and row[j] == row[j + 1] == row[j + 2]
                    )
                ):
                    j += 1
                out.append((j - i) - 1)
                out.extend(int(x) for x in row[i:j])
                i = j
    return bytes(out)


def decode_tga_gray(blob: bytes) -> np.ndarray:
    """REAL TGA decoder: types 3 (raw) and 11 (RLE) grayscale, both
    vertical orientations. ValueError on malformed input,
    NotImplementedError on color-mapped/truecolor/other types — the
    same explicit-gap policy as the JPEG/TIFF codecs."""
    if len(blob) < 18:
        raise ValueError("short tga")
    id_len, cmap_type, img_type = blob[0], blob[1], blob[2]
    if cmap_type != 0:
        raise NotImplementedError("color-mapped tga")
    if img_type not in (3, 11):
        raise NotImplementedError(f"tga type {img_type}")
    w = blob[12] | (blob[13] << 8)
    h = blob[14] | (blob[15] << 8)
    bpp, desc = blob[16], blob[17]
    if bpp != 8:
        raise NotImplementedError("non-8-bit tga")
    if w == 0 or h == 0:
        raise ValueError("empty tga")
    i = 18 + id_len
    n = w * h
    try:
        if img_type == 3:
            px = np.frombuffer(blob, np.uint8, n, offset=i).copy()
        else:
            px = np.empty(n, np.uint8)
            p = 0
            while p < n:
                head = blob[i]
                i += 1
                cnt = (head & 0x7F) + 1
                if head & 0x80:
                    px[p : p + cnt] = blob[i]
                    i += 1
                else:
                    px[p : p + cnt] = np.frombuffer(
                        blob, np.uint8, cnt, offset=i
                    )
                    i += cnt
                p += cnt
            if p != n:
                raise ValueError("rle overrun")
    except (IndexError, ValueError) as exc:
        raise ValueError(f"malformed tga: {exc}") from exc
    img = px.reshape((h, w))
    if not desc & 0x20:  # bottom-up (the spec default)
        img = img[::-1]
    return np.ascontiguousarray(img)


# ---------------- lossless roundtrips over the five grayscale codecs ----------------

LOSSLESS_CODECS = {
    "png": (encode_png, decode_png),
    "gif": (encode_gif, decode_gif),
    "tiff": (encode_tiff_gray, decode_tiff_gray),
    "qoi": (encode_qoi_gray, decode_qoi_gray),
    "tga": (encode_tga_gray, decode_tga_gray),
}


def lossless_roundtrip(
    df: DataFrame, codec: str, id_col: str = "doc_id", w: int = 16, h: int = 16
) -> DataFrame:
    """raster -> REAL ``codec`` encode -> REAL decode -> decoded pixels,
    for any codec in ``LOSSLESS_CODECS``. The decode re-derives the
    pixels from the container alone, so a sha over ``pixels`` equal to
    the sha of the first ``w*h`` raster bytes proves the codec lossless
    end to end. ``{codec}_bytes`` is the encoded size; it stays out of
    the oracles (compressed stream length is not SQL-derivable).
    Payloads shorter than ``w*h`` bytes yield nulls."""
    encode, decode = LOSSLESS_CODECS[codec]

    def roundtrip(raster: bytes):
        if len(raster) < w * h:
            return None
        enc = encode(np.frombuffer(raster, np.uint8, w * h).reshape((h, w)))
        return len(enc), decode(enc).tobytes()

    return _map_rows(
        df,
        id_col,
        "raster",
        f"doc_id bigint, {codec}_bytes bigint, pixels binary",
        roundtrip,
    )


# ---------------- audio VAD + video motion (derived analyses) ----------------


def audio_vad_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    frame_samples: int = 100,
    thr_sumsq: int = 30_000_000_000,
) -> DataFrame:
    """Energy-threshold voice-activity detection over REAL WAV blobs:
    decode (RIFF walk), frame, per-frame EXACT int64 sum-of-squares
    energy, frame active iff sumsq >= thr_sumsq, then run-length the
    active mask into segments. Integer energies make the active mask
    — and therefore every output — exactly replayable by the SQL
    oracle (a float RMS threshold would be cut-point fragile). One
    row per doc: frames, active frames, segment count, longest run."""

    def vad(blob: bytes):
        samples, _rate = decode_wav(blob)
        nf = len(samples) // frame_samples
        fr = samples[: nf * frame_samples].reshape(nf, frame_samples)
        xi = fr.astype(np.int64)
        active = (xi * xi).sum(axis=1) >= thr_sumsq
        # segment = maximal run of active frames
        edges = np.diff(np.concatenate(([0], active.view(np.int8), [0])))
        starts = np.flatnonzero(edges == 1)
        ends = np.flatnonzero(edges == -1)
        max_run = int((ends - starts).max()) if len(starts) else 0
        return nf, int(active.sum()), len(starts), max_run

    return _map_rows(
        df,
        id_col,
        "blob",
        "doc_id bigint, n_frames bigint, n_active bigint, n_segments bigint, max_run bigint",
        vad,
    )


def video_motion_profile(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Frame-differencing motion detector over REAL AVI blobs: decode
    (nested LIST walk), then per consecutive frame pair the EXACT
    int64 sum of absolute pixel differences (SAD — the canonical
    block-matching cost). One row per doc: frame count, total SAD
    across pairs, and peak pair SAD — the scene-cut / static-content
    signal a video curation pipeline thresholds on."""

    def motion(blob: bytes):
        frames, _wh = decode_avi(blob)
        nf = len(frames)
        if nf < 2:
            return nf, 0, 0
        x = frames.astype(np.int64).reshape(nf, -1)
        sad = np.abs(x[1:] - x[:-1]).sum(axis=1)
        return nf, int(sad.sum()), int(sad.max())

    return _map_rows(
        df,
        id_col,
        "blob",
        "doc_id bigint, n_frames bigint, sad_total bigint, sad_peak bigint",
        motion,
    )


def audio_pitch_probe(
    df: DataFrame, id_col: str = "doc_id", lags: tuple = (25, 50, 100)
) -> DataFrame:
    """Autocorrelation pitch probe over REAL WAV blobs: decode (RIFF
    walk), EXACT int64 autocorrelation R(l) = sum s[i]*s[i+l] at the
    candidate lags, winner = max R with ties to the SMALLEST lag
    (deterministic). Integer math end-to-end so the SQL oracle
    replays every R(l) bit-for-bit."""
    # The tie rule holds because np.argmax returns the FIRST max —
    # which is the smallest lag only if lags are ascending and
    # duplicate-free, so normalize at entry (duplicates would also
    # collide in the r{l} output columns).
    lags = tuple(sorted(set(int(l) for l in lags)))

    def probe(blob: bytes):
        samples, _rate = decode_wav(blob)
        x = samples.astype(np.int64)
        rs = [int((x[:-l] * x[l:]).sum()) if len(x) > l else 0 for l in lags]
        # argmax, ties to the smallest lag: first max wins
        return *rs, int(lags[int(np.argmax(rs))])

    schema = (
        "doc_id bigint, "
        + ", ".join(f"r{l} bigint" for l in lags)
        + ", pitch_lag bigint"
    )
    return _map_rows(df, id_col, "blob", schema, probe)
