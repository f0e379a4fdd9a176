"""Multimodal plumbing: frame sampling, feature extraction, and the
ASCII precondition the frame-sample oracle relies on."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_corpus_is_ascii(spark):
    # the multimodal_frame_sample oracle slices DuckDB text by chars
    # and Spark blobs by bytes; equality requires 1 byte per char
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    bad = docs.filter(F.octet_length("text") != F.length("text")).count()
    assert bad == 0


def test_frame_sample_matches_python(spark):
    from koalas_spark.operators.multimodal import frame_sample, with_blob

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    out = frame_sample(with_blob(docs), "doc_id", frame_bytes=256, stride=4)
    got = {(r.doc_id, r.frame_no): (r.frame_len, r.frame_sha) for r in out.collect()}
    for row in docs.select("doc_id", "text").collect():
        blob = row.text.encode()
        nf = -(-len(blob) // 256)
        for fno in range(0, nf, 4):
            fr = blob[fno * 256 : fno * 256 + 256]
            assert got[(row.doc_id, fno)] == (len(fr), hashlib.sha256(fr).hexdigest())


def test_byte_histogram_features(spark):
    from koalas_spark.operators.multimodal import byte_histogram_features, with_blob

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    out = byte_histogram_features(with_blob(docs), "doc_id", bins=16)
    got = {r.doc_id: np.array(r.features) for r in out.collect()}
    for row in docs.select("doc_id", "text").collect():
        arr = np.frombuffer(row.text.encode(), dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=16)[:16] / arr.size
        np.testing.assert_allclose(got[row.doc_id], hist, rtol=0, atol=0)
    # fixed-width vectors, L1-normalized
    assert all(len(v) == 16 and abs(v.sum() - 1.0) < 1e-9 for v in got.values())


def test_decode_stub_raises(spark):
    from koalas_spark.operators.multimodal import decode_stub

    try:
        decode_stub(b"\x89PNG")
        raised = False
    except NotImplementedError:
        raised = True
    assert raised


def test_resize_frames_matches_python(spark):
    from koalas_spark.operators.multimodal import resize_frames, with_blob

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    out = resize_frames(with_blob(docs), "doc_id", src_w=16, target_w=8, target_h=8)
    got = {r.doc_id: (bytes(r.resized), r.width, r.height) for r in out.collect()}
    for row in docs.select("doc_id", "text").collect():
        arr = np.frombuffer(row.text.encode(), dtype=np.uint8)
        src_h = arr.size // 16
        if src_h < 1:
            assert got[row.doc_id] == (arr.tobytes(), None, None)
            continue
        img = arr[: src_h * 16].reshape(src_h, 16)
        ys = (np.arange(8) * src_h) // 8
        xs = (np.arange(8) * 16) // 8
        want = img[np.ix_(ys, xs)].tobytes()
        assert got[row.doc_id] == (want, 8, 8)
    assert len(got) == 50


# ---------------- real raster codecs ----------------


def test_decode_netpbm_with_comments_and_whitespace():
    from koalas_spark.operators.multimodal import decode_image

    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    # spec-torturing header: comments, CRLF, multi-space
    blob = b"P5\n# a comment\n  4 # inline\n3\r\n255\n" + img.tobytes()
    got, kind = decode_image(blob)
    assert kind == "image/x-portable-graymap"
    np.testing.assert_array_equal(got, img)

    rgb = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    blob6 = b"P6 4 2 255\n" + rgb.tobytes()
    got6, kind6 = decode_image(blob6)
    assert kind6 == "image/x-portable-pixmap"
    np.testing.assert_array_equal(got6, rgb)


def test_pgm_roundtrip():
    from koalas_spark.operators.multimodal import decode_image, encode_pgm, encode_ppm

    img = (np.arange(64, dtype=np.uint8) * 3).reshape(8, 8)
    got, _ = decode_image(encode_pgm(img))
    np.testing.assert_array_equal(got, img)
    rgb = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    got3, _ = decode_image(encode_ppm(rgb))
    np.testing.assert_array_equal(got3, rgb)


def _bmp24(img):
    """Hand-build an uncompressed bottom-up 24-bit BMP from (h,w,3) RGB."""
    h, w, _ = img.shape
    row = (w * 3 + 3) & ~3
    raster = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        line = bytearray()
        for x in range(w):
            r, g, b = img[y, x]
            line += bytes([b, g, r])  # BGR on disk
        line += b"\x00" * (row - len(line))
        raster += line
    off = 14 + 40
    header = (
        b"BM"
        + (off + len(raster)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return bytes(header) + bytes(raster)


def test_decode_bmp_24bit_padding_and_flip():
    from koalas_spark.operators.multimodal import decode_image

    # w=3 -> 9-byte rows pad to 12: exercises padding AND bottom-up flip
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    got, kind = decode_image(_bmp24(img))
    assert kind == "image/bmp"
    np.testing.assert_array_equal(got, img)


def test_decode_unknown_raises():
    from koalas_spark.operators.multimodal import decode_image

    for blob in (b"\x89PNG\r\n\x1a\n", b"plain text"):
        try:
            decode_image(blob)
            raised = False
        except NotImplementedError:
            raised = True
        assert raised
    # structurally-invalid known formats raise ValueError, not crash
    # (JPEG moved here when the baseline codec landed — a truncated
    # JPEG is now a malformed KNOWN format, not an unsupported one)
    for blob in (
        b"P5 4 3 255\nxx",
        b"BM" + b"\x00" * 10,
        b"\xff\xd8\xff\xe0JFIF",
    ):
        try:
            decode_image(blob)
            raised = False
        except ValueError:
            raised = True
        assert raised


def test_decode_resize_reencode_real_rasters(spark):
    from koalas_spark.operators.multimodal import (
        decode_image,
        decode_resize_reencode,
        encode_pgm,
    )

    rng = np.random.default_rng(7)
    imgs = {i: rng.integers(0, 256, size=(16, 16), dtype=np.uint8) for i in range(6)}
    rows = [(i, bytearray(encode_pgm(img))) for i, img in imgs.items()]
    rows.append((99, bytearray(b"\x89PNG not an image")))  # malformed path
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = decode_resize_reencode(df, "doc_id", target_w=4, target_h=4)
    got = {r.doc_id: r for r in out.collect()}
    assert got[99].kind is None and got[99].resized is None
    for i, img in imgs.items():
        ys = (np.arange(4) * 16) // 4
        xs = (np.arange(4) * 16) // 4
        want = img[np.ix_(ys, xs)]
        dec, kind = decode_image(bytes(got[i].resized))
        assert kind == "image/x-portable-graymap"
        assert (got[i].width, got[i].height) == (4, 4)
        np.testing.assert_array_equal(dec, want)


def test_extract_meta_sniffs_image_kinds(spark):
    from koalas_spark.operators.multimodal import encode_pgm, extract_meta

    pgm = encode_pgm(np.zeros((2, 2), dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(pgm)), (2, bytearray(b"hello"))], "doc_id long, blob binary"
    )
    got = {r.doc_id: (r.kind, r.n_bytes) for r in extract_meta(df).collect()}
    assert got[1] == ("image/x-portable-graymap", len(pgm))
    assert got[2] == ("text/plain", 5)


# ---------------- real audio codec ----------------


def test_wav_roundtrip_and_chunk_walk():
    from koalas_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    pcm = rng.integers(-(2**15), 2**15, size=777, dtype=np.int16)
    got, rate = decode_wav(encode_wav(pcm, 8000))
    assert rate == 8000
    np.testing.assert_array_equal(got, pcm)
    # chunk walk: an extra LIST chunk between fmt and data must be
    # skipped (with odd-size padding), like real in-the-wild files
    blob = encode_wav(pcm, 8000)
    fmt_chunk = blob[12:36]
    data_chunk = blob[36:]
    junk = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # padded
    riff_body = b"WAVE" + fmt_chunk + junk + data_chunk
    weird = b"RIFF" + len(riff_body).to_bytes(4, "little") + riff_body
    got2, _ = decode_wav(weird)
    np.testing.assert_array_equal(got2, pcm)


def test_wav_malformed_and_unsupported():
    from koalas_spark.operators.multimodal import decode_wav, encode_wav

    for blob, exc in (
        (b"RIFX0000WAVE", ValueError),          # wrong magic
        (b"RIFF" + b"\x00" * 8, ValueError),     # no chunks
        (encode_wav(np.zeros(4, dtype=np.int16))[:30], ValueError),  # truncated
    ):
        try:
            decode_wav(blob)
            raised = None
        except Exception as e:  # noqa: BLE001
            raised = type(e)
        assert raised is exc, (blob[:12], raised)
    # non-PCM format code -> NotImplementedError
    blob = bytearray(encode_wav(np.zeros(4, dtype=np.int16)))
    blob[20:22] = (3).to_bytes(2, "little")  # IEEE float format
    try:
        decode_wav(bytes(blob))
        raised = False
    except NotImplementedError:
        raised = True
    assert raised


def test_audio_frame_features_signed_zcr(spark):
    """Synthesized signed PCM: an alternating-sign square wave has
    zcr = 1.0 (every adjacent pair flips), a constant positive wave
    has zcr = 0; rms recomputed exactly."""
    from koalas_spark.operators.multimodal import audio_frame_features, encode_wav

    alt = np.tile(np.array([1000, -1000], dtype=np.int16), 100)  # 200 samples
    flat = np.full(200, 500, dtype=np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(alt))), (2, bytearray(encode_wav(flat))),
         (3, bytearray(b"not audio"))],
        "doc_id long, blob binary",
    )
    out = {(r.doc_id, r.frame_no): r for r in
           audio_frame_features(df, "doc_id", frame_samples=100).collect()}
    assert out[(3, None)].kind is None  # malformed passthrough
    for fno in (0, 1):
        a = out[(1, fno)]
        assert a.kind == "audio/wav"
        assert abs(a.zcr - 1.0) < 1e-9
        assert abs(a.rms - 1000.0) < 1e-9
        f = out[(2, fno)]
        assert f.zcr == 0.0 and abs(f.rms - 500.0) < 1e-9


# ---------------- real video container ----------------


def test_avi_roundtrip_and_conventions():
    from koalas_spark.operators.multimodal import decode_avi, encode_avi

    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, size=(3, 4, 8, 3), dtype=np.uint8)
    got, (w, h) = decode_avi(encode_avi(frames))
    assert (w, h) == (8, 4)
    np.testing.assert_array_equal(got, frames)
    # DIB conventions: first stored byte of a frame is the BLUE channel
    # of the BOTTOM-LEFT pixel
    blob = encode_avi(frames[:1])
    payload_pos = blob.index(b"00db") + 8
    assert blob[payload_pos] == frames[0, -1, 0, 2]


def test_avi_padded_width_roundtrip():
    """Widths that are not multiples of 4 force the 4-byte DIB row
    padding; encode must pad and decode must slice each row by the
    padded stride instead of shearing the pixels."""
    from koalas_spark.operators.multimodal import decode_avi, encode_avi

    rng = np.random.default_rng(11)
    for w in (3, 5, 6, 7):
        frames = rng.integers(0, 256, size=(2, 4, w, 3), dtype=np.uint8)
        blob = encode_avi(frames)
        got, (gw, gh) = decode_avi(blob)
        assert (gw, gh) == (w, 4)
        np.testing.assert_array_equal(got, frames)
        # stored chunk length is the padded stride, not w*3
        stride = (w * 3 + 3) & ~3
        pos = blob.index(b"00db")
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        assert size == stride * 4


def test_bmp_8bpp_palette():
    """8-bpp BMP pixels are color-table indices: a grayscale (possibly
    non-identity) palette must be applied; a color palette raises."""
    from koalas_spark.operators.multimodal import decode_image

    def bmp8(indices, palette):
        h, w = indices.shape
        row = (w + 3) & ~3
        raster = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            line = bytes(indices[y].tolist()) + b"\x00" * (row - w)
            raster += line
        pal = b"".join(bytes([b_, g, r, 0]) for (r, g, b_) in palette)
        off = 14 + 40 + len(pal)
        header = (
            b"BM"
            + (off + len(raster)).to_bytes(4, "little")
            + b"\x00" * 4
            + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little")
            + (8).to_bytes(2, "little")
            + (0).to_bytes(4, "little")
            + len(raster).to_bytes(4, "little")
            + (0).to_bytes(4, "little") * 2
            + len(palette).to_bytes(4, "little")  # biClrUsed
            + (0).to_bytes(4, "little")
        )
        return bytes(header) + pal + bytes(raster)

    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)
    # inverted gray ramp: index i -> gray 255 - 60*i
    gray_pal = [(255 - 60 * i,) * 3 for i in range(4)]
    got, kind = decode_image(bmp8(idx, gray_pal))
    assert kind == "image/bmp"
    want = np.array([[255 - 60 * v for v in row] for row in idx], dtype=np.uint8)
    np.testing.assert_array_equal(got, want)

    color_pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    try:
        decode_image(bmp8(idx, color_pal))
        raised = False
    except NotImplementedError:
        raised = True
    assert raised


def test_avi_malformed_and_unsupported():
    from koalas_spark.operators.multimodal import decode_avi, encode_avi

    import numpy as np2

    for blob, exc in (
        (b"RIFF\x00\x00\x00\x00WAVE", ValueError),   # wrong form type
        (b"nope", ValueError),
        (encode_avi(np2.zeros((1, 4, 4, 3), dtype=np2.uint8))[:-20], ValueError),  # truncated frame
    ):
        try:
            decode_avi(blob)
            raised = None
        except Exception as e:  # noqa: BLE001
            raised = type(e)
        assert raised is exc


def test_video_frame_index_matches_hashlib(spark):
    import hashlib

    from koalas_spark.operators.multimodal import encode_avi, video_frame_index

    rng = np.random.default_rng(9)
    frames = rng.integers(0, 256, size=(2, 8, 8, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_avi(frames))), (2, bytearray(b"junk"))],
        "doc_id long, blob binary",
    )
    got = {(r.doc_id, r.frame_no): r for r in video_frame_index(df).collect()}
    assert got[(2, None)].kind is None
    for i in range(2):
        r = got[(1, i)]
        want = hashlib.sha256(frames[i][::-1, :, ::-1].tobytes()).hexdigest()
        assert (r.width, r.height, r.frame_sha, r.kind) == (
            8, 8, want, "video/x-msvideo",
        )


def _png_raw(img, filters):
    """Hand-build a PNG whose rows use the given filter types —
    exercises decode paths the encoder doesn't emit (Average/Paeth,
    RGB)."""
    import struct
    import zlib

    from koalas_spark.operators.multimodal import _paeth, _png_chunk, _PNG_SIG

    if img.ndim == 3:
        h, w, bpp = img.shape
        ctype = 2
    else:
        h, w = img.shape
        bpp = 1
        ctype = 0
    flat = img.reshape(h, w * bpp).astype(np.int32)
    out = []
    for y, f in enumerate(filters):
        line = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(w * bpp, np.int32)
        raw = np.empty(w * bpp, np.int32)
        for x in range(w * bpp):
            left = line[x - bpp] if x >= bpp else 0
            ul = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                raw[x] = line[x]
            elif f == 1:
                raw[x] = line[x] - left
            elif f == 2:
                raw[x] = line[x] - prev[x]
            elif f == 3:
                raw[x] = line[x] - (left + prev[x]) // 2
            else:
                raw[x] = line[x] - _paeth(int(left), int(prev[x]), int(ul))
        out.append(bytes([f]) + (raw % 256).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    idat = zlib.compress(b"".join(out))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def test_png_roundtrip_all_filters_and_rgb():
    from koalas_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(7, 5), dtype=np.uint8)
    # every filter type, including Average and Paeth
    assert np.array_equal(decode_png(_png_raw(gray, [0, 1, 2, 3, 4, 3, 4])), gray)
    rgb = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(_png_raw(rgb, [4, 3, 2, 1])), rgb)
    # encoder output decodes losslessly (None/Sub/Up mix)
    assert np.array_equal(decode_png(encode_png(gray)), gray)


def test_png_rejects_corruption_and_unsupported():
    import pytest

    from koalas_spark.operators.multimodal import decode_png, encode_png

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    png = bytearray(encode_png(img))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"nope" + bytes(png))
    tampered = bytearray(png)
    tampered[40] ^= 0xFF  # flip a byte inside IDAT -> CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(tampered))
    # 16-bit depth is declared unsupported, not silently misread
    import struct
    import zlib

    from koalas_spark.operators.multimodal import _png_chunk, _PNG_SIG

    ihdr16 = struct.pack(">IIBBBBB", 8, 8, 16, 0, 0, 0, 0)
    deep = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr16)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * (8 * 17)))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(deep)


def test_audio_resample_roundtrip_and_malformed(spark):
    from koalas_spark.operators.multimodal import (
        audio_resample,
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(13)
    samples = rng.integers(-32768, 32767, size=200, dtype=np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(samples, 16000))), (2, bytearray(b"nope"))],
        "doc_id long, blob binary",
    )
    got = {r.doc_id: r for r in audio_resample(df, "doc_id", factor=2).collect()}
    assert got[2].n_in is None and got[2].wav is None
    out, rate = decode_wav(bytes(got[1].wav))
    assert rate == 8000
    assert np.array_equal(out, samples[::2])
    assert (got[1].n_in, got[1].n_out) == (200, 100)


def test_ahash_known_pattern_and_rgb(spark):
    """aHash bits are the exact integer mean compare; RGB collapses by
    channel sum; tiny/undecodable blobs yield null."""
    import numpy as np

    from koalas_spark.operators.multimodal import (
        ahash_images,
        encode_pgm,
        encode_ppm,
    )

    # left half 0, right half 200 -> bits 0 for left blocks, 1 for right
    img = np.zeros((16, 16), dtype=np.uint8)
    img[:, 8:] = 200
    rgb = np.stack([img] * 3, axis=2)
    rows = [
        (1, bytearray(encode_pgm(img))),
        (2, bytearray(encode_ppm(rgb))),  # same pattern via channel sum
        (3, bytearray(b"P5 2 2 255\n\x00\x01\x02\x03")),  # < 8x8 -> null
        (4, bytearray(b"\x00garbage")),  # undecodable -> null
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r.doc_id: r.ahash for r in ahash_images(df).collect()}
    expect = ("0000" + "1111") * 8
    assert out[1] == expect
    assert out[2] == expect
    assert out[3] is None and out[4] is None


def test_documents_are_ascii_for_ahash_oracle(spark):
    """The multimodal_image_ahash oracle slices 256 CHARACTERS while
    the Spark side slices 256 BYTES of UTF-8; the equivalence needs
    every document character to be single-byte. Assert the generator
    still produces pure-ASCII text so a future non-ASCII regen fails
    loudly here instead of as an opaque oracle hash mismatch."""
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_multibyte = d.filter(
        F.octet_length("text") != F.length("text")
    ).count()
    assert n_multibyte == 0


def test_gif_codec_roundtrip_and_structure():
    """encode_gif emits a structurally valid GIF87a (header, LSD
    dimensions, 256-entry GCT, sub-block framing, trailer) and
    decode_gif recovers every pixel, including images that force LZW
    code-width growth and the 4096-entry table reset."""
    import numpy as np

    from koalas_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (16, 16), dtype=np.uint8)
    gif = encode_gif(img)
    assert gif[:6] == b"GIF87a"
    assert int.from_bytes(gif[6:8], "little") == 16
    assert int.from_bytes(gif[8:10], "little") == 16
    assert gif[10] & 0x80 and (2 << (gif[10] & 7)) == 256
    assert gif[-1] == 0x3B
    assert (decode_gif(gif) == img).all()
    # width-growth + CLEAR-reset path: >4096 dictionary entries
    big = rng.randint(0, 256, (200, 200), dtype=np.uint8)
    assert (decode_gif(encode_gif(big)) == big).all()
    # 254 distinct pixels are 254 single-pixel codes: the decoder's
    # entry for the LAST one fills the 9-bit table, so it reads EOI at
    # 10 bits and the encoder must write it at that width
    edge = np.arange(254, dtype=np.uint8).reshape(2, 127)
    assert (decode_gif(encode_gif(edge)) == edge).all()
    # malformed-media paths
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_gif(b"NOTAGIF")
    with _pytest.raises(ValueError):
        decode_gif(gif[:40])


# ---------------- baseline JPEG codec ----------------


def _naive_idct8(coef):
    """Independent reference IDCT: direct T.81 cosine sum, no shared
    code with the decoder's matrix form."""
    import math

    out = [[0.0] * 8 for _ in range(8)]
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv / 4.0 * coef[u][v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x][y] = s
    return out


def test_jpeg_flat_blocks_roundtrip_exact():
    import numpy as np

    from koalas_spark.operators.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(3)
    vals = rng.randint(0, 256, 16, dtype=np.uint8)
    img = np.repeat(np.repeat(vals.reshape(4, 4), 8, 0), 8, 1)
    jpg = encode_jpeg(img)
    assert jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9"
    assert np.array_equal(decode_jpeg(jpg), img)


def test_jpeg_ac_path_matches_independent_idct():
    # a non-flat image exercises DC diffs, AC runs, ZRL and EOB; the
    # decoder must reproduce the reference reconstruction (quantize ->
    # dequantize -> naive double-loop IDCT) within the 1-count clamp
    # of float rounding
    import numpy as np

    from koalas_spark.operators.multimodal import (
        _ZIGZAG,
        _fdct,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(img))
    exp = np.zeros_like(img)
    for by in (0, 8):
        for bx in (0, 8):
            blk = img[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            q = np.round(_fdct(blk))  # all-ones quant table
            rec = np.array(_naive_idct8(q.tolist()))
            exp[by : by + 8, bx : bx + 8] = np.clip(
                np.round(rec) + 128, 0, 255
            ).astype(np.uint8)
    assert int(np.abs(got.astype(int) - exp.astype(int)).max()) <= 1
    # and the decode is close to the source (q=1 is near-lossless)
    assert int(np.abs(got.astype(int) - img.astype(int)).max()) <= 2


def test_jpeg_rejects_progressive_and_garbage():
    import numpy as np
    import pytest as _pytest

    from koalas_spark.operators.multimodal import decode_jpeg, encode_jpeg

    img = np.zeros((8, 8), dtype=np.uint8)
    jpg = bytearray(encode_jpeg(img))
    i = jpg.find(b"\xff\xc0")
    jpg[i + 1] = 0xC2  # flip SOF0 -> SOF2
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(jpg))
    with _pytest.raises(ValueError):
        decode_jpeg(b"NOTAJPEG")


def test_jpeg_restart_markers_and_color():
    """Hand-built scans for the two decoder paths the encoder does not
    emit: DRI/RSTn restart intervals and 3-component 4:4:4 color."""
    import struct

    import numpy as np

    from koalas_spark.operators.multimodal import (
        _AC_LUMA_BITS,
        _AC_LUMA_VALS,
        _DC_LUMA_BITS,
        _DC_LUMA_VALS,
        _BitWriter,
        _huff_canonical,
        decode_jpeg,
    )

    dc = _huff_canonical(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac = _huff_canonical(_AC_LUMA_BITS, _AC_LUMA_VALS)

    def dc_only_block(bw, diff):
        t = int(abs(diff)).bit_length() if diff else 0
        code, ln = dc[t]
        bw.put(code, ln)
        if t:
            bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
        code, ln = ac[0x00]
        bw.put(code, ln)  # EOB

    dqt = b"\x00" + b"\x01" * 64
    dht_dc = b"\x00" + bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS)
    dht_ac = b"\x10" + bytes(_AC_LUMA_BITS) + bytes(_AC_LUMA_VALS)

    def seg(marker, body):
        return marker + struct.pack(">H", 2 + len(body)) + body

    # --- restart: 16x8 grayscale, two MCUs, DRI=1 -> RST0 between ---
    v0, v1 = 200, 40
    bw = _BitWriter()
    dc_only_block(bw, 8 * (v0 - 128))
    scan1 = bw.flush()
    bw = _BitWriter()
    dc_only_block(bw, 8 * (v1 - 128))  # predictor RESET by restart
    scan2 = bw.flush()
    sof = struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    jpg = (
        b"\xff\xd8"
        + seg(b"\xff\xdb", dqt)
        + seg(b"\xff\xc0", sof)
        + seg(b"\xff\xc4", dht_dc)
        + seg(b"\xff\xc4", dht_ac)
        + seg(b"\xff\xdd", struct.pack(">H", 1))
        + seg(b"\xff\xda", sos)
        + scan1
        + b"\xff\xd0"
        + scan2
        + b"\xff\xd9"
    )
    out = decode_jpeg(jpg)
    assert out.shape == (8, 16)
    assert np.all(out[:, :8] == v0) and np.all(out[:, 8:] == v1)

    # --- color: 8x8 4:4:4, flat Y/Cb/Cr -> known RGB ---
    y, cb, cr = 120, 160, 100
    bw = _BitWriter()
    for comp_val in (y, cb, cr):
        dc_only_block(bw, 8 * (comp_val - 128))
    scan = bw.flush()
    sof3 = struct.pack(">BHHB", 8, 8, 8, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    sos3 = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    jpg3 = (
        b"\xff\xd8"
        + seg(b"\xff\xdb", dqt)
        + seg(b"\xff\xc0", sof3)
        + seg(b"\xff\xc4", dht_dc)
        + seg(b"\xff\xc4", dht_ac)
        + seg(b"\xff\xda", sos3)
        + scan
        + b"\xff\xd9"
    )
    rgb = decode_jpeg(jpg3)
    assert rgb.shape == (8, 8, 3)
    exp_r = round(y + 1.402 * (cr - 128))
    exp_g = round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
    exp_b = round(y + 1.772 * (cb - 128))
    assert tuple(rgb[0, 0]) == (exp_r, exp_g, exp_b)


def test_tga_codec_roundtrip_fuzz():
    import numpy as np

    from koalas_spark.operators.multimodal import (
        decode_tga_gray,
        encode_tga_gray,
    )

    rng = np.random.RandomState(7)
    for _ in range(60):
        h, w = rng.randint(1, 33), rng.randint(1, 33)
        img = (
            rng.randint(0, 256, (h, w)).astype(np.uint8)
            if rng.rand() < 0.5
            else (rng.randint(0, 3, (h, w)) * 100).astype(np.uint8)
        )
        assert (decode_tga_gray(encode_tga_gray(img)) == img).all()


def test_tga_decoder_raw_bottom_up_and_errors():
    import numpy as np
    import pytest

    from koalas_spark.operators.multimodal import decode_tga_gray

    img = np.arange(48, dtype=np.uint8).reshape(6, 8)
    hdr = bytes([0, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 8, 0, 6, 0, 8, 0])
    blob = hdr + img[::-1].tobytes()  # bottom-up raw type 3
    assert (decode_tga_gray(blob) == img).all()
    with pytest.raises(ValueError):
        decode_tga_gray(b"xx")
    with pytest.raises(NotImplementedError):
        decode_tga_gray(bytes([0, 0, 2] + [0] * 15))  # truecolor
    with pytest.raises(ValueError):
        # RLE stream truncated mid-packet
        decode_tga_gray(
            bytes([0, 0, 11, 0, 0, 0, 0, 0, 0, 0, 0, 0, 8, 0, 6, 0, 8, 0x20])
            + bytes([0x87])
        )


def test_tiff_malformed_raises_valueerror():
    import pytest

    from koalas_spark.operators.multimodal import (
        decode_tiff_gray,
        encode_tiff_gray,
    )
    import numpy as np

    good = encode_tiff_gray(np.zeros((4, 4), np.uint8))
    # truncate inside the IFD: struct.error path must surface as the
    # documented ValueError (ADVICE r10)
    with pytest.raises(ValueError):
        decode_tiff_gray(good[:12])


def test_audio_pitch_probe_lags_normalized(spark):
    """ADVICE r11: unsorted/duplicate lags must not break the
    'ties to the smallest lag' rule or collide in the r{l} dict."""
    import numpy as np

    from koalas_spark.operators.multimodal import (
        audio_pitch_probe,
        encode_wav,
    )

    # silence: R(l) == 0 at every lag — an exact three-way tie, so
    # the documented winner is the SMALLEST lag. With unsorted lags
    # the unnormalized np.argmax would report 100 (first in tuple).
    sil = np.zeros(1000, dtype=np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(sil, 8000)))], "doc_id bigint, blob binary"
    )
    rows = audio_pitch_probe(
        df, "doc_id", lags=(100, 25, 50, 25)
    ).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert set(r) == {"doc_id", "r25", "r50", "r100", "pitch_lag"}
    assert r["r25"] == r["r50"] == r["r100"] == 0
    assert r["pitch_lag"] == 25


# ---------------- the per-row contract, once per operator ----------------
# Every per-row operator runs through one row map: a junk (or short)
# blob yields one row with null non-id columns instead of failing the
# task. Three kernels define a value for any bytes instead: extract_meta
# (length + "text/plain"), byte_histogram_features (the histogram) and
# resize_frames (the blob passed through with null dimensions). Binary
# outputs compare by sha256 prefix.


def _sha(b) -> str:
    return hashlib.sha256(bytes(b)).hexdigest()[:16]


def _contract_cases():
    import koalas_spark.operators.multimodal as mm

    pix = (np.arange(256) * 7 % 256).astype(np.uint8).reshape(16, 16)
    img = mm.encode_pgm(pix)
    t = np.arange(1000)
    samples = np.where(
        t < 500, np.where(t % 50 < 25, 30000, -30000), (t % 7) - 3
    ).astype(np.int16)
    wav = mm.encode_wav(samples)
    avi = mm.encode_avi(
        (np.arange(3 * 4 * 6 * 3) * 5 % 256).astype(np.uint8).reshape(3, 4, 6, 3)
    )
    raster = bytes(range(256))
    jpeg_pix = np.repeat(np.repeat(np.arange(16, dtype=np.uint8).reshape(4, 4), 8, 0), 8, 1)

    def hist(b):
        arr = np.frombuffer(b, np.uint8)
        return tuple(np.bincount(arr >> 4, minlength=16)[:16] / arr.size)

    cases = [
        ("extract_meta", mm.extract_meta, "blob", img, b"junk",
         "n_bytes:bigint,kind:string",
         [(len(img), mm.KIND_PGM)], [(4, "text/plain")]),
        ("decode_resize_reencode", mm.decode_resize_reencode, "blob", img, b"junk",
         "kind:string,width:int,height:int,resized:binary",
         [(mm.KIND_PGM, 8, 8, _sha(mm.encode_pgm(pix[::2, ::2])))], None),
        ("ahash_images", mm.ahash_images, "blob", img, b"junk", "ahash:string",
         [("0000011111000000011110000001111011000111111100000111110000011111",)], None),
        ("dhash_images", mm.dhash_images, "blob", img, b"junk", "dhash:string",
         [("0000000101100000000010000000001011000000001100000000010000000001",)], None),
        ("byte_histogram_features", mm.byte_histogram_features, "blob", img, b"junk",
         "features:array<double>", [(hist(img),)], [(hist(b"junk"),)]),
        ("resize_frames", mm.resize_frames, "blob", img, b"junk",
         "resized:binary,width:int,height:int",
         [(_sha(np.frombuffer(img, np.uint8, 256).reshape(16, 16)[::2, ::2].tobytes()), 8, 8)],
         [(_sha(b"junk"), None, None)]),
        ("audio_frame_features", mm.audio_frame_features, "blob", wav, b"nope",
         "frame_no:int,rms:double,zcr:double,kind:string",
         [(0, 30000.0, 0.037594, mm.KIND_WAV), (1, 15000.0001, 0.223058, mm.KIND_WAV)],
         None),
        ("audio_resample", mm.audio_resample, "blob", wav, b"nope",
         "n_in:bigint,n_out:bigint,wav:binary",
         [(1000, 500, _sha(mm.encode_wav(samples[::2], 8000)))], None),
        ("audio_vad_segments", mm.audio_vad_segments, "blob", wav, b"nope",
         "n_frames:bigint,n_active:bigint,n_segments:bigint,max_run:bigint",
         [(10, 5, 1, 5)], None),
        ("audio_pitch_probe", mm.audio_pitch_probe, "blob", wav, b"nope",
         "r25:bigint,r50:bigint,r100:bigint,pitch_lag:bigint",
         [(-427500180949, 405000360450, 360000509601, 50)], None),
        ("video_frame_index", mm.video_frame_index, "blob", avi, b"junk",
         "frame_no:int,width:int,height:int,frame_sha:string,kind:string",
         [
             (0, 6, 4, "45ae8915f6092929a48cee4badfcc5983a6987b252df7490ac81b6afff62413c", mm.KIND_AVI),
             (1, 6, 4, "154dea8c8570e33c469a8fb33aac2e738f4129bf226591ca51941767303696e8", mm.KIND_AVI),
             (2, 6, 4, "abcf76b3cf4b6b08cdd0990d3d6c9cd712fe92770d9ed867fb5b59e82c442123", mm.KIND_AVI),
         ],
         None),
        ("video_motion_profile", mm.video_motion_profile, "blob", avi, b"junk",
         "n_frames:bigint,sad_total:bigint,sad_peak:bigint", [(3, 17520, 9024)], None),
        ("jpeg_roundtrip", mm.jpeg_roundtrip, "raster", bytes(range(16)), b"short",
         "jpeg_bytes:bigint,pixels:binary", [(337, _sha(jpeg_pix.tobytes()))], None),
    ]
    sizes = {"png": 114, "gif": 1087, "tiff": 378, "qoi": 278, "tga": 290}
    for codec, size in sizes.items():
        cases.append(
            (f"{codec}_roundtrip",
             lambda df, codec=codec: mm.lossless_roundtrip(df, codec),
             "raster", raster, b"short",
             f"{codec}_bytes:bigint,pixels:binary", [(size, _sha(raster))], None)
        )
    return [pytest.param(*c[1:], id=c[0]) for c in cases]


@pytest.mark.parametrize(
    "op,col,valid,junk,schema,want_valid,want_junk", _contract_cases()
)
def test_per_row_contract(spark, op, col, valid, junk, schema, want_valid, want_junk):
    df = spark.createDataFrame(
        [(1, bytearray(valid)), (2, bytearray(junk))], f"doc_id bigint, {col} binary"
    )
    out = op(df)
    assert out.schema.simpleString() == f"struct<doc_id:bigint,{schema}>"

    def norm(v):
        if isinstance(v, (bytes, bytearray)):
            return _sha(v)
        return tuple(v) if isinstance(v, list) else v

    got = {1: [], 2: []}
    for r in out.collect():
        got[r[0]].append(tuple(norm(v) for v in r[1:]))
    n_out = len(out.columns) - 1
    assert sorted(got[1], key=repr) == want_valid
    assert got[2] == (want_junk or [(None,) * n_out])
