"""Multimodal plumbing: binary columns through mapInPandas with the
documented stub kernels — schema contract and batch shape are real."""

from malstrom_spark.functions import multimodal


def test_image_meta_schema_and_rows(spark):
    df = spark.createDataFrame([(1, "abcdef"), (2, "xy")], "id long, raw string")
    payloads = multimodal.attach_binary_column(df, "raw").drop("raw")
    out = multimodal.extract_image_meta(payloads)
    rows = {r.id: r for r in out.collect()}
    assert set(out.columns) == {"id", "width", "height", "mode", "n_bytes"}
    assert rows[1].n_bytes == 6 and rows[2].n_bytes == 2
    assert rows[1].mode == "RGB"


def test_frame_sample_explodes(spark):
    df = spark.createDataFrame([(1, "0123456789" * 5)], "id long, raw string")
    payloads = multimodal.attach_binary_column(df, "raw").drop("raw")
    out = multimodal.frame_sample(payloads, every_n=10).collect()
    assert len(out) > 1  # 1 -> N explode shape
    assert all(r.id == 1 for r in out)
    assert out[0].frame_idx == 0


def test_audio_features(spark):
    df = spark.createDataFrame([(1, "aaaa")], "id long, raw string")
    payloads = multimodal.attach_binary_column(df, "raw").drop("raw")
    row = multimodal.audio_features(payloads).collect()[0]
    assert row.duration_ms == 32  # 4 bytes * 8
    assert row.rms == (4 * 37 + 13) % 256  # pure in byte length


# ---- REAL stdlib decode kernels (round-4 VERDICT #5) ---------------


def _make_bmp(width: int, height: int) -> bytes:
    """Genuine 24-bpp BMP bytes (BITMAPINFOHEADER), rows padded to 4."""
    import struct

    row = width * 3
    pad = (4 - row % 4) % 4
    body = b""
    for y in range(height):
        for x in range(width):
            body += bytes([(x * 7) % 256, (y * 11) % 256, 42])
        body += b"\x00" * pad
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + body


def _make_wav(rate: int, n_frames: int, amplitude: int = 16384) -> bytes:
    """Genuine mono 16-bit WAV: a square wave of known amplitude, so
    RMS is exactly amplitude/32768."""
    import io
    import wave

    import numpy as np

    x = np.where(np.arange(n_frames) % 2 == 0, amplitude, -amplitude).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def test_real_bmp_decode_kernel(spark):
    from malstrom_spark.functions.multimodal import decode_bmp_bytes, extract_image_meta

    bmp = _make_bmp(5, 3)
    assert decode_bmp_bytes(bmp) == (5, 3, "BGR")
    df = spark.createDataFrame([(1, bmp), (2, _make_bmp(7, 2))], "id long, payload binary")
    rows = {r.id: r for r in extract_image_meta(df, decode=decode_bmp_bytes).collect()}
    assert (rows[1].width, rows[1].height, rows[1].mode) == (5, 3, "BGR")
    assert (rows[2].width, rows[2].height) == (7, 2)
    assert rows[1].n_bytes == len(bmp)


def test_real_bmp_decode_rejects_non_bmp():
    import pytest as _pytest

    from malstrom_spark.functions.multimodal import decode_bmp_bytes

    with _pytest.raises(ValueError):
        decode_bmp_bytes(b"\x89PNG\r\n\x1a\nnot-a-bmp-payload-here")


def test_real_wav_decode_kernel(spark):
    from malstrom_spark.functions.multimodal import audio_features_wav, decode_wav_bytes

    wav = _make_wav(8000, 4000, amplitude=16384)
    rate, nch, width, nframes, dur, rms = decode_wav_bytes(wav)
    assert (rate, nch, width, nframes, dur) == (8000, 1, 2, 4000, 500)
    assert abs(rms - 16384 / 32768) < 1e-9  # square wave: RMS == amplitude
    df = spark.createDataFrame(
        [(1, wav), (2, _make_wav(16000, 16000, amplitude=8192))],
        "id long, payload binary",
    )
    rows = {r.id: r for r in audio_features_wav(df).collect()}
    assert rows[1].sample_rate == 8000 and rows[1].duration_ms == 500
    assert rows[2].sample_rate == 16000 and rows[2].duration_ms == 1000
    assert abs(rows[2].rms - 8192 / 32768) < 1e-9


def _make_png(w, h, color=2, depth=8):
    """A fully valid minimal PNG: signature + IHDR + one IDAT holding
    zlib-compressed zero scanlines + IEND — real bytes any viewer
    accepts, generated stdlib-only."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    raw = (b"\x00" + b"\x00" * (w * nch * depth // 8)) * h
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_jpeg(w, h, ncomp=3, progressive=False, extra_segments=True):
    """A structurally valid JPEG header chain: SOI, optional APP0/DQT
    (exercising the segment walk), then SOF0 or SOF2 with the real
    dimensions, a truncated SOS — enough for any metadata scanner."""
    import struct

    out = b"\xff\xd8"  # SOI
    if extra_segments:
        jfif = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        out += b"\xff\xe0" + struct.pack(">H", 2 + len(jfif)) + jfif  # APP0
        dqt = b"\x00" + bytes(64)
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt  # DQT
        out += b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"  # DHT (not a SOF!)
    sof = b"\xff\xc2" if progressive else b"\xff\xc0"
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(ncomp))
    body = struct.pack(">BHHB", 8, h, w, ncomp) + comps
    out += sof + struct.pack(">H", 2 + len(body)) + body
    out += b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"  # SOS
    return out


def test_real_png_decode_kernel(spark):
    from malstrom_spark.functions.multimodal import decode_png_bytes, extract_image_meta

    png = _make_png(11, 4)
    assert decode_png_bytes(png) == (11, 4, "RGB")
    assert decode_png_bytes(_make_png(2, 9, color=6)) == (2, 9, "RGBA")
    assert decode_png_bytes(_make_png(3, 3, color=0, depth=16)) == (3, 3, "L;16")
    df = spark.createDataFrame([(1, png)], "id long, payload binary")
    r = extract_image_meta(df, decode=decode_png_bytes).collect()[0]
    assert (r.width, r.height, r.mode, r.n_bytes) == (11, 4, "RGB", len(png))


def test_png_crc_corruption_detected():
    import pytest as _pytest

    from malstrom_spark.functions.multimodal import decode_png_bytes

    png = bytearray(_make_png(11, 4))
    png[18] ^= 0x01  # flip a width bit without fixing the CRC
    with _pytest.raises(ValueError, match="CRC"):
        decode_png_bytes(bytes(png))


def test_real_jpeg_decode_kernel(spark):
    from malstrom_spark.functions.multimodal import decode_jpeg_bytes, extract_image_meta

    jpg = _make_jpeg(640, 480)
    assert decode_jpeg_bytes(jpg) == (640, 480, "YCbCr")
    # progressive SOF2, grayscale, CMYK, and a bare SOI+SOF chain
    assert decode_jpeg_bytes(_make_jpeg(31, 17, progressive=True)) == (31, 17, "YCbCr")
    assert decode_jpeg_bytes(_make_jpeg(8, 8, ncomp=1)) == (8, 8, "L")
    assert decode_jpeg_bytes(_make_jpeg(5, 6, ncomp=4)) == (5, 6, "CMYK")
    assert decode_jpeg_bytes(_make_jpeg(9, 9, extra_segments=False)) == (9, 9, "YCbCr")
    df = spark.createDataFrame([(1, jpg)], "id long, payload binary")
    r = extract_image_meta(df, decode=decode_jpeg_bytes).collect()[0]
    assert (r.width, r.height) == (640, 480)


def test_jpeg_truncated_rejected():
    import pytest as _pytest

    from malstrom_spark.functions.multimodal import decode_jpeg_bytes

    jpg = _make_jpeg(640, 480)
    sof_at = jpg.index(b"\xff\xc0")
    with _pytest.raises(ValueError, match="SOF"):
        decode_jpeg_bytes(jpg[:sof_at])  # cut before the frame header
    with _pytest.raises(ValueError):
        decode_jpeg_bytes(b"\x00\x01\x02\x03")


def test_sniff_dispatch_mixed_formats(spark):
    """One mixed-format column through ONE mapInPandas pass — the real
    ingest shape: sniff routes each payload to its stdlib decoder."""
    from malstrom_spark.functions.multimodal import extract_image_meta, sniff_image_bytes

    rows = [
        (1, _make_bmp(5, 3)),
        (2, _make_png(11, 4)),
        (3, _make_jpeg(640, 480)),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: (r.width, r.height) for r in
           extract_image_meta(df, decode=sniff_image_bytes).collect()}
    assert got == {1: (5, 3), 2: (11, 4), 3: (640, 480)}


def test_jpeg_truncated_in_fill_bytes_raises_valueerror():
    """Regression (round-5 review): a payload ending inside 0xFF fill
    padding must raise the decoder's documented ValueError, not an
    IndexError that escapes an ingest filter's error handling."""
    import pytest as _pytest

    from malstrom_spark.functions.multimodal import decode_jpeg_bytes

    with _pytest.raises(ValueError, match="SOF"):
        decode_jpeg_bytes(b"\xff\xd8\xff\xff")
    with _pytest.raises(ValueError):  # under the 4-byte minimum
        decode_jpeg_bytes(b"\xff\xd8\xff")


# ---- ffmpeg-gated REAL video sampling (r6 VERDICT #8) --------------


def test_frame_sample_ffmpeg_real_video(spark, tmp_path):
    """AUTO-ACTIVATES when ffmpeg lands in the environment (the same
    standing-gap pattern as the Kafka jar and TWS protobuf tests):
    synthesizes a real 16-frame video with ffmpeg's testsrc, runs the
    `-f image2pipe` sampler, and checks frame count, source frame
    numbering, PNG validity, and passthrough columns."""
    import subprocess

    import pytest

    from malstrom_spark.functions.multimodal import _have_ffmpeg

    if not _have_ffmpeg():
        pytest.skip("ffmpeg not on PATH — stub path covered above")

    vid = tmp_path / "clip.mp4"
    subprocess.run(
        [
            "ffmpeg", "-v", "error",
            "-f", "lavfi", "-i", "testsrc=duration=2:size=64x48:rate=8",
            "-frames:v", "16", "-c:v", "mpeg4", str(vid),
        ],
        check=True,
    )
    blob = vid.read_bytes()
    df = spark.createDataFrame([(7, blob)], "id long, payload binary")
    rows = multimodal.frame_sample_ffmpeg(df, every_n=4).collect()
    # 16 frames, every 4th kept -> frames 0, 4, 8, 12
    assert [r.frame_idx for r in rows] == [0, 4, 8, 12]
    assert all(r.id == 7 for r in rows)
    # each emitted frame is a standalone, well-formed PNG
    for r in rows:
        meta = multimodal.decode_png_bytes(bytes(r.frame))
        assert (meta[0], meta[1]) == (64, 48)


def test_frame_sample_ffmpeg_refuses_without_ffmpeg(spark):
    import pytest

    from malstrom_spark.functions.multimodal import _have_ffmpeg

    if _have_ffmpeg():
        pytest.skip("ffmpeg present; the real-video test above covers it")
    df = spark.createDataFrame([(1, b"x")], "id long, payload binary")
    with pytest.raises(RuntimeError, match="ffmpeg"):
        multimodal.frame_sample_ffmpeg(df)


# ------------------------------------------------ perceptual hashing

def _pattern(base, offset, size=48):
    import numpy as np

    y, x = np.mgrid[0:size, 0:size]
    wave = (np.sin(x * (1 + base % 7) / 6.0 + base)
            + np.cos(y * (1 + base % 5) / 5.0))
    lum = ((wave + 2.0) / 4.0 * 235.0 + offset).astype(np.uint8)
    return np.stack([lum] * 3, axis=2)


def test_bmp_pixel_roundtrip_and_padding():
    import numpy as np

    from malstrom_spark.functions import multimodal as mm

    # width 47 forces a non-zero row pad (47*3 = 141 -> stride 144)
    px = (np.arange(33 * 47 * 3).reshape(33, 47, 3) % 250).astype(np.uint8)
    assert (mm.decode_bmp_pixels(mm.make_bmp(px)) == px).all()
    import pytest as _p
    with _p.raises(ValueError):
        mm.decode_bmp_pixels(b"nonsense")


def test_phash_properties():
    from malstrom_spark.functions import multimodal as mm

    a = mm.phash64(mm.make_bmp(_pattern(3, 0)))
    near = mm.phash64(mm.make_bmp(_pattern(3, 4)))   # brightness shift
    far = mm.phash64(mm.make_bmp(_pattern(17, 0)))   # different pattern

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert ham(a, near) <= 3
    assert ham(a, far) > 10


def test_phash_near_dup_matches_brute_force(spark):
    """Banding output == numpy brute force at max_hamming <
    n_chunks (pigeonhole completeness regime)."""
    from malstrom_spark.functions import multimodal as mm

    imgs = [(i, bytearray(mm.make_bmp(_pattern(i % 6, (i // 6) % 4))))
            for i in range(36)]
    df = spark.createDataFrame(imgs, "doc_id long, payload binary")
    hashed = mm.image_phash(df, "payload").drop("payload")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in mm.phash_near_dup_pairs(
               hashed, "doc_id", max_hamming=3).collect()}

    hs = {i: mm.phash64(bytes(p)) for i, p in imgs}

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    want = {(i, j): ham(hs[i], hs[j])
            for i in hs for j in hs if i < j and ham(hs[i], hs[j]) <= 3}
    assert got == want
    assert len(want) > 0


def test_image_phash_null_for_undecodable(spark):
    from malstrom_spark.functions import multimodal as mm

    df = spark.createDataFrame(
        [(1, bytearray(b"not a bmp"))], "doc_id long, payload binary")
    row = mm.image_phash(df, "payload").collect()[0]
    assert row["phash"] is None


def test_phash_near_dup_default_is_complete_and_lossy_raises(spark):
    """Defaults must honor the pigeonhole guarantee: max_hamming
    defaults to n_chunks-1 (3 at chunk_bits=16), and an explicit
    max_hamming >= n_chunks raises unless allow_lossy=True — the same
    parameter-voids-guarantee validation as heavy_hitters."""
    import pytest as _pytest
    from malstrom_spark.functions import multimodal as mm

    df = spark.createDataFrame(
        [(1, 0), (2, 1), (3, (1 << 5) | 1)], "doc_id long, phash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in mm.phash_near_dup_pairs(df, "doc_id").collect()}
    assert got == {(1, 2): 1, (2, 3): 1, (1, 3): 2}
    with _pytest.raises(ValueError, match="pigeonhole"):
        mm.phash_near_dup_pairs(df, "doc_id", max_hamming=10)
    # allow_lossy opts back into the recall trade explicitly
    lossy = mm.phash_near_dup_pairs(
        df, "doc_id", max_hamming=10, allow_lossy=True)
    assert lossy.count() >= 3


# --------------------------------------------------- PNG pixel path
def test_png_roundtrip_every_filter_type():
    """decode_png_pixels must invert make_png exactly for all five
    scanline filter types (None/Sub/Up/Average/Paeth) and the cycling
    default."""
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (23, 31, 3), dtype=np.uint8)
    for f in range(5):
        got = mm.decode_png_pixels(mm.make_png(px, row_filters=f))
        assert (got == px).all(), f"filter {f} roundtrip mismatch"
    assert (mm.decode_png_pixels(mm.make_png(px)) == px).all()


def test_png_gray_and_alpha_color_types():
    """Grayscale and RGBA color types decode to (H, W, 3) RGB — gray
    replicated, alpha dropped. Hand-built minimal PNGs (the encoder
    only writes truecolor)."""
    import struct
    import zlib

    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    def png(w, h, color, raw):
        def chunk(t, d):
            crc = zlib.crc32(t + d) & 0xFFFFFFFF
            return struct.pack(">I", len(d)) + t + d + struct.pack(">I", crc)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    # 2x2 grayscale, filter 0 rows
    g = png(2, 2, 0, bytes([0, 10, 20, 0, 30, 40]))
    assert mm.decode_png_pixels(g).tolist() == [
        [[10, 10, 10], [20, 20, 20]], [[30, 30, 30], [40, 40, 40]]]
    # 1x2 RGBA: alpha dropped
    ra = png(1, 2, 6, bytes([0, 1, 2, 3, 255, 0, 4, 5, 6, 0]))
    assert mm.decode_png_pixels(ra).tolist() == [[[1, 2, 3]], [[4, 5, 6]]]


def test_png_error_paths():
    import pytest as _pytest
    from malstrom_spark.functions import multimodal as mm

    with _pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png_pixels(b"nonsense")
    with _pytest.raises(ValueError, match="unsupported image container"):
        mm.decode_image_pixels(b"GIF89a...")


def test_phash_is_container_invariant():
    """The same pixels must hash identically through BMP and PNG — the
    pHash is a pure function of pixels, not of the container."""
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, (48, 48, 3), dtype=np.uint8)
    assert mm.phash64(mm.make_bmp(px)) == mm.phash64(mm.make_png(px))


def test_image_phash_over_mixed_containers(spark):
    """image_phash on a column mixing BMP and PNG payloads (plus one
    undecodable) — PNGs decode for real, junk comes back NULL."""
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    px = np.full((16, 16, 3), 128, dtype=np.uint8)
    rows = [(1, bytearray(mm.make_bmp(px))),
            (2, bytearray(mm.make_png(px))),
            (3, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["phash"]
           for r in mm.image_phash(df, "payload").collect()}
    assert got[1] == got[2] and got[1] is not None
    assert got[3] is None


# ---------------------- baseline JPEG codec (round 10)
def _smooth_image(h=40, w=56):
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    lum = (np.sin(x / 6.0) + np.cos(y / 5.0) + 2.0) / 4.0 * 220.0
    return np.stack(
        [lum, np.minimum(lum + 20, 255.0), lum * 0.8], axis=2
    ).astype(np.uint8)


def test_jpeg_roundtrip_tolerance_all_modes():
    """Encode -> decode across quality, 4:4:4/4:2:0, grayscale and
    restart markers; baseline JPEG is lossy but bounded on smooth
    images."""
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    px = _smooth_image()
    for kw in (dict(quality=95), dict(quality=90, subsample=True),
               dict(quality=75), dict(quality=90, restart_interval=3),
               dict(quality=90, subsample=True, restart_interval=2)):
        blob = mm.make_jpeg(px, **kw)
        dec = mm.decode_jpeg_pixels(blob)
        assert dec.shape == px.shape
        err = np.abs(dec.astype(float) - px.astype(float))
        assert err.mean() < 3.0 and err.max() < 40, (kw, err.mean(), err.max())
        # header parser agrees on dimensions
        assert mm.decode_jpeg_bytes(blob) == (px.shape[1], px.shape[0],
                                              "YCbCr")
    gray_blob = mm.make_jpeg(px, quality=95, gray=True)
    assert mm.decode_jpeg_bytes(gray_blob) == (px.shape[1], px.shape[0], "L")
    dec = mm.decode_jpeg_pixels(gray_blob)
    lum = (0.299 * px[:, :, 0] + 0.587 * px[:, :, 1]
           + 0.114 * px[:, :, 2])
    err = abs(dec[:, :, 0].astype(float) - lum)
    assert (dec[:, :, 0] == dec[:, :, 1]).all()  # gray replicated
    assert err.mean() < 3.0, err.mean()


def test_jpeg_constant_image_near_exact():
    """A constant-color image is DC-only: the roundtrip must be exact
    to within the color-transform rounding (analytically known — an
    independent pin, not encoder-vs-decoder agreement)."""
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    for color in ((128, 128, 128), (200, 30, 90), (0, 0, 0),
                  (255, 255, 255)):
        px = np.zeros((24, 24, 3), np.uint8)
        px[:] = color
        dec = mm.decode_jpeg_pixels(mm.make_jpeg(px, quality=95))
        err = np.abs(dec.astype(int) - np.asarray(color))
        assert err.max() <= 2, (color, err.max())


def test_jpeg_dqt_matches_published_annex_k_zigzag():
    """Shared-twin defense: the DQT segment's byte stream must equal
    the PUBLISHED zigzag-ordered Annex-K luminance table at quality
    50 (scale = 100 -> the table verbatim) — pinning both the table
    constants and the zigzag order against the spec, independent of
    the sibling decoder."""
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    blob = mm.make_jpeg(np.zeros((8, 8, 3), np.uint8), quality=50)
    i = blob.find(b"\xff\xdb")
    assert i > 0
    payload = blob[i + 5:i + 5 + 64]  # skip marker, length, table id
    # T.81 Annex K luminance table in zigzag order (published form)
    want = bytes([
        16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24,
        40, 26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60,
        57, 51, 56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80,
        109, 81, 87, 95, 98, 103, 104, 103, 62, 77, 113, 121, 112,
        100, 120, 92, 101, 103, 99,
    ])
    assert payload == want


def test_jpeg_error_paths():
    import numpy as np
    import pytest
    from malstrom_spark.functions import multimodal as mm

    px = _smooth_image(16, 16)
    blob = mm.make_jpeg(px)
    with pytest.raises(ValueError, match="not a JPEG"):
        mm.decode_jpeg_pixels(b"BM123456")
    # flip SOF0 -> SOF2 (progressive): refused loudly
    i = blob.find(b"\xff\xc0")
    prog = blob[:i + 1] + b"\xc2" + blob[i + 2:]
    with pytest.raises(ValueError, match="SOF2"):
        mm.decode_jpeg_pixels(prog)
    # truncated entropy data
    with pytest.raises(ValueError):
        mm.decode_jpeg_pixels(blob[:len(blob) // 2])


def test_phash_container_invariant_bmp_png_jpeg():
    """Container invariance across the THREE decode paths. Lossless
    containers (BMP, PNG) hash bit-identically. JPEG is lossy, so the
    honest contract is the near-dup MARGIN pHash is built for: the
    same image through a q90 JPEG lands within a few bits (the ±1
    requantization noise can flip near-median bits) while different
    images sit ~32 bits apart — measured here as <= 4 vs >= 16.
    (Bit-equality through JPEG is NOT a property even a perfect
    baseline codec can give: on near-DC-only images most AC pHash
    coefficients tie at the median and any lossy noise flips them —
    which is exactly why phash_near_dup_pairs takes a hamming
    threshold, not an equality join.)"""
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    def blur(a, k=2):
        out = a.astype(float)
        for _ in range(k):
            out = (np.roll(out, 1, 0) + np.roll(out, -1, 0)
                   + np.roll(out, 1, 1) + np.roll(out, -1, 1) + out) / 5.0
        return out

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    hashes = []
    for seed in range(6):
        r = np.random.RandomState(seed)
        lum = blur(r.randint(0, 256, (48, 48))).clip(0, 255).astype(np.uint8)
        px = np.stack([lum] * 3, axis=2)
        h_bmp = mm.phash64(mm.make_bmp(px))
        assert h_bmp == mm.phash64(mm.make_png(px))  # lossless: exact
        for kw in (dict(quality=90), dict(quality=90, subsample=True)):
            assert ham(h_bmp, mm.phash64(mm.make_jpeg(px, **kw))) <= 4, (
                seed, kw)
        hashes.append(h_bmp)
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            assert ham(hashes[i], hashes[j]) >= 16


def test_jpeg_truncated_segments_raise_valueerror_not_indexerror():
    """Review catch (r10): truncated DHT/SOF/SOS bodies raised
    IndexError, which escapes image_phash's except (ValueError,
    TypeError) and would kill the task on one corrupt crawl JPEG."""
    import pytest
    from malstrom_spark.functions import multimodal as mm

    bad = [
        b"\xff\xd8\xff\xc4\x00\x0c" + b"\x00" * 10 + b"\xff\xd9",  # DHT
        b"\xff\xd8\xff\xc0\x00\x04\x08\x00" + b"\xff\xd9",          # SOF
        b"\xff\xd8\xff\xda\x00\x03\x03" + b"\xff\xd9",              # SOS
        b"\xff\xd8\xff\xdd\x00\x03\x01" + b"\xff\xd9",              # DRI
    ]
    for blob in bad:
        with pytest.raises(ValueError):
            mm.decode_jpeg_pixels(blob)


def test_image_phash_null_for_corrupt_jpeg(spark):
    """One corrupt JPEG in a batch must yield NULL, not a task
    failure — the one-bad-page-degrades contract of the pixel path."""
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    px = np.full((16, 16, 3), 120, np.uint8)
    good = mm.make_jpeg(px)
    rows = [(1, bytearray(good)),
            (2, bytearray(good[: len(good) // 2])),
            (3, bytearray(b"\xff\xd8\xff\xc4\x00\x0c" + b"\x00" * 10))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["phash"]
           for r in mm.image_phash(df, "payload").collect()}
    assert got[1] is not None and got[2] is None and got[3] is None


# ---------------------- MJPEG AVI video (round 10)
def _video_frames(n=6, h=24, w=32, shift=0):
    import numpy as np

    frames = []
    y, x = np.mgrid[0:h, 0:w]
    for i in range(n):
        lum = ((np.sin(x / 5.0 + i + shift) + 1) * 120).astype(np.uint8)
        frames.append(np.stack([lum] * 3, axis=2))
    return frames


def test_avi_mjpeg_mux_demux_roundtrip():
    import numpy as np
    from malstrom_spark.functions import multimodal as mm

    frames = _video_frames()
    avi = mm.make_avi_mjpeg(frames, fps=5, quality=95)
    out = list(mm.demux_avi_mjpeg(avi))
    assert [i for i, _ in out] == list(range(6))
    for idx, jpg in out:
        dec = mm.decode_jpeg_pixels(jpg)
        err = np.abs(dec.astype(float) - frames[idx].astype(float))
        assert err.mean() < 2.0, (idx, err.mean())
    # truncated tail: frames before the cut still demux (quarantine)
    cut = avi[: len(avi) - len(avi) // 3]
    partial = list(mm.demux_avi_mjpeg(cut))
    assert 0 < len(partial) < 6
    import pytest

    with pytest.raises(ValueError, match="not an AVI"):
        list(mm.demux_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE"))


def test_frame_sample_mjpeg_schema_and_stride(spark):
    """Same output schema as the stub/ffmpeg samplers; every_n keeps
    source frame numbers; undecodable payloads emit zero frames
    rather than failing the task."""
    from malstrom_spark.functions import multimodal as mm

    avi = mm.make_avi_mjpeg(_video_frames(7), fps=5)
    rows = [(1, bytearray(avi)), (2, bytearray(b"junk not avi"))]
    df = spark.createDataFrame(rows, "vid long, payload binary")
    out = mm.frame_sample_mjpeg(df, "payload", every_n=3)
    assert [f.name for f in out.schema.fields] == ["vid", "frame_idx",
                                                   "frame"]
    got = [(r["vid"], r["frame_idx"]) for r in out.collect()]
    assert sorted(got) == [(1, 0), (1, 3), (1, 6)]
    # each kept frame is a decodable baseline JPEG
    frames = [bytes(r["frame"]) for r in out.collect()]
    for f in frames:
        assert mm.decode_jpeg_pixels(f).shape == (24, 32, 3)


def test_video_frame_phash_pipeline(spark):
    """End-to-end video near-dup primitive: sample frames, pHash each
    (image_phash accepts the JPEG frames directly) — same video =
    close hashes, different videos = far."""
    from malstrom_spark.functions import multimodal as mm

    import numpy as np

    def blurred(seed):
        r = np.random.RandomState(seed)
        a = r.randint(0, 256, (48, 48)).astype(float)
        for _ in range(2):
            a = (np.roll(a, 1, 0) + np.roll(a, -1, 0)
                 + np.roll(a, 1, 1) + np.roll(a, -1, 1) + a) / 5.0
        return np.stack([a.clip(0, 255).astype(np.uint8)] * 3, axis=2)

    v1 = mm.make_avi_mjpeg([blurred(1)] * 3, quality=95)
    v1b = mm.make_avi_mjpeg([blurred(1)] * 3, quality=85)  # re-encode
    v2 = mm.make_avi_mjpeg([blurred(2)] * 3, quality=95)
    df = spark.createDataFrame(
        [(1, bytearray(v1)), (2, bytearray(v1b)), (3, bytearray(v2))],
        "vid long, payload binary")
    frames = mm.frame_sample_mjpeg(df, "payload", every_n=1)
    hashed = mm.image_phash(frames.withColumnRenamed("frame", "payload"),
                            "payload")
    h = {(r["vid"], r["frame_idx"]): r["phash"] for r in hashed.collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(h[(1, 0)], h[(2, 0)]) <= 4   # same content, re-encoded
    assert ham(h[(1, 0)], h[(3, 0)]) >= 16  # different content


# ---------------------- audio fingerprinting (round 10)
def _tone_wav(freqs, n=16000, rate=8000, amp=0.5, noise=0.0, seed=0):
    """Mono 16-bit WAV of a sine mixture (+ optional noise)."""
    import io
    import wave

    import numpy as np

    t = np.arange(n) / rate
    x = sum(np.sin(2 * np.pi * f * t + i) for i, f in enumerate(freqs))
    x = x / max(len(freqs), 1) * amp
    if noise:
        x = x + np.random.RandomState(seed).normal(0, noise, n)
    pcm = (np.clip(x, -1, 1) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def test_audio_landmarks_amplitude_invariant_and_deterministic():
    from malstrom_spark.functions import multimodal as mm

    loud = _tone_wav([440, 1200, 2333], amp=0.8)
    quiet = _tone_wav([440, 1200, 2333], amp=0.1)
    m1 = mm.audio_landmarks(loud)
    assert m1 and m1 == mm.audio_landmarks(loud)  # deterministic
    assert m1 == mm.audio_landmarks(quiet)        # peaks, not magnitudes
    # too-short payloads yield no landmarks, not an error
    assert mm.audio_landmarks(_tone_wav([440], n=100)) == []


def test_audio_match_pairs_same_vs_different(spark):
    """Same recording re-encoded (amplitude scaled + light noise)
    matches with one consistent offset; different recordings don't."""
    from malstrom_spark.functions import multimodal as mm

    a = _tone_wav([440, 1200, 2333], amp=0.7)
    a2 = _tone_wav([440, 1200, 2333], amp=0.3, noise=0.01, seed=5)
    b = _tone_wav([523, 987, 3100], amp=0.7)
    df = spark.createDataFrame(
        [(1, bytearray(a)), (2, bytearray(a2)), (3, bytearray(b)),
         (4, bytearray(b"not audio"))],
        "clip_id long, payload binary")
    fps = mm.audio_fingerprints(df, "payload")
    assert [f.name for f in fps.schema.fields] == ["clip_id", "t_anchor",
                                                   "fp"]
    assert fps.where("clip_id = 4").count() == 0  # quarantined
    pairs = {(r["id_a"], r["id_b"]): r["n_aligned"]
             for r in mm.audio_match_pairs(fps, "clip_id",
                                           min_matches=8).collect()}
    assert (1, 2) in pairs, pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs, pairs


def test_audio_match_pairs_stop_fp_cap(spark):
    """max_fp_freq drops corpus-wide hot hashes before the self-join
    (skew guard): a pair whose only shared hashes are hotter than the
    cap stops matching; None disables and restores it."""
    from malstrom_spark.functions import multimodal as mm

    # 40 rows of ONE fp shared by two ids at a consistent offset:
    # matches with the cap off, dies under cap=16 (fp freq 40 > 16)
    rows = [(1, t, 777) for t in range(20)] + \
           [(2, t + 3, 777) for t in range(20)]
    fps = spark.createDataFrame(rows, "doc_id long, t_anchor int, fp long")
    uncapped = mm.audio_match_pairs(fps, "doc_id", min_matches=8,
                                    max_fp_freq=None).collect()
    assert [(r.id_a, r.id_b) for r in uncapped] == [(1, 2)]
    capped = mm.audio_match_pairs(fps, "doc_id", min_matches=8,
                                  max_fp_freq=16).collect()
    assert capped == []
    # rare hashes are untouched: distinct fps, freq 2 each, survive
    rare = [(1, t, 1000 + t) for t in range(10)] + \
           [(2, t + 5, 1000 + t) for t in range(10)]
    fps2 = spark.createDataFrame(rare, "doc_id long, t_anchor int, fp long")
    got = mm.audio_match_pairs(fps2, "doc_id", min_matches=8,
                               max_fp_freq=16).collect()
    assert [(r.id_a, r.id_b, r.n_aligned) for r in got] == [(1, 2, 10)]


def test_audio_landmarks_max_frames_bounds_work():
    """max_frames caps the spectrogram (the hour-long-clip guard):
    prefix fingerprints of the capped run equal the uncapped run's
    prefix, so matching still works on long clips."""
    import io
    import wave

    import numpy as np

    from malstrom_spark.functions import multimodal as mm

    rate, n = 8000, 80000  # 10 s -> ~155 frames at hop 512
    t = np.arange(n) / rate
    x = (np.sin(2 * np.pi * 440 * t) * 12000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.tobytes())
    wav = buf.getvalue()
    full = mm.audio_landmarks(wav)
    capped = mm.audio_landmarks(wav, max_frames=40)
    assert 0 < len(capped) < len(full)
    assert max(t for t, _ in capped) < 40
    # the capped landmarks are exactly the full run's early-anchor set
    cut = [m for m in full if m[0] < 40 - 32]  # clear of the dt horizon
    assert set(cut) <= set(capped)


def test_audio_match_pairs_collapse_keeps_mass_duplicates(spark):
    """A clip duplicated more than max_fp_freq times used to push all
    of its OWN hashes over the stop-fp cap and vanish from the output
    (round-11 ADVICE fix). The copy set always collapses to one
    representative before the cap, so the duplicates come back as
    rep-star edges and the rep still matches other recordings of the
    same content."""
    from malstrom_spark.functions import multimodal as mm

    # 30 exact copies of one landmark sequence (ids 0..29) with a
    # tiny cap of 8: every fp has row-freq 30 > 8 uncollapsed
    seq = [(t, 5000 + t) for t in range(12)]
    rows = [(i, t, fp) for i in range(30) for t, fp in seq]
    # plus one near-copy (id 99) sharing the same fps at offset +2
    rows += [(99, t + 2, fp) for t, fp in seq]
    fps = spark.createDataFrame(rows, "doc_id long, t_anchor int, fp long")

    got = {(r.id_a, r.id_b): r.n_aligned
           for r in mm.audio_match_pairs(fps, "doc_id", min_matches=8,
                                         max_fp_freq=8).collect()}
    # star edges: rep 0 to each of its 29 copies, n = 12 landmarks
    for i in range(1, 30):
        assert got[(0, i)] == 12
    # and the rep still matches the offset near-copy through the join
    assert got[(0, 99)] == 12
    assert len(got) == 30


def test_update_phash_index_equals_rebuild(spark):
    """Delete-and-replace pHash index maintenance (round 11): after a
    re-crawl batch (including a NULL-phash tombstone) and an explicit
    delete, pairs served from the UPDATED index equal pairs from a
    from-scratch rebuild over the post-update image set — a replaced
    image's old bands provably vanish."""
    from malstrom_spark.functions import multimodal as mm

    imgs = [(i, bytearray(mm.make_bmp(_pattern(i % 6, (i // 6) % 4))))
            for i in range(36)]
    df = spark.createDataFrame(imgs, "doc_id long, payload binary")
    hashed = mm.image_phash(df, "payload").drop("payload")
    index = mm.phash_band_index(hashed, "doc_id")

    # re-crawl: ids 0-5 now decode to DIFFERENT patterns; id 3 404s
    fresh_imgs = [(i, bytearray(mm.make_bmp(_pattern(17 + i, 2))))
                  for i in range(6) if i != 3]
    fresh_imgs.append((3, bytearray(b"broken bytes")))
    fdf = spark.createDataFrame(fresh_imgs, "doc_id long, payload binary")
    fresh = mm.image_phash(fdf, "payload").drop("payload")
    deleted = spark.createDataFrame([(30,), (31,)], "doc_id long")

    updated = mm.update_phash_index(index, fresh, "doc_id",
                                    deleted_ids=deleted)
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in mm.phash_pairs_from_index(updated, "doc_id").collect()
    )

    # rebuild: the post-update truth
    post = {i: p for i, p in imgs if i not in (3, 30, 31) and i >= 6}
    for i, p in fresh_imgs:
        if i != 3:
            post[i] = p
    rdf = spark.createDataFrame(sorted(post.items()),
                                "doc_id long, payload binary")
    rebuilt = mm.phash_band_index(
        mm.image_phash(rdf, "payload").drop("payload"), "doc_id")
    want = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in mm.phash_pairs_from_index(rebuilt, "doc_id").collect()
    )
    assert got == want and len(want) > 0
    # the tombstoned/deleted ids appear in no pair
    gone = {3, 30, 31}
    assert all(a not in gone and b not in gone for a, b, _ in got)
    # replaced ids lost their OLD pairs: id 0's old dup partners were
    # the same-pattern ids (6,12,...); its new pattern matches none
    old_partners = {b for a, b, _ in got if a == 0}
    assert not old_partners & {6, 12, 18, 24}
