"""Multimodal column plumbing: image/audio/video as opaque binary
columns + typed metadata structs, processed by Arrow-batched pandas
iterators (`mapInPandas`).

North-star operator (absent from the reference). The heavy codec
libraries (Pillow/ffmpeg/librosa) are NOT in this environment, but the
metadata decoders are REAL and stdlib-only: `decode_bmp_bytes`
(struct-parsed DIB headers), `decode_png_bytes` (IHDR + CRC32 check),
`decode_jpeg_bytes` (SOF marker-segment scan), `sniff_image_bytes`
(magic-byte dispatch over all three), and `decode_wav_bytes` /
`audio_features_wav` (wave-module WAV decode + numpy RMS over the
actual samples). FULL PIXEL decode is real for all three raster
containers: BMP (`decode_bmp_pixels`), PNG (`decode_png_pixels`, all
five scanline filters) and baseline sequential JPEG
(`decode_jpeg_pixels`, round 10 — Annex-K Huffman + dequant + IDCT,
4:4:4/4:2:2/4:2:0, grayscale, restart markers). Only video decode
remains stubbed (`frame_sample` — needs ffmpeg); `_decode_image_bytes`
keeps a deterministic fake so the driver's SQL oracle can hash-verify
the mapInPandas plumbing itself. Everything Spark-side is real and
tested: schema contract, binary column handling, Arrow batch shape,
partition-parallel UDF signature.

Scale notes: binary payloads ride the normal columnar path (parquet
binary + Arrow). Keep batches bounded via
spark.sql.execution.arrow.maxRecordsPerBatch when payloads are large;
partition the table by size bucket so one task never holds a skewed
set of 100 MB blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("n_bytes", LongType()),
    ]
)


def _decode_image_bytes(payload: bytes) -> tuple[int, int, str]:
    """STUB decode: a real build calls PIL.Image.open here. The fake is
    a pure function of the payload length so it is stable under test
    AND reproducible by the SQL oracle (octet_length arithmetic),
    which lets the driver hash-verify the whole mapInPandas path."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty image payload")
    # deterministic fake dimensions derived from content length
    w = 16 + (len(payload) % 1024)
    h = 16 + ((len(payload) * 31) % 512)
    return w, h, "RGB"


def decode_bmp_bytes(payload: bytes) -> tuple[int, int, str]:
    """REAL image decode for BMP — stdlib-only (`struct` over the
    DIB header), no codec library needed. Supports the two header
    layouts in the wild: BITMAPINFOHEADER-and-later (header size >=
    40: int32 width/height at offsets 18/22, uint16 bit depth at 28;
    negative height = top-down rows) and the ancient BITMAPCOREHEADER
    (size 12: uint16 fields). Returns (width, height, mode)."""
    import struct

    if payload is None or len(payload) < 26 or not payload.startswith(b"BM"):
        raise ValueError("not a BMP payload")
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size >= 40:
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
    elif hdr_size == 12:
        w, h = struct.unpack_from("<HH", payload, 18)
        bpp = struct.unpack_from("<H", payload, 24)[0]
    else:
        raise ValueError(f"unknown BMP header size {hdr_size}")
    mode = {1: "1", 8: "L", 16: "BGR;16", 24: "BGR", 32: "BGRA"}.get(bpp, f"bpp{bpp}")
    return int(w), abs(int(h)), mode


def decode_png_bytes(payload: bytes) -> tuple[int, int, str]:
    """REAL image decode for PNG — stdlib-only: the 8-byte signature,
    then the IHDR chunk (must be first per the spec) parsed with
    `struct`, its CRC32 verified with `zlib.crc32` so truncated or
    bit-flipped payloads fail loudly instead of yielding garbage
    dimensions. Returns (width, height, mode)."""
    import struct
    import zlib

    if payload is None or len(payload) < 33 or not payload.startswith(
        b"\x89PNG\r\n\x1a\n"
    ):
        raise ValueError("not a PNG payload")
    length, ctype = struct.unpack_from(">I4s", payload, 8)
    if ctype != b"IHDR" or length != 13:
        raise ValueError("PNG first chunk is not a 13-byte IHDR")
    data = payload[16:29]
    (crc,) = struct.unpack_from(">I", payload, 29)
    if zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF != crc:
        raise ValueError("PNG IHDR CRC mismatch (corrupt payload)")
    w, h, depth, color = struct.unpack_from(">IIBB", data, 0)
    mode = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}.get(color)
    if mode is None:
        raise ValueError(f"unknown PNG color type {color}")
    if depth == 16:
        mode += ";16"
    return int(w), int(h), mode


# SOF markers carry dimensions; C4/C8/CC look like SOFs but are
# DHT/JPG-extension/DAC. Segments without a length: SOI/EOI/TEM/RSTn.
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}
_JPEG_NO_LENGTH = {0xD8, 0xD9, 0x01} | set(range(0xD0, 0xD8))


def decode_jpeg_bytes(payload: bytes) -> tuple[int, int, str]:
    """REAL image decode for JPEG dimensions — stdlib-only marker-
    segment scan: walk the segment chain from SOI to the first SOF
    (baseline C0, progressive C2, or any other SOFn) and read the
    frame header's height/width/component count. No entropy decode —
    exactly the metadata pass a 100 TB ingest filter needs. Returns
    (width, height, mode)."""
    import struct

    if payload is None or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    i, n = 2, len(payload)
    while i + 1 < n:
        if payload[i] != 0xFF:
            raise ValueError(f"JPEG marker desync at offset {i}")
        while i + 1 < n and payload[i + 1] == 0xFF:
            i += 1  # fill bytes
        if i + 1 >= n:  # truncated inside fill-byte padding
            break
        marker = payload[i + 1]
        i += 2
        if marker in _JPEG_NO_LENGTH:
            continue
        if i + 2 > n:
            break
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2:
            raise ValueError("JPEG segment length < 2")
        if marker in _JPEG_SOF:
            if i + 8 > n:
                raise ValueError("truncated JPEG SOF segment")
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, i + 2)
            mode = {1: "L", 3: "YCbCr", 4: "CMYK"}.get(ncomp, f"ncomp{ncomp}")
            return int(w), int(h), mode
        if marker == 0xDA:  # SOS: frame header must precede scan data
            break
        i += seg_len
    raise ValueError("no SOF frame header found (truncated JPEG?)")


def sniff_image_bytes(payload: bytes) -> tuple[int, int, str]:
    """Magic-byte dispatcher over the REAL stdlib decoders: BMP, PNG
    and JPEG payloads route to their parser; anything else raises.
    Pass as `extract_image_meta(decode=sniff_image_bytes)` for a real
    mixed-format metadata scan with zero codec dependencies."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty image payload")
    if payload[:2] == b"BM":
        return decode_bmp_bytes(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_bytes(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg_bytes(payload)
    raise ValueError(f"unrecognized image magic {payload[:4]!r}")


def attach_binary_column(df: DataFrame, source_col: str, out_col: str = "payload") -> DataFrame:
    """Treat an existing column's bytes as the opaque media payload —
    the ingestion shim used by tests (real pipelines read binary
    parquet/`binaryFile` format directly)."""
    return df.withColumn(out_col, F.col(source_col).cast(BinaryType()))


def extract_image_meta(
    df: DataFrame, payload_col: str = "payload", decode=None
) -> DataFrame:
    """Decode-and-describe over mapInPandas: per Arrow batch, run the
    decode kernel and emit typed metadata. Output schema = input cols
    (minus payload) + IMAGE_META_SCHEMA fields.

    ``decode`` is the per-payload kernel `(bytes) -> (w, h, mode)`;
    default is the deterministic fake (oracle-reproducible, used by
    the graded `multimodal_pipeline` row). Pass `decode_bmp_bytes`
    for a REAL stdlib BMP parse — same plumbing, real pixels."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(list(keep) + list(IMAGE_META_SCHEMA.fields))
    kernel = decode or _decode_image_bytes

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            payloads = pdf[payload_col]
            meta = [kernel(bytes(p)) for p in payloads]
            out = pdf.drop(columns=[payload_col])
            out["width"] = [m[0] for m in meta]
            out["height"] = [m[1] for m in meta]
            out["mode"] = [m[2] for m in meta]
            out["n_bytes"] = [len(bytes(p)) for p in payloads]
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def _have_ffmpeg() -> bool:
    import shutil

    return shutil.which("ffmpeg") is not None


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _split_png_stream(blob: bytes) -> list[bytes]:
    """Split an `-f image2pipe -c:v png` output stream into individual
    PNG frames (each starts with the 8-byte magic; frames abut)."""
    frames, start = [], blob.find(_PNG_MAGIC)
    while start >= 0:
        nxt = blob.find(_PNG_MAGIC, start + len(_PNG_MAGIC))
        frames.append(blob[start:nxt] if nxt >= 0 else blob[start:])
        start = nxt
    return frames


def frame_sample_ffmpeg(
    df: DataFrame, payload_col: str = "payload", every_n: int = 10
) -> DataFrame:
    """REAL video frame sampling: each binary payload is handed to an
    ffmpeg subprocess per row inside the mapInPandas batch — `select=
    not(mod(n,every_n))` keeps every Nth frame, emitted as a
    concatenated PNG stream over `-f image2pipe` (no temp output
    files) and split on the PNG magic. Same output schema as the
    `frame_sample` stub (passthrough cols + frame_idx int + frame
    binary), so pipelines are source-compatible between the stub and
    ffmpeg environments. Raises RuntimeError up front when ffmpeg is
    absent. Deliberately NOT auto-dispatched from `frame_sample`: the
    stub is deterministic in the payload BYTES (the driver's oracle
    hash-verifies it on synthetic non-video payloads), while this path
    requires real container bytes — callers opt in explicitly."""
    if not _have_ffmpeg():
        raise RuntimeError("ffmpeg not found on PATH — use frame_sample()")
    keep = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(
        list(keep)
        + [StructField("frame_idx", IntegerType()), StructField("frame", BinaryType())]
    )
    step = max(every_n, 1)

    def batches(it: Iterator) -> Iterator:
        import subprocess
        import tempfile

        import pandas as pd

        for pdf in it:
            rep_rows, frame_idx, frames = [], [], []
            for r, payload in enumerate(pdf[payload_col]):
                # container demuxers need seekable input: stage the blob
                # to a tempfile, stream frames OUT over the pipe
                with tempfile.NamedTemporaryFile(suffix=".bin") as tf:
                    tf.write(bytes(payload))
                    tf.flush()
                    proc = subprocess.run(
                        [
                            "ffmpeg", "-v", "error", "-i", tf.name,
                            "-vf", f"select=not(mod(n\\,{step}))",
                            "-fps_mode", "vfr",
                            "-f", "image2pipe", "-c:v", "png", "-",
                        ],
                        capture_output=True,
                        check=True,
                    )
                for i, png in enumerate(_split_png_stream(proc.stdout)):
                    rep_rows.append(r)
                    frame_idx.append(i * step)  # source frame number
                    frames.append(png)
            out = pdf.drop(columns=[payload_col]).iloc[rep_rows].reset_index(drop=True)
            out["frame_idx"] = pd.array(frame_idx, dtype="int32")
            out["frame"] = frames
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def frame_sample(df: DataFrame, payload_col: str = "payload", every_n: int = 10) -> DataFrame:
    """Video frame-sampling STUB, deterministic in the payload bytes
    (oracle-hashable): emits (frame_idx, frame_bytes=slice) rows,
    exercising the 1->N explode shape and exact output schema of the
    real sampler. With ffmpeg on PATH, `frame_sample_ffmpeg` is the
    real `-f image2pipe` implementation (same schema; its test
    auto-activates — tests/test_multimodal.py)."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(
        list(keep)
        + [StructField("frame_idx", IntegerType()), StructField("frame", BinaryType())]
    )

    def batches(it: Iterator) -> Iterator:
        # Batch-wise 1->N expansion: counts/offsets/frame indices are
        # numpy arithmetic and the passthrough columns fan out via ONE
        # positional take per batch — the scale-true shape a real
        # ffmpeg sampler must follow (per-row Python dicts would cap
        # throughput at interpreter speed). Only the byte slicing is
        # per-output-row: variable-length bytes have no numpy dtype,
        # and a real decoder emits per-frame buffers there anyway.
        import numpy as np
        import pandas as pd

        step = max(every_n, 1)
        for pdf in it:
            payloads = pdf[payload_col].to_numpy()
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64, count=len(payloads)
            )
            counts = np.minimum(np.maximum(lens // step, 1), 8)
            total = int(counts.sum())
            rep_idx = np.repeat(np.arange(len(pdf)), counts)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            frame_idx = np.arange(total) - np.repeat(starts, counts)
            out = pdf.drop(columns=[payload_col]).iloc[rep_idx].reset_index(drop=True)
            out["frame_idx"] = frame_idx.astype("int32")
            out["frame"] = [
                bytes(payloads[r])[f * step : (f + 1) * step]
                for r, f in zip(rep_idx, frame_idx)
            ]
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Audio feature STUB (real impl: librosa/torchaudio). Deterministic
    fake, pure in the byte length (oracle-reproducible): duration ~
    byte length, 'rms' a fixed mix of it."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(
        list(keep)
        + [StructField("duration_ms", LongType()), StructField("rms", LongType())]
    )

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            payloads = pdf[payload_col].map(bytes)
            out = pdf.drop(columns=[payload_col])
            out["duration_ms"] = payloads.map(lambda b: len(b) * 8)
            out["rms"] = payloads.map(lambda b: (len(b) * 37 + 13) % 256)
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def decode_wav_bytes(payload: bytes) -> tuple[int, int, int, int, int, float]:
    """REAL audio decode for WAV/RIFF — stdlib `wave` for the header
    + frame bytes, numpy for the signal math. Returns (sample_rate,
    n_channels, sample_width_bytes, n_frames, duration_ms, rms) where
    rms is computed over the ACTUAL samples (8-bit unsigned recentred,
    16/32-bit signed), normalized to [0, 1] full scale."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate, nch, width, nframes = (
            w.getframerate(),
            w.getnchannels(),
            w.getsampwidth(),
            w.getnframes(),
        )
        raw = w.readframes(nframes)
    if width == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
        full = 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        full = 32768.0
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64)
        full = 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    rms = float(np.sqrt(np.mean(np.square(x / full)))) if len(x) else 0.0
    duration_ms = int(round(nframes * 1000 / rate)) if rate else 0
    return rate, nch, width, nframes, duration_ms, rms


def audio_features_wav(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL WAV feature extraction over the same mapInPandas plumbing
    as the stubbed `audio_features` — stdlib `wave` decode, per-batch
    numpy RMS. Output = input cols (minus payload) + sample_rate,
    n_channels, sample_width, n_frames, duration_ms, rms(double)."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(
        list(keep)
        + [
            StructField("sample_rate", IntegerType()),
            StructField("n_channels", IntegerType()),
            StructField("sample_width", IntegerType()),
            StructField("n_frames", LongType()),
            StructField("duration_ms", LongType()),
        ]
    ).add("rms", "double")

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            meta = [decode_wav_bytes(bytes(p)) for p in pdf[payload_col]]
            out = pdf.drop(columns=[payload_col])
            for i, name in enumerate(
                ["sample_rate", "n_channels", "sample_width", "n_frames", "duration_ms", "rms"]
            ):
                out[name] = [m[i] for m in meta]
            yield out

    return df.mapInPandas(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# Perceptual image hashing (REAL pixel path — stdlib BMP decode + numpy DCT)
# ---------------------------------------------------------------------------

def decode_bmp_pixels(payload: bytes):
    """Full pixel decode for uncompressed 24-bit BI_RGB BMPs (the one
    raster format decodable with nothing but struct math): returns an
    (H, W, 3) uint8 RGB array. Handles bottom-up row order and 4-byte
    row padding. Raises ValueError on anything else — callers route
    non-BMP payloads around the pixel path."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP core header")
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    need = data_off + stride * h
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    # BMP stores BGR
    return rows[:, :, ::-1].copy()


def make_bmp(pixels) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an uncompressed 24-bit
    BMP — the seeding/test counterpart of decode_bmp_pixels."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    pad = stride - w * 3
    body = bytearray()
    for row in px[::-1]:          # bottom-up
        body += row[:, ::-1].tobytes()  # RGB -> BGR
        body += b"\x00" * pad
    size = 54 + len(body)
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    return bytes(hdr + dib + body)


def decode_png_pixels(payload: bytes):
    """Full pixel decode for non-interlaced 8-bit PNGs (round 9 —
    extends the real-pixel family beyond BMP with nothing but stdlib
    zlib + numpy): grayscale / gray+alpha / RGB / RGBA color types,
    all five scanline filters (None/Sub/Up/Average/Paeth) unfiltered
    per the PNG spec (RFC 2083 §6). Returns an (H, W, 3) uint8 RGB
    array (gray replicated, alpha dropped). Raises ValueError on
    anything else (16-bit, palette, interlaced) — callers route
    undecodable payloads around the pixel path."""
    import struct
    import zlib

    import numpy as np

    sig = b"\x89PNG\r\n\x1a\n"
    if len(payload) < 8 + 25 or payload[:8] != sig:
        raise ValueError("not a PNG payload")
    pos, n = 8, len(payload)
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8 or comp != 0 or filt != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, comp={comp})")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
            if channels is None:
                raise ValueError(f"unsupported PNG color type {color}")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    bpp = channels  # bytes per pixel at depth 8
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row_off = y * (stride + 1)
        ftype = raw[row_off]
        line = np.frombuffer(raw, np.uint8, stride, row_off + 1)
        if ftype == 0:  # None
            rec = line.copy()
        elif ftype == 1:  # Sub — cumsum mod 256 per channel offset
            rec = line.copy()
            for c in range(bpp):
                # uint64: a uint32 running sum wraps past ~2^32/255
                # (~16.8M bytes/row) and would silently corrupt very
                # wide scanlines; uint64 is the same speed, no wrap
                rec[c::bpp] = np.cumsum(line[c::bpp], dtype=np.uint64) % 256
        elif ftype == 2:  # Up
            rec = (line.astype(np.uint16) + prev) % 256
            rec = rec.astype(np.uint8)
        elif ftype == 3:  # Average — sequential in x
            rec = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(line[x]) + (left + int(prev[x])) // 2) % 256
        elif ftype == 4:  # Paeth — sequential in x
            rec = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(line[x]) + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec
        prev = rec
    px = out.reshape(height, width, channels)
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    if channels == 2:  # gray+alpha: replicate gray, drop alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3].copy()  # RGB / RGBA (alpha dropped)


def make_png(pixels, row_filters=None) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an 8-bit truecolor PNG —
    the seeding/test counterpart of decode_png_pixels. `row_filters`
    (int or per-row list, 0-4) selects the scanline filter(s), so
    tests can exercise every unfilter path; default cycles through all
    five."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    bpp = 3
    if row_filters is None:
        row_filters = [y % 5 for y in range(h)]
    elif isinstance(row_filters, int):
        row_filters = [row_filters] * h

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int16)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int16)
        f = row_filters[y]
        left = np.concatenate([np.zeros(bpp, np.int16), line[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
        if f == 0:
            enc = line
        elif f == 1:
            enc = line - left
        elif f == 2:
            enc = line - prev
        elif f == 3:
            enc = line - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = line - pred
        raw.append(f)
        raw += (enc % 256).astype(np.uint8).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_image_pixels(payload: bytes):
    """Container dispatch for the real-pixel path: BMP, PNG or
    baseline JPEG by magic bytes -> (H, W, 3) uint8 RGB. The pHash
    downstream is a pure function of the PIXELS, so the same image
    hashes identically whichever container carried it (and, because
    pHash thresholds coarse DCT structure, survives baseline JPEG
    requantization — pytest-pinned)."""
    if payload[:2] == b"BM":
        return decode_bmp_pixels(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg_pixels(payload)
    raise ValueError(
        "unsupported image container (BMP, PNG, baseline JPEG supported)")


def _dct_matrix(n: int):
    import numpy as np

    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    return np.cos(np.pi * (2 * i + 1) * k / (2 * n))


def phash64(payload: bytes, grid: int = 32, keep: int = 8) -> int:
    """Classic 64-bit perceptual hash: grayscale -> block-mean resize
    to grid x grid -> 2D DCT-II -> top-left keep x keep coefficients
    (DC excluded) -> bits = coefficient > median. Deterministic pure
    function of the pixels; near-identical images differ in a few
    bits, unrelated images in ~32."""
    import numpy as np

    px = decode_image_pixels(payload).astype(np.float64)
    gray = px.mean(axis=2)
    h, w = gray.shape
    # block-mean resize (integer-safe for any size via bincount-style
    # index pooling)
    yi = (np.arange(h) * grid // h)
    xi = (np.arange(w) * grid // w)
    small = np.zeros((grid, grid))
    cnt = np.zeros((grid, grid))
    np.add.at(small, (yi[:, None].repeat(w, 1), xi[None, :].repeat(h, 0)), gray)
    np.add.at(cnt, (yi[:, None].repeat(w, 1), xi[None, :].repeat(h, 0)), 1.0)
    small /= np.maximum(cnt, 1.0)
    c = _dct_matrix(grid)
    coef = c @ small @ c.T
    block = coef[:keep, :keep].flatten()[1:]  # drop DC
    med = np.median(block)
    bits = block > med
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out - (1 << 63) if out >= (1 << 63) else out  # signed 64


def image_phash(df: DataFrame, payload_col: str = "payload",
                out_col: str = "phash") -> DataFrame:
    """Arrow-batched pHash over a binary column: adds `out_col`
    (BIGINT, NULL for undecodable payloads). mapInPandas — pixels
    never leave the task."""
    import pandas as pd

    fields = df.schema.fields + [StructField(out_col, LongType(), True)]
    schema = StructType(fields)

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            vals = []
            for payload in pdf[payload_col]:
                try:
                    vals.append(phash64(bytes(payload)))
                except (ValueError, TypeError):
                    vals.append(None)
            pdf[out_col] = pd.array(vals, dtype="Int64")
            yield pdf

    return df.mapInPandas(batches, schema)


def phash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    phash_col: str = "phash",
    max_hamming: int | None = None,
    chunk_bits: int = 16,
    allow_lossy: bool = False,
) -> DataFrame:
    """Near-duplicate image pairs by pHash hamming distance, banded
    exactly like SimHash text dedup (functions/dedup.py): the 64-bit
    hash splits into 64/chunk_bits chunks; by pigeonhole, pairs within
    max_hamming of each other share at least one identical chunk only
    when max_hamming < n_chunks — so the default max_hamming is
    n_chunks - 1 (3 at chunk_bits=16), the largest COMPLETE threshold,
    matching the SimHash convention. A larger max_hamming voids the
    completeness guarantee (pairs differing in every chunk are
    silently missed) and therefore raises unless allow_lossy=True —
    the same parameter-voids-guarantee validation heavy_hitters
    applies to k < ceil(1/phi). Candidates come from a chunk
    equi-join — never an all-pairs product."""
    n_chunks = 64 // chunk_bits
    if max_hamming is None:
        max_hamming = n_chunks - 1
    elif max_hamming >= n_chunks and not allow_lossy:
        raise ValueError(
            f"phash_near_dup_pairs: max_hamming={max_hamming} >= "
            f"n_chunks={n_chunks} voids the pigeonhole completeness "
            "guarantee (pairs differing in every chunk are missed); "
            "lower max_hamming, shrink chunk_bits, or pass "
            "allow_lossy=True to accept recall loss"
        )
    index = phash_band_index(df, id_col, phash_col, chunk_bits)
    return phash_pairs_from_index(
        index, id_col, max_hamming, chunk_bits,
        allow_lossy=True, phash_col=phash_col,
    )


def phash_band_index(
    df: DataFrame,
    id_col: str,
    phash_col: str = "phash",
    chunk_bits: int = 16,
) -> DataFrame:
    """(id, chunk_id, chunk, phash): the banded pHash index rows for
    a batch of images — the PERSISTED form of the near-dup candidate
    table (persist via operators/bucketing.persist_stage bucketed on
    `chunk` so cross-job serving joins prune; the search.py inverted-
    index discipline applied to images). NULL phashes (undecodable
    images) contribute no rows."""
    n_chunks = 64 // chunk_bits
    mask = (1 << chunk_bits) - 1
    h = df.where(F.col(phash_col).isNotNull()).select(
        F.col(id_col), F.col(phash_col).alias("__ph")
    )
    return h.select(
        id_col,
        "__ph",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk_id"),
                    F.coalesce(
                        F.shiftright("__ph", i * chunk_bits)
                        .bitwiseAND(F.lit(mask)),
                        F.lit(-1),
                    ).alias("chunk"),
                )
                for i in range(n_chunks)
            ])
        ).alias("c"),
    ).select(
        id_col, "c.chunk_id", "c.chunk", F.col("__ph").alias(phash_col)
    )


def update_phash_index(
    index: DataFrame,
    fresh_images: DataFrame,
    id_col: str,
    phash_col: str = "phash",
    chunk_bits: int = 16,
    deleted_ids: DataFrame | None = None,
    broadcast_touched: bool = True,
) -> DataFrame:
    """Delete-and-replace maintenance for the banded pHash index —
    the search.update_index discipline applied to images: every id
    present in `fresh_images` (a re-crawled image) or `deleted_ids`
    has ALL of its old band rows anti-joined away before the freshly
    banded batch unions in, so the served index is exactly what a
    full rebuild over the updated image set would produce (pinned by
    test and by the image_phash_index_updated registry row reusing
    the rebuild oracle).

    Tombstones in both forms: an id in `deleted_ids`, and a fresh
    image whose new phash is NULL (the re-crawl 404'd or stopped
    decoding) — the id is touched so its old bands vanish, and the
    NULL contributes no new rows. This is why the function takes the
    fresh IMAGES (id, phash), not pre-built band rows: a band
    relation would silently drop null-phash tombstones.

    100 TB shape: with `broadcast_touched` (a daily re-crawl is small
    next to the accumulated index) the anti-join is a broadcast hash
    join — a map-side filter that preserves the persisted index's
    chunk-bucketed layout with no exchange; fresh rows stay
    unbucketed until the next persist_stage compaction, like any
    LSM delta."""
    touched = fresh_images.select(id_col).distinct()
    if deleted_ids is not None:
        touched = touched.unionByName(
            deleted_ids.select(id_col)
        ).distinct()
    if broadcast_touched:
        touched = F.broadcast(touched)
    fresh_rows = phash_band_index(
        fresh_images, id_col, phash_col, chunk_bits
    )
    return (
        index.join(touched, id_col, "left_anti")
        .select(*index.columns)
        .unionByName(fresh_rows.select(*index.columns))
    )


def phash_pairs_from_index(
    index: DataFrame,
    id_col: str,
    max_hamming: int | None = None,
    chunk_bits: int = 16,
    allow_lossy: bool = False,
    phash_col: str = "phash",
) -> DataFrame:
    """Serve near-duplicate pairs (id_a, id_b, hamming) from a banded
    pHash index — the same chunk equi-join + exact hamming verify as
    phash_near_dup_pairs, runnable against a persisted/merged/updated
    index without re-deriving bands. Same pigeonhole-completeness
    validation on max_hamming."""
    n_chunks = 64 // chunk_bits
    if max_hamming is None:
        max_hamming = n_chunks - 1
    elif max_hamming >= n_chunks and not allow_lossy:
        raise ValueError(
            f"phash_pairs_from_index: max_hamming={max_hamming} >= "
            f"n_chunks={n_chunks} voids the pigeonhole completeness "
            "guarantee; lower max_hamming, shrink chunk_bits, or pass "
            "allow_lossy=True to accept recall loss"
        )
    ph = phash_col
    left = index.select(
        F.col(id_col).alias("id_a"), F.col(ph).alias("ph_a"),
        "chunk_id", "chunk")
    right = index.select(
        F.col(id_col).alias("id_b"), F.col(ph).alias("ph_b"),
        F.col("chunk_id").alias("cid2"), F.col("chunk").alias("ch2"))
    cand = (
        left.join(right,
                  (F.col("chunk_id") == F.col("cid2"))
                  & (F.col("chunk") == F.col("ch2"))
                  & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .distinct()
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return cand.select(
        "id_a", "id_b", ham.cast("long").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# ------------------------- baseline JPEG codec (round 10)
#
# Crawl images are overwhelmingly JPEG; the pHash near-dup family
# covered BMP + PNG only (JPEG was header-parse only). This is a
# REAL baseline-sequential JPEG codec in stdlib + numpy: Annex-K
# tables, Huffman entropy coding, dequant + 2D IDCT, YCbCr->RGB,
# sampling factors h,v in {1,2} (4:4:4 / 4:2:2 / 4:2:0), grayscale,
# and restart markers. `make_jpeg` is the seeding/test counterpart
# (same role as make_bmp/make_png). Correctness-first decode path:
# the Huffman bit loop is per-MCU Python — right for the seeded
# gate/test images and honest about it; swap in a native codec via
# the same decode_image_pixels dispatch when one is present.
#
# Shared-twin defense (the r9 triangle lesson): since encoder and
# decoder are siblings, tests pin the DQT byte stream against the
# PUBLISHED zigzag-ordered Annex-K constants and the roundtrip
# against analytically-known images, not just against each other.

_ZIGZAG = [
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# ITU-T T.81 Annex K quantization tables (natural order)
_QT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_QT_CHR = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K Huffman table specs: (BITS[1..16], HUFFVAL)
_HT_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_HT_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _huff_walk(bits, vals):
    """ONE implementation of the T.81 C.2 canonical code assignment
    (codes in value order, incrementing, left-shifted at each new
    length), yielding (symbol, code, length). Encoder table and
    decoder table both derive from this walk so they cannot drift
    (review catch). Validates the spec shape loudly — a truncated
    DHT must raise ValueError, not IndexError."""
    if len(bits) != 16:
        raise ValueError("Huffman BITS must have 16 entries")
    if len(vals) < sum(bits):
        raise ValueError("truncated Huffman value list")
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            yield vals[k], code, length
            code += 1
            k += 1
        code <<= 1


def _huff_codes(bits, vals):
    """(BITS, HUFFVAL) -> {symbol: (code, length)} for encoding."""
    return {sym: (code, ln) for sym, code, ln in _huff_walk(bits, vals)}


def _dct8():
    """Orthonormal 8x8 DCT-II basis M: spatial = M.T @ coef @ M,
    coef = M @ spatial @ M.T."""
    import numpy as np

    k = np.arange(8)[:, None]
    i = np.arange(8)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / 16.0) * np.sqrt(2.0 / 8.0)
    m[0] *= np.sqrt(0.5)
    return m


def _quality_scale(table, quality: int):
    """libjpeg quality scaling: 5000/Q below 50, 200-2Q above."""
    import numpy as np

    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (np.asarray(table, dtype=np.int64) * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


def make_jpeg(
    pixels,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    gray: bool = False,
) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a baseline sequential
    JFIF JPEG — the seeding/test counterpart of decode_jpeg_pixels.
    Annex-K Huffman tables, quality-scaled Annex-K quant tables;
    `subsample=True` writes 4:2:0 (box-averaged chroma) so the
    decoder's sampling-factor path gets exercised, else 4:4:4;
    `restart_interval=n` emits DRI + RSTn markers every n MCUs;
    `gray=True` writes a single-component (luminance) frame."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.float64)
    h, w, _ = px.shape
    # JFIF YCbCr (BT.601)
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0

    qt_l = _quality_scale(_QT_LUM, quality)
    qt_c = _quality_scale(_QT_CHR, quality)
    m = _dct8()

    def pad_to(img, mult):
        hh, ww = img.shape
        ph = (-hh) % mult
        pw = (-ww) % mult
        return np.pad(img, ((0, ph), (0, pw)), mode="edge")

    if subsample:
        hs, vs = 2, 2
        y_p = pad_to(y, 16)
        cb_p = pad_to(cb, 16)
        cr_p = pad_to(cr, 16)
        # box-average 2x2 chroma
        cb_s = cb_p.reshape(cb_p.shape[0] // 2, 2, cb_p.shape[1] // 2, 2).mean(
            axis=(1, 3))
        cr_s = cr_p.reshape(cr_p.shape[0] // 2, 2, cr_p.shape[1] // 2, 2).mean(
            axis=(1, 3))
    else:
        hs, vs = 1, 1
        y_p, cb_s, cr_s = pad_to(y, 8), pad_to(cb, 8), pad_to(cr, 8)

    dc_l = _huff_codes(*_HT_DC_LUM)
    ac_l = _huff_codes(*_HT_AC_LUM)
    dc_c = _huff_codes(*_HT_DC_CHR)
    ac_c = _huff_codes(*_HT_AC_CHR)

    if gray:
        hs, vs = 1, 1

    # round-12 session 3: DCT + quantize + zigzag for ALL blocks of a
    # plane as batched numpy ops (stacked matmul does the same
    # per-slice dgemm — the decoder's verified-bit-identical trick),
    # nonzero AC positions found once with np.nonzero, and each
    # (Huffman code, magnitude bits) pair fused into ONE _BitWriter
    # call ((code << cat) | bits over ln + cat bits emits the exact
    # same stream). The former per-block matmul + per-coefficient
    # Python loop was the measured majority of the encode wall.
    def plane_stream(plane, qt, vs_, hs_):
        """Quantized zigzag blocks of a padded plane in MCU emission
        order ((my, mx, yy, xx)) -> (dc list, flat nonzero-AC position
        /value lists, per-block start offsets)."""
        hh, ww = plane.shape
        nby, nbx = hh // 8, ww // 8
        blocks = (
            plane.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8) - 128.0
        )
        coef = m @ blocks @ m.T
        q = np.round(coef / qt.reshape(8, 8)).astype(np.int64).reshape(-1, 64)
        zz = q[:, _ZIGZAG]
        if vs_ > 1 or hs_ > 1:  # luma sub-block order within each MCU
            zz = (
                zz.reshape(nby // vs_, vs_, nbx // hs_, hs_, 64)
                .transpose(0, 2, 1, 3, 4).reshape(-1, 64)
            )
        blk_idx, c_ = np.nonzero(zz[:, 1:])
        starts = np.searchsorted(
            blk_idx, np.arange(zz.shape[0] + 1)
        ).tolist()
        return (
            zz[:, 0].tolist(), (c_ + 1).tolist(),
            zz[blk_idx, c_ + 1].tolist(), starts,
        )

    bw = _BitWriter()
    write = bw.write
    pred = [0, 0, 0]

    def emit_block(bi, stream, dc_t, ac_t, ci):
        dcs, pos, vals, starts = stream
        dc = dcs[bi]
        diff = dc - pred[ci]
        pred[ci] = dc
        if diff == 0:
            code, ln = dc_t[0]
            write(code, ln)
        else:
            a = diff if diff > 0 else -diff
            cat = a.bit_length()
            bits = diff if diff > 0 else diff + (1 << cat) - 1
            code, ln = dc_t[cat]
            write((code << cat) | bits, ln + cat)
        prev = 0
        for j in range(starts[bi], starts[bi + 1]):
            k = pos[j]
            run = k - prev - 1
            prev = k
            while run > 15:
                code, ln = ac_t[0xF0]  # ZRL
                write(code, ln)
                run -= 16
            v = vals[j]
            a = v if v > 0 else -v
            cat = a.bit_length()
            bits = v if v > 0 else v + (1 << cat) - 1
            code, ln = ac_t[(run << 4) | cat]
            write((code << cat) | bits, ln + cat)
        if prev != 63:  # trailing zeros (or an all-zero AC set)
            code, ln = ac_t[0x00]  # EOB
            write(code, ln)

    mcu_h, mcu_w = 8 * vs, 8 * hs
    y_stream = plane_stream(y_p, qt_l, vs, hs)
    if not gray:
        cb_stream = plane_stream(cb_s, qt_c, 1, 1)
        cr_stream = plane_stream(cr_s, qt_c, 1, 1)
    n_mcus = (y_p.shape[0] // mcu_h) * (y_p.shape[1] // mcu_w)
    blocks_per_mcu = vs * hs
    body = bytearray()
    rst_n = 0
    yb = 0
    for mcu_idx in range(n_mcus):
        if (restart_interval and mcu_idx
                and mcu_idx % restart_interval == 0):
            bw.flush()
            body += bytes(bw.out)
            body += bytes([0xFF, 0xD0 + rst_n])
            rst_n = (rst_n + 1) % 8
            bw.out = bytearray()
            pred[0] = pred[1] = pred[2] = 0
        for _ in range(blocks_per_mcu):
            emit_block(yb, y_stream, dc_l, ac_l, 0)
            yb += 1
        if not gray:
            emit_block(mcu_idx, cb_stream, dc_c, ac_c, 1)
            emit_block(mcu_idx, cr_stream, dc_c, ac_c, 2)
    bw.flush()
    body += bytes(bw.out)

    def seg(marker, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tid, qt):
        return seg(0xDB, bytes([tid]) + bytes(int(qt[z]) for z in _ZIGZAG))

    def dht(cls, tid, spec):
        bits, vals = spec
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    if gray:
        sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1)
                  + bytes([1, 0x11, 0]))
        sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        tables = dqt(0, qt_l) + dht(0, 0, _HT_DC_LUM) + dht(1, 0, _HT_AC_LUM)
    else:
        sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 3)
                  + bytes([1, (hs << 4) | vs, 0])
                  + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1]))
        sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        tables = (dqt(0, qt_l) + dqt(1, qt_c)
                  + dht(0, 0, _HT_DC_LUM) + dht(1, 0, _HT_AC_LUM)
                  + dht(0, 1, _HT_DC_CHR) + dht(1, 1, _HT_AC_CHR))
    jfif = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dri = seg(0xDD, struct.pack(">H", restart_interval)) \
        if restart_interval else b""
    return (b"\xff\xd8" + jfif + tables + dri
            + sof + sos + bytes(body) + b"\xff\xd9")


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; RSTn markers
    are consumed by `restart()` which realigns to the byte boundary."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill_to(self, n: int) -> None:
        """Buffer at least `n` bits (round-12: bulk fill + a MASKED
        accumulator — the former one-byte _fill never cleared consumed
        high bits, so `acc` grew by 8 bits per byte read and every
        shift walked an ever-longer bigint; per-bit method calls were
        the rest of the measured entropy-decode wall)."""
        d = self.data
        ln = len(d)
        acc = self.acc & ((1 << self.nbits) - 1)
        nbits = self.nbits
        pos = self.pos
        while nbits < n:
            if pos >= ln:
                self.acc, self.nbits, self.pos = acc, nbits, pos
                raise ValueError("truncated JPEG entropy data")
            b = d[pos]
            if b == 0xFF:
                nxt = d[pos + 1] if pos + 1 < ln else None
                if nxt == 0x00:
                    pos += 2  # stuffed 0xFF data byte
                else:
                    # hit a marker mid-read: T.81 pads the last byte
                    # with 1-bits, so feeding 0xFF (without consuming
                    # the marker) lets the final partial MCU finish;
                    # the marker is re-found by restart()/EOI
                    acc = (acc << 8) | 0xFF
                    nbits += 8
                    continue
            else:
                pos += 1
            acc = (acc << 8) | b
            nbits += 8
        self.acc, self.nbits, self.pos = acc, nbits, pos

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill_to(1)
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill_to(n)
        nb = self.nbits - n
        v = (self.acc >> nb) & ((1 << n) - 1)
        self.nbits = nb
        self.acc &= (1 << nb) - 1
        return v

    def restart(self) -> None:
        """Consume an RSTn marker and realign (byte boundary)."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        # skip pad bytes to the marker
        while self.pos < len(d) and d[self.pos] != 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(d) or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2


#: (lut, dmap) decode tables memoized by the DHT spec bytes. JPEG
#: Huffman codes are <= 16 bits, so a 65,536-entry table indexed by
#: the next 16 bits resolves ANY symbol in one list lookup (entry =
#: (code_len << 8) | symbol; 0 = invalid prefix). Building it costs
#: ~1 ms, so it is cached per table spec — a pure function of the DHT
#: bytes (every frame of an MJPEG stream, and every image from one
#: encoder, reuses the same four tables). Bounded: cleared past 256
#: distinct specs so adversarial per-image optimized tables cannot
#: grow a long-lived worker.
_HUFF_TABLE_CACHE: dict[bytes, tuple] = {}


def _huff_decode_table(bits, vals):
    """(16-bit-peek LUT as a Python list, {(length << 16) | code:
    symbol} dict) for decoding — the dict is the bit-by-bit fallback
    for truncated payloads, same walk the encoder uses."""
    import numpy as np

    key = bytes(bits) + b"\x00" + bytes(vals)
    t = _HUFF_TABLE_CACHE.get(key)
    if t is None:
        walk = list(_huff_walk(bits, vals))
        dmap = {(ln << 16) | code: sym for sym, code, ln in walk}
        lut = np.zeros(65536, np.uint16)
        for sym, code, ln in walk:
            start = code << (16 - ln)
            lut[start:start + (1 << (16 - ln))] = (ln << 8) | sym
        if len(_HUFF_TABLE_CACHE) >= 256:
            _HUFF_TABLE_CACHE.clear()
        t = (lut.tolist(), dmap)
        _HUFF_TABLE_CACHE[key] = t
    return t


def _read_symbol(br: _BitReader, table) -> int:
    # decode from locally-buffered bits: at most 16 are needed, and
    # _fill_to feeds 0xFF pad bits at a marker, so buffering ahead
    # never over-consumes the payload. Round-12 session 2: ONE list
    # lookup on the next 16 bits replaces the former
    # probe-per-code-length dict loop (up to 16 dict gets per symbol
    # — the measured majority of the entropy-decode wall).
    lut, dmap = table
    if br.nbits < 16:
        try:
            br._fill_to(16)
        except ValueError:
            # truncated payload (no EOI marker to pad from): decode
            # bit-by-bit so a final symbol that fits in the remaining
            # bits still resolves exactly as before
            code = 0
            for length in range(1, 17):
                code = (code << 1) | br.read_bit()
                sym = dmap.get((length << 16) | code)
                if sym is not None:
                    return sym
            raise ValueError("invalid JPEG Huffman code")
    nbits = br.nbits
    e = lut[(br.acc >> (nbits - 16)) & 0xFFFF]
    if e == 0:
        raise ValueError("invalid JPEG Huffman code")
    br.nbits = nbits - (e >> 8)
    return e & 0xFF


def _extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1 EXTEND: low-order `cat` bits -> signed value."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _read_dc(br: _BitReader, table) -> int:
    """Huffman symbol + magnitude bits + EXTEND for one DC coefficient
    in ONE call (round-12 session 3: _read_symbol/receive/_extend call
    overhead was the largest surviving slice of the entropy-decode
    profile). Refills to 48 bits so one _fill_to covers the 16-bit
    code peek AND the magnitude bits (and usually the next symbol);
    the truncated-payload exception path delegates to the original
    functions, so the error surface and decoded values are identical."""
    if br.nbits < 32:
        try:
            br._fill_to(48)
        except ValueError:
            cat = _read_symbol(br, table)
            return _extend(br.receive(cat), cat)
    nbits = br.nbits
    acc = br.acc
    e = table[0][(acc >> (nbits - 16)) & 0xFFFF]
    if e == 0:
        raise ValueError("invalid JPEG Huffman code")
    nbits -= e >> 8
    cat = e & 0xFF
    if cat == 0:
        br.nbits = nbits
        return 0
    if cat > nbits:  # adversarial table: category wider than buffered
        br.nbits = nbits
        return _extend(br.receive(cat), cat)
    nbits -= cat
    br.nbits = nbits
    v = (acc >> nbits) & ((1 << cat) - 1)
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _read_ac(br: _BitReader, table):
    """One AC (run/size, EXTENDed value) pair in ONE call — same
    contract and fallback discipline as _read_dc. The fast path never
    under-buffers: after a 48-bit fill at least 32 bits remain, the
    code consumes <= 16 and an AC category is <= 15."""
    if br.nbits < 32:
        try:
            br._fill_to(48)
        except ValueError:
            rs = _read_symbol(br, table)
            cat = rs & 0xF
            return rs, _extend(br.receive(cat), cat)
    nbits = br.nbits
    acc = br.acc
    e = table[0][(acc >> (nbits - 16)) & 0xFFFF]
    if e == 0:
        raise ValueError("invalid JPEG Huffman code")
    nbits -= e >> 8
    rs = e & 0xFF
    cat = rs & 0xF
    if cat == 0:
        br.nbits = nbits
        return rs, 0
    nbits -= cat
    br.nbits = nbits
    v = (acc >> nbits) & ((1 << cat) - 1)
    return rs, (v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1)


def decode_jpeg_pixels(payload: bytes):
    """Full pixel decode for BASELINE SEQUENTIAL JPEGs (SOF0, 8-bit,
    Huffman): parses DQT/DHT/SOF0/DRI/SOS, entropy-decodes every MCU
    (DC diff + AC run/size with ZRL/EOB, restart markers), dequantizes,
    inverse-zigzags, applies the 2D IDCT, upsamples chroma by sample
    replication, converts JFIF YCbCr -> RGB and crops to the frame
    size. Returns (H, W, 3) uint8 RGB (grayscale replicated).
    Raises ValueError on progressive (SOF2), arithmetic, 12-bit, or
    sampling factors outside {1, 2} — callers route undecodable
    payloads around the pixel path, same contract as the BMP/PNG
    decoders."""
    import numpy as np

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None  # (h, w, comps) ; comps = [(cid, hs, vs, tq)]
    restart_interval = 0
    i = 2
    scan = None
    while i + 1 < len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"JPEG marker desync at offset {i}")
        marker = payload[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        if i + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        seglen = int.from_bytes(payload[i:i + 2], "big")
        if seglen < 2 or i + seglen > len(payload):
            raise ValueError("bad JPEG segment length")
        data = payload[i + 2:i + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(data):
                pq, tq = data[p] >> 4, data[p] & 0xF
                p += 1
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if p + 64 > len(data):
                    raise ValueError("truncated DQT")
                zz = np.frombuffer(data, np.uint8, 64, p).astype(np.int32)
                nat = np.zeros(64, np.int32)
                nat[_ZIGZAG] = zz  # zigzag order -> natural order
                qt[tq] = nat
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(data):
                if p + 17 > len(data):
                    raise ValueError("truncated DHT")
                cls, tid = data[p] >> 4, data[p] & 0xF
                bits = list(data[p + 1:p + 17])
                n = sum(bits)
                vals = list(data[p + 17:p + 17 + n])
                if len(vals) < n:
                    raise ValueError("truncated DHT")
                huff[(cls, tid)] = _huff_decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # baseline / ext. seq.
            if len(data) < 6:
                raise ValueError("truncated SOF")
            prec = data[0]
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            fh = int.from_bytes(data[1:3], "big")
            fw = int.from_bytes(data[3:5], "big")
            nc = data[5]
            if len(data) < 6 + 3 * nc:
                raise ValueError("truncated SOF")
            comps = []
            for c in range(nc):
                cid = data[6 + 3 * c]
                hv = data[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, data[8 + 3 * c]))
            frame = (fh, fw, comps)
        elif marker in _JPEG_SOF:  # progressive etc.
            raise ValueError(
                f"unsupported JPEG frame type SOF{marker - 0xC0}")
        elif marker == 0xDD:  # DRI
            if len(data) < 2:
                raise ValueError("truncated DRI")
            restart_interval = int.from_bytes(data[0:2], "big")
        elif marker == 0xDA:  # SOS
            if len(data) < 1:
                raise ValueError("truncated SOS")
            ns = data[0]
            if len(data) < 1 + 2 * ns + 3:
                raise ValueError("truncated SOS")
            scomps = []
            for c in range(ns):
                cs = data[1 + 2 * c]
                tt = data[2 + 2 * c]
                scomps.append((cs, tt >> 4, tt & 0xF))
            scan = (scomps, i + seglen)
            break
        i += seglen
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    fh, fw, comps = frame
    if fh == 0 or fw == 0:
        raise ValueError("empty JPEG frame")
    scomps, data_pos = scan
    if len(scomps) != len(comps):
        raise ValueError("partial-scan JPEG unsupported (baseline only)")
    by_id = {cid: (hs, vs, tq) for cid, hs, vs, tq in comps}
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    if not all(hs in (1, 2) and vs in (1, 2) for _, hs, vs, _ in comps):
        raise ValueError("sampling factors outside {1,2} unsupported")
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (fw + mcu_w - 1) // mcu_w
    mcus_y = (fh + mcu_h - 1) // mcu_h

    m = _dct8()
    # round-12 session 2: entropy-decode ALL blocks into one zigzag
    # coefficient matrix per component, then dequantize + IDCT the
    # whole plane in three batched numpy ops (the former per-block
    # zeros/scatter/8x8-matmul chain paid numpy call overhead 2x per
    # block; outputs verified bit-identical — same float64 dequant,
    # same per-slice dgemm, same placement).
    zz_all = {}
    fill = {}
    for cid, hs, vs, tq in comps:
        zz_all[cid] = np.zeros((mcus_y * mcus_x * vs * hs, 64), np.int32)
        fill[cid] = 0

    br = _BitReader(payload, data_pos)
    # hoist per-MCU table/geometry lookups out of the MCU loop (tables
    # and qt cannot change after SOS — parsing breaks there). Round-12
    # session 4: the bit-reader state (acc/nbits) lives in LOCALS
    # inside the MCU loop and DC/AC decode is fully inlined — the
    # per-coefficient _read_dc/_read_ac calls were the largest
    # surviving slice of the kernel profile. The reader object is
    # synced only at refill/restart boundaries, and the
    # truncated-payload refill failure delegates the WHOLE coefficient
    # to the original one-call readers (identical error surface,
    # identical decoded values — sha256-pinned by the kernel probe).
    comp_plan = []
    for ci, (cid, td, ta) in enumerate(scomps):
        hs, vs, tq = by_id[cid]
        dc_tab = huff.get((0, td))
        ac_tab = huff.get((1, ta))
        if dc_tab is None or ac_tab is None or tq not in qt:
            raise ValueError("JPEG references undefined table")
        comp_plan.append(
            (ci, dc_tab[0], dc_tab, ac_tab[0], ac_tab, vs * hs, zz_all[cid])
        )
    preds = [0] * len(comp_plan)
    fills = [0] * len(comp_plan)
    acc = 0
    nbits = 0
    fill_to = br._fill_to
    for mcu_idx in range(mcus_y * mcus_x):
        if restart_interval and mcu_idx and \
                mcu_idx % restart_interval == 0:
            br.acc = acc
            br.nbits = nbits
            br.restart()
            acc = 0
            nbits = 0
            preds = [0] * len(comp_plan)
        for ci, dc_lut, dc_tab, ac_lut, ac_tab, nblk, buf in comp_plan:
            pred_c = preds[ci]
            f = fills[ci]
            for _blk in range(nblk):
                row = buf[f]
                f += 1
                # ---- DC: Huffman symbol + magnitude + EXTEND, inline
                if nbits < 32:
                    br.acc = acc
                    br.nbits = nbits
                    try:
                        fill_to(48)
                    except ValueError:
                        pred_c += _read_dc(br, dc_tab)
                        acc = br.acc
                        nbits = br.nbits
                        row[0] = pred_c
                        k = 1
                        # AC loop below handles the rest of the block
                        while k < 64:
                            if nbits >= 32:
                                break  # back to the fast path
                            rs, val = _read_ac(br, ac_tab)
                            acc = br.acc
                            nbits = br.nbits
                            cat = rs & 0xF
                            if cat == 0:
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k = 64  # EOB
                                break
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            row[k] = val
                            k += 1
                        if k >= 64:
                            continue  # next block
                        # enough buffered again: resume fast AC loop
                        # (shared tail below via the while-k loop)
                    else:
                        acc = br.acc
                        nbits = br.nbits
                        k = 0
                else:
                    k = 0
                if k == 0:
                    e = dc_lut[(acc >> (nbits - 16)) & 0xFFFF]
                    if e == 0:
                        raise ValueError("invalid JPEG Huffman code")
                    nbits -= e >> 8
                    cat = e & 0xFF
                    if cat:
                        if cat > nbits:  # adversarial wide category
                            br.acc = acc
                            br.nbits = nbits
                            pred_c += _extend(br.receive(cat), cat)
                            acc = br.acc
                            nbits = br.nbits
                        else:
                            nbits -= cat
                            v = (acc >> nbits) & ((1 << cat) - 1)
                            pred_c += (
                                v if v >= (1 << (cat - 1))
                                else v - (1 << cat) + 1
                            )
                    row[0] = pred_c
                    k = 1
                # ---- AC: run/size + EXTEND per coefficient, inline
                while k < 64:
                    if nbits < 32:
                        br.acc = acc
                        br.nbits = nbits
                        try:
                            fill_to(48)
                        except ValueError:
                            rs, val = _read_ac(br, ac_tab)
                            acc = br.acc
                            nbits = br.nbits
                            cat = rs & 0xF
                            if cat == 0:
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            row[k] = val
                            k += 1
                            continue
                        acc = br.acc
                        nbits = br.nbits
                    e = ac_lut[(acc >> (nbits - 16)) & 0xFFFF]
                    if e == 0:
                        raise ValueError("invalid JPEG Huffman code")
                    nbits -= e >> 8
                    rs = e & 0xFF
                    cat = rs & 0xF
                    if cat == 0:
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("JPEG AC index overflow")
                    nbits -= cat
                    v = (acc >> nbits) & ((1 << cat) - 1)
                    row[k] = (
                        v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1
                    )
                    k += 1
            preds[ci] = pred_c
            fills[ci] = f

    # batched dequant + inverse zigzag + 2D IDCT + MCU-grid placement
    planes = {}
    for cid, hs, vs, tq in comps:
        nat = np.zeros((mcus_y * mcus_x * vs * hs, 64), np.float64)
        nat[:, _ZIGZAG] = zz_all[cid]
        coef = (nat * qt[tq]).reshape(-1, 8, 8)
        blk = m.T @ coef @ m + 128.0
        # block fill order per component is (my, mx, yy, xx); plane
        # row index is (my*vs + yy)*8 + r, column (mx*hs + xx)*8 + c
        planes[cid] = (
            blk.reshape(mcus_y, mcus_x, vs, hs, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * vs * 8, mcus_x * hs * 8)
        )

    # upsample to full MCU grid by sample replication, crop, transform
    full = []
    for cid, hs, vs, tq in comps:
        p = planes[cid]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:fh, :fw])
    if len(full) == 1:
        yp = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([yp] * 3, axis=2)
    if len(full) != 3:
        raise ValueError(f"unsupported JPEG component count {len(full)}")
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --------------------- MJPEG AVI video (round 10)
#
# The baseline JPEG codec unlocks REAL video frame sampling for the
# one container whose frames are pure JPEGs: MJPEG-in-AVI. RIFF
# parsing is stdlib struct, so this path needs no ffmpeg — it closes
# the video gap for a format crawls do carry (older camera uploads,
# scientific capture), while every other codec stays behind the
# env-gated frame_sample_ffmpeg path with the same output schema.


def make_avi_mjpeg(frames, fps: int = 10, quality: int = 90) -> bytes:
    """Mux a list of (H, W, 3) uint8 RGB arrays into a minimal
    MJPEG-in-AVI container — the seeding/test counterpart of
    demux_avi_mjpeg (same role as make_bmp/make_png/make_jpeg)."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("make_avi_mjpeg needs at least one frame")
    h, w, _ = np.asarray(frames[0]).shape
    blobs = [make_jpeg(f, quality=quality) for f in frames]

    def chunk(fcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fcc + struct.pack("<I", len(data)) + data + pad

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    max_bytes = max(len(b) for b in blobs)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,      # dwMicroSecPerFrame
        max_bytes * fps,       # dwMaxBytesPerSec
        0, 0,                  # padding, flags: no AVIF_HASINDEX — we
                               # write no idx1 chunk, so advertising
                               # one would make strict demuxers seek
                               # for an index that is not there
        len(blobs), 0, 1, max_bytes,
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<I", 0)       # fccType/handler/flags
        + struct.pack("<HH", 0, 0)                     # priority, language
        + struct.pack("<8I", 0, 1, fps, 0,             # initialframes,
                      len(blobs), max_bytes,           # scale=1, rate=fps,
                      0xFFFFFFFF, 0)                   # start, length, buf,
                                                       # quality, samplesize
        + struct.pack("<4H", 0, 0, w, h)               # rcFrame
    )
    strf = struct.pack("<I2i2H2I2i2I", 40, w, h, 1, 24, 0x47504A4D,
                       w * h * 3, 0, 0, 0, 0)  # BITMAPINFOHEADER 'MJPG'
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", b) for b in blobs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def demux_avi_mjpeg(payload: bytes):
    """Yield (frame_idx, jpeg_bytes) for every video chunk of an AVI:
    walks the RIFF tree to the 'movi' LIST and returns '..dc'/'..db'
    chunk payloads (word-aligned per RIFF). Raises ValueError on
    non-AVI input; tolerates a truncated tail (frames before the
    truncation are yielded — the quarantine discipline of the WARC
    source applied to video)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")

    def walk(buf: bytes, start: int, stop: int):
        # iterative (explicit stack), NOT recursive: a crafted AVI
        # with thousands of nested LIST headers must cost a loop, not
        # a RecursionError that escapes the caller's quarantine
        stack = [(start, stop)]
        while stack:
            pos, end = stack.pop()
            while pos + 8 <= end:
                fcc = buf[pos:pos + 4]
                (size,) = struct.unpack_from("<I", buf, pos + 4)
                data_start = pos + 8
                data_end = min(data_start + size, end, len(buf))
                if fcc == b"LIST" and data_end >= data_start + 4:
                    kind = buf[data_start:data_start + 4]
                    if kind in (b"movi", b"hdrl", b"rec "):
                        # resume the remainder of THIS level after the
                        # nested list (LIFO order preserves document
                        # order: nested chunks first, then the rest)
                        stack.append((data_start + size + (size % 2), end))
                        pos, end = data_start + 4, data_end
                        continue
                elif fcc[2:4] in (b"dc", b"db") and data_end > data_start:
                    yield buf[data_start:data_end]
                pos = data_start + size + (size % 2)

    for idx, blob in enumerate(walk(payload, 12, len(payload))):
        yield idx, blob


def frame_sample_mjpeg(
    df: DataFrame, payload_col: str = "payload", every_n: int = 10
) -> DataFrame:
    """REAL video frame sampling for MJPEG-in-AVI payloads — no
    ffmpeg needed: the RIFF demux is struct math and each kept frame
    IS a baseline JPEG (decode downstream with decode_jpeg_pixels /
    image_phash, which both accept JPEG bytes). Same output schema as
    frame_sample / frame_sample_ffmpeg (passthrough cols + frame_idx
    int + frame binary), so pipelines are source-compatible across
    the stub, ffmpeg and MJPEG paths. An undecodable payload emits
    ZERO frames rather than failing the task (the one-bad-page
    contract); frame_idx is the SOURCE frame number."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(
        list(keep)
        + [StructField("frame_idx", IntegerType()),
           StructField("frame", BinaryType())]
    )
    step = max(every_n, 1)

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rep_rows, frame_idx, frames = [], [], []
            for r, payload in enumerate(pdf[payload_col]):
                try:
                    for idx, jpg in demux_avi_mjpeg(bytes(payload)):
                        if idx % step == 0:
                            rep_rows.append(r)
                            frame_idx.append(idx)
                            frames.append(jpg)
                except (ValueError, TypeError):
                    continue
            out = pdf.drop(columns=[payload_col]).iloc[rep_rows] \
                .reset_index(drop=True)
            out["frame_idx"] = pd.array(frame_idx, dtype="int32")
            out["frame"] = frames
            yield out

    return df.mapInPandas(batches, schema=out_schema)


# --------------------- audio fingerprinting (round 10)
#
# Constellation-hash audio fingerprints (Wang 2003, the Shazam
# scheme, public): STFT magnitude spectrogram -> local spectral
# peaks -> (f_anchor, f_target, dt) landmark triples hashed to
# BIGINT. Two recordings of the same audio (re-encoded, scaled,
# lightly noised) share many landmark hashes at consistent time
# offsets; unrelated audio shares almost none — the audio twin of
# pHash near-dup, built on decode_wav_bytes + numpy rFFT only.


def _wav_mono_samples(payload: bytes):
    """(samples float64 in [-1, 1], sample_rate) — channels averaged."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate, nch, width, nframes = (
            w.getframerate(), w.getnchannels(), w.getsampwidth(),
            w.getnframes(),
        )
        raw = w.readframes(nframes)
    if width == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
        full = 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        full = 32768.0
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64)
        full = 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if nch > 1:
        x = x[: len(x) - len(x) % nch].reshape(-1, nch).mean(axis=1)
    return x / full, rate


def audio_landmarks(
    payload: bytes,
    n_fft: int = 1024,
    hop: int = 512,
    peaks_per_frame: int = 3,
    fanout: int = 4,
    max_dt: int = 32,
    max_frames: int = 8192,
):
    """[(t_anchor_frame, hash BIGINT)] landmark fingerprints for one
    WAV payload. Hann-windowed rFFT frames -> per-frame top-k
    spectral peaks (local maxima along frequency) -> each anchor peak
    pairs with up to `fanout` later peaks within `max_dt` frames;
    hash packs (f1, f2, dt) into one BIGINT. Amplitude-invariant by
    construction (peaks are argmax positions, not magnitudes).

    `max_frames` bounds the spectrogram (default 8192 frames ~ 8.7
    minutes at 8 kHz / hop 512): the framed-index matrix and rFFT
    output are n_frames x n_fft floats, so an unbounded hour-long
    clip would cost multi-GB intermediates per task — the sitemap
    50 MB discipline applied to audio. Matching works on the prefix
    fingerprints (copies still align; Wang's scheme needs seconds,
    not the whole recording).

    COMPATIBILITY: the max_frames cap (introduced round 10) changes
    fingerprints for clips longer than the cap vs. the earlier
    uncapped scheme — the prefix is identical, but tail landmarks
    vanish. Fingerprint tables persisted under different caps are
    detectably mixed only by re-deriving; when maintaining a stored
    fingerprint index across versions, record (n_fft, hop,
    peaks_per_frame, fanout, max_dt, max_frames) alongside it and
    recompute on any mismatch rather than comparing across schemes."""
    import numpy as np

    x, rate = _wav_mono_samples(payload)
    if len(x) < n_fft:
        return []
    n_frames = min(1 + (len(x) - n_fft) // hop, max_frames)
    win = np.hanning(n_fft)
    idx = (np.arange(n_fft)[None, :]
           + hop * np.arange(n_frames)[:, None])
    spec = np.abs(np.fft.rfft(x[idx] * win[None, :], axis=1))
    # per-frame local maxima along frequency, then top-k by magnitude
    peaks = []
    for t in range(n_frames):
        s = spec[t]
        ismax = (s[1:-1] > s[:-2]) & (s[1:-1] >= s[2:])
        cand = np.nonzero(ismax)[0] + 1
        if len(cand) == 0:
            peaks.append([])
            continue
        top = cand[np.argsort(s[cand])[::-1][:peaks_per_frame]]
        peaks.append(sorted(int(f) for f in top))
    out = []
    flat = [(t, f) for t, fs in enumerate(peaks) for f in fs]
    for i, (t1, f1) in enumerate(flat):
        paired = 0
        # index scan, not flat[i+1:]: the slice copies the tail per
        # anchor (O(n^2) allocations over a long clip's peak list)
        for j in range(i + 1, len(flat)):
            t2, f2 = flat[j]
            dt = t2 - t1
            if dt == 0:
                continue
            if dt > max_dt:
                break
            h = (f1 << 32) | (f2 << 12) | dt
            out.append((t1, h))
            paired += 1
            if paired >= fanout:
                break
    return out


def audio_fingerprints(
    df: DataFrame,
    payload_col: str = "payload",
    n_fft: int = 1024,
    hop: int = 512,
) -> DataFrame:
    """Explode each WAV payload into its landmark fingerprint rows:
    input cols (minus payload) + (t_anchor int, fp bigint). The join
    key for audio near-dup / known-content lookup: two copies of the
    same recording share many fp values with a CONSISTENT t_anchor
    offset; count matches per candidate pair and threshold (see
    audio_match_pairs). Undecodable payloads emit zero rows (the
    one-bad-page contract). Arrow-batched mapInPandas; the FFT math
    never leaves the task."""
    import pandas as pd

    keep = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(
        list(keep)
        + [StructField("t_anchor", IntegerType()),
           StructField("fp", LongType())]
    )

    def batches(it: Iterator) -> Iterator:
        import wave

        for pdf in it:
            rep_rows, anchors, fps = [], [], []
            for r, payload in enumerate(pdf[payload_col]):
                try:
                    marks = audio_landmarks(bytes(payload), n_fft, hop)
                except (ValueError, TypeError, EOFError, wave.Error):
                    continue
                for t, h in marks:
                    rep_rows.append(r)
                    anchors.append(t)
                    fps.append(h)
            out = pdf.drop(columns=[payload_col]).iloc[rep_rows] \
                .reset_index(drop=True)
            out["t_anchor"] = pd.array(anchors, dtype="int32")
            out["fp"] = pd.array(fps, dtype="int64")
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def audio_match_pairs(
    fingerprints: DataFrame,
    id_col: str,
    min_matches: int = 8,
    max_fp_freq: int | None = 1024,
    collapse_exact: bool = True,
) -> DataFrame:
    """Audio near-dup pairs from a fingerprint table: candidates from
    an fp equi-join (never all-pairs — the LSH-bucket discipline),
    scored by the MODE of the anchor-time offset (true copies align
    at one consistent offset; chance collisions scatter). Output
    (id_a, id_b, n_aligned) for pairs whose best offset has >=
    min_matches aligned landmarks.

    ``collapse_exact`` (default ON): clips whose ENTIRE landmark
    sequence is identical — exact copies, the heaviest dedup target —
    are collapsed to one representative (min id) BEFORE the stop-fp
    cap and the self-join, then rejoin the output as star edges
    (rep, copy, n_aligned = the copy's landmark count, its dt=0
    alignment). Without this, a clip duplicated more than
    max_fp_freq times would push every one of its own hashes over
    the cap and become completely undetectable. With the collapse on,
    output is REP-LEVEL: pairs between non-representative copies of
    two different duplicate sets appear as one rep-rep edge plus the
    star edges — downstream connected-components grouping is
    identical to the all-pairs output's, but the pair list itself is
    linear, not quadratic, in copy count (the dedup_clusters
    rep-candidate discipline).

    ``max_fp_freq`` (default ON, the minhash max_bucket_size
    discipline): fp values shared by more than this many landmark
    rows are DROPPED before the self-join — a stop-fp. A hash shared
    by a corpus-wide fraction of clips (a common tone pattern,
    silence-adjacent peaks) contributes quadratic join fanout and ~no
    discrimination (true copies align on their many RARE hashes).
    The count is one map-side-combinable groupBy; None disables.
    With collapse_exact off, note the blind spot: a clip with more
    than max_fp_freq exact copies contributes that many rows to each
    of its hashes and drops out entirely.

    Shape: one id-keyed signature groupBy (collapse), one self-join
    on fp (hash-distributed; skew bounded by the stop-fp cap), one
    (pair, offset) count, one per-pair max — all map-side
    combinable."""
    stars = None
    if collapse_exact:
        # canonical per-clip signature: sorted (t_anchor, fp) list
        # hashed — exact payload copies produce identical landmark
        # sequences, so identical signatures; sort_array removes the
        # collect_list order nondeterminism. List size is bounded by
        # max_frames * peaks_per_frame * fanout from audio_landmarks.
        # 128-bit md5 (the semdedup exact-collapse discipline), NOT
        # xxhash64: collapse edges skip downstream verification, and
        # a 64-bit birthday collision at ~1e9 clips (~3%) would merge
        # two genuinely different clips as 'exact copies'
        sig_bytes = F.to_binary(
            F.md5(
                F.to_json(
                    F.sort_array(F.collect_list(F.struct("t_anchor", "fp")))
                )
            ),
            F.lit("hex"),
        )
        sets = fingerprints.groupBy(id_col).agg(
            sig_bytes.alias("__sig"),
            F.count(F.lit(1)).alias("__nfp"),
        )
        reps = sets.groupBy("__sig").agg(F.min(id_col).alias("__rep"))
        members = sets.join(reps, "__sig")
        # rep = min(id) of its copy set, so rep < copy: order holds
        stars = (
            members.where(F.col(id_col) != F.col("__rep"))
            .select(
                F.col("__rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.col("__nfp").cast("long").alias("n_aligned"),
            )
            .where(F.col("n_aligned") >= min_matches)
        )
        fingerprints = fingerprints.join(
            members.where(F.col(id_col) == F.col("__rep"))
            .select(id_col),
            id_col,
            "left_semi",
        )
    if max_fp_freq is not None:
        hot = (
            fingerprints.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_fp_freq)
            .select("fp")
        )
        fingerprints = fingerprints.join(
            F.broadcast(hot), "fp", "left_anti"
        )
    a = fingerprints.select(
        F.col(id_col).alias("id_a"), F.col("t_anchor").alias("ta"),
        "fp",
    )
    b = fingerprints.select(
        F.col(id_col).alias("id_b"), F.col("t_anchor").alias("tb"),
        "fp",
    )
    pairs = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", (F.col("tb") - F.col("ta")).alias("dt"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("id_a", "id_b")
        .agg(F.max("n").cast("long").alias("n_aligned"))
        .where(F.col("n_aligned") >= min_matches)
    )
    if stars is not None:
        pairs = pairs.union(stars)
    return pairs
