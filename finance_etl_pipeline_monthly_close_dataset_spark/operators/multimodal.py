"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side architecture is real and tested -- schemas, Arrow-batch
iteration via ``mapInPandas``, partition behavior. Decode paths, by
format family:

- ``decode_images_numpy``: REAL decode with no image library --
  P6 PPM and 24-bit BMP in pure numpy, PNG via stdlib ``zlib``
  (DEFLATE + row-filter reversal + Adam7 de-interlace,
  ``_decode_png``), and baseline + progressive JPEG via the
  pure-numpy Huffman + IDCT decoder (``jpeg.py``, rounds 6+8) --
  parse, nearest-neighbor resize, channel/grid-mean
  features; corrupt payloads yield null rows, never failed batches.
- ``decode_images_real``: PIL-gated alternative path; raises
  ``NotImplementedError`` where PIL is absent (this container) and
  activates unchanged where it is installed.
- ``decode_images``: deterministic stub for plumbing tests.

At 100 TB: binary payloads stay in executor-local Arrow batches; only
fixed-size features/metadata come back, so the shuffle volume is the
feature table, not the media. Control batch memory with
``spark.sql.execution.arrow.maxRecordsPerBatch`` when payloads are
large.
"""

from __future__ import annotations

from collections.abc import Iterator
from struct import error as struct_error

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

def _asset_range(spark, n: int, per_task: int = 4) -> DataFrame:
    """``spark.range(n)`` sized for a TINY asset corpus feeding a
    Python seam.  The default range parallelism (defaultParallelism)
    splits n=48 closed-form assets over 32 near-empty partitions, so
    the generate+decode stages pay ~2 x 32 Python-worker round trips
    (fork/reuse handshake + numpy import + Arrow framing) for ~1.5
    assets of work each -- measured as INVERSE core scaling in the r15
    driver capture (media/audio/video/image ran ~2x FASTER on 8 cores,
    ratios 0.50-0.56).  Bundle ~``per_task`` assets per partition,
    capped at the core count, so the seam overhead amortizes and more
    cores are never slower.  At real corpus sizes n/per_task exceeds
    the core count and this is the default parallelism again -- the
    sizing is scale-adaptive, not a local-mode constant (guide SS2)."""
    n_parts = max(1, min(spark.sparkContext.defaultParallelism, n // max(per_task, 1) or 1))
    return spark.range(0, n, numPartitions=n_parts)


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("payload_hash", T.LongType(), True),
        T.StructField("out_width", T.IntegerType(), True),
        T.StructField("out_height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def deterministic_ppm_media(spark, n: int = 48) -> DataFrame:
    """Deterministic REAL-format media corpus: media_id -> a valid P6
    PPM whose every pixel is the closed-form function

        v(id, y, x, c) = (id*31 + y*7 + x*3 + c*11) % 256
        w = 8 + (id % 5) * 4,  h = 6 + (id % 7) * 2

    so an external engine can reproduce any decoded statistic by pure
    arithmetic WITHOUT parsing bytes -- which is what lets the decode
    path be oracle-checked end-to-end (``media_features``): if the
    header parse, row order, channel order, resize indexing, or
    feature math drift by one byte, the features stop matching the
    closed form.  Payload bytes are built per-partition inside
    ``mapInPandas`` (no driver-side materialization), the same
    distributed-generation pattern as ``sources/pydatasource.py``."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                w = 8 + (mid % 5) * 4
                h = 6 + (mid % 7) * 2
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                body = ((mid * 31 + y * 7 + x * 3 + c * 11) % 256).astype(np.uint8)
                payload = f"P6\n{w} {h}\n255\n".encode() + body.tobytes()
                rows.append((mid, "image", payload, "image/x-portable-pixmap",
                             w, h, None))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "payload", "mime",
                         "width", "height", "duration_ms"],
            )

    return _asset_range(spark, n).mapInPandas(_gen, schema=MEDIA_SCHEMA)


def _closed_form_pixels(mid: int):
    """The shared image closed form (see ``deterministic_ppm_media``):
    (h, w, 3) uint8 with v = (id*31 + y*7 + x*3 + c*11) % 256."""
    import numpy as np

    w = 8 + (mid % 5) * 4
    h = 6 + (mid % 7) * 2
    y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
    return ((mid * 31 + y * 7 + x * 3 + c * 11) % 256).astype(np.uint8)


def _png_filtered_stream(rows, bpp: int) -> bytearray:
    """Filter raw rows (n, stride) with cycling filter types 0..4 --
    the encode side of ``_decode_png``'s unfilter, vectorized per row
    (filters are defined over RAW bytes, so the encoder needs no
    reconstruction loop)."""
    import numpy as np

    stream = bytearray()
    prev = np.zeros(rows.shape[1], np.int32)
    for i in range(rows.shape[0]):
        row = rows[i].astype(np.int32)
        f = i % 5
        a = np.zeros_like(row)
        a[bpp:] = row[:-bpp]
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - a
        elif f == 2:
            enc = row - prev
        elif f == 3:
            enc = row - (a + prev) // 2
        else:
            cdiag = np.zeros_like(prev)
            cdiag[bpp:] = prev[:-bpp]
            p = a + prev - cdiag
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - cdiag)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, cdiag))
            enc = row - pred
        stream.append(f)
        stream.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = row
    return stream


def _png_bytes(px, adam7: bool) -> bytes:
    """Encode (h, w, 3) uint8 as an 8-bit RGB PNG, optionally Adam7
    interlaced; per-row filters cycle 0..4 so every unfilter branch of
    ``_decode_png`` is exercised by the oracle corpus."""
    import struct
    import zlib

    import numpy as np

    h, w = px.shape[:2]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    stream = bytearray()
    if adam7:
        for x0, xs, y0, ys in (
            (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
            (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
        ):
            sub = px[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            stream += _png_filtered_stream(
                sub.reshape(sub.shape[0], -1), bpp=3
            )
    else:
        stream = _png_filtered_stream(px.reshape(h, -1), bpp=3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if adam7 else 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream))) + chunk(b"IEND", b"")
    )


def _bmp_bytes(px) -> bytes:
    """Encode (h, w, 3) uint8 as an uncompressed 24-bit
    BITMAPINFOHEADER BMP: bottom-up rows, BGR order, 4-byte padding --
    exactly the layout knobs ``_decode_bmp`` must undo."""
    import struct

    import numpy as np

    h, w = px.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_bytes), np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)
    data = rows.tobytes()
    off = 14 + 40
    return (
        b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                      2835, 2835, 0, 0)
        + data
    )


def deterministic_image_formats_media(spark, n: int = 48) -> DataFrame:
    """The SAME closed-form pixels as ``deterministic_ppm_media``,
    encoded per id through FOUR lossless containers -- id%4: 0 = P6
    PPM, 1 = PNG (cycling row filters), 2 = PNG Adam7-interlaced,
    3 = BMP (bottom-up, BGR, padded rows).  Because every format is
    lossless, one byte-blind oracle covers all of them: the decoded
    features must equal the closed form REGARDLESS of container, so
    DEFLATE inflation, filter reversal, interlace de-scatter, and BMP
    row/channel/padding handling are all value-checked end-to-end
    (``image_formats_features``)."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                px = _closed_form_pixels(mid)
                h, w = px.shape[:2]
                fmt = mid % 4
                if fmt == 0:
                    payload = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
                    mime = "image/x-portable-pixmap"
                elif fmt == 1:
                    payload = _png_bytes(px, adam7=False)
                    mime = "image/png"
                elif fmt == 2:
                    payload = _png_bytes(px, adam7=True)
                    mime = "image/png"
                else:
                    payload = _bmp_bytes(px)
                    mime = "image/bmp"
                rows.append((mid, "image", payload, mime, w, h, None))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "payload", "mime",
                         "width", "height", "duration_ms"],
            )

    return _asset_range(spark, n).mapInPandas(_gen, schema=MEDIA_SCHEMA)


def deterministic_jpeg_media(spark, n: int = 48) -> DataFrame:
    """Deterministic LOSSY-format image corpus whose decode is still
    exactly value-checkable: per 8x8 block the pixels are built from
    closed-form QUANTIZED DCT COEFFICIENTS -- a DC term and the
    (4,4)-frequency term whose basis is cos((2t+1)pi/4) = sigma(t)/sqrt(2)
    with sigma = [+,-,-,+,+,-,-,+] -- so the block is EXACTLY in the
    span of two DCT basis vectors and the reconstruction is pure
    integer arithmetic (no cosines survive):

        dc(id,by,bx) = ((id*5 + by*3 + bx) % 13) - 6     (q00 = 16)
        m(id,by,bx)  = ((id*7 + by + bx*2) % 5) - 2      (c44 = 2m, q44 = 68)
        pixel(x,y)   = 128 + 2*dc + 17*m*sigma(x%8)*sigma(y%8)

    (S00 = 16*dc is a multiple of 8 and S44 = 136*m a multiple of 4,
    so every reconstructed value is an integer; the float IDCT lands
    within ~1e-12 and rounds exactly.)  The forward DCT recovers the
    two coefficients to ~1e-12 before quantization, so the encoded
    stream's quantized coefficients ARE the closed form -- encode is
    lossless on this family by construction.  Dims are multiples of 8
    (w = 8+8*(id%3), h = 8+8*(id%2)); id%3==2 encodes PROGRESSIVE
    (SOF2 scan script), id%4==3 baseline with restart markers, else
    plain baseline -- so Huffman DC deltas, the 23-zero AC run to
    zigzag-24 (exercising ZRL), EOB, restart resync, and the whole
    progressive path are all covered by ONE arithmetic oracle
    (``jpeg_features``).

    Quantization-stability proof for the oracle's 1e-4-unit features:
    channel means are rationals p/12240 (48 resized px x 255) and grid
    means p/3060 (12 px x 255).  A boundary flip needs frac(v*1e4) to
    sit within the float32 error (~4.1e-4) of 0.5; but 1e4*p mod 12240
    ranges over multiples of gcd(1e4,12240)=80 while the half-point
    6120 = 40 (mod 80), so the distance is >= 40/12240 = 0.0033 --
    8x the worst-case perturbation.  Same for 3060 (gcd 20, half-point
    1530 = 10 mod 20, distance >= 10/3060 = 0.0033)."""
    from .jpeg import encode_jpeg_baseline, encode_jpeg_progressive

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        sig = np.array([1, -1, -1, 1, 1, -1, -1, 1])
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                w, h = 8 + 8 * (mid % 3), 8 + 8 * (mid % 2)
                img = np.zeros((h, w), np.int64)
                for by in range(h // 8):
                    for bx in range(w // 8):
                        dc = ((mid * 5 + by * 3 + bx) % 13) - 6
                        m = ((mid * 7 + by + bx * 2) % 5) - 2
                        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            128 + 2 * dc + 17 * m * np.outer(sig, sig)
                        )
                img = img.astype(np.uint8)
                if mid % 3 == 2:
                    payload = encode_jpeg_progressive(img)
                elif mid % 4 == 3:
                    payload = encode_jpeg_baseline(img, restart_interval=2)
                else:
                    payload = encode_jpeg_baseline(img)
                rows.append((mid, "image", payload, "image/jpeg", w, h, None))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "payload", "mime",
                         "width", "height", "duration_ms"],
            )

    return _asset_range(spark, n).mapInPandas(_gen, schema=MEDIA_SCHEMA)


def deterministic_wav_media(spark, n: int = 32) -> DataFrame:
    """Deterministic REAL-format audio corpus: media_id -> a valid
    RIFF/WAVE file (16-bit PCM mono @8 kHz) whose every sample is the
    closed form

        s(id, k) = ((id*131 + k*17) % 4001) - 2000   (int16)
        n_samples = 100 + (id % 7) * 50

    so an external engine reproduces every decoded statistic (RMS,
    zero-crossing rate, peak, duration) by arithmetic alone -- the
    audio counterpart of ``deterministic_ppm_media``, oracle-checked
    end-to-end by ``audio_features``.  Header is the canonical 44-byte
    RIFF layout (fmt 16-byte body + data), so n_bytes = 44 + 2n."""
    import struct

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                ns = 100 + (mid % 7) * 50
                k = np.arange(ns)
                data = ((mid * 131 + k * 17) % 4001 - 2000).astype("<i2").tobytes()
                payload = (
                    b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                rows.append((mid, "audio", payload, "audio/wav",
                             None, None, ns * 1000 // 8000))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "payload", "mime",
                         "width", "height", "duration_ms"],
            )

    return _asset_range(spark, n).mapInPandas(_gen, schema=MEDIA_SCHEMA)


def decode_images(
    media: DataFrame, feature_dim: int = 8, resize_to: tuple[int, int] = (224, 224)
) -> DataFrame:
    """STUB decode + resize + feature-extract with real Spark plumbing.

    Iterates Arrow batches via ``mapInPandas`` exactly as a real
    decoder would; the 'features' are a deterministic function of the
    payload bytes so tests can assert exact values, and the resize
    step is represented by emitting the target (out_width, out_height)
    -- the real decoder swaps the inner loop for
    PIL.Image.open(...).resize(resize_to) (see ``decode_images_real``).
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(lambda b: len(b) if b is not None else 0)
            payload_hash = payloads.map(
                lambda b: int.from_bytes(b[:8], "big", signed=True) if b else 0
            )
            feats = payloads.map(
                lambda b: [float((b[i % len(b)] if b else 0)) / 255.0 for i in range(feature_dim)]
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": n_bytes,
                    "payload_hash": payload_hash,
                    "out_width": resize_to[0],
                    "out_height": resize_to[1],
                    "feature": feats,
                }
            )

    return media.mapInPandas(_decode, schema=IMAGE_FEATURES_SCHEMA)


def decode_images_real(
    media: DataFrame, feature_dim: int = 8, resize_to: tuple[int, int] = (224, 224)
) -> DataFrame:
    """Real image decode path, gated on an importable PIL: decode ->
    resize -> channel-mean features over the same Arrow-batch plumbing
    as ``decode_images``. In environments without PIL (this container)
    it raises ``NotImplementedError`` -- use ``decode_images`` (the
    deterministic stub) there; the Spark-side plan is identical."""
    try:
        import io

        import numpy as np
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - container lacks PIL
        raise NotImplementedError(
            "Real media decoding requires PIL, which is not present in this "
            "container. Use decode_images (deterministic stub) for plumbing; "
            "this function activates unchanged wherever PIL is installed."
        ) from exc

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:  # pragma: no cover
        for pdf in batches:
            rows = []
            for media_id, b in zip(pdf["media_id"], pdf["payload"]):
                if not b:
                    rows.append((media_id, 0, 0, None, None, None))
                    continue
                img = Image.open(io.BytesIO(b)).convert("RGB").resize(resize_to)
                arr = np.asarray(img, dtype=np.float32) / 255.0
                # channel means + coarse grid means, truncated/padded
                feat = list(arr.mean(axis=(0, 1)))
                gh = max(1, int(np.sqrt(max(feature_dim - 3, 1))))
                grid = arr.mean(axis=2)
                h_step, w_step = max(1, grid.shape[0] // gh), max(1, grid.shape[1] // gh)
                feat += [
                    float(grid[i * h_step : (i + 1) * h_step, j * w_step : (j + 1) * w_step].mean())
                    for i in range(gh)
                    for j in range(gh)
                ]
                feat = [float(x) for x in feat[:feature_dim]]
                feat += [0.0] * (feature_dim - len(feat))
                rows.append(
                    (
                        media_id,
                        len(b),
                        int.from_bytes(b[:8], "big", signed=True),
                        resize_to[0],
                        resize_to[1],
                        feat,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_bytes", "payload_hash",
                    "out_width", "out_height", "feature",
                ],
            )

    return media.mapInPandas(_decode, schema=IMAGE_FEATURES_SCHEMA)


def _decode_ppm(b: bytes):
    """Pure-numpy P6 PPM decode -> HxWx3 uint8 (binary PPM: ASCII
    header 'P6 <w> <h> <maxval>' with whitespace/comments, then raw
    RGB bytes)."""
    import numpy as np

    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(b) and b[i : i + 1].isspace():
            i += 1
        if b[i : i + 1] == b"#":  # comment to end of line
            while i < len(b) and b[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(b) and not b[j : j + 1].isspace():
            j += 1
        fields.append(int(b[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    arr = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=i)
    return arr.reshape(h, w, 3)


def _decode_bmp(b: bytes):
    """Pure-numpy uncompressed 24-bit BMP decode -> HxWx3 uint8 RGB
    (BITMAPINFOHEADER, bottom-up rows, 4-byte row padding)."""
    import struct

    import numpy as np

    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    arr = np.frombuffer(b, dtype=np.uint8, count=row_bytes * h, offset=data_offset)
    arr = arr.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        arr = arr[::-1]
    return arr[:, :, ::-1]  # BGR -> RGB


def _decode_png(b: bytes):
    """Pure stdlib-zlib + numpy PNG decode -> HxWx3 uint8 RGB.

    PNG's compression is DEFLATE (``zlib``) over per-row byte filters,
    so no image library is required: parse chunks, inflate IDAT,
    reverse the row filters (None/Sub/Up/Average/Paeth), drop alpha /
    expand grayscale. Supports 8-bit depth, color types 0 (gray),
    2 (RGB), 4 (gray+alpha), 6 (RGBA), both non-interlaced and
    Adam7-interlaced (round 8: seven independently-filtered passes
    scattered onto their pixel lattices) -- covering real-world PNGs;
    everything else raises and the caller's corrupt-row path nulls
    the record. Filters 0/2
    vectorize; Sub/Average/Paeth carry a left-pixel dependency and run
    per-byte on the row (rows are short; the batch loop is already
    Python-side under mapInPandas)."""
    import struct
    import zlib

    import numpy as np

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(b):
        length = struct.unpack_from(">I", b, pos)[0]
        ctype = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body(length) + crc
    if w is None:
        raise ValueError("missing IHDR")
    if bit_depth != 8 or interlace not in (0, 1) or color_type not in (0, 2, 4, 6):
        raise ValueError(
            f"unsupported PNG (depth={bit_depth}, color={color_type}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(bytes(idat))

    def unfilter(raw_bytes, offset, ph, pw):
        """Reverse row filters over one (sub-)image; returns the
        (ph, pw*channels) uint8 pixel bytes and the bytes consumed."""
        stride = pw * channels
        if len(raw_bytes) - offset < ph * (stride + 1):
            raise ValueError("truncated IDAT")
        sub = np.zeros((ph, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        bpp = channels
        for y in range(ph):
            base = offset + y * (stride + 1)
            f = raw_bytes[base]
            line = np.frombuffer(
                raw_bytes, dtype=np.uint8, count=stride, offset=base + 1
            ).astype(np.int32)
            if f == 0:
                cur = line
            elif f == 2:  # Up
                cur = line + prev
            elif f in (1, 3, 4):  # left-dependent: Sub / Average / Paeth
                cur = np.zeros(stride, dtype=np.int32)
                for i in range(stride):
                    a = int(cur[i - bpp]) & 0xFF if i >= bpp else 0
                    u = int(prev[i])
                    if f == 1:
                        cur[i] = line[i] + a
                    elif f == 3:
                        cur[i] = line[i] + (a + u) // 2
                    else:
                        c = int(prev[i - bpp]) if i >= bpp else 0
                        p = a + u - c
                        pa, pb, pc = abs(p - a), abs(p - u), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (u if pb <= pc else c)
                        cur[i] = line[i] + pred
            else:
                raise ValueError(f"bad PNG filter {f}")
            prev = (cur & 0xFF).astype(np.uint8)
            sub[y] = prev
        return sub, ph * (stride + 1)

    if interlace == 0:
        out, _ = unfilter(raw, 0, h, w)
        px = out.reshape(h, w, channels)
    else:
        # Adam7: seven independently-filtered sub-images, scattered
        # onto the (x_start::x_step, y_start::y_step) lattices
        px = np.zeros((h, w, channels), dtype=np.uint8)
        offset = 0
        for x0, xs, y0, ys in (
            (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
            (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
        ):
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue  # empty pass carries no bytes at all
            sub, used = unfilter(raw, offset, ph, pw)
            offset += used
            px[y0::ys, x0::xs] = sub.reshape(ph, pw, channels)
    if color_type == 0:
        return np.repeat(px, 3, axis=2)
    if color_type == 2:
        return px
    if color_type == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]  # RGBA -> drop alpha


def _resize_nearest(arr, out_w: int, out_h: int):
    """Nearest-neighbor resize via numpy index selection."""
    import numpy as np

    h, w = arr.shape[:2]
    rows = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    cols = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return arr[rows][:, cols]


def _image_features(arr, feature_dim: int) -> list[float]:
    """Channel means + coarse grid means, truncated/zero-padded to
    ``feature_dim`` (same shape as the PIL path's features)."""
    import numpy as np

    a = arr.astype(np.float64) / 255.0
    feat = [float(x) for x in a.mean(axis=(0, 1))]
    gh = max(1, int(np.sqrt(max(feature_dim - 3, 1))))
    grid = a.mean(axis=2)
    h_step = max(1, grid.shape[0] // gh)
    w_step = max(1, grid.shape[1] // gh)
    feat += [
        float(grid[i * h_step : (i + 1) * h_step, j * w_step : (j + 1) * w_step].mean())
        for i in range(gh)
        for j in range(gh)
    ]
    feat = feat[:feature_dim]
    return feat + [0.0] * (feature_dim - len(feat))


def decode_images_numpy(
    media: DataFrame, feature_dim: int = 8, resize_to: tuple[int, int] = (224, 224)
) -> DataFrame:
    """REAL image decode with no image library: P6 PPM and 24-bit BMP
    payloads are parsed with numpy (``_decode_ppm`` / ``_decode_bmp``),
    PNG with stdlib zlib + numpy (``_decode_png`` -- DEFLATE
    inflate + None/Sub/Up/Average/Paeth row-filter reversal), and
    baseline AND progressive JPEG with the pure-numpy Huffman + IDCT
    decoder (``jpeg.decode_jpeg`` -- SOF0/1/2, 4:4:4/4:2:2/4:2:0,
    restart markers, spectral-selection + successive-approximation
    scans; rounds 6+8, closing the last PIL gate), then
    nearest-neighbor resized and reduced to channel-mean + grid-mean
    features -- over the same Arrow-batch ``mapInPandas`` plumbing as
    the stub and PIL paths.  Rows whose payload fails to parse come
    back with null dimensions instead of failing the batch, exactly
    how a 100 TB decode job must treat corrupt media."""
    import numpy as np  # noqa: F401 - fail fast on the driver if absent

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, b in zip(pdf["media_id"], pdf["payload"]):
                if not b:
                    rows.append((media_id, 0, 0, None, None, None))
                    continue
                try:
                    raw = bytes(b)
                    if raw[:2] == b"P6":
                        arr = _decode_ppm(raw)
                    elif raw[:8] == b"\x89PNG\r\n\x1a\n":
                        arr = _decode_png(raw)
                    elif raw[:2] == b"\xff\xd8":
                        from .jpeg import decode_jpeg

                        arr = decode_jpeg(raw)
                    else:
                        arr = _decode_bmp(raw)
                    arr = _resize_nearest(arr, resize_to[0], resize_to[1])
                    feat = _image_features(arr, feature_dim)
                    rows.append(
                        (
                            media_id,
                            len(b),
                            int.from_bytes(bytes(b[:8]), "big", signed=True),
                            resize_to[0],
                            resize_to[1],
                            feat,
                        )
                    )
                except (ValueError, IndexError, OverflowError):
                    # decode_jpeg re-raises its internal KeyError /
                    # struct.error (undefined table, truncated header)
                    # as ValueError, so this clause no longer needs to
                    # catch them -- a KeyError escaping the PPM/PNG/BMP
                    # paths is a code bug and now fails loudly instead
                    # of being silently nulled (ADVICE r6)
                    rows.append(
                        (
                            media_id,
                            len(b),
                            int.from_bytes(bytes(b[:8]), "big", signed=True),
                            None,
                            None,
                            None,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_bytes", "payload_hash",
                    "out_width", "out_height", "feature",
                ],
            )

    return media.mapInPandas(_decode, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_crossing_rate", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
    ]
)


def _decode_wav(b: bytes):
    """Pure-numpy RIFF/WAVE PCM decode -> (samples float64 in [-1,1]
    shaped (n, channels), sample_rate). Supports 8/16/32-bit integer
    PCM (format 1), the uncompressed family."""
    import struct

    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits not in (8, 16, 32):
        raise ValueError(f"only integer PCM supported (format={audio_format}, bits={bits})")
    if bits == 8:  # unsigned
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        dtype = np.int16 if bits == 16 else np.int32
        samples = np.frombuffer(data, dtype=dtype).astype(np.float64) / float(2 ** (bits - 1))
    n = len(samples) // n_channels
    return samples[: n * n_channels].reshape(n, n_channels), sample_rate


def decode_audio_wav(media: DataFrame) -> DataFrame:
    """REAL audio decode for uncompressed WAV (integer PCM) in pure
    numpy: RIFF parse -> per-file duration + RMS energy +
    zero-crossing rate + peak -- the screening features an audio
    corpus pipeline filters on (silence, clipping, wrong-rate files).
    Same Arrow-batch plumbing and corrupt-row tolerance as the image
    paths; only fixed-size features shuffle, never waveforms."""
    import numpy as np

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, b in zip(pdf["media_id"], pdf["payload"]):
                if not b:
                    rows.append((media_id, 0, None, None, None, None, None, None))
                    continue
                try:
                    samples, rate = _decode_wav(bytes(b))
                    mono = samples.mean(axis=1)
                    rms = float(np.sqrt((mono**2).mean())) if len(mono) else 0.0
                    zcr = (
                        float((np.signbit(mono[1:]) != np.signbit(mono[:-1])).mean())
                        if len(mono) > 1
                        else 0.0
                    )
                    rows.append(
                        (
                            media_id,
                            len(b),
                            int(rate),
                            int(samples.shape[1]),
                            int(len(mono) * 1000 // rate) if rate else None,
                            rms,
                            zcr,
                            float(np.abs(mono).max()) if len(mono) else 0.0,
                        )
                    )
                except (ValueError, IndexError, struct_error):
                    rows.append((media_id, len(b), None, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_bytes", "sample_rate", "n_channels",
                    "duration_ms", "rms", "zero_crossing_rate", "peak",
                ],
            )

    return media.mapInPandas(_decode, schema=AUDIO_FEATURES_SCHEMA)


VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
    ]
)


def _decode_y4m(b: bytes):
    """Pure-numpy YUV4MPEG2 (.y4m) parse -> (frames, (fps_num,
    fps_den), (w, h)); frames are (Y, U, V) uint8 planes, C420 only
    (the format ffmpeg/x264 pipelines exchange raw video in).  Stream
    header 'YUV4MPEG2 W<w> H<h> F<n>:<d> ...\\n', then per frame
    'FRAME...\\n' + w*h luma + two (w/2)*(h/2) chroma planes."""
    import numpy as np

    if not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = b.index(b"\n")
    w = h = None
    fps_num, fps_den = 30, 1
    cs = "420"
    for tok in b[9:nl].decode("ascii").split():
        if tok[:1] == "W":
            w = int(tok[1:])
        elif tok[:1] == "H":
            h = int(tok[1:])
        elif tok[:1] == "F":
            num, den = tok[1:].split(":")
            fps_num, fps_den = int(num), int(den)
        elif tok[:1] == "C":
            cs = tok[1:]
    if w is None or h is None:
        raise ValueError("missing W/H in stream header")
    if w <= 0 or h <= 0:
        # 0 % sx == 0 would slip past the divisibility check below and
        # yield NaN means over empty planes instead of the documented
        # null corrupt-payload row
        raise ValueError("W/H must be positive")
    # chroma subsample factors (horizontal, vertical) per colorspace;
    # 420jpeg/420mpeg2/420paldv share the plane LAYOUT (siting differs
    # only in filtering intent, which nearest replication ignores)
    if cs.startswith("420"):
        sx, sy = 2, 2
    elif cs == "422":
        sx, sy = 2, 1
    elif cs == "444":
        sx, sy = 1, 1
    else:
        raise ValueError(f"only C420/C422/C444 supported (got C{cs})")
    if w % sx or h % sy or fps_num <= 0 or fps_den <= 0:
        raise ValueError(f"C{cs} needs dims divisible by {sx}x{sy} and positive frame rate")
    ysz, csz = w * h, (w // sx) * (h // sy)
    frames = []
    pos = nl + 1
    while pos < len(b):
        if b[pos : pos + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        pos = b.index(b"\n", pos) + 1
        if pos + ysz + 2 * csz > len(b):
            raise ValueError("truncated frame")
        y = np.frombuffer(b, np.uint8, ysz, pos).reshape(h, w)
        u = np.frombuffer(b, np.uint8, csz, pos + ysz).reshape(h // sy, w // sx)
        v = np.frombuffer(b, np.uint8, csz, pos + ysz + csz).reshape(h // sy, w // sx)
        frames.append((y, u, v))
        pos += ysz + 2 * csz
    return frames, (fps_num, fps_den), (w, h)


def _yuv420_to_rgb(y, u, v):
    """Full-range BT.601 YUV -> RGB float64 in [0, 255]; chroma
    upsampled to luma resolution by replication (nearest) -- the
    repeat factors derive from the plane shapes, so 4:2:0 (2x2),
    4:2:2 (1x2) and 4:4:4 (no-op) all route through here.  Same 1.402 / 0.344136 /
    0.714136 / 1.772 constants as the JPEG decoder's YCbCr path, so
    the engine has ONE color-conversion definition; studio-swing
    (16-235) scaling deliberately omitted -- documented contract, and
    the oracle computes the identical arithmetic."""
    import numpy as np

    yf = y.astype(np.float64)
    ry, rx = y.shape[0] // u.shape[0], y.shape[1] // u.shape[1]
    uf = np.repeat(np.repeat(u, ry, 0), rx, 1).astype(np.float64) - 128.0
    vf = np.repeat(np.repeat(v, ry, 0), rx, 1).astype(np.float64) - 128.0
    r = yf + 1.402 * vf
    g = yf - 0.344136 * uf - 0.714136 * vf
    bl = yf + 1.772 * uf
    return (
        np.clip(r, 0, 255), np.clip(g, 0, 255), np.clip(bl, 0, 255)
    )


def decode_video_y4m(media: DataFrame, frame_stride: int = 2) -> DataFrame:
    """REAL video decode for YUV4MPEG2: parse the container, sample
    every ``frame_stride``-th frame, convert 4:2:0 YUV to RGB, and
    emit per-sampled-frame channel means -- one row per sampled frame
    (corrupt payloads -> one null row), so the video triad gets the
    same decode->feature treatment as images (``decode_images_numpy``)
    and audio (``decode_audio_wav``).  ts_ms = frame_idx * 1000 *
    fps_den // fps_num.  Same Arrow-batch plumbing: waveform-free rows
    shuffle, frames never leave the scan partition."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, b in zip(pdf["media_id"], pdf["payload"]):
                if not b:
                    rows.append((media_id, 0, None, None, None, None, None,
                                 None, None, None))
                    continue
                try:
                    import numpy as np

                    frames, (fn, fd), (w, h) = _decode_y4m(bytes(b))
                    for idx in range(0, len(frames), frame_stride):
                        # quantize to uint8 like a real decoder's RGB
                        # output: floor(x + 0.5) of the clipped float,
                        # a deterministic IEEE function both engines
                        # reproduce bit-for-bit -- which makes the
                        # channel means EXACT integer-sum/n doubles
                        # (no summation-order drift, no rounding
                        # boundary), so the oracle compares raw means
                        r, g, bl = (
                            np.floor(ch + 0.5) for ch in _yuv420_to_rgb(*frames[idx])
                        )
                        rows.append(
                            (
                                media_id,
                                len(b),
                                w,
                                h,
                                len(frames),
                                idx,
                                idx * 1000 * fd // fn,
                                float(r.mean()),
                                float(g.mean()),
                                float(bl.mean()),
                            )
                        )
                except (ValueError, IndexError):
                    rows.append((media_id, len(b), None, None, None, None,
                                 None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_bytes", "width", "height", "n_frames",
                    "frame_idx", "ts_ms", "mean_r", "mean_g", "mean_b",
                ],
            )

    return media.mapInPandas(_decode, schema=VIDEO_FEATURES_SCHEMA)


def deterministic_y4m_media(spark, n: int = 16) -> DataFrame:
    """Deterministic REAL-format video corpus: media_id -> a valid
    YUV4MPEG2 stream (C420, F10:1) whose every plane sample is the
    closed form

        Y(id,f,y,x)   = (id*13 + f*29 + y*5 + x*3) % 256
        U(id,f,cy,cx) = (id*7  + f*11 + cy*3 + cx*5) % 256
        V(id,f,cy,cx) = (id*17 + f*23 + cy*5 + cx*7) % 256
        w = 8 + (id%3)*4,  h = 6 + (id%2)*4,  n_frames = 2 + id%4

    -- the video counterpart of ``deterministic_ppm_media``, oracle-
    checked end-to-end by ``video_features``."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                w = 8 + (mid % 3) * 4
                h = 6 + (mid % 2) * 4
                nf = 2 + mid % 4
                parts = [f"YUV4MPEG2 W{w} H{h} F10:1 C420\n".encode()]
                yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                cy, cx = np.meshgrid(
                    np.arange(h // 2), np.arange(w // 2), indexing="ij"
                )
                for f in range(nf):
                    parts.append(b"FRAME\n")
                    parts.append(
                        ((mid * 13 + f * 29 + yy * 5 + xx * 3) % 256)
                        .astype(np.uint8).tobytes()
                    )
                    parts.append(
                        ((mid * 7 + f * 11 + cy * 3 + cx * 5) % 256)
                        .astype(np.uint8).tobytes()
                    )
                    parts.append(
                        ((mid * 17 + f * 23 + cy * 5 + cx * 7) % 256)
                        .astype(np.uint8).tobytes()
                    )
                rows.append((mid, "video", b"".join(parts), "video/x-yuv4mpeg",
                             w, h, nf * 100))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "payload", "mime",
                         "width", "height", "duration_ms"],
            )

    return _asset_range(spark, n).mapInPandas(_gen, schema=MEDIA_SCHEMA)
