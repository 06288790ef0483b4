"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` kernels. Decoding goes through a pluggable
``MediaDecoder`` seam: production injects a codec-backed implementation;
this container defaults to a deterministic byte-level fake
(``FakeByteDecoder``) plus a stdlib-only REAL header decoder for BMP/WAV
(``HeaderDecoder``) proving the seam end-to-end. Everything Spark-side —
schema, batch shape, partitioning, UDF signatures — is identical whichever
decoder is plugged in.

At 100 TB the payload column dominates IO: kernels select only the columns
they need (column pruning keeps untouched payloads unread in parquet), and
feature extraction emits small fixed-width rows so downstream stages never
re-shuffle blobs.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_media(
    df: DataFrame, payload_col: str, media_type: str, fmt: str
) -> DataFrame:
    """Wrap an existing binary column into the (payload, meta) convention."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    ).withColumnRenamed(payload_col, "payload")


@dataclass(frozen=True)
class Decoded:
    """Decoder-independent result record a decode kernel emits per payload."""

    media_type: str  # image / audio
    format: str
    width: int | None = None
    height: int | None = None
    channels: int | None = None
    sample_rate: int | None = None
    n_samples: int | None = None
    mean_value: float | None = None  # mean pixel / |sample| from real content


class MediaDecoder:
    """Pluggable decode seam. Production swaps in a codec-backed
    implementation (PIL/ffmpeg/soundfile); the Spark dataflow — schema,
    batching, partitioning — is identical whichever decoder is injected."""

    def decode(self, payload: bytes, fmt: str) -> Decoded:  # pragma: no cover
        raise NotImplementedError(
            f"media decode for format={fmt!r} requires codec libraries not in this image"
        )


class FakeByteDecoder(MediaDecoder):
    """Default, codec-free stand-in: deterministically 'decodes' any payload
    as a 1×N 8-bit gray image whose pixels are the raw bytes. Keeps every
    gate query runnable in this container with stable values."""

    def decode(self, payload: bytes, fmt: str) -> Decoded:
        b = bytes(payload)
        return Decoded(
            media_type="image",
            format=fmt,
            width=len(b),
            height=1 if b else 0,
            channels=1,
            mean_value=(sum(b) / len(b)) if b else None,
        )


class HeaderDecoder(MediaDecoder):
    """Stdlib-only REAL decoder: full pixel/sample decode for uncompressed
    BMP images, PCM WAV audio, and — via ``zlib`` — compressed PNG (IDAT
    inflate + per-scanline unfiltering, all five PNG filter types, gray /
    RGB / RGBA / gray+alpha / palette at bit depth 8), plus header-level
    decode (dimensions, channels — magic-byte parsing) for JPEG and GIF,
    whose entropy coders genuinely need codec libraries. Proves the seam
    carries genuinely decoded pixel features end-to-end without any codec
    dependency. Other formats raise, loudly, like the production decoder
    would for an unsupported codec."""

    def decode(self, payload: bytes, fmt: str) -> Decoded:
        b = bytes(payload)
        if fmt == "bmp":
            return self._bmp(b)
        if fmt == "wav":
            return self._wav(b)
        if fmt == "png":
            return self._png(b)
        if fmt in ("jpeg", "jpg"):
            return self._jpeg(b)
        if fmt == "gif":
            return self._gif(b)
        raise NotImplementedError(f"HeaderDecoder cannot decode format={fmt!r}")

    @staticmethod
    def _png_pixels(b: bytes) -> tuple[int, int, int, bytearray | None]:
        """(width, height, channels, row-major pixel bytes) for an 8-bit
        non-interlaced PNG; pixels is None for a header-only payload.
        The pixel face of :meth:`_png` — also the decode side of
        :func:`resize_images`.

        PNG: 8-byte signature, then chunks of (u32 length, 4-byte type,
        data, u32 crc); IHDR must be first and carries width/height
        (big-endian u32), bit depth, color type, interlace.  Pixel decode
        is stdlib-complete: concatenate IDAT, zlib-inflate, then undo the
        per-scanline filter (types 0-4) exactly per the PNG spec."""
        import struct
        import zlib

        if b[:8] != b"\x89PNG\r\n\x1a\n" or b[12:16] != b"IHDR":
            raise ValueError("not a PNG payload")
        width, height = struct.unpack_from(">II", b, 16)
        bit_depth, color_type, _compression, _filter_m, interlace = b[24:29]
        channel_map = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
        if color_type not in channel_map:
            raise ValueError(f"unknown PNG color type {color_type}")
        channels = channel_map[color_type]

        idat = bytearray()
        plte: bytes | None = None
        off = 8
        while off + 8 <= len(b):
            (clen,) = struct.unpack_from(">I", b, off)
            ctype = b[off + 4 : off + 8]
            if ctype == b"IDAT":
                idat += b[off + 8 : off + 8 + clen]
            elif ctype == b"PLTE":
                plte = b[off + 8 : off + 8 + clen]
            elif ctype == b"IEND":
                break
            off += 12 + clen
        if not idat:
            return width, height, channels, None
        if bit_depth != 8 or interlace != 0:
            raise NotImplementedError(
                f"PNG pixel decode supports bit depth 8 non-interlaced only "
                f"(got depth={bit_depth}, interlace={interlace})"
            )
        pixels = HeaderDecoder._png_unfilter(
            zlib.decompress(bytes(idat)), width, height, channels
        )
        if color_type == 3:  # palette indices → RGB triples
            if plte is None:
                raise ValueError("palette PNG without a PLTE chunk")
            mapped = bytearray()
            for idx in pixels:
                if 3 * idx + 3 > len(plte):
                    raise ValueError(f"palette index {idx} outside PLTE")
                mapped += plte[3 * idx : 3 * idx + 3]
            pixels, channels = mapped, 3
        return width, height, channels, pixels

    @staticmethod
    def _png(b: bytes) -> Decoded:
        width, height, channels, pixels = HeaderDecoder._png_pixels(b)
        if pixels is None:
            # header-only payload (dimension probe): no pixels to average
            return Decoded(
                media_type="image", format="png",
                width=width, height=height, channels=channels,
            )
        return Decoded(
            media_type="image", format="png",
            width=width, height=height, channels=channels,
            mean_value=(sum(pixels) / len(pixels)) if pixels else None,
        )

    @staticmethod
    def _bmp_pixels(b: bytes) -> tuple[int, int, int, bytearray]:
        """(width, height, channels, TOP-DOWN row-major pixel bytes) for
        an uncompressed 8/24/32-bpp BMP — undoing the format's 4-byte row
        padding and bottom-up row order (which :meth:`_bmp`'s stats face
        deliberately ignores; a resize kernel cannot)."""
        import struct

        if b[:2] != b"BM":
            raise ValueError("not a BMP payload")
        pixel_off = struct.unpack_from("<I", b, 10)[0]
        width, height = struct.unpack_from("<ii", b, 18)
        bpp = struct.unpack_from("<H", b, 28)[0]
        if bpp not in (8, 24, 32):
            raise NotImplementedError(f"BMP pixel decode: bpp={bpp}")
        channels = bpp // 8
        stride = ((width * channels + 3) // 4) * 4
        bottom_up = height > 0
        height = abs(height)
        out = bytearray()
        rows = range(height - 1, -1, -1) if bottom_up else range(height)
        for r in rows:
            row = b[pixel_off + r * stride : pixel_off + r * stride + width * channels]
            if len(row) < width * channels:
                raise ValueError("truncated BMP pixel data")
            out += row
        return width, height, channels, out

    @staticmethod
    def _png_unfilter(raw: bytes, width: int, height: int, channels: int) -> bytearray:
        """Reverse PNG scanline filtering: ``raw`` is the inflated IDAT
        stream — per row, one filter-type byte then ``width·channels``
        filtered bytes.  Returns the reconstructed pixel bytes, row-major.
        Sequential by construction (each row depends on the previous), but
        bounded by one image — the kernel parallelism is across payloads."""
        stride = width * channels
        if len(raw) != height * (stride + 1):
            raise ValueError(
                f"PNG pixel data length {len(raw)} != expected {height * (stride + 1)}"
            )
        prev = bytearray(stride)
        out = bytearray()
        pos = 0
        for _ in range(height):
            ftype = raw[pos]
            line = bytearray(raw[pos + 1 : pos + 1 + stride])
            pos += 1 + stride
            if ftype == 0:  # None
                pass
            elif ftype == 1:  # Sub: + left neighbor (same channel)
                for i in range(channels, stride):
                    line[i] = (line[i] + line[i - channels]) & 0xFF
            elif ftype == 2:  # Up: + same column, previous row
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ftype == 3:  # Average: + floor((left + up) / 2)
                for i in range(stride):
                    left = line[i - channels] if i >= channels else 0
                    line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
            elif ftype == 4:  # Paeth predictor
                for i in range(stride):
                    left = line[i - channels] if i >= channels else 0
                    up = prev[i]
                    ul = prev[i - channels] if i >= channels else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = up
                    else:
                        pred = ul
                    line[i] = (line[i] + pred) & 0xFF
            else:
                raise ValueError(f"unknown PNG filter type {ftype}")
            out += line
            prev = line
        return out

    @staticmethod
    def _jpeg(b: bytes) -> Decoded:
        # JPEG: walk the marker stream to the first SOFn (start-of-frame)
        # segment, which carries height/width (big-endian u16) + components
        import struct

        if b[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG payload")
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker == 0xFF:
                i += 1  # 0xFF fill byte before a marker — skip it
                continue
            if marker == 0xD9:
                break  # EOI before any SOF
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            seg_len = struct.unpack_from(">H", b, i + 2)[0]
            # SOF0..SOF15 minus DHT(C4)/JPG(C8)/DAC(CC)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 10 > len(b):
                    # truncated mid-SOF: keep the decoder's ValueError
                    # contract (struct.error would fail the Arrow task)
                    raise ValueError("truncated JPEG SOF segment")
                height, width = struct.unpack_from(">HH", b, i + 5)
                channels = b[i + 9]
                return Decoded(
                    media_type="image", format="jpeg",
                    width=width, height=height, channels=channels,
                )
            i += 2 + seg_len
        raise ValueError("JPEG payload has no SOF marker")

    @staticmethod
    def _gif(b: bytes) -> Decoded:
        # GIF87a/89a: 6-byte signature, then logical-screen width/height
        # (little-endian u16)
        import struct

        if b[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF payload")
        width, height = struct.unpack_from("<HH", b, 6)
        return Decoded(
            media_type="image", format="gif",
            width=width, height=height, channels=3,
        )

    @staticmethod
    def _bmp(b: bytes) -> Decoded:
        import struct

        if b[:2] != b"BM":
            raise ValueError("not a BMP payload")
        pixel_off = struct.unpack_from("<I", b, 10)[0]
        width, height = struct.unpack_from("<ii", b, 18)
        bpp = struct.unpack_from("<H", b, 28)[0]
        pixels = b[pixel_off:]
        return Decoded(
            media_type="image",
            format="bmp",
            width=width,
            height=abs(height),
            channels=bpp // 8,
            mean_value=(sum(pixels) / len(pixels)) if pixels else None,
        )

    @staticmethod
    def _wav(b: bytes) -> Decoded:
        import io
        import struct
        import wave

        with wave.open(io.BytesIO(b)) as w:
            channels, sampwidth = w.getnchannels(), w.getsampwidth()
            rate, n = w.getframerate(), w.getnframes()
            frames = w.readframes(n)
        if sampwidth == 2:
            vals = struct.unpack(f"<{len(frames) // 2}h", frames)
            mean = (sum(abs(v) for v in vals) / len(vals)) if vals else None
        else:
            mean = (sum(frames) / len(frames)) if frames else None
        return Decoded(
            media_type="audio",
            format="wav",
            channels=channels,
            sample_rate=rate,
            n_samples=n,
            mean_value=mean,
        )


def encode_png(
    pixels: bytes, width: int, height: int, channels: int = 1
) -> bytes:
    """Minimal REAL PNG encoder (stdlib zlib): bit depth 8, filter type 0
    per scanline, one IDAT chunk.  ``pixels`` is row-major
    ``width·height·channels`` bytes; channels ∈ {1: gray, 3: RGB, 4: RGBA}.

    Exists so fixtures and gate queries can manufacture genuinely
    compressed PNG payloads whose pixel statistics are known in advance —
    the decode side is then certified against an *external* oracle on the
    original bytes, not against this encoder."""
    import struct
    import zlib

    color_type = {1: 0, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise ValueError(f"unsupported channel count {channels}")
    stride = width * channels
    if len(pixels) != height * stride:
        raise ValueError(f"pixel buffer {len(pixels)} != {height}×{stride}")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">II", width, height) + bytes([8, color_type, 0, 0, 0])
    raw = b"".join(
        b"\x00" + pixels[r * stride : (r + 1) * stride] for r in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


DECODED_SCHEMA = (
    "media_type string, format string, width int, height int, channels int, "
    "sample_rate int, n_samples int, mean_value double"
)


def decode_media(
    df: DataFrame,
    id_col: str,
    decoder: MediaDecoder | None = None,
    fmt_col: str = "media_meta",
) -> DataFrame:
    """Decode every payload through the injected ``decoder`` (default: the
    deterministic byte-level fake) — one Arrow batch in, one fixed-width
    feature row out per payload; blobs never leave the kernel."""
    decoder = decoder if decoder is not None else FakeByteDecoder()
    out_schema = f"{id_col} bigint, {DECODED_SCHEMA}"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, fmt in zip(
                pdf[id_col], pdf["payload"], pdf["_fmt"]
            ):
                d = decoder.decode(bytes(payload), fmt)
                rows.append({id_col: doc_id, **vars(d)})
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "media_type", "format", "width", "height",
                    "channels", "sample_rate", "n_samples", "mean_value",
                ],
            )

    return df.select(
        id_col, "payload", F.col(f"{fmt_col}.format").alias("_fmt")
    ).mapInPandas(kernel, schema=out_schema)


def extract_features(df: DataFrame, id_col: str) -> DataFrame:
    """Per-payload features via mapInPandas: byte length, an 8-bucket byte
    histogram, and a deterministic content digest. Stands in for real image
    feature extraction; the dataflow (binary in → fixed-width row out) is
    exactly the production shape."""
    out_schema = (
        f"{id_col} bigint, n_bytes bigint, digest string, "
        "hist array<bigint>"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                hist = [0] * 8
                for byte in b:
                    hist[byte >> 5] += 1
                rows.append(
                    {
                        id_col: doc_id,
                        "n_bytes": len(b),
                        "digest": hashlib.md5(b).hexdigest(),
                        "hist": hist,
                    }
                )
            yield pd.DataFrame(rows, columns=[id_col, "n_bytes", "digest", "hist"])

    return df.select(id_col, "payload").mapInPandas(kernel, schema=out_schema)


def sample_frames(
    df: DataFrame, id_col: str, every_n_bytes: int = 64, frame_bytes: int = 16
) -> DataFrame:
    """Frame-sampling analog: emit one row per sampled "frame" (byte slice)
    of each payload — the explode-shaped dataflow video frame extraction
    produces. Deterministic byte slicing stands in for codec frame decode."""
    out_schema = f"{id_col} bigint, frame_no int, frame binary"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                for i, off in enumerate(range(0, len(b), every_n_bytes)):
                    out.append(
                        {id_col: doc_id, "frame_no": i, "frame": b[off : off + frame_bytes]}
                    )
            yield pd.DataFrame(out, columns=[id_col, "frame_no", "frame"])

    return df.select(id_col, "payload").mapInPandas(kernel, schema=out_schema)


def media_phash(df: DataFrame, id_col: str) -> DataFrame:
    """64-bit average-hash (aHash) per payload: the decoded pixel/sample
    byte stream is resampled into 64 buckets and each bit records whether
    its bucket's mean exceeds the global mean.

    The standard perceptual fingerprint for media dedup at corpus scale:
    fixed-width, mergeable, and near-dup payloads land within a few bits.
    Identical payloads hash identically by construction — the completeness
    invariant the q87 gate query enforces in-plan. Runs as one Arrow kernel
    over the payload column; only (id, 64-bit hash) leaves it.
    """
    import numpy as np

    out_schema = f"{id_col} bigint, phash long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                if len(b) == 0:
                    ids.append(doc_id)
                    hashes.append(0)
                    continue
                # resample to 64 buckets (pad to a multiple of 64)
                pad = (-len(b)) % 64
                v = np.pad(b, (0, pad), mode="edge").astype(np.float64)
                buckets = v.reshape(64, -1).mean(axis=1)
                bits = buckets > v.mean()
                h = 0
                for i, bit in enumerate(bits):
                    if bit:
                        h |= 1 << i
                # to signed 64-bit for Spark's LongType
                ids.append(doc_id)
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({id_col: ids, "phash": hashes})

    return df.select(id_col, "payload").mapInPandas(kernel, schema=out_schema)


def media_ahash_portable(df: DataFrame, id_col: str, blob_col: str = "blob") -> DataFrame:
    """INTEGER-exact 64-bit aHash over REAL decoded PNG pixels — the
    oracled twin of :func:`media_phash` (q225, the aHash analog of what
    q187 did for SimHash).

    Differences from ``media_phash`` that buy cross-engine replay:

    * pixels come from a genuine PNG decode (``HeaderDecoder._png_pixels``:
      IDAT inflate + unfilter), not the raw payload bytes — so the oracle
      certifies the decode path too, exactly like q176;
    * the pixel count must be a MULTIPLE OF 64 (equal-size blocks; no
      edge-padding, which SQL cannot replay cheaply);
    * the threshold is pure integer arithmetic: with 64 equal blocks,
      ``mean(block_i) > mean(all)``  ⟺  ``64 * sum_i > total`` — no float
      mean, no rounding, no summation-order hazard. Ties (equality) are 0
      bits on both engines by the strict ``>``.

    Returns (id, phash long) — signed two's-complement 64-bit, the same
    convention as ``media_phash``, so ``simhash_near_pairs``'s 4 × 16-bit
    chunk blocking applies unchanged."""
    import numpy as np

    out_schema = f"{id_col} bigint, phash long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                _w, _h, ch, px = HeaderDecoder._png_pixels(bytes(blob))
                if px is None or ch != 1:
                    raise ValueError(
                        f"media_ahash_portable needs decodable 8-bit gray PNG "
                        f"pixels (id={doc_id})"
                    )
                b = np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64)
                if len(b) == 0 or len(b) % 64 != 0:
                    raise ValueError(
                        f"pixel count {len(b)} not a positive multiple of 64 "
                        f"(id={doc_id}) — pre-crop the image"
                    )
                bsums = b.reshape(64, -1).sum(axis=1)
                total = int(b.sum())
                h = 0
                for i, s in enumerate(bsums):
                    if 64 * int(s) > total:
                        h |= 1 << i
                ids.append(doc_id)
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({id_col: ids, "phash": hashes})

    return df.select(id_col, blob_col).mapInPandas(kernel, schema=out_schema)


MEDIA_META_SCHEMA = (
    "struct<media_type string, format string, width int, height int, "
    "duration_ms bigint>"
)


def resize_images(
    df: DataFrame, id_col: str, width: int, height: int,
    fmt_col: str = "media_meta",
) -> DataFrame:
    """Nearest-neighbor image resize as a ``mapInPandas`` kernel — the
    thumbnail/normalize stage of a multimodal training pipeline.  REAL
    pixel path for PNG (8-bit non-interlaced, stdlib inflate + unfilter)
    and uncompressed BMP (8/24/32 bpp, padding and bottom-up row order
    undone); resampling is one numpy integer-grid gather per image
    (``src[y*H//H'][x*W//W']``), and every output re-encodes as PNG
    (:func:`encode_png`) — pipelines normalize to one codec at this
    stage.  Other formats raise inside the kernel (the honest contract:
    this container ships no codec libs; swap the decode calls for
    PIL/ffmpeg in production — the Spark dataflow is identical).

    Output: ``(id, payload, media_meta)`` with dimensions/format updated —
    the same (payload, meta) convention :func:`attach_media` produces, so
    resize composes with decode/feature/phash stages.  Blobs never leave
    the executors; the batch shape is one Arrow batch in, one out."""
    if width < 1 or height < 1:
        raise ValueError(f"target size must be positive, got {width}×{height}")
    out_schema = f"{id_col} bigint, payload binary, media_meta {MEDIA_META_SCHEMA}"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload, fmt in zip(pdf[id_col], pdf["payload"], pdf["_fmt"]):
                b = bytes(payload)
                if fmt == "png":
                    w, h, c, pix = HeaderDecoder._png_pixels(b)
                    if pix is None:
                        raise ValueError(f"{id_col}={doc_id}: header-only PNG")
                elif fmt == "bmp":
                    w, h, c, pix = HeaderDecoder._bmp_pixels(b)
                else:
                    raise NotImplementedError(
                        f"resize_images: format {fmt!r} needs a codec decoder "
                        "(inject PIL/ffmpeg in production)"
                    )
                arr = np.frombuffer(bytes(pix), np.uint8).reshape(h, w, c)
                yi = (np.arange(height) * h) // height
                xi = (np.arange(width) * w) // width
                out = np.ascontiguousarray(arr[yi][:, xi])
                rows.append({
                    id_col: doc_id,
                    "payload": encode_png(out.tobytes(), width, height, c),
                    "media_meta": {
                        "media_type": "image", "format": "png",
                        "width": width, "height": height, "duration_ms": None,
                    },
                })
            yield pd.DataFrame(rows, columns=[id_col, "payload", "media_meta"])

    return df.select(
        id_col, "payload", F.col(f"{fmt_col}.format").alias("_fmt")
    ).mapInPandas(kernel, schema=out_schema)
