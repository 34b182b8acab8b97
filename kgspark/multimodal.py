"""Multimodal columns: image/audio/video as opaque `binary` columns
with typed metadata, processed by Arrow-batched `mapInPandas` stages.

The Spark-side plumbing — schemas, UDF signatures, batch shapes,
partitioning — is real and tested. Since round 5 the IMAGE decode is
real too: a dependency-free 24-bit BMP codec and a binary PPM (P6)
codec implemented here in pure Python + numpy (`_decode_bmp` /
`_decode_ppm`), running inside the same mapInPandas stages — decode,
metadata, frame sampling, and nearest-neighbor resize all operate on
actual decoded pixel arrays for BMP/PPM blobs. Formats needing
external libraries (JPEG/PNG, audio resample, video codecs) remain a
clearly-marked stub behind an import-try (PIL), raising
NotImplementedError when absent; the deterministic fake container
format (`KGSM`, below) still covers the audio/video plumbing shapes.
Swapping `_decode_payload`'s fallback for a real codec changes no
schema, no partitioning, and no driver code.

Fake container format (deterministic, seeded by media_id):

    bytes 0-3   magic  b"KGSM"
    byte  4     kind   0=image 1=audio 2=video
    bytes 5-6   width  uint16 big-endian   (images/video)
    bytes 7-8   height uint16 big-endian   (images/video)
    bytes 9-10  n_frames uint16            (video; 1 for image, 0 audio)
    bytes 11-14 sample_rate uint32         (audio; 0 otherwise)
    bytes 15-   payload: n_frames fixed 64-byte frames (image/video)
                or sample bytes (audio), generated from sha256(media_id)

Reference parity note: the reference pipeline is text-only (PDF->text,
src/processors/pdf_reader.py:9-45); multimodal handling is an
extension required by the training-data-pipeline brief, not a port.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

MAGIC = b"KGSM"
KINDS = {0: "image", 1: "audio", 2: "video"}
KIND_IDS = {v: k for k, v in KINDS.items()}
FRAME_BYTES = 64
HEADER_LEN = 15

MEDIA_DDL = (
    "media_id string, url string, kind string, content binary, "
    "meta map<string,string>"
)
META_DDL = (
    "media_id string, kind string, width int, height int, "
    "n_frames int, sample_rate int, n_payload_bytes long, valid boolean"
)
FRAMES_DDL = "media_id string, frame_idx int, frame binary"
FEATURES_DDL = "media_id string, feature array<float>"


# ---------------------------------------------------------------------------
# fake container codec (deterministic; the bit the real codec replaces)
# ---------------------------------------------------------------------------

def _payload_bytes(media_id: str, n: int) -> bytes:
    out = bytearray()
    counter = 0
    seed = media_id.encode("utf-8")
    while len(out) < n:
        out += hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    return bytes(out[:n])


def encode_media(media_id: str, kind: str, width: int = 0, height: int = 0,
                 n_frames: int = 0, sample_rate: int = 0) -> bytes:
    head = MAGIC + struct.pack(
        ">BHHHI", KIND_IDS[kind], width, height, n_frames, sample_rate
    )
    n_payload = (
        n_frames * FRAME_BYTES if kind in ("image", "video") else sample_rate // 100
    )
    return head + _payload_bytes(media_id, n_payload)


def _decode_header(content: bytes | None) -> tuple:
    """(kind, width, height, n_frames, sample_rate, n_payload, valid).
    Recognizes the real image formats (BMP, P6 PPM — decoded by the
    native codecs below) alongside the KGSM fake container; anything
    else is a poison-pill row (valid=false), never a stage failure."""
    if content and len(content) >= 2 and bytes(content[:2]) in (b"BM", b"P6"):
        dims = _image_dims(content)
        if dims is None:  # claimed BMP/PPM but malformed/truncated
            return (None, 0, 0, 0, 0, len(content), False)
        w, h, n_px = dims
        return ("image", w, h, 1, 0, n_px, True)
    if not content or len(content) < HEADER_LEN or content[:4] != MAGIC:
        return (None, 0, 0, 0, 0, 0 if not content else len(content), False)
    kind_id, w, h, nf, sr = struct.unpack(">BHHHI", content[4:HEADER_LEN])
    kind = KINDS.get(kind_id)
    n_payload = len(content) - HEADER_LEN
    # truncated payload (shorter than the header declares) is invalid:
    # at corpus scale truncation is routine and must be quarantined,
    # not silently decoded into short frames
    truncated = kind in ("image", "video") and n_payload < nf * FRAME_BYTES
    return (kind, w, h, nf, sr, n_payload, kind is not None and not truncated)


# ---------------------------------------------------------------------------
# real image codecs (pure Python + numpy; no external libraries)
# ---------------------------------------------------------------------------

def encode_bmp(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    BMP (BITMAPINFOHEADER, bottom-up rows, 4-byte row padding, BGR
    channel order — the on-disk format every BMP reader expects)."""
    import numpy as np  # noqa: PLC0415

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_size = (3 * w + 3) // 4 * 4
    data_size = row_size * h
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + data_size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size,
                      2835, 2835, 0, 0)
    )
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : 3 * w] = px[::-1, :, ::-1].reshape(h, 3 * w)  # bottom-up, BGR
    return header + rows.tobytes()


def _bmp_header(content: bytes) -> tuple[int, int, bool, int, int]:
    """(w, h, top_down, offset, row_size) of an uncompressed 24-bit BMP,
    with the pixel array's extent checked against the blob length.
    Raises ValueError on anything the subset does not cover."""
    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", content, 10)[0]
    hdr_size, w, h_raw = struct.unpack_from("<Iii", content, 14)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise ValueError("bad BMP dimensions")
    row_size = (3 * w + 3) // 4 * 4
    if offset + row_size * h > len(content):
        raise ValueError("truncated BMP")
    return w, h, top_down, offset, row_size


def _decode_bmp(content: bytes):
    """Decode an uncompressed 24-bit BMP into an (h, w, 3) uint8 RGB
    array. Handles bottom-up (positive height) and top-down (negative
    height) row order. Raises ValueError on anything the subset does
    not cover (compressed, paletted, truncated) — callers treat that
    as a poison-pill row, never a stage failure."""
    import numpy as np  # noqa: PLC0415

    w, h, top_down, offset, row_size = _bmp_header(content)
    rows = np.frombuffer(
        content, dtype=np.uint8, count=row_size * h, offset=offset
    ).reshape(h, row_size)
    px = rows[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    return px if top_down else px[::-1]


def encode_ppm(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6)."""
    import numpy as np  # noqa: PLC0415

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def _ppm_header(content: bytes) -> tuple[int, int, int]:
    """(w, h, raster_offset) of a binary PPM (P6, maxval 255), with the
    raster's extent checked against the blob length. Raises ValueError
    on the unsupported corners (ASCII P3, 16-bit maxval, truncation)."""
    if len(content) < 2 or content[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header = magic + 3 whitespace-separated ints, '#' comments allowed
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if pos < len(content) and content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and content[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        fields.append(int(content[start:pos]))
    w, h, maxval = fields
    if maxval != 255 or w <= 0 or h <= 0:
        raise ValueError("unsupported PPM")
    # exactly one whitespace byte separates maxval from the raster;
    # verify it IS whitespace (a bare pos+=1 would silently shift the
    # raster on a malformed header) and absorb the CRLF some writers
    # emit — treating \r\n as the one separator misreads only the
    # pathological legit file whose raster intentionally starts with
    # 0x0A after a lone-\r separator, vs every CRLF-header file
    # decoding shifted by one byte
    if not content[pos : pos + 1].isspace():
        raise ValueError("malformed PPM header")
    pos += 1
    if content[pos - 1 : pos] == b"\r" and content[pos : pos + 1] == b"\n":
        pos += 1
    if pos + 3 * w * h > len(content):
        raise ValueError("truncated PPM")
    return w, h, pos


def _decode_ppm(content: bytes):
    """Decode a binary PPM (P6, maxval 255) into (h, w, 3) uint8 RGB.
    Raises ValueError like _ppm_header."""
    import numpy as np  # noqa: PLC0415

    w, h, pos = _ppm_header(content)
    return np.frombuffer(
        content, dtype=np.uint8, count=3 * w * h, offset=pos
    ).reshape(h, w, 3)


def _image_dims(content: bytes):
    """(width, height, n_pixel_bytes) for a real image blob, or None
    if the blob is not a supported real format or is truncated — the
    header-only probe decode_meta uses: it parses the BMP/PPM header
    and checks the payload length arithmetically, exactly as the
    decoders do, without materializing any pixels."""
    content = bytes(content)
    try:
        if content[:2] == b"BM":
            w, h = _bmp_header(content)[:2]
        elif content[:2] == b"P6":
            w, h = _ppm_header(content)[:2]
        else:
            return None
    except ValueError:
        return None
    return (w, h, 3 * w * h)


def _decode_payload(content: bytes):
    """Real image decode: dependency-free BMP/PPM codecs first, PIL
    fallback for everything else (not installed in this container —
    the remaining stub, clearly marked)."""
    content = bytes(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content[:2] == b"P6":
        return _decode_ppm(content)
    try:  # pragma: no cover - PIL absent in this container
        from PIL import Image  # noqa: PLC0415
        import io  # noqa: PLC0415

        return Image.open(io.BytesIO(content))
    except ImportError as exc:
        raise NotImplementedError(
            "decode for formats beyond BMP/PPM requires PIL, which is "
            "not installed; BMP and P6 PPM decode natively here"
        ) from exc


# ---------------------------------------------------------------------------
# synthetic media corpus (seeded)
# ---------------------------------------------------------------------------

def media_pixels(media_id: str, width: int, height: int):
    """Deterministic (h, w, 3) uint8 pixel array seeded by media_id —
    the content of every synthetic real image."""
    import numpy as np  # noqa: PLC0415

    return np.frombuffer(
        _payload_bytes(media_id, 3 * width * height), dtype=np.uint8
    ).reshape(height, width, 3)


def media_df(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic fake media table: round-robin image/audio/video
    with size parameters derived from the id. Two of every three
    images are REAL encoded files (alternating 24-bit BMP and P6 PPM,
    deterministic seeded pixels) exercising the native codecs; the
    third stays a KGSM container covering the fake-format plumbing."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["i"]:
                i = int(i)
                kind = KINDS[i % 3]
                mid = f"m{i:08d}"
                w, h = 16 + (i % 7) * 16, 16 + (i % 5) * 16
                nf = 1 if kind == "image" else (0 if kind == "audio" else 2 + i % 6)
                sr = 8000 + (i % 4) * 4000 if kind == "audio" else 0
                if kind == "image" and i % 9 == 0:
                    content = encode_bmp(media_pixels(mid, w, h))
                elif kind == "image" and i % 9 == 6:
                    content = encode_ppm(media_pixels(mid, w, h))
                else:
                    content = encode_media(mid, kind, w, h, nf, sr)
                rows.append({
                    "media_id": mid,
                    "url": f"https://example.org/media/{mid}",
                    "kind": kind,
                    "content": content,
                    "meta": {"source": "synthetic", "seq": str(i)},
                })
            yield pd.DataFrame(rows)

    return (
        spark.range(n, numPartitions=partitions)
        .withColumnRenamed("id", "i")
        .mapInPandas(gen, schema=MEDIA_DDL)
    )


# ---------------------------------------------------------------------------
# decode / feature-extract / frame-sample stages (Arrow-batched)
# ---------------------------------------------------------------------------

def decode_meta(media: DataFrame) -> DataFrame:
    """Parse typed metadata out of the binary column. Malformed blobs
    yield valid=false rows instead of failing the stage (poison-pill
    safety at 10^12 scale)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_header(c) for c in pdf["content"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "kind": [d[0] for d in decoded],
                "width": pd.array([d[1] for d in decoded], dtype="int32"),
                "height": pd.array([d[2] for d in decoded], dtype="int32"),
                "n_frames": pd.array([d[3] for d in decoded], dtype="int32"),
                "sample_rate": pd.array([d[4] for d in decoded], dtype="int32"),
                "n_payload_bytes": pd.array(
                    [d[5] for d in decoded], dtype="int64"
                ),
                "valid": [d[6] for d in decoded],
            })

    return media.select("media_id", "content").mapInPandas(run, schema=META_DDL)


def sample_frames(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Video frame sampling: explode each video blob into one row per
    kept frame (frame_idx % every_n == 0). A real image (BMP/PPM)
    contributes its DECODED raw RGB pixel buffer as frame 0 — actual
    codec work, not header metadata. One narrow map stage; output is
    partitioned as the input (no shuffle)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(content or b"")
                if raw[:2] in (b"BM", b"P6"):
                    try:
                        px = _decode_payload(raw)
                    except ValueError:
                        continue  # poison pill: malformed real image
                    ids.append(mid)
                    idxs.append(0)
                    frames.append(px.tobytes())
                    continue
                kind, _, _, nf, _, _, valid = _decode_header(content)
                if not valid or kind not in ("video", "image"):
                    continue
                payload = raw[HEADER_LEN:]
                for f in range(0, nf, every_n):
                    fr = payload[f * FRAME_BYTES:(f + 1) * FRAME_BYTES]
                    if len(fr) < FRAME_BYTES:  # incomplete trailing frame
                        break
                    ids.append(mid)
                    idxs.append(f)
                    frames.append(fr)
            yield pd.DataFrame({
                "media_id": ids,
                "frame_idx": pd.array(idxs, dtype="int32"),
                "frame": frames,
            })

    return media.select("media_id", "content").mapInPandas(run, schema=FRAMES_DDL)


def media_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Feature extraction over the binary column: deterministic
    hash-derived unit vector per blob (stands in for a CNN/CLIP encoder;
    identical Spark shape — binary in, array<float> out, Arrow batches)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: PLC0415

        for pdf in batches:
            feats = []
            for content in pdf["content"]:
                digest = hashlib.sha256(bytes(content or b"")).digest()
                need = dim * 4
                buf = bytearray()
                c = 0
                while len(buf) < need:
                    buf += hashlib.sha256(digest + c.to_bytes(2, "big")).digest()
                    c += 1
                v = np.frombuffer(bytes(buf[:need]), dtype=">u4").astype("float64")
                v = v / 2**32 - 0.5
                n = float(np.linalg.norm(v)) or 1.0
                feats.append((v / n).astype("float32"))
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(), "feature": feats
            })

    return media.select("media_id", "content").mapInPandas(run, schema=FEATURES_DDL)


def resize_pixels(px, width: int, height: int):
    """Nearest-neighbor resize of an (h, w, 3) uint8 array via pure
    numpy index arithmetic — the real resize kernel (the standard
    thumbnail pass before a vision encoder; nearest-neighbor keeps it
    dependency-free and bit-deterministic)."""
    import numpy as np  # noqa: PLC0415

    h, w, _ = px.shape
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return px[rows][:, cols]


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize stage. Real images (BMP/PPM) take the REAL path:
    decode -> nearest-neighbor resize on the pixel array -> re-encode
    in the same format. KGSM fake containers rewrite the header dims
    and re-derive the fake payload (plumbing-only, as before). Schema
    and batching identical either way."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for mid, kind, content, url, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["content"], pdf["url"],
                pdf["meta"],
            ):
                raw = bytes(content or b"")
                if raw[:2] in (b"BM", b"P6"):
                    try:
                        px = resize_pixels(_decode_payload(raw), width, height)
                        content = (
                            encode_bmp(px) if raw[:2] == b"BM"
                            else encode_ppm(px)
                        )
                    except ValueError:
                        pass  # poison pill passes through unchanged
                else:
                    k, _, _, nf, sr, _, valid = _decode_header(content)
                    if valid and k == "image":
                        content = encode_media(mid, k, width, height, nf, sr)
                out_rows.append({
                    "media_id": mid, "url": url, "kind": kind,
                    "content": bytes(content), "meta": meta,
                })
            yield pd.DataFrame(out_rows)

    return media.mapInPandas(run, schema=MEDIA_DDL)


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind size/shape aggregate over decoded metadata — JVM-side
    after the decode map stage."""
    return (
        decode_meta(media)
        .filter(F.col("valid"))
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("n_payload_bytes").alias("total_payload_bytes"),
            F.max("width").alias("max_width"),
            F.max("n_frames").alias("max_frames"),
        )
    )
