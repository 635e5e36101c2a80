"""Deterministic synthetic transcripts generator.

Produces the north-rule input table ``(conv_id, turn_idx, role, text,
tool, ts)`` (BASELINE.json input_hint) at any scale, as a pure function
of (conversation index, turn index) — no wall clock, no global RNG — so
re-runs produce byte-identical tables (required by the resume tests,
FIXTURES.md §4).

Payload classes follow FIXTURES.md §3: the 9 reference end-to-end
fixtures (read from the reference checkout when present), the
micro-payload shapes from the reference unit tests, lorem filler,
plain-chat text, and the negative/edge rows (§3d). Skew: every 97th
conversation is "long" (x50 turns) to exercise the salting path.

Generation is distributed: ``spark.range`` over conversation ids +
``mapInPandas`` — the generator itself scales with the cluster.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil
import struct
import zlib
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

_FIXTURE_DIR = Path("/root/reference/Src/NReadability/NReadability.Tests/SampleInput")

_BASE_TS = datetime.datetime(2026, 1, 1, 0, 0, 0)

_ROLES = ("user", "assistant", "tool")

_LOREM_SENTENCES = (
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit.",
    "Praesent in arcu vitae erat sodales consequat, nam tellus purus volutpat.",
    "Sed lacus ligula, sodales id vehicula at, semper a turpis curabitur.",
    "Vivamus ut lectus quam, venenatis posuere erat sed pellentesque suscipit.",
    "Nulla adipiscing metus in nulla condimentum non mattis lacus tempus.",
    "Phasellus sed ipsum in felis molestie molestie, sed sagittis massa orci.",
    "Cras eget feugiat nulla, nunc lacus turpis porttitor eget congue quis.",
    "Suspendisse eu est sed ligula pretium blandit, proin eget metus nisl.",
)


def _det_int(conv_idx, turn_idx, salt=""):
    """Deterministic pseudo-random int from the row coordinates."""
    digest = hashlib.sha256(f"{conv_idx}:{turn_idx}:{salt}".encode()).digest()
    return int.from_bytes(digest[:8], "big")


def _lorem_paragraphs(conv_idx, turn_idx, n_paragraphs, sentences_each=4):
    paragraphs = []
    for p in range(n_paragraphs):
        r = _det_int(conv_idx, turn_idx, f"lorem{p}")
        parts = [
            _LOREM_SENTENCES[(r + i) % len(_LOREM_SENTENCES)] for i in range(sentences_each)
        ]
        paragraphs.append("<p>" + " ".join(parts) + "</p>")
    return "".join(paragraphs)


def _article_page(conv_idx, turn_idx):
    """A page-like payload: title, nav junk, sidebar, real article body."""
    body = _lorem_paragraphs(conv_idx, turn_idx, 3 + _det_int(conv_idx, turn_idx, "np") % 5)
    return (
        f"<html><head><title>Article {conv_idx}-{turn_idx} | Synth Site</title></head>"
        "<body>"
        '<div id="header"><a href="/">Home</a> <a href="/about">About</a></div>'
        f'<div id="main" class="post"><h1>Article {conv_idx}-{turn_idx}</h1>{body}</div>'
        '<div class="sidebar"><ul><li><a href="#">Related 1</a></li>'
        '<li><a href="#">Related 2</a></li></ul></div>'
        '<div id="footer">copyright footer junk</div>'
        "</body></html>"
    )


def _micro_payload(conv_idx, turn_idx):
    """Unit-test shaped micro payloads (FIXTURES.md §3c)."""
    shapes = (
        '<div class="sidebar">Some content.</div>',
        '<div id="article" class="sidebar"><a href="#">Some widget</a></div>',
        '<div>text node1<a href="#">Link</a>text node2</div>',
        "some text<br /><br />some other text",
        "<font>styled text here</font>",
        "<html><body></body></html>",
        "<body><p>Some paragraph.</p><p>Some paragraph.</p>some text</body>",
        "<p>1.&nbsp; Item 1. A list item with a non-breaking space.</p>",
        "a &raquo; b &amp; c entity soup",
    )
    return shapes[_det_int(conv_idx, turn_idx, "micro") % len(shapes)]


def _chat_text(conv_idx, turn_idx):
    r = _det_int(conv_idx, turn_idx, "chat")
    words = [
        _LOREM_SENTENCES[(r + i) % len(_LOREM_SENTENCES)].split()[i % 5]
        for i in range(3 + r % 10)
    ]
    return "ok, " + " ".join(words)


def load_fixture_payloads():
    """The 9 reference end-to-end fixtures as payload strings (empty list
    when the reference checkout is absent)."""
    if not _FIXTURE_DIR.is_dir():
        return []
    out = []
    for n in range(1, 10):
        path = _FIXTURE_DIR / f"SampleInput_{n:02d}.html"
        if path.is_file():
            out.append(path.read_text(encoding="utf-8"))
    return out


def _pdf_escape(s):
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def build_pdf(title, paragraphs, compress_streams=False):
    """A small, valid PDF (latin-1 string) with one page of text laid
    out top-to-bottom: 14pt leading within a paragraph, a 28pt gap
    between paragraphs (past ``core.pdf.PARA_GAP``, so the layout pass
    reconstructs the paragraph structure). Deterministic — the
    mixed-media query and its golden oracle both synthesize payloads
    with this builder."""
    import zlib as _z

    y = 720.0
    first = True
    content_ops = ["BT /F1 12 Tf"]
    for para in paragraphs:
        words = para.split()
        if not first:
            y -= 28.0
        first = False
        for i in range(0, len(words), 8):
            chunk = " ".join(words[i : i + 8])
            content_ops.append(f"1 0 0 1 72 {y:.0f} Tm ({_pdf_escape(chunk)}) Tj")
            y -= 14.0
    content = ("\n".join(content_ops) + "\nET").encode("latin-1", "replace")
    if compress_streams:
        body = _z.compress(content)
        filt = " /Filter /FlateDecode"
    else:
        body = content
        filt = ""
    stream = body.decode("latin-1")
    objs = [
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R"
        " /MediaBox [0 0 612 792] >> endobj",
        f"4 0 obj <</Length {len(body)}{filt}>>\nstream\n{stream}endstream endobj",
        f"5 0 obj << /Title ({_pdf_escape(title)}) >> endobj",
    ]
    return (
        "%PDF-1.4\n"
        + "\n".join(objs)
        + "\ntrailer << /Root 1 0 R /Info 5 0 R >>\n%%EOF\n"
    )


def pdf_paragraphs(text, words_per_para=24):
    """Deterministic paragraph split for PDF payload synthesis: fixed
    word-count chunks (shared by the mixed-media query and its golden
    oracle)."""
    words = (text or "").split()
    return [
        " ".join(words[i : i + words_per_para])
        for i in range(0, len(words), words_per_para)
    ] or [""]


# --- minimal real image payloads (PNG / JPEG / GIF) --------------------
#
# Structurally valid files with REAL headers, built from public format
# specs with zero dependencies — the multimodal decode operator parses
# width/height/format back out of these bytes for real (PNG IHDR, JPEG
# SOFn, GIF logical screen descriptor). Each builder's output length is
# CONSTANT (fixed-width fields only), so the oracle can state n_bytes in
# closed form per format.


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def build_png(width: int, height: int) -> bytes:
    """8-bit RGB PNG: signature + IHDR + one fixed IDAT + IEND."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"\x00" * 16)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def build_jpeg(width: int, height: int) -> bytes:
    """JFIF JPEG: SOI + APP0 + a single-component SOF0 frame header +
    EOI (no entropy data — header-complete for dimension decode)."""
    app0 = (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1)
        + b"\x00\x00"
    )
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)  # 8 + 3 * n_components
        + b"\x08"
        + struct.pack(">HH", height, width)  # SOF order: lines, samples
        + b"\x01"
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def build_gif(width: int, height: int) -> bytes:
    """GIF89a header + logical screen descriptor (little-endian dims) +
    trailer."""
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00" + b"\x3b"


_IMAGE_BUILDERS = {"png": build_png, "jpeg": build_jpeg, "gif": build_gif}


# --- fully-decodable RGB PNG corpus (pixel-level operators) -------------
#
# The header corpus above is dimension-real but content-free; the pixel
# operators (channel stats, resize) need bitmaps a REAL decoder can
# reconstruct. Three design constraints drive the layout:
# - zlib STORED blocks (BTYPE=00), hand-packed: the payload length is
#   then a closed-form function of the dims (no compressor variance),
#   so n_bytes stays SQL-restatable;
# - ROW-CONSTANT planted pixels: every channel sum/sample collapses to
#   an H-bounded formula the DuckDB oracle can evaluate with range(h)
#   instead of range(w*h);
# - small true dims (<= 63x47): raw scanlines stay under one stored
#   block (65535 B) and the whole corpus stays MBs, not GBs.


def rgb_image_dims_for(doc_id: int) -> tuple[int, int]:
    return 16 + doc_id % 48, 16 + doc_id % 32


def png_row_rgb(seed: int, y: int) -> tuple[int, int, int]:
    """The planted color of scanline ``y`` — closed form, restated by
    the pixel oracles."""
    return (
        (7 * seed + 3 * y) % 256,
        (11 * seed + 5 * y) % 256,
        (13 * seed + 7 * y) % 256,
    )


def _zlib_stored(raw: bytes) -> bytes:
    """zlib stream with uncompressed (stored) DEFLATE blocks — byte
    length = 2 + 5*ceil(len/65535) + len + 4, deterministic forever."""
    out = [b"\x78\x01"]
    n = len(raw)
    for i in range(0, max(n, 1), 65535):
        chunk = raw[i : i + 65535]
        final = 1 if i + 65535 >= n else 0
        out.append(bytes([final]) + struct.pack("<HH", len(chunk), 0xFFFF ^ len(chunk)))
        out.append(chunk)
    out.append(struct.pack(">I", zlib.adler32(raw)))
    return b"".join(out)


def build_png_rgb(width: int, height: int, seed: int = 0) -> bytes:
    """Fully-decodable 8-bit RGB PNG: filter-0 scanlines of the planted
    row-constant colors, stored-zlib IDAT. Any spec-compliant PNG
    decoder reconstructs the exact bitmap."""
    rows = bytearray()
    for y in range(height):
        r, g, b = png_row_rgb(seed, y)
        rows.append(0)  # filter type 0 (None)
        rows.extend(bytes((r, g, b)) * width)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib_stored(bytes(rows)))
        + _png_chunk(b"IEND", b"")
    )


def rgb_image_payload_for(doc_id: int) -> bytes:
    w, h = rgb_image_dims_for(doc_id)
    return build_png_rgb(w, h, seed=doc_id)

# minimal VALID single-pixel LZW image data (min code size 2, one
# clear + one pixel + EOI) — the classic smallest-GIF payload
_GIF_PIXEL_DATA = b"\x02\x02\x44\x01\x00"


def gif_pixel_data(color_index: int) -> bytes:
    """Single-pixel LZW stream carrying ``color_index``: 3-bit codes
    [clear=4, index, eoi=5] packed LSB-first = the 9-bit value
    4 + 8*index + 64*5, always two bytes — same 5-byte block layout as
    the classic payload, so the closed-form frame offsets hold."""
    v = 4 + 8 * color_index + 64 * 5
    return b"\x02\x02" + struct.pack("<H", v) + b"\x00"


def gif_frame_pixel_index_for(doc_id: int, frame_idx: int) -> int:
    """Planted per-frame pixel color index (2-color GCT) — closed
    form, restated by the frame-pixel oracle."""
    return (doc_id + frame_idx) % 2


def build_gif_animated(
    width: int, height: int, delays_cs: list[int], pixel_indices=None
) -> bytes:
    """Animated GIF89a: logical screen + 2-color global table, then one
    (graphic-control extension, 1x1 image descriptor, pixel data) block
    per frame. Every field is fixed-width, so frame k's image
    descriptor sits at a closed-form byte offset the frame-sampling
    oracle can restate (header 19 bytes, 23 bytes per frame, the 0x2C
    descriptor 8 bytes into its frame block)."""
    parts = [
        b"GIF89a",
        struct.pack("<HH", width, height),
        bytes([0x80, 0, 0]),  # GCT present, 2 colors
        b"\x00\x00\x00\xff\xff\xff",  # global color table
    ]
    for k, delay in enumerate(delays_cs):
        parts.append(b"\x21\xf9\x04\x00" + struct.pack("<H", delay) + b"\x00\x00")
        parts.append(b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1) + b"\x00")
        parts.append(
            _GIF_PIXEL_DATA
            if pixel_indices is None
            else gif_pixel_data(pixel_indices[k])
        )
    parts.append(b"\x3b")
    return b"".join(parts)


# closed-form frame-offset constants implied by build_gif_animated's
# fixed-width layout (asserted against the real parser in tests)
GIF_HEADER_LEN = 6 + 7 + 6  # signature+LSD + 2-color global table
GIF_FRAME_LEN = 8 + 10 + len(_GIF_PIXEL_DATA)  # GCE + descriptor + data
GIF_DESC_OFFSET_IN_FRAME = 8  # the 0x2C byte follows the 8-byte GCE


def gif_frame_count_for(doc_id: int) -> int:
    return 1 + doc_id % 4


def gif_delay_for(doc_id: int, frame_idx: int) -> int:
    return (doc_id * 7 + frame_idx * 3) % 100


def gif_payload_for(doc_id: int) -> bytes:
    _fmt, width, height = image_meta_for(doc_id)
    n_frames = gif_frame_count_for(doc_id)
    delays = [gif_delay_for(doc_id, k) for k in range(n_frames)]
    pixels = [gif_frame_pixel_index_for(doc_id, k) for k in range(n_frames)]
    return build_gif_animated(width, height, delays, pixel_indices=pixels)


WAV_SAMPLE_RATES = (8000, 16000, 22050, 44100)
WAV_BITS = 16
WAV_HEADER_LEN = 44  # RIFF(12) + fmt chunk(8+16) + data chunk header(8)


def wav_sample_value(seed: int, j: int) -> int:
    """The planted PCM sample at interleaved position ``j`` for a doc
    seeded ``seed`` — closed form, restated by the sample-decode
    oracle. Range [-1000, 1000], comfortably inside int16."""
    return (seed * 31 + j * 17) % 2001 - 1000


def build_wav(sample_rate: int, n_channels: int, n_samples: int, seed: int = 0) -> bytes:
    """Valid 16-bit PCM RIFF/WAVE file — every field real, parseable by
    any audio tool; fixed-layout so the metadata oracle is closed-form
    (n_bytes = 44 + n_samples * n_channels * 2). Sample data is the
    deterministic planted waveform ``wav_sample_value(seed, j)`` over
    interleaved positions, so amplitude statistics (min/max/integer
    sums) are ALSO closed-form — the sample-decode oracle."""
    block = n_channels * WAV_BITS // 8
    total = n_samples * n_channels
    pcm = struct.pack(
        f"<{total}h", *(wav_sample_value(seed, j) for j in range(total))
    )
    fmt_body = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block, block, WAV_BITS
    )
    chunks = (
        b"fmt " + struct.pack("<I", 16) + fmt_body
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def wav_meta_for(doc_id: int) -> tuple[int, int, int]:
    """Closed-form (sample_rate, n_channels, n_samples) per doc_id."""
    return (
        WAV_SAMPLE_RATES[doc_id % 4],
        1 + doc_id % 2,
        100 + (doc_id * 13) % 400,
    )


def wav_payload_for(doc_id: int) -> bytes:
    return build_wav(*wav_meta_for(doc_id), seed=doc_id)


# --- IMA ADPCM (WAVE format tag 0x11) compressed-audio corpus ------------
#
# Real spec-complete container: fmt chunk with the 2-byte extension
# (wSamplesPerBlock), a fact chunk (total sample frames — customary
# for compressed WAV), and a data chunk of fixed-size blocks, each
# with the 4-byte IMA header (initial int16 predictor, step index,
# reserved). The planted nibble stream is ALL ZEROS, which makes the
# decode closed-form — per block, sample 0 is the header predictor and
# sample t adds the prefix sum of STEP[max(i0 - u, 0)] >> 3 (nibble 0
# contributes +step>>3 and moves the index by INDEX_TABLE[0] = -1) —
# so the amplitude-statistics oracle is an unrolled step-table join in
# SQL. The general decoder (any nibbles) is proven separately by the
# independent-implementation roundtrip test, the same dual-proof
# pattern as the JPEG AC path.

ADPCM_HEADER_LEN = 60  # RIFF(12) + fmt(8+18+2) + fact(8+4) + data hdr(8)


def adpcm_meta_for(doc_id: int) -> tuple[int, int, int, int]:
    """Closed-form (sample_rate, n_blocks, nibble_bytes, spb): all
    blocks in one file share block_align = 4 + nibble_bytes and
    samples_per_block spb = 1 + 2 * nibble_bytes."""
    nb = 8 + (doc_id * 5) % 17
    return WAV_SAMPLE_RATES[doc_id % 4], 1 + doc_id % 2, nb, 1 + 2 * nb


def adpcm_block_header_for(doc_id: int, b: int) -> tuple[int, int]:
    """Closed-form (initial predictor, initial step index) per block.
    Predictors are negative and indices <= 40 so the all-zero nibble
    decode never reaches the int16 clamp (max drift is
    sum(STEP[0..40]) >> 3, a few hundred)."""
    p0 = -(500 + (doc_id * 37 + b * 101) % 2000)
    i0 = (doc_id * 7 + b * 11) % 41
    return p0, i0


def build_adpcm_wav(doc_id: int) -> bytes:
    sr, n_blocks, nb, spb = adpcm_meta_for(doc_id)
    block_align = 4 + nb
    blocks = b""
    for b in range(n_blocks):
        p0, i0 = adpcm_block_header_for(doc_id, b)
        blocks += struct.pack("<hBB", p0, i0, 0) + bytes(nb)
    fmt_body = struct.pack(
        "<HHIIHHHH",
        0x11, 1, sr, (sr * block_align) // spb, block_align, 4, 2, spb,
    )
    chunks = (
        b"fmt " + struct.pack("<I", 18 + 2) + fmt_body
        + b"fact" + struct.pack("<II", 4, n_blocks * spb)
        + b"data" + struct.pack("<I", len(blocks)) + blocks
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def adpcm_payload_for(doc_id: int) -> bytes:
    return build_adpcm_wav(doc_id)


# --- G.711 mu-law / A-law (WAVE format tags 7 / 6) corpus ----------------
#
# One byte per sample; decode is a pure 256-entry table lookup (ITU-T
# G.711 companding), so the corpus plants the encoded BYTES in closed
# form and the oracle joins them against the unrolled decode table.


def g711_meta_for(doc_id: int) -> tuple[int, int]:
    """(format tag, n_bytes): even docs mu-law (7), odd docs A-law (6)."""
    return (7 if doc_id % 2 == 0 else 6), 80 + (doc_id * 9) % 160


def g711_byte_for(doc_id: int, j: int) -> int:
    return (doc_id * 13 + j * 7) % 256


def build_g711_wav(doc_id: int) -> bytes:
    tag, n_bytes = g711_meta_for(doc_id)
    data = bytes(g711_byte_for(doc_id, j) for j in range(n_bytes))
    fmt_body = struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
    chunks = (
        b"fmt " + struct.pack("<I", 16) + fmt_body
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def g711_payload_for(doc_id: int) -> bytes:
    return build_g711_wav(doc_id)


# --- mp3 (MPEG-1 Layer III frame stream) corpus --------------------------
#
# Real spec-encoded frame SYNC stream (ISO/IEC 11172-3 header layout):
# an ID3v2.3 tag with a syncsafe size the walker must skip, then N
# frames, each a 4-byte header (sync, MPEG-1, Layer III, per-frame
# bitrate index, per-doc samplerate index, alternating padding bit)
# followed by deterministic junk payload of exactly the spec frame
# length 144*bitrate/samplerate + padding. Frame boundaries are
# closed-form, so the walk's seek table has an exact SQL oracle; the
# huffman-coded audio payload itself is the gated perceptual path.

MP3_BITRATES = (  # MPEG-1 Layer III, kbps, index 1..14
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
MP3_RATES = (44100, 48000, 32000)  # samplerate index 0..2


def mp3_meta_for(doc_id: int) -> tuple[int, int, int]:
    """(n_frames, samplerate index, ID3v2 tag body length)."""
    return 2 + doc_id % 4, doc_id % 3, (doc_id * 3) % 40


def mp3_bitrate_idx_for(doc_id: int, k: int) -> int:
    return 1 + (doc_id + k * 5) % 14


def mp3_frame_len_for(doc_id: int, k: int) -> int:
    sr = MP3_RATES[doc_id % 3]
    kbps = MP3_BITRATES[mp3_bitrate_idx_for(doc_id, k)]
    return 144_000 * kbps // sr + (doc_id + k) % 2


def build_mp3(doc_id: int) -> bytes:
    n, sr_idx, tag_len = mp3_meta_for(doc_id)
    # ID3v2.3 header: "ID3", version, flags, 4-byte syncsafe size
    syncsafe = bytes(
        [(tag_len >> 21) & 0x7F, (tag_len >> 14) & 0x7F,
         (tag_len >> 7) & 0x7F, tag_len & 0x7F]
    )
    out = b"ID3" + bytes([3, 0, 0]) + syncsafe + bytes(
        (doc_id + j) % 256 for j in range(tag_len)
    )
    for k in range(n):
        b_idx = mp3_bitrate_idx_for(doc_id, k)
        pad = (doc_id + k) % 2
        hdr = bytes(
            [
                0xFF,
                0xFB,  # sync + MPEG-1 + Layer III + no CRC
                (b_idx << 4) | (sr_idx << 2) | (pad << 1),
                0x40,  # joint stereo
            ]
        )
        body_len = mp3_frame_len_for(doc_id, k) - 4
        out += hdr + bytes((doc_id * 7 + k * 11 + j) % 256 for j in range(body_len))
    return out


def mp3_payload_for(doc_id: int) -> bytes:
    return build_mp3(doc_id)


# --- fully-decodable baseline JPEG corpus (grayscale) --------------------
#
# Real ITU T.81 baseline-sequential encoding: canonical huffman codes
# from the public Annex K luminance tables (written into DHT segments),
# differential DC coding, run-length AC with EOB/ZRL, 0xFF byte
# stuffing, optional DRI/RSTn restart markers. The corpus plants
# DC-ONLY quantized coefficients with a uniform quant table of 16, so
# every 8x8 block reconstructs to the EXACT flat value 2*dcq + 128
# (IDCT of a lone DC coefficient c is c/8 everywhere, and 16*dcq is
# divisible by 8) — lossless-by-construction, which keeps the channel
# stats SQL-restatable. AC paths are exercised by unit tests against
# an independent numpy IDCT.

JPEG_QUANT = 16  # uniform luminance quant table value

# ITU T.81 Annex K.3.3.1/K.3.3.2 typical luminance huffman tables
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _jpeg_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """symbol -> (length, code): the canonical assignment of Annex C."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    """MSB-first entropy bit stream with 0xFF byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)

    def flush_and_mark(self, marker: int | None = None) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)  # 1-pad
        if marker is not None:
            self.buf += bytes((0xFF, marker))


def build_jpeg_gray(
    width: int,
    height: int,
    dcq_fn,
    ac_fn=None,
    restart_interval: int = 0,
) -> bytes:
    """Real baseline-sequential grayscale JPEG. ``dcq_fn(bx, by)``
    plants each block's quantized DC coefficient; ``ac_fn(bx, by)``
    optionally returns {zigzag_index 1..63: quantized coef} for AC
    energy. ``restart_interval`` > 0 writes a DRI segment and cycles
    RST0-7 markers every that many blocks (DC predictor resets)."""
    dc_codes = _jpeg_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([JPEG_QUANT] * 64)
    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", height, width) + b"\x01" + b"\x01\x11\x00"
    )
    dht = (
        b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_DC_VALS))
        + b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_AC_VALS))
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    dri = (
        b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
        if restart_interval
        else b""
    )
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"

    w = _JpegBitWriter()
    prev = 0
    mcu = 0
    n_rst = 0
    for by in range((height + 7) // 8):
        for bx in range((width + 7) // 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.flush_and_mark(0xD0 + n_rst % 8)
                n_rst += 1
                prev = 0
            dc = dcq_fn(bx, by)
            diff = dc - prev
            prev = dc
            s = abs(diff).bit_length()
            ln, code = dc_codes[s]
            w.write(code, ln)
            if s:
                w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
            ac = ac_fn(bx, by) if ac_fn else {}
            coefs = [ac.get(k, 0) for k in range(1, 64)]
            last = max((i for i, c in enumerate(coefs) if c), default=-1)
            run = 0
            for i in range(last + 1):
                c = coefs[i]
                if c == 0:
                    run += 1
                    continue
                while run >= 16:
                    ln, code = ac_codes[0xF0]  # ZRL
                    w.write(code, ln)
                    run -= 16
                s2 = abs(c).bit_length()
                ln, code = ac_codes[(run << 4) | s2]
                w.write(code, ln)
                w.write(c if c > 0 else c + (1 << s2) - 1, s2)
                run = 0
            if last < 62:
                ln, code = ac_codes[0x00]  # EOB
                w.write(code, ln)
            mcu += 1
    w.flush_and_mark(0xD9)  # EOI
    return b"\xff\xd8" + dqt + sof0 + dht + dri + sos + bytes(w.buf)


def jpeg_gray_dims_for(doc_id: int) -> tuple[int, int]:
    """Closed-form (width, height); deliberately NOT multiples of 8 so
    edge-block cropping is exercised."""
    return 11 + (doc_id * 3) % 30, 9 + (doc_id * 5) % 22


def jpeg_block_dcq_for(doc_id: int, bx: int, by: int) -> int:
    """Planted quantized DC coefficient per block, in [-64, 63]."""
    return ((doc_id * 7 + bx * 13 + by * 29) % 128) - 64


def jpeg_gray_pixel_for(doc_id: int, x: int, y: int) -> int:
    """The exact reconstructed sample: 16*dcq dequantized, /8 by the
    DC-only IDCT, +128 level shift — always in [0, 254]."""
    return 2 * jpeg_block_dcq_for(doc_id, x // 8, y // 8) + 128


def jpeg_gray_payload_for(doc_id: int) -> bytes:
    w, h = jpeg_gray_dims_for(doc_id)
    return build_jpeg_gray(
        w, h, lambda bx, by: jpeg_block_dcq_for(doc_id, bx, by)
    )


# --- mp4 (ISO base media file format) -----------------------------------
#
# Fixed-layout fragmentless mp4: ftyp, mdat (frame bytes), moov with a
# real box tree — mvhd, a video trak (tkhd, mdhd with a per-doc
# timescale, hdlr 'vide', minf/stbl with stts/stsc/stsz/stco-or-co64)
# and a decoy AUDIO trak ('soun') the frame sampler must skip. Every
# sample-table field is spec-encoded (big-endian FullBoxes, stts
# run-length pairs, 2-samples-per-chunk stsc with an odd-tail entry),
# so the box-walk parser in operators/multimodal.py is exercised for
# real while frame offsets/durations stay closed-form for the oracle.

MP4_FTYP_LEN = 20  # size + 'ftyp' + major + minor + 1 compatible brand
MP4_MDAT_DATA_START = MP4_FTYP_LEN + 8  # first video frame byte


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _mp4_fullbox(typ: bytes, body: bytes, version: int = 0) -> bytes:
    return _mp4_box(typ, bytes([version, 0, 0, 0]) + body)


def mp4_frame_count_for(doc_id: int) -> int:
    return 1 + doc_id % 4


def mp4_frame_size_for(doc_id: int, frame_idx: int) -> int:
    """Closed-form per-frame byte size — byte offsets are its prefix sum."""
    return 20 + (doc_id * 7 + frame_idx * 13) % 64


def mp4_delay_cs_for(doc_id: int, frame_idx: int) -> int:
    """Closed-form per-frame duration in centiseconds. Constant across
    each consecutive frame PAIR so the builder's stts run-length
    encoding has real multi-sample runs to compress."""
    return 2 + (doc_id + frame_idx // 2) % 5


def mp4_timescale_for(doc_id: int) -> int:
    """Per-doc media timescale (mdhd). A multiple of 100 so planted
    centisecond durations are exact integers in timescale units — the
    parser must actually read mdhd to convert back."""
    return 100 * (1 + doc_id % 3)


def mp4_frame_byte_for(doc_id: int, frame_idx: int, j: int) -> int:
    """Planted j-th payload byte of a frame — lets tests verify that
    parser-reported offsets point at the real sample bytes in mdat."""
    return (doc_id + frame_idx * 31 + j) % 256


def _mp4_stbl(
    stts_runs: list[tuple[int, int]],
    stsc_entries: list[tuple[int, int]],
    sizes: list[int],
    chunk_offsets: list[int],
    use_co64: bool,
    sample_entry_type: bytes,
) -> bytes:
    stsd = _mp4_fullbox(
        b"stsd",
        struct.pack(">I", 1)
        # minimal 16-byte SampleEntry: 6 reserved bytes + data_ref_index
        + _mp4_box(sample_entry_type, b"\x00" * 6 + struct.pack(">H", 1)),
    )
    stts = _mp4_fullbox(
        b"stts",
        struct.pack(">I", len(stts_runs))
        + b"".join(struct.pack(">II", c, d) for c, d in stts_runs),
    )
    stsc = _mp4_fullbox(
        b"stsc",
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in stsc_entries),
    )
    stsz = _mp4_fullbox(
        b"stsz",
        struct.pack(">II", 0, len(sizes))
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    if use_co64:
        co = _mp4_fullbox(
            b"co64",
            struct.pack(">I", len(chunk_offsets))
            + b"".join(struct.pack(">Q", o) for o in chunk_offsets),
        )
    else:
        co = _mp4_fullbox(
            b"stco",
            struct.pack(">I", len(chunk_offsets))
            + b"".join(struct.pack(">I", o) for o in chunk_offsets),
        )
    return _mp4_box(b"stbl", stsd + stts + stsc + stsz + co)


def _mp4_trak(
    track_id: int,
    handler: bytes,
    timescale: int,
    duration: int,
    stbl: bytes,
    media_header: bytes,
) -> bytes:
    tkhd = _mp4_fullbox(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, track_id, 0, duration)
        + b"\x00" * 8  # reserved
        + struct.pack(">hhhh", 0, 0, 0, 0)  # layer, alt group, volume, pad
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 0, 0),  # width, height (16.16)
    )
    mdhd = _mp4_fullbox(
        b"mdhd",
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und', predefined
    )
    hdlr = _mp4_fullbox(
        b"hdlr",
        struct.pack(">I", 0) + handler + b"\x00" * 12 + b"synth\x00",
    )
    # 12-byte 'url ' fullbox, flag bit 1 = media is in this file
    url_box = struct.pack(">I", 12) + b"url " + bytes([0, 0, 0, 1])
    dinf = _mp4_box(b"dinf", _mp4_fullbox(b"dref", struct.pack(">I", 1) + url_box))
    minf = _mp4_box(b"minf", media_header + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    return _mp4_box(b"trak", tkhd + mdia)


def build_mp4(doc_id: int) -> bytes:
    """Deterministic fragmentless mp4 for ``doc_id``: 1-4 video frames
    in mdat at closed-form offsets (``MP4_MDAT_DATA_START`` + prefix
    sum of ``mp4_frame_size_for``), durations ``mp4_delay_cs_for`` in a
    per-doc mdhd timescale, chunked 2 samples per chunk (odd tail gets
    its own stsc entry), stco normally and co64 for every 5th doc, plus
    a one-sample decoy audio trak after the video bytes."""
    n = mp4_frame_count_for(doc_id)
    ts_mult = mp4_timescale_for(doc_id) // 100
    sizes = [mp4_frame_size_for(doc_id, k) for k in range(n)]
    durs_ts = [mp4_delay_cs_for(doc_id, k) * ts_mult for k in range(n)]

    ftyp = struct.pack(">I", MP4_FTYP_LEN) + b"ftypisom" + struct.pack(">I", 0) + b"isom"
    frames = b"".join(
        bytes(mp4_frame_byte_for(doc_id, k, j) for j in range(sizes[k]))
        for k in range(n)
    )
    audio_bytes = bytes((doc_id + j * 3) % 256 for j in range(11))
    mdat = _mp4_box(b"mdat", frames + audio_bytes)

    # stts run-length encoding of the duration sequence
    stts_runs: list[tuple[int, int]] = []
    for d in durs_ts:
        if stts_runs and stts_runs[-1][1] == d:
            stts_runs[-1] = (stts_runs[-1][0] + 1, d)
        else:
            stts_runs.append((1, d))

    # 2 samples per chunk; an odd trailing sample becomes its own chunk
    n_chunks = (n + 1) // 2
    stsc_entries = [(1, min(2, n))]
    if n > 1 and n % 2 == 1:
        stsc_entries.append((n_chunks, 1))
    chunk_offsets = [
        MP4_MDAT_DATA_START + sum(sizes[: 2 * c]) for c in range(n_chunks)
    ]
    audio_offset = MP4_MDAT_DATA_START + sum(sizes)

    video_stbl = _mp4_stbl(
        stts_runs, stsc_entries, sizes, chunk_offsets,
        use_co64=(doc_id % 5 == 0), sample_entry_type=b"raw ",
    )
    vmhd = struct.pack(">I", 20) + b"vmhd" + bytes([0, 0, 0, 1]) + b"\x00" * 8
    video = _mp4_trak(
        1, b"vide", mp4_timescale_for(doc_id), sum(durs_ts), video_stbl, vmhd
    )

    audio_stbl = _mp4_stbl(
        [(1, 8000)], [(1, 1)], [len(audio_bytes)], [audio_offset],
        use_co64=False, sample_entry_type=b"raw ",
    )
    smhd = struct.pack(">I", 16) + b"smhd" + bytes([0, 0, 0, 0]) + b"\x00" * 4
    audio = _mp4_trak(2, b"soun", 8000, 8000, audio_stbl, smhd)

    mvhd = _mp4_fullbox(
        b"mvhd",
        struct.pack(">IIII", 0, 0, 600, 0)
        + struct.pack(">IH", 0x00010000, 0x0100)  # rate, volume
        + b"\x00" * 10  # reserved
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # predefined
        + struct.pack(">I", 3),  # next track id
    )
    moov = _mp4_box(b"moov", mvhd + video + audio)
    return ftyp + mdat + moov


def mp4_payload_for(doc_id: int) -> bytes:
    return build_mp4(doc_id)


# --- mkv (Matroska / EBML) ----------------------------------------------
#
# Fixed-layout Matroska file (public spec: the Matroska element tables
# + RFC 8794 EBML): EBML header (DocType matroska), then a Segment
# holding Info (TimestampScale, per-doc), Tracks (a real video
# TrackEntry with DefaultDuration plus a decoy AUDIO entry the sampler
# must skip), then one Cluster per video frame — even frames written as
# SimpleBlock, odd frames as BlockGroup/Block + BlockDuration so the
# parser has to handle both block forms and all three duration sources
# — and a trailing audio-track cluster. All size varints are written at
# FIXED widths so every frame's byte offset stays closed-form for the
# DuckDB oracle; the parser must still read widths from the stream,
# proven by the minimal-width re-encode test.

MKV_EBML_LEN = 20  # EBML header element incl. DocType + DocTypeVersion
MKV_SEGMENT_HDR = 12  # 4-byte Segment id + 8-byte size varint
MKV_INFO_LEN = 13  # Info element incl. TimestampScale
MKV_TRACKS_LEN = 29  # Tracks incl. video (16) + decoy audio (8) entries
MKV_CLUSTERS_START = MKV_EBML_LEN + MKV_SEGMENT_HDR + MKV_INFO_LEN + MKV_TRACKS_LEN
MKV_CLUSTER_OV = 17  # cluster hdr + Timestamp + SimpleBlock overhead
MKV_BLOCKGROUP_EXTRA = 7  # extra bytes a BlockGroup frame carries
MKV_SB_DATA_SKIP = 17  # cluster start -> SimpleBlock frame data
MKV_BG_DATA_SKIP = 20  # cluster start -> BlockGroup frame data


def _ebml_vint(value: int, width: int | None = None) -> bytes:
    """EBML varint for a SIZE field: ``width`` leading bytes with the
    marker bit in the first. ``width=None`` picks the minimal encoding
    (the all-value-bits-set pattern is reserved for 'unknown size', so
    minimal width still excludes it)."""
    if width is None:
        width = 1
        while value >= (1 << (7 * width)) - 1:
            width += 1
    return ((1 << (7 * width)) | value).to_bytes(width, "big")


def _ebml_elem(eid: bytes, payload: bytes, width: int | None = None) -> bytes:
    return eid + _ebml_vint(len(payload), width) + payload


def mkv_frame_count_for(doc_id: int) -> int:
    return 1 + doc_id % 4


def mkv_frame_size_for(doc_id: int, frame_idx: int) -> int:
    """Closed-form per-frame byte size (constants distinct from mp4's
    so a parser cross-wiring the two corpora can't pass both)."""
    return 20 + (doc_id * 11 + frame_idx * 17) % 64


def mkv_delay_cs_for(doc_id: int, frame_idx: int) -> int:
    return 2 + (doc_id * 3 + frame_idx) % 7


def mkv_ticks_per_cs_for(doc_id: int) -> int:
    """Ticks per centisecond; TimestampScale = 10^7 / this (ns/tick).
    Divisors of 10 only, so planted centisecond delays are exact in
    ticks — the parser must actually read TimestampScale to convert."""
    return (10, 5, 2)[doc_id % 3]


def mkv_frame_byte_for(doc_id: int, frame_idx: int, j: int) -> int:
    return (doc_id * 5 + frame_idx * 7 + j) % 256


def mkv_frame_offset_for(doc_id: int, frame_idx: int) -> int:
    """Closed-form absolute offset of the frame's first data byte —
    the arithmetic the SQL oracle restates."""
    off = MKV_CLUSTERS_START
    for j in range(frame_idx):
        off += (
            MKV_CLUSTER_OV
            + mkv_frame_size_for(doc_id, j)
            + MKV_BLOCKGROUP_EXTRA * (j % 2)
        )
    return off + (MKV_SB_DATA_SKIP if frame_idx % 2 == 0 else MKV_BG_DATA_SKIP)


def build_mkv(doc_id: int, fixed_widths: bool = True) -> bytes:
    """Deterministic Matroska file for ``doc_id``: 1-4 video frames as
    one cluster each (even frame_idx -> SimpleBlock, odd -> BlockGroup
    with BlockDuration), cluster timestamps the prefix sums of the
    planted delays in a per-doc TimestampScale, a DefaultDuration that
    covers the last frame when it is a SimpleBlock, and a decoy
    audio-track cluster. ``fixed_widths=False`` re-encodes every size
    varint minimally — same semantic content at different offsets, used
    to prove the parser reads widths from the stream rather than
    assuming this builder's layout."""
    w1 = 1 if fixed_widths else None
    w2 = 2 if fixed_widths else None
    w8 = 8 if fixed_widths else None
    n = mkv_frame_count_for(doc_id)
    mult = mkv_ticks_per_cs_for(doc_id)
    scale = 10_000_000 // mult  # ns per tick
    delays = [mkv_delay_cs_for(doc_id, k) for k in range(n)]

    ebml = _ebml_elem(
        b"\x1a\x45\xdf\xa3",
        _ebml_elem(b"\x42\x82", b"matroska", w1)
        + _ebml_elem(b"\x42\x87", b"\x04", w1),
        w1,
    )
    info = _ebml_elem(
        b"\x15\x49\xa9\x66",
        _ebml_elem(b"\x2a\xd7\xb1", struct.pack(">I", scale), w1),
        w1,
    )
    video_entry = _ebml_elem(
        b"\xae",
        _ebml_elem(b"\xd7", b"\x01", w1)  # TrackNumber 1
        + _ebml_elem(b"\x83", b"\x01", w1)  # TrackType video
        + _ebml_elem(
            b"\x23\xe3\x83", struct.pack(">I", delays[-1] * 10_000_000), w1
        ),
        w1,
    )
    audio_entry = _ebml_elem(
        b"\xae",
        _ebml_elem(b"\xd7", b"\x02", w1) + _ebml_elem(b"\x83", b"\x02", w1),
        w1,
    )
    tracks = _ebml_elem(b"\x16\x54\xae\x6b", video_entry + audio_entry, w1)

    clusters = b""
    ts_cs = 0
    for k in range(n):
        frame = bytes(
            mkv_frame_byte_for(doc_id, k, j)
            for j in range(mkv_frame_size_for(doc_id, k))
        )
        # block payload: track varint, int16 relative timestamp, flags
        block_payload = b"\x81" + struct.pack(">h", 0) + b"\x00" + frame
        if k % 2 == 0:
            block = _ebml_elem(b"\xa3", block_payload, w2)
        else:
            block = _ebml_elem(
                b"\xa0",
                _ebml_elem(b"\xa1", block_payload, w2)
                + _ebml_elem(b"\x9b", struct.pack(">H", delays[k] * mult), w1),
                w2,
            )
        body = _ebml_elem(b"\xe7", struct.pack(">H", ts_cs * mult), w1) + block
        clusters += _ebml_elem(b"\x1f\x43\xb6\x75", body, w2)
        ts_cs += delays[k]

    audio_frame = bytes((doc_id + j * 3) % 256 for j in range(11))
    audio_cluster = _ebml_elem(
        b"\x1f\x43\xb6\x75",
        _ebml_elem(b"\xe7", struct.pack(">H", 0), w1)
        + _ebml_elem(
            b"\xa3", b"\x82" + struct.pack(">h", 0) + b"\x00" + audio_frame, w2
        ),
        w2,
    )
    segment = _ebml_elem(
        b"\x18\x53\x80\x67", info + tracks + clusters + audio_cluster, w8
    )
    return ebml + segment


def mkv_payload_for(doc_id: int) -> bytes:
    return build_mkv(doc_id)


def image_meta_for(doc_id: int) -> tuple[str, int, int]:
    """Closed-form (format, width, height) per doc_id — the synthesis
    parameters the decoder must recover, restated by the SQL oracle."""
    fmt = ("png", "jpeg", "gif")[doc_id % 3]
    width = 64 + (doc_id * 7) % 1024
    height = 64 + (doc_id * 11) % 1024
    return fmt, width, height


def image_payload_for(doc_id: int) -> bytes:
    fmt, width, height = image_meta_for(doc_id)
    return _IMAGE_BUILDERS[fmt](width, height)


# --- materialized synthetic corpora ------------------------------------
#
# Input synthesis must not sit inside measured queries (it dominated the
# mixed-media bench entry): ``_materialize`` writes each deterministic
# corpus ONCE to _CACHE_ROOT/<basename(sf_dir)>/<_synth_version()>/<name>
# (built at a per-process tmp path, then renamed; concurrent builders
# race harmlessly) and the queries just scan it — the shape a real
# pipeline has, where the input table already exists. Every
# (doc_id, payload) media corpus is one ``payload_corpus`` call, named
# after its ``*_payload_for`` builder.
#
# Each parquet cache has one schema constant that its writer and its
# reader both use, so a query that scans a cache launches no
# footer-reading schema-discovery job. This is exact: the cache path is
# keyed on ``_synth_version()``, the hash of this file, so editing a
# constant moves every cache and a reader never meets a file written
# under another schema; and parquet columns resolve by name.

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

MIXED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".synthcache",
)


def _synth_version() -> str:
    """Content hash of THIS module — the cache key component that makes
    any edit to a payload builder invalidate every materialized corpus
    automatically (a stale cache would silently diverge from the
    closed-form oracles)."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.md5(f.read()).hexdigest()[:10]


def _materialize(scope: str, name: str, write) -> str:
    """Path of the cached corpus ``name`` under ``scope`` (an sf_dir,
    keyed by its basename); on a miss ``write(tmp)``
    builds it at a tmp path that is then renamed into place, and the
    caches of every other ``_synth_version()`` under the scope are
    removed (no reader can meet them again)."""
    version = _synth_version()
    scope_dir = os.path.join(_CACHE_ROOT, os.path.basename(scope.rstrip("/")))
    path = os.path.join(scope_dir, version, name)
    if os.path.isdir(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    write(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # concurrent builder won
    for entry in os.listdir(scope_dir):
        if entry != version:
            shutil.rmtree(os.path.join(scope_dir, entry), ignore_errors=True)
    return path


def payload_corpus(spark, sf_dir, payload_for) -> DataFrame:
    """(doc_id, payload binary) rows, ``payload_for(doc_id)`` for each
    document at ``sf_dir``, scanned from a parquet cached under
    ``payload_for.__name__``.

    The cache is written and read with ``PAYLOAD_SCHEMA``, so the scan
    skips schema inference and building a query over it launches no
    Spark job. Skipping is exact: the cache path moves with any edit to
    this file (``_synth_version``), the constant included, so the file
    read was written with this schema, and parquet resolves columns by
    name."""
    import pandas as pd

    def gen(batches):
        for b in batches:
            ids = [int(i) for i in b["doc_id"]]
            yield pd.DataFrame({"doc_id": ids, "payload": [payload_for(i) for i in ids]})

    def write(tmp):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        payloads = docs.mapInPandas(gen, schema=PAYLOAD_SCHEMA)
        payloads.write.mode("overwrite").parquet(tmp)

    path = _materialize(sf_dir, payload_for.__name__, write)
    return spark.read.schema(PAYLOAD_SCHEMA).parquet(path)


def materialize_warc(spark, sf_dir, n_files=8) -> str:
    """Render the documents (in their page shells) as ``n_files``
    uncompressed WARC/1.0 archives under the cache dir; returns the
    directory. Each doc_id-bucket group writes one file from its worker
    (local mode shares the filesystem; on a cluster this writer targets
    shared storage — real crawls already exist at rest, this is input
    fixture materialization)."""
    import pandas as pd
    from pyspark.sql import functions as F

    def write(tmp):
        os.makedirs(tmp, exist_ok=True)

        def write_group(key, pdf):
            from nreadability_spark.sources.warc import build_warc

            (bucket,) = key
            pdf = pdf.sort_values("doc_id")
            records = [
                (
                    f"http://synth.example/doc/{int(d)}",
                    doc_page_shell(int(d), t),
                    f"doc-{int(d)}",
                )
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ]
            # every other file in the at-rest gzip-member form: the reader
            # must handle both transparently (real crawls are .warc.gz)
            gz = int(bucket) % 2 == 1
            ext = "warc.gz" if gz else "warc"
            with open(os.path.join(tmp, f"part-{int(bucket):03d}.{ext}"), "wb") as f:
                f.write(build_warc(records, compress=gz))
            return pd.DataFrame({"bucket": [int(bucket)]})

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        (
            docs.withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(n_files)))
            .groupBy("bucket")
            .applyInPandas(write_group, "bucket long")
            .collect()
        )

    return _materialize(sf_dir, "warc", write)


def doc_page_shell(doc_id, text) -> str:
    """The deterministic web-page shell around a document's text —
    pure-Python twin of ``__spark_entry__._page_shell``'s F.concat
    (byte-for-byte; the golden generator imports this one)."""
    return (
        f"<html><head><title>Document {doc_id} | Synth Corpus</title></head><body>"
        '<div id="header"><a href="/">Home</a> <a href="/about">About</a></div>'
        f'<div class="content"><p>{text}</p></div>'
        '<div class="sidebar"><ul><li><a href="#">Related</a></li>'
        '</ul></div><div id="footer">copyright</div></body></html>'
    )


def mixed_payload_for(doc_id: int, text: str) -> tuple[str, str]:
    """(kind, payload): even doc_ids render as web pages, odd as
    synthetic PDFs (every 4th Flate-compressed) — the content-type
    dispatch corpus, shared by the Spark materializer and the golden
    generator."""
    if doc_id % 2 == 0:
        return "html", doc_page_shell(doc_id, text)
    return "pdf", build_pdf(
        f"Document {doc_id} | Synth Corpus",
        pdf_paragraphs(text),
        compress_streams=(doc_id % 4 == 3),
    )


def mixed_corpus(spark, sf_dir) -> DataFrame:
    """(doc_id, kind, text) mixed html/pdf corpus, ``mixed_payload_for``
    of each document at ``sf_dir``, scanned from a cached parquet.

    Written and read with ``MIXED_SCHEMA``, so the scan launches no
    schema-discovery job; exact for the same reason as in
    ``payload_corpus``."""
    import pandas as pd

    def gen(batches):
        for b in batches:
            rows = [
                (int(i), *mixed_payload_for(int(i), t))
                for i, t in zip(b["doc_id"], b["text"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "text"])

    def write(tmp):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        mixed = docs.mapInPandas(gen, schema=MIXED_SCHEMA)
        mixed.write.mode("overwrite").parquet(tmp)

    return spark.read.schema(MIXED_SCHEMA).parquet(_materialize(sf_dir, "mixed.parquet", write))


def _turn_count(conv_idx, long_every=97, short_min=2, short_max=12, long_factor=50):
    if long_every and conv_idx % long_every == 0:
        return short_max * long_factor  # skewed long conversation
    return short_min + _det_int(conv_idx, 0, "len") % (short_max - short_min + 1)


def payload_for(conv_idx, turn_idx, fixtures):
    """Deterministic payload class selection (FIXTURES.md §4)."""
    k = (conv_idx + turn_idx) % 12
    if k == 0 and fixtures:
        return fixtures[(conv_idx + turn_idx) % len(fixtures)]
    if k in (1, 2, 3):
        return _article_page(conv_idx, turn_idx)
    if k in (4, 5):
        return _micro_payload(conv_idx, turn_idx)
    if k == 6:
        return ""  # negative row: empty text
    if k == 7:
        return None  # negative row: null text
    if k == 8:
        return _article_page(conv_idx, turn_idx) + "<script>junk()</script>"  # after </html>
    return _chat_text(conv_idx, turn_idx)


def generate_conversation(conv_idx, fixtures, long_every=97):
    """All rows of one conversation, as plain tuples."""
    rows = []
    conv_id = f"conv{conv_idx:08d}"
    for turn_idx in range(_turn_count(conv_idx, long_every=long_every)):
        role = _ROLES[turn_idx % 3]
        rows.append(
            (
                conv_id,
                turn_idx,
                role,
                payload_for(conv_idx, turn_idx, fixtures),
                f"tool_{turn_idx % 5}" if role == "tool" else None,
                _BASE_TS + datetime.timedelta(seconds=conv_idx * 60 + turn_idx),
            )
        )
    return rows


def transcripts_df(spark, n_convs, long_every=97, num_partitions=None, fixtures=()):
    """Distributed deterministic transcripts DataFrame.

    ``spark.range(n_convs)`` -> ``mapInPandas`` keeps generation parallel
    and memory-bounded (one conversation at a time per iterator step).
    ``fixtures`` is the page set of the fixture payload class (e.g.
    ``load_fixture_payloads()``); the default, none, keeps the corpus
    the same on every machine.
    """
    import pandas as pd  # local import: keep module importable w/o pandas

    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        columns = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        for batch in batches:
            for conv_idx in batch["id"]:
                rows = generate_conversation(int(conv_idx), fixtures, long_every=long_every)
                yield pd.DataFrame(rows, columns=columns)

    return (
        spark.range(0, n_convs, numPartitions=num_partitions)
        .mapInPandas(gen, schema=TRANSCRIPTS_SCHEMA)
    )
