"""Operator-level tests: behavioral properties of the dedup /
similarity / text analysis / multimodal / relational queries that an
oracle can't express, and oracle parity on planted inputs. Every
registry query is compared with its DuckDB oracle at sf0.001 by the
registry walk in ``tests/test_registry_plans.py``.
"""

import duckdb
import pytest

from tools import check_oracles

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def duck():
    with check_oracles.duck(SF_DIR) as con:
        yield con


# --- behavioral properties ---------------------------------------------

def test_lsh_recalls_all_jaccard_pairs(spark):
    """Every pair found by the exact n-gram Jaccard scan must also be
    found by MinHash+LSH at the same threshold (banding recall)."""
    from nreadability_spark.operators import dedup

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert exact, "fixture corpus should contain near-duplicate pairs"
    missing = exact - lsh
    assert not missing, f"LSH missed {len(missing)} of {len(exact)} exact pairs"


def test_simhash_pairs_have_low_hamming(spark):
    from nreadability_spark.operators import dedup

    rows = dedup.simhash_pairs(spark, SF_DIR).collect()
    assert all(0 <= r["hamming"] <= dedup.SIMHASH_MAX_DIST for r in rows)


def test_exact_dedup_covers_all_docs(spark):
    from nreadability_spark.operators import dedup

    groups = dedup.exact_dedup_groups(spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r["n_docs"] for r in groups) == n_docs


def test_knn_self_excluded_and_ranked(spark):
    from nreadability_spark.operators import similarity

    rows = similarity.knn_brute_force(spark, SF_DIR).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["vec_id"] != similarity.QUERY_VEC_ID for r in rows)
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_ivf_is_subset_of_brute_force_space(spark):
    """IVF results must be genuine vectors with correct cosine values:
    every IVF hit appears in the brute-force ranking with the same
    cosine (IVF may *miss* neighbors, never invent them)."""
    from nreadability_spark.operators import similarity

    brute = {
        r["vec_id"]: r["cos_sim"]
        for r in similarity.knn_brute_force(spark, SF_DIR, k=10**6).collect()
    }
    for r in similarity.knn_ivf(spark, SF_DIR).collect():
        assert r["vec_id"] in brute
        assert abs(brute[r["vec_id"]] - r["cos_sim"]) < 1e-9


def test_residual_pq_strictly_improves_reconstruction(spark):
    """The reason IVFADC encodes residuals (Jegou et al. 2011 §III):
    subtracting the coarse centroid removes the cell-mean energy, so
    the same M x K codebook budget quantizes residuals with strictly
    lower total reconstruction error than raw vectors — the quantity
    that bounds the ADC distance-estimate error. Asserted on the real
    fitted codebooks, not a toy."""
    from pyspark.sql import functions as F

    from nreadability_spark.operators import similarity as sim

    emb = sim.load_embeddings(spark, SF_DIR).select(
        "vec_id", sim._dvec(F.col("embedding")).alias("e")
    )
    raw_book = sim.fit_pq_codebook(emb)
    raw_err = (
        sim._pq_assign(sim._subvectors(emb), raw_book)
        .agg(F.sum("d"))
        .collect()[0][0]
    )
    coarse = sim.fit_centroids(emb)
    res = sim._residual_vectors(emb, coarse).select("vec_id", "e")
    res_book = sim.fit_pq_codebook(res)
    res_err = (
        sim._pq_assign(sim._subvectors(res), res_book)
        .agg(F.sum("d"))
        .collect()[0][0]
    )
    assert res_err < raw_err


def test_multimodal_sample_decode_is_gated(spark):
    """PCM and IMA ADPCM decode for real; perceptual-codec payloads
    stay gated at the exact call site a real cluster would run the
    media libraries."""
    from nreadability_spark.operators import multimodal
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(2)
    payloads = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    df = multimodal.decode_samples(payloads)
    with pytest.raises(Exception, match="NotImplementedError|sample decode"):
        df.collect()


def test_multimodal_pcm_decode_is_real():
    """The PCM decoder must recover the exact planted int16 samples —
    including layouts the synthesis formula never produces — and
    return None (the gate signal) for non-PCM bytes."""
    from nreadability_spark.operators.multimodal import decode_pcm_samples
    from nreadability_spark.sources import synth

    payload = synth.build_wav(44100, 2, 5, seed=123)
    want = [synth.wav_sample_value(123, j) for j in range(10)]
    assert decode_pcm_samples(payload) == want
    assert decode_pcm_samples(b"ID3\x04compressed mp3 frame") is None
    assert decode_pcm_samples(b"RIFF\x00\x00\x00\x00WAVEjunk") is None


def test_adpcm_decode_planted_corpus_closed_form():
    """The IMA ADPCM decoder must recover the exact sample sequence
    the all-zero-nibble corpus plants — per block, the header
    predictor followed by prefix sums of STEP[max(i0-t, 0)] >> 3 —
    which is what the SQL oracle restates with an unrolled step
    table."""
    from nreadability_spark.operators.multimodal import (
        _IMA_STEPS,
        decode_ima_adpcm_samples,
    )
    from nreadability_spark.sources import synth

    for d in range(12):
        _sr, n_blocks, nb, _spb = synth.adpcm_meta_for(d)
        want = []
        for b in range(n_blocks):
            p0, i0 = synth.adpcm_block_header_for(d, b)
            want.append(p0)
            pred, idx = p0, i0
            for _ in range(2 * nb):
                pred += _IMA_STEPS[idx] >> 3
                idx = max(0, idx - 1)
                want.append(pred)
        assert decode_ima_adpcm_samples(synth.build_adpcm_wav(d)) == want
    assert decode_ima_adpcm_samples(b"ID3\x04mp3 frame") is None
    assert decode_ima_adpcm_samples(b"RIFF\x00\x00\x00\x00WAVEjunk") is None


def test_adpcm_decode_vs_independent_implementation():
    """General nibbles (magnitude bits, sign bit, both index clamps,
    the int16 predictor clamp): the operator decoder must agree with
    an independent decoder written directly from the IMA spec
    pseudocode — the same dual-proof pattern as the JPEG independent
    IDCT. Nibble streams are deterministic pseudo-random plus planted
    extremes that force every clamp."""
    import struct

    from nreadability_spark.operators.multimodal import (
        _IMA_STEPS,
        decode_ima_adpcm_samples,
    )

    index_tab = (-1, -1, -1, -1, 2, 4, 6, 8)

    def reference_decode(pred, idx, nibbles):
        # straight from the IMA recommended-practices pseudocode:
        # reconstruct via (2*magnitude+1) * step / 8 computed with
        # shifts, which is the same arithmetic expressed differently
        out = [pred]
        for nib in nibbles:
            step = _IMA_STEPS[idx]
            delta = nib & 7
            vpdiff = step >> 3
            if delta & 4:
                vpdiff += step
            if delta & 2:
                vpdiff += step >> 1
            if delta & 1:
                vpdiff += step >> 2
            pred = pred - vpdiff if nib & 8 else pred + vpdiff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + index_tab[delta]))
            out.append(pred)
        return out

    def wav_for(blocks, nb):
        body = b""
        for pred, idx, nibbles in blocks:
            packed = bytes(
                (nibbles[2 * j] & 0x0F) | ((nibbles[2 * j + 1] & 0x0F) << 4)
                for j in range(nb)
            )
            body += struct.pack("<hBB", pred, idx, 0) + packed
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, 8000, 4000, 4 + nb, 4, 2, 1 + 2 * nb
        )
        chunks = (
            b"fmt " + struct.pack("<I", 20) + fmt
            + b"data" + struct.pack("<I", len(body)) + body
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    nb = 24
    # deterministic pseudo-random nibbles, plus extremes: all-max
    # positive from a high index (hits the +32767 clamp and the index
    # floor), all-max negative from a low index (hits -32768 and the
    # index ceiling)
    rnd = [((k * 2654435761) >> 7) & 0x0F for k in range(2 * nb)]
    blocks = [
        (-300, 17, rnd),
        (30000, 80, [7] * (2 * nb)),
        (-30000, 2, [15] * (2 * nb)),
        (0, 88, [(k * 11 + 3) & 0x0F for k in range(2 * nb)]),
    ]
    got = decode_ima_adpcm_samples(wav_for(blocks, nb))
    want = []
    for pred, idx, nibbles in blocks:
        want.extend(reference_decode(pred, idx, nibbles))
    assert got == want
    # sanity: the extremes really exercised the clamps
    assert max(want) == 32767 and min(want) == -32768


def test_sft_spans_slice_the_rendered_conversation(spark):
    """The emitted [span_start, span_end) offsets must actually index
    the assistant PAYLOAD inside the rendered example — verified by
    re-rendering each conversation independently in plain Python
    (sorted turns, '<|role|>' + text + '<|end|>' concatenation) and
    slicing: every span recovers exactly its turn's text, never a
    header or end marker."""
    from nreadability_spark.operators.textops import SFT_END, SFT_ROLES, sft_spans

    rows = sft_spans(spark, SF_DIR).collect()
    assert rows
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, event_id, ts, event_type, COALESCE(props, '') "
        f"FROM '{SF_DIR}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    rendered: dict[int, str] = {}
    payload: dict[tuple[int, int], str] = {}
    for user_id, event_id, _ts, etype, props in ev:
        role = SFT_ROLES[event_id % 3]
        text = f"{etype}:{props}"
        payload[(user_id, event_id)] = text
        rendered[user_id] = rendered.get(user_id, "") + f"<|{role}|>{text}{SFT_END}"
    for r in rows:
        conv = rendered[r.conv_id]
        assert len(conv) == r.conv_len
        assert conv[r.span_start : r.span_end] == payload[(r.conv_id, r.turn_id)]
        # the span boundaries sit exactly between the markers
        assert conv[r.span_start - 2 : r.span_start] == "|>"
        assert conv[r.span_end : r.span_end + len(SFT_END)] == SFT_END


def test_mp3_frame_walk_is_real():
    """The mp3 walker must compute every frame boundary from the spec
    length arithmetic over the actual header bits — builder roundtrip
    across samplerates/bitrate-index schedules/padding parities with
    the ID3v2 syncsafe skip, a hand-built stream the doc-keyed builder
    never produces, and totality on garbage and truncation."""
    from nreadability_spark.operators.multimodal import mp3_frame_info
    from nreadability_spark.sources import synth

    for d in (0, 1, 2, 3, 5, 9, 14):
        b = synth.build_mp3(d)
        got = mp3_frame_info(b)
        n, sr_idx, tag = synth.mp3_meta_for(d)
        sr = synth.MP3_RATES[sr_idx]
        off = 10 + tag
        assert len(got) == n
        for k in range(n):
            flen = synth.mp3_frame_len_for(d, k)
            kbps = synth.MP3_BITRATES[synth.mp3_bitrate_idx_for(d, k)]
            assert got[k] == (k, off, flen, kbps, 1152 * 1_000_000 // sr)
            off += flen

    # no ID3 tag, one 48000 Hz 64 kbps padded frame then trailing junk:
    # 144000*64//48000 + 1 = 193 bytes, walk stops at the junk
    hdr = bytes([0xFF, 0xFB, (5 << 4) | (1 << 2) | 2, 0x40])
    stream = hdr + bytes(189) + b"\x00garbage"
    assert mp3_frame_info(stream) == [(0, 0, 193, 64, 24000)]

    g = synth.build_mp3(7)
    for junk in (b"", b"ID3", b"\x00" * 50, b"\xff\xfb"):
        assert mp3_frame_info(junk) == []
    # truncation mid-frame yields the intact prefix
    whole = mp3_frame_info(g)
    assert mp3_frame_info(g[:-3]) == whole[:-1]


# sha256 of each law's 256 decoded samples (bytes 0..255 in order,
# int16 little-endian) as stdlib ``audioop.ulaw2lin`` / ``alaw2lin``
# produce them on CPython 3.11; pinned here so the check still holds on
# Python >= 3.13, where ``audioop`` is gone
_G711_REFERENCE_SHA256 = {
    "ulaw": "3dab54339e520bb2c924826e3b72a917a2b612e9fd12fc867500f1d983a75827",
    "alaw": "e04788d110e58ff8c70c93b8480190d973e3b67876b6119abbaec766cc75c174",
}


def test_g711_tables_match_independent_implementation():
    """Both G.711 decode tables must match an independent reference
    implementation (stdlib ``audioop``) on all 256 bytes of each law —
    through the embedded digests of its output, and against the module
    itself where it still exists — and the decoder must recover the
    planted corpus bytes through the right law per document."""
    import hashlib
    import struct
    import warnings

    from nreadability_spark.operators.multimodal import (
        _ALAW_TABLE,
        _ULAW_TABLE,
        decode_g711_samples,
    )
    from nreadability_spark.sources import synth

    tables = {"ulaw": _ULAW_TABLE, "alaw": _ALAW_TABLE}
    pcm = {law: struct.pack("<256h", *[t[b] for b in range(256)]) for law, t in tables.items()}
    for law, digest in _G711_REFERENCE_SHA256.items():
        assert hashlib.sha256(pcm[law]).hexdigest() == digest, law
    # readable anchors of the same tables (ITU-T G.711 end points)
    assert (_ULAW_TABLE[0x00], _ULAW_TABLE[0x7F], _ULAW_TABLE[0xFF]) == (-32124, 0, 0)
    assert (_ALAW_TABLE[0x55], _ALAW_TABLE[0xD5], _ALAW_TABLE[0x2A]) == (-8, 8, -32256)

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        try:
            import audioop
        except ImportError:
            audioop = None
    if audioop is not None:
        assert pcm["ulaw"] == audioop.ulaw2lin(bytes(range(256)), 2)
        assert pcm["alaw"] == audioop.alaw2lin(bytes(range(256)), 2)

    for d in range(8):
        tag, n = synth.g711_meta_for(d)
        table = _ULAW_TABLE if tag == 7 else _ALAW_TABLE
        assert decode_g711_samples(synth.build_g711_wav(d)) == [
            table[synth.g711_byte_for(d, j)] for j in range(n)
        ]
    assert decode_g711_samples(b"ID3\x04mp3 frame") is None
    # PCM (tag 1) payloads are not G.711's to decode
    assert decode_g711_samples(synth.build_wav(8000, 1, 4, seed=1)) is None


def test_image_header_decode_is_real():
    """The decoder must parse dimensions from actual bytes — including
    payloads with parameters the synthesis formula never produces — and
    be total on garbage."""
    from nreadability_spark.operators.multimodal import decode_image_meta
    from nreadability_spark.sources import synth

    assert decode_image_meta(synth.build_png(12345, 999)) == ("png", 12345, 999)
    assert decode_image_meta(synth.build_jpeg(2047, 13)) == ("jpeg", 2047, 13)
    assert decode_image_meta(synth.build_gif(1, 65535)) == ("gif", 1, 65535)
    for junk in (b"", b"\x89PNG\r\n\x1a\n short", b"GIF89a", b"\xff\xd8\xff\xd9",
                 b"plain text bytes", b"\x00" * 64):
        fmt, w, h = decode_image_meta(junk)
        assert fmt == "unknown" and w is None and h is None


def test_png_pixel_decode_handles_all_filter_types():
    """The RGB decoder must reconstruct bitmaps from an INDEPENDENT
    encoder using every PNG filter type (Sub/Up/Average/Paeth), not
    just the filter-0 rows our synthesizer emits — and be total on
    garbage and on declared-but-unsupported layouts."""
    import struct
    import zlib

    import numpy as np

    from nreadability_spark.operators.multimodal import decode_png_rgb8

    px = ((np.arange(4 * 3 * 3).reshape(3, 4, 3) * 7) % 256).astype(np.uint8)
    lines = [px[y].tobytes() for y in range(3)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    def enc(ftype, line, prev):
        out = bytearray()
        for x in range(len(line)):
            left = line[x - 3] if x >= 3 else 0
            ul = prev[x - 3] if x >= 3 else 0
            pred = {
                1: left,
                2: prev[x],
                3: (left + prev[x]) >> 1,
                4: paeth(left, prev[x], ul),
            }[ftype]
            out.append((line[x] - pred) & 0xFF)
        return bytes([ftype]) + bytes(out)

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b)
        )

    zero = bytes(12)
    raw = (
        enc(1, lines[0], zero)
        + enc(2, lines[1], lines[0])
        + enc(4, lines[2], lines[1])
    )
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, rows = decode_png_rgb8(data)
    assert (w, h) == (4, 3) and rows == lines
    # average filter variant
    raw2 = bytes([0]) + lines[0] + enc(3, lines[1], lines[0]) + enc(
        2, lines[2], lines[1]
    )
    data2 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw2))
        + chunk(b"IEND", b"")
    )
    assert decode_png_rgb8(data2)[2] == lines
    # totality + documented-subset gating
    assert decode_png_rgb8(b"") is None
    assert decode_png_rgb8(b"\x89PNG\r\n\x1a\n junk") is None
    gray = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)  # color type 0
    assert decode_png_rgb8(
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", gray)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    ) is None


def test_jpeg_decode_dc_only_is_exact():
    """The planted DC-only corpus must reconstruct losslessly: the
    IDCT of a lone DC coefficient is flat, 16*dcq/8 + 128 exactly."""
    import numpy as np

    from nreadability_spark.operators.multimodal import decode_jpeg_gray
    from nreadability_spark.sources import synth

    for d in (0, 1, 7, 19, 123, 4096):
        w, h = synth.jpeg_gray_dims_for(d)
        out = decode_jpeg_gray(synth.jpeg_gray_payload_for(d))
        assert out is not None
        got_w, got_h, px = out
        assert (got_w, got_h) == (w, h)
        exp = np.array(
            [[synth.jpeg_gray_pixel_for(d, x, y) for x in range(w)] for y in range(h)],
            dtype=np.uint8,
        )
        assert (px == exp).all()


def test_jpeg_decode_ac_and_restarts_vs_independent_idct():
    """The decoder must be GENERAL baseline JPEG, not just the DC-only
    synthesis: encode blocks with sparse AC energy (exercising ZRL,
    EOB, run-length gaps and byte stuffing) and with restart markers,
    and compare every reconstructed block against an independent
    quadruple-loop IDCT written from the T.81 formula."""
    import numpy as np

    from nreadability_spark.operators.multimodal import decode_jpeg_gray
    from nreadability_spark.sources import synth

    def ref_idct(block):
        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / np.sqrt(2) if u == 0 else 1.0
                        cv = 1 / np.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * block[u, v]
                            * np.cos((2 * y + 1) * u * np.pi / 16)
                            * np.cos((2 * x + 1) * v * np.pi / 16)
                        )
                out[y, x] = s / 4
        return out

    zig = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]),
    )

    def ac_fn(bx, by):
        return {
            k: ((bx * 7 + by * 3 + k) % 9) - 4
            for k in range(1, 64)
            if (bx * 31 + by * 17 + k * 13) % 11 == 0
        }

    def dc_fn(bx, by):
        return ((bx * 5 + by * 11) % 64) - 32

    w, h = 24, 16
    data = synth.build_jpeg_gray(w, h, dc_fn, ac_fn)
    out = decode_jpeg_gray(data)
    assert out is not None
    _, _, px = out
    for by in range(h // 8):
        for bx in range(w // 8):
            coefs = np.zeros((8, 8))
            zz = np.zeros(64)
            zz[0] = dc_fn(bx, by) * synth.JPEG_QUANT
            for k, c in ac_fn(bx, by).items():
                zz[k] = c * synth.JPEG_QUANT
            for k, (r, c) in enumerate(zig):
                coefs[r, c] = zz[k]
            exp = np.clip(np.rint(ref_idct(coefs) + 128), 0, 255).astype(np.uint8)
            assert (px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == exp).all()

    # restart markers: DRI + RSTn cycling must reproduce the same image
    data_r = synth.build_jpeg_gray(w, h, dc_fn, ac_fn, restart_interval=2)
    assert len(data_r) != len(data)  # markers actually present
    out_r = decode_jpeg_gray(data_r)
    assert out_r is not None and (out_r[2] == px).all()


def test_jpeg_decode_rejects_out_of_subset():
    from nreadability_spark.operators.multimodal import decode_jpeg_gray
    from nreadability_spark.sources import synth

    assert decode_jpeg_gray(b"") is None
    assert decode_jpeg_gray(b"\xff\xd8 junk") is None
    # header-only JFIF synthesis (no DHT/SOS) is metadata-grade, not decodable
    assert decode_jpeg_gray(synth.build_jpeg(100, 50)) is None
    # PNG bytes are not a JPEG
    assert decode_jpeg_gray(synth.build_png(8, 8)) is None


def test_jpeg_decode_caps_declared_dimensions():
    """A hand-built baseline JPEG whose SOF0 declares 65535x65535 must
    return None before allocating the 4 GiB frame; the same stream
    declaring 8x8 decodes, so the cap is what rejects it."""
    import struct
    import tracemalloc

    from nreadability_spark.operators.multimodal import decode_jpeg_gray

    def jpeg(w, h):
        def seg(marker, body):
            return b"\xff" + bytes([marker]) + struct.pack(">H", 2 + len(body)) + body

        one_code = bytes([1]) + bytes(15) + b"\x00"  # a single 1-bit code -> symbol 0
        return (
            b"\xff\xd8"
            + seg(0xDB, b"\x00" + bytes([1]) * 64)
            + seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
            + seg(0xC4, b"\x00" + one_code + b"\x10" + one_code)
            + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
            + b"\x3f"  # DC diff 0, AC EOB, pad bits
            + b"\xff\xd9"
        )

    small = decode_jpeg_gray(jpeg(8, 8))
    assert small is not None
    assert (small[0], small[1]) == (8, 8) and (small[2] == 128).all()

    tracemalloc.start()
    try:
        assert decode_jpeg_gray(jpeg(65535, 65535)) is None
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 24


def test_png_decode_bounds_inflate():
    """A 1x1 PNG whose IDAT inflates to 64 MiB of zeros must return
    None after inflating one byte past its declared size, and the same
    IDAT under a 65535x65535 IHDR (above the pixel budget) without
    inflating at all; a 1x1 PNG with a 1x1 IDAT decodes."""
    import struct
    import tracemalloc
    import zlib

    from nreadability_spark.operators.multimodal import decode_png_rgb8

    def png(w, h, idat):
        def chunk(t, b):
            return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b))

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )

    assert decode_png_rgb8(png(1, 1, zlib.compress(b"\x00\x01\x02\x03"))) == (
        1, 1, [b"\x01\x02\x03"],
    )
    deflater = zlib.compressobj(9)
    bomb = b"".join(deflater.compress(bytes(1 << 20)) for _ in range(64)) + deflater.flush()
    assert len(bomb) < 1 << 17

    tracemalloc.start()
    try:
        assert decode_png_rgb8(png(1, 1, bomb)) is None
        assert decode_png_rgb8(png(65535, 65535, bomb)) is None
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 22


def test_gif_lzw_decode_roundtrips_independent_encoder():
    """The LZW decoder must be GENERAL — reconstruct arbitrary pixel
    sequences written by an independent spec-following encoder (code
    growth mirrored), not just the single-pixel streams the
    synthesizer emits — and be total on junk."""
    import random

    from nreadability_spark.operators.multimodal import lzw_decode

    def lzw_encode(mcs, seq):
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        table = {(i,): i for i in range(clear)}
        next_code = eoi + 1
        codes = [clear]
        w = (seq[0],)
        for px in seq[1:]:
            if w + (px,) in table:
                w = w + (px,)
            else:
                codes.append(table[w])
                if next_code < 4096:
                    table[w + (px,)] = next_code
                    next_code += 1
                w = (px,)
        codes.append(table[w])
        codes.append(eoi)
        out = bytearray()
        acc = nbits = 0
        width = mcs + 1
        n_table = eoi + 1
        prev = None
        for c in codes:
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
            if c == clear:
                n_table, width, prev = eoi + 1, mcs + 1, None
            elif c != eoi:
                if prev is not None and n_table < 4096:
                    n_table += 1
                    if n_table == (1 << width) and width < 12:
                        width += 1
                prev = c
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    rnd = random.Random(7)
    for _ in range(40):
        mcs = rnd.choice([2, 3, 4])
        seq = [rnd.randrange(1 << mcs) for _ in range(rnd.randrange(1, 200))]
        assert lzw_decode(mcs, lzw_encode(mcs, seq)) == seq
    # totality on junk (None or a truncated-but-valid prefix, no raise)
    for junk in (b"", b"\xff" * 8, b"\x00\x01\x02"):
        lzw_decode(2, junk)


def test_gif_lzw_rejects_min_code_size_outside_spec():
    """The LZW minimum code size is a byte from the file; the GIF spec
    allows 2-8. A larger one must return None before the initial table
    (one entry per color, 2**24 for a size of 24) is built."""
    from nreadability_spark.operators.multimodal import (
        gif_frame_info,
        gif_frame_pixels,
        lzw_decode,
    )
    from nreadability_spark.sources import synth

    # clear code, then EOI, at the 10-bit width a min code size of 9 uses
    assert lzw_decode(9, bytes([0x00, 0x06, 0x08])) is None
    assert lzw_decode(1, b"\x00") is None

    gif = bytearray(synth.gif_payload_for(4))
    decoded = gif_frame_pixels(bytes(gif))
    assert decoded
    for _frame_idx, off, _delay in gif_frame_info(bytes(gif)):
        assert not gif[off + 9] & 0x80  # no local color table: the LZW byte follows
        gif[off + 10] = 24
    assert gif_frame_pixels(bytes(gif)) == []


def test_lang_id_predicts_only_known_labels(spark):
    from nreadability_spark.operators import textops

    rows = textops.lang_id(spark, SF_DIR).collect()
    allowed = set(textops.LANG_ORDER) | {"unknown"}
    assert all(r["pred_lang"] in allowed for r in rows)


def test_span_dedup_planted_spans(spark):
    """Planted shared runs: coverage is the UNION of overlapping
    duplicated 8-grams, touching runs merge into one span, disjoint
    runs stay two."""
    from nreadability_spark.operators.textops import span_dedup_frame

    run1 = " ".join(f"s{i}" for i in range(10))
    run2 = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            # A: run1 at token positions 10..19 of 30
            (0, " ".join(f"a{i}" for i in range(10)) + " " + run1 + " "
             + " ".join(f"a{i}" for i in range(10, 20))),
            # B: both runs, adjacent (positions 5..14 and 15..24 of 30)
            (1, " ".join(f"b{i}" for i in range(5)) + " " + run1 + " " + run2
             + " " + " ".join(f"b{i}" for i in range(5, 10))),
            # C: both runs, separated by 10 unique tokens -> two spans
            (2, run1 + " " + " ".join(f"c{i}" for i in range(10)) + " " + run2),
            # D: no duplicated content
            (3, " ".join(f"d{i}" for i in range(30))),
        ],
        "doc_id: long, text: string",
    )
    rows = {r["doc_id"]: r for r in span_dedup_frame(docs, n=8).collect()}
    assert (rows[0]["dup_tokens"], rows[0]["n_dup_spans"]) == (10, 1)
    # touching runs merge: 20 covered tokens, ONE span
    assert (rows[1]["dup_tokens"], rows[1]["n_dup_spans"]) == (20, 1)
    assert (rows[2]["dup_tokens"], rows[2]["n_dup_spans"]) == (20, 2)
    assert (rows[3]["dup_tokens"], rows[3]["n_dup_spans"]) == (0, 0)
    assert rows[3]["dup_frac"] == 0.0 and rows[0]["n_tokens"] == 30


@pytest.mark.parametrize("seed", [7, 19, 43])
def test_span_dedup_matches_bruteforce_on_random_corpora(spark, seed):
    """Randomized cross-check against an independent O(n^2) in-memory
    reference: tiny alphabet so cross-document n-gram collisions are
    dense, exercising overlap merges and touching spans."""
    import random

    from nreadability_spark.operators.textops import span_dedup_frame

    rng = random.Random(seed)
    n = 3
    docs = [
        (d, " ".join(rng.choice("a b c d".split()) for _ in range(rng.randint(0, 14))))
        for d in range(8)
    ]
    toks = {d: t.split() for d, t in docs}
    grams: dict = {}
    for d, tk in toks.items():
        for i in range(len(tk) - n + 1):
            grams.setdefault(tuple(tk[i : i + n]), set()).add(d)
    expected = {}
    for d, tk in toks.items():
        covered: set = set()
        for i in range(len(tk) - n + 1):
            if grams[tuple(tk[i : i + n])] - {d}:
                covered.update(range(i, i + n))
        spans, prev = 0, None
        for c in sorted(covered):
            spans += prev is None or c > prev + 1
            prev = c
        expected[d] = (len(tk), len(covered), spans)
    sdf = span_dedup_frame(
        spark.createDataFrame(docs, "doc_id: long, text: string"), n=n
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_dup_spans"])
        for r in sdf.collect()
    }
    # empty docs tokenize to [] and surface with n_tokens=0
    for d, tk in toks.items():
        if not tk:
            expected[d] = (0, 0, 0)
    assert got == expected


def test_quality_classifier_learns_planted_signal(spark):
    """Full-batch GD must separate the planted prose/spam tails far
    above the 2/3 base rate (measured 100% at sf0.001/0.01)."""
    from nreadability_spark.operators.classifier import quality_classifier_apply

    rows = quality_classifier_apply(spark, SF_DIR).collect()
    acc = sum(r["pred"] == r["y"] for r in rows) / len(rows)
    assert acc > 0.95
    # the stopword-ratio weight must carry the signal (positive, largest)
    from nreadability_spark.operators.classifier import quality_classifier_fit

    w = {r["feature"]: r["weight"]
         for r in quality_classifier_fit(spark, SF_DIR).collect() if r["iter"] == 12}
    assert w[1] > 0 and w[1] == max(abs(v) for v in w.values())


def test_pq_codes_shape_and_bounds(spark):
    """Every vector gets exactly PQ_M codes, each in [0, PQ_K), with a
    non-negative reconstruction residual."""
    from nreadability_spark.operators import similarity as S

    rows = S.pq_codes(spark, SF_DIR).collect()
    per_vec = {}
    for r in rows:
        assert 0 <= r["code"] < S.PQ_K and r["err"] >= 0.0
        per_vec.setdefault(r["vec_id"], set()).add(r["sub"])
    assert all(subs == set(range(S.PQ_M)) for subs in per_vec.values())


def test_pq_adc_top10_beats_corpus_mean_distance(spark, duck):
    """Isotropic random vectors concentrate distances, so strict
    recall@10 is noisy — the robust property is that ADC's top-10 are
    substantially closer (exact L2) than the average vector."""
    from nreadability_spark.operators import similarity as S

    ids = [r["vec_id"] for r in S.knn_pq_adc(spark, SF_DIR, k=10).collect()]
    l2 = "(" + " + ".join(
        f"(e.emb[{i}] - q.emb[{i}])*(e.emb[{i}] - q.emb[{i}])" for i in range(1, S.DIM + 1)
    ) + ")"
    adc_mean, all_mean = duck.sql(f"""
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      q AS (SELECT emb FROM base WHERE vec_id = {S.QUERY_VEC_ID})
      SELECT avg(CASE WHEN e.vec_id IN ({','.join(map(str, ids))}) THEN {l2} END),
             avg({l2})
      FROM base e, q WHERE e.vec_id != {S.QUERY_VEC_ID}""").fetchone()
    assert adc_mean < 0.9 * all_mean


def test_token_cms_never_underestimates_and_collides(spark):
    """CMS one-sided guarantee: every estimate >= the exact count; at
    the deliberately narrow sandbox width at least one probe must
    actually overcount (otherwise the sketch path is untested)."""
    from nreadability_spark.operators.textops import token_cms

    rows = token_cms(spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(r["est_cnt"] >= r["exact_cnt"] for r in rows)
    assert any(r["overcount"] > 0 for r in rows)


def test_bloom_decontaminate_is_a_superset_of_exact(spark):
    """Bloom filters err only toward over-removal: every exact overlap
    must be flagged (n_flagged >= n_exact per doc, every contaminated
    doc present), and at the deliberately small sandbox parameters the
    filter must actually produce false positives (otherwise the query
    degenerates into the exact variant and tests nothing)."""
    from nreadability_spark.operators.textops import decontaminate, decontaminate_bloom

    bloom = {r["doc_id"]: (r["n_flagged"], r["n_exact"])
             for r in decontaminate_bloom(spark, SF_DIR).collect()}
    exact = {r["doc_id"]: r["n_overlapping_shingles"]
             for r in decontaminate(spark, SF_DIR).collect()}
    for d, n in exact.items():
        assert d in bloom and bloom[d][0] >= n and bloom[d][1] == n
    assert sum(f - e for f, e in bloom.values()) > 0  # real FPs


def test_ivf_pq_search_broadcasts_query_side_tables(spark):
    """The IVF+PQ search plan must broadcast the probe-cell and ADC
    tables (query-side, dimension-sized) and never nested-loop the
    index."""
    from nreadability_spark.operators import similarity as S

    plan = S.knn_ivf_pq(spark, SF_DIR)._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only nested-loop joins allowed are the broadcast-tiny
    # query-side centroid cross joins (1 x C / C x K rows); every one
    # must be a BROADCAST nested loop, never a CartesianProduct
    assert "CartesianProduct" not in plan


def test_tfidf_top_term_is_the_distinctive_one(spark):
    """A term frequent in one doc but absent elsewhere must outrank
    corpus-wide terms; ties break by term asc."""
    from nreadability_spark.operators.textops import tfidf_keywords_frame

    docs = spark.createDataFrame(
        [(0, "apple apple banana"), (1, "banana cherry"), (2, "banana durian")],
        "doc_id: long, text: string",
    )
    rows = tfidf_keywords_frame(docs, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in rows}
    assert top == {0: "apple", 1: "cherry", 2: "durian"}
    df_docs = {r["doc_id"]: r["df_docs"] for r in rows}
    assert df_docs[0] == 1


def test_bpe_greedy_overlap_and_restart(spark):
    """'aaaa' under merge (a,a) folds left-to-right to [aa, aa] (count
    3 adjacent pairs per occurrence BEFORE merging, 2 non-overlapping
    merges AFTER) — the reference greedy semantics."""
    from nreadability_spark.operators.bpe import fit_merges, word_table

    docs = spark.createDataFrame([(0, "aaaa aaaa b")], "doc_id: long, text: string")
    merges, words = fit_merges(word_table(docs), rounds=2)
    assert merges == [(0, "a", "a", "aa", 6), (1, "aa", "aa", "aaaa", 2)]
    syms = {r["word"]: r["syms"] for r in words.collect()}
    assert syms["aaaa"] == ["aaaa"] and syms["b"] == ["b"]


@pytest.mark.parametrize("seed", [3, 11])
def test_bpe_fit_matches_pure_python_reference(spark, seed):
    """Randomized cross-check of the distributed fit against an
    independent in-memory BPE (pair counting + greedy merge), tiny
    alphabet so merge interactions are dense."""
    import random

    from nreadability_spark.operators.bpe import fit_merges, word_table

    rng = random.Random(seed)
    vocab = {"".join(rng.choice("ab") for _ in range(rng.randint(1, 6))): rng.randint(1, 5)
             for _ in range(rng.randint(3, 8))}
    rounds = 4

    syms = {w: list(w) for w in vocab}
    want_merges = []
    for rank in range(rounds):
        pc: dict = {}
        for w, cnt in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + cnt
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want_merges.append((rank, l, r, l + r, c))
        for w, s in syms.items():
            out: list = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            syms[w] = out

    docs = spark.createDataFrame(
        [(i, " ".join([w] * c)) for i, (w, c) in enumerate(sorted(vocab.items()))],
        "doc_id: long, text: string",
    )
    got_merges, got_words = fit_merges(word_table(docs), rounds=rounds)
    assert got_merges == want_merges
    assert {r["word"]: r["syms"] for r in got_words.collect()} == syms


def test_bpe_merge_counts_non_increasing(spark):
    """Classic BPE invariant: the winning pair count never increases
    round over round (every post-merge pair occurrence maps to a
    pre-merge occurrence of a destroyed pair)."""
    from nreadability_spark.operators.bpe import bpe_fit

    counts = [r["pair_count"] for r in bpe_fit(spark, SF_DIR, rounds=6).collect()]
    assert len(counts) == 6
    assert all(a >= b for a, b in zip(counts, counts[1:]))


# --- plan-shape assertions (scale contracts) ---------------------------

def test_bpe_encode_never_broadcasts_word_table(spark):
    """Encode must never PLAN a broadcast of the vocabulary: the
    distinct-word table grows ~Heaps-law with the corpus (unbounded at
    100 TB). The sanctioned shape is a co-partitioned SHUFFLE join on
    word against the fit's already-folded table (fold cost paid once
    per distinct word); assert pre-AQE — at tiny scale AQE may still
    legitimately convert the exchange to a runtime broadcast once
    stats prove the vocab fits, which is size-gating, not a hint."""
    from nreadability_spark.operators.bpe import bpe_encode

    df = bpe_encode(spark, SF_DIR, rounds=3)
    # the contract is "no FORCED broadcast": the logical plan must
    # carry no broadcast hint. The physical join strategy is then the
    # planner's stats-based pick — at test scale the checkpointed vocab
    # measures a few KB so a (legitimate, size-gated) broadcast is
    # expected; at 100 TB the same stats force the shuffle join.
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Hint" not in logical and "hint" not in logical
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "Join" in plan  # encode joins the fit's folded vocab back


def test_revenue_join_broadcasts_dimensions(spark):
    from nreadability_spark.plans import relational

    plan = relational.revenue_by_nation(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_small_qty_revenue_decorrelated(spark):
    """Catalyst must rewrite the Q17-style correlated scalar subquery
    into a per-part aggregate joined back — no per-row subquery node
    may survive into the physical plan (at 100 TB a surviving
    ScalarSubquery means a lineitem re-scan per row)."""
    from nreadability_spark.plans import relational

    df = relational.small_qty_revenue(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" not in plan and "subquery" not in plan
    # decorrelated form: the per-part average shows up as an aggregate
    # of l_quantity feeding a join
    assert "avg(" in plan


def test_delayed_orders_semi_join_on_equi_key(spark):
    """The mixed equi+range EXISTS must become a co-partitioned
    LeftSemi join on the extracted equi key with the date comparison as
    a residual — never a nested-loop join."""
    from nreadability_spark.plans import relational

    df = relational.delayed_orders(spark, SF_DIR)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_range_join_binning_avoids_nested_loop(spark):
    """The binned interval join must compile to an equi join on the
    bin column (hash-partitionable) — the naive no-equi-key range join
    would be BroadcastNestedLoopJoin, O(spikes x events) at scale."""
    from nreadability_spark.plans import relational

    df = relational.range_join_followers(spark, SF_DIR)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_extraction_prefilter_reaches_scan(spark, tmp_path):
    """The null/empty-text prefilter must be pushed into the parquet
    scan, not evaluated after the Python stage."""
    from nreadability_spark.plans.extract_job import extract_transcripts
    from nreadability_spark.sources.synth import transcripts_df

    path = str(tmp_path / "t.parquet")
    transcripts_df(spark, 5).write.parquet(path)
    df = extract_transcripts(spark.read.parquet(path), include_html=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(text)" in plan


def test_near_dup_block_pairs_equals_broadcast_no_broadcast_join(spark):
    """The 100 TB pair-join path: the salted (cell, i, j) block-pair
    shuffle join must produce exactly the broadcast path's pairs, with
    NO BroadcastHashJoin in its plan (only the tiny centroid cross
    joins may broadcast)."""
    from nreadability_spark.operators import similarity

    bc = similarity.embedding_near_dups(spark, SF_DIR, strategy="broadcast")
    bp = similarity.embedding_near_dups(spark, SF_DIR, strategy="block_pairs")
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, bp.collect()))
    # the STATIC plan must not hint/force a broadcast of the table; at
    # tiny scale AQE may still legitimately convert the exchange to a
    # runtime broadcast once stats prove it fits — that's AQE's call,
    # not a plan-shape requirement, so assert pre-AQE
    plan = bp._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_semantic_dedup_strategies_agree_and_rule_holds(spark):
    """block_pairs must equal broadcast exactly, and the SemDeDup keep
    rule must hold row-by-row: a vector is dropped iff some
    earlier-ranked vector in its cell is eps-close (rank = ccos asc,
    vec_id; the paper's released dominated-by-any-earlier rule, not
    transitive closure)."""
    from nreadability_spark.operators import similarity

    bc = similarity.semantic_dedup(spark, SF_DIR, strategy="broadcast").collect()
    bp = similarity.semantic_dedup(spark, SF_DIR, strategy="block_pairs").collect()
    assert [r.asDict() for r in bc] == [r.asDict() for r in bp]
    # non-vacuous at the test SF: the planted near-dups must drop
    dropped = [r for r in bc if not r["kept"]]
    assert dropped, "eps is miscalibrated: nothing was deduplicated"
    assert any(r["kept"] for r in bc)


def test_near_dup_block_pairs_no_duplicate_pairs(spark):
    """Every unordered same-cell pair must be matched exactly once by
    the block-pair explode scheme (i==j needs the id-order guard)."""
    from nreadability_spark.operators import similarity

    # threshold -1: keep ALL same-cell pairs, so double-matching shows
    rows = similarity.embedding_near_dups(
        spark, SF_DIR, threshold=-1.0, strategy="block_pairs", n_salts=3
    ).collect()
    pairs = [(r["vec_a"], r["vec_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)


def test_ivf_reads_fitted_centroids(spark):
    """Production wiring: the k-means fit job's centroid table feeds the
    IVF build. Results must still be genuine vectors with exact cosines
    (never invented), and the fit must preserve centroid count here
    (no cell drops out on this data)."""
    from nreadability_spark.operators import similarity

    cents = similarity.fit_centroids(similarity._vectors(spark, SF_DIR))
    assert cents.count() == similarity.IVF_CENTROIDS
    brute = {
        r["vec_id"]: r["cos_sim"]
        for r in similarity.knn_brute_force(spark, SF_DIR, k=10**6).collect()
    }
    rows = similarity.knn_ivf_fitted(spark, SF_DIR).collect()
    assert rows, "fitted-centroid IVF returned nothing"
    for r in rows:
        assert r["vec_id"] in brute
        assert abs(brute[r["vec_id"]] - r["cos_sim"]) < 1e-9


# --- LSH skew controls (exact-dedup-first + bucket cap) -----------------

def _write_docs(spark, path, texts):
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    ).coalesce(1).write.parquet(f"{path}/documents.parquet")


def test_lsh_collapse_expand_equals_uncollapsed(spark, tmp_path):
    """Exact-dedup-first + expansion must reconstruct the uncollapsed
    result exactly: duplicates share their representative's signatures
    and Jaccard values, so no pair may appear, vanish, or change."""
    from nreadability_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = (
        [base] * 4                                  # one exact-dup class
        + [base.replace("dog", "cat")] * 2          # a second class, near-dup of the first
        + [base + " extra tail words here"]         # near-dup, unique
        + ["completely different text with many unrelated words in it now"] * 3
        + ["xy"]                                    # < n tokens: no shingles
        + ["xy"]                                    # identical shingle-less doc: must NOT pair
    )
    _write_docs(spark, str(tmp_path), texts)
    plain = sorted(
        map(tuple, dedup.minhash_lsh_pairs(spark, str(tmp_path), collapse_exact=False).collect())
    )
    fast = sorted(
        map(tuple, dedup.minhash_lsh_pairs(spark, str(tmp_path), collapse_exact=True).collect())
    )
    assert plain, "corpus should produce pairs"
    assert fast == plain


def test_lsh_hot_key_collapses_identical_flood(spark, tmp_path):
    """1000 byte-identical docs: signing/banding must see ONE
    representative (no quadratic candidate blowup), while the expanded
    output still reports every duplicate pair."""
    from nreadability_spark.operators import dedup

    hot = "identical boilerplate page content repeated across the whole crawl corpus"
    texts = [hot] * 1000 + ["some genuinely unique document text number one of a kind"]
    _write_docs(spark, str(tmp_path), texts)

    reps_only = dedup.minhash_lsh_pairs(
        spark, str(tmp_path), collapse_exact=True, expand_exact=False
    )
    assert reps_only.count() == 0  # one rep per class; no cross-class near-dups
    expanded = dedup.minhash_lsh_pairs(spark, str(tmp_path), collapse_exact=True)
    assert expanded.count() == 1000 * 999 // 2


def test_lsh_band_bucket_cap_drops_and_logs(spark, tmp_path):
    """A capped run must drop oversized buckets from candidate
    generation AND surface them via lsh_oversized_buckets."""
    from nreadability_spark.functions import text as tx
    from nreadability_spark.operators import dedup

    # 6 distinct docs sharing identical shingles except one token ->
    # same band keys land many docs in one bucket
    base = "shared prefix words for every single document in this tiny corpus"
    texts = [base + f" tail{i}" for i in range(6)]
    _write_docs(spark, str(tmp_path), texts)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    sigs = dedup.minhash_signatures(tx.hashed_shingles(docs))
    bands = dedup.lsh_band_table(sigs)
    over = dedup.lsh_oversized_buckets(bands, cap=2).collect()
    assert over, "expected at least one bucket above the cap"
    capped = dedup.minhash_lsh_pairs(spark, str(tmp_path), band_bucket_cap=2)
    uncapped = dedup.minhash_lsh_pairs(spark, str(tmp_path))
    assert capped.count() < uncapped.count()


def test_ngram_posting_cap_bounds_join(spark, tmp_path):
    """With max_posting_list set, a ubiquitous shingle cannot contribute
    candidate pairs (and sizes shrink consistently)."""
    from nreadability_spark.operators import dedup

    shared = "common header sentence appearing in every page of the site"
    texts = [shared + f" unique body {i} {i + 1} {i + 2}" for i in range(10)]
    _write_docs(spark, str(tmp_path), texts)
    full = dedup.ngram_jaccard_pairs(spark, str(tmp_path), threshold=0.01)
    capped = dedup.ngram_jaccard_pairs(
        spark, str(tmp_path), threshold=0.01, max_posting_list=5
    )
    assert full.count() > 0
    # the shared-shingle contributions are gone; remaining pairs only
    # from incidental overlaps
    assert capped.count() < full.count()


def test_duplicate_components_are_consistent(spark):
    """Every near-dup pair must land in the same component, and each
    component's id must be its minimum member."""
    from nreadability_spark.operators import dedup

    comp = {r["doc_id"]: r["component"] for r in dedup.duplicate_components(spark, SF_DIR).collect()}
    pairs = dedup.minhash_lsh_pairs(spark, SF_DIR).collect()
    assert pairs and comp
    for r in pairs:
        assert comp[r["doc_a"]] == comp[r["doc_b"]]
    groups = {}
    for d, c in comp.items():
        groups.setdefault(c, []).append(d)
    for c, members in groups.items():
        assert c == min(members)


def test_duplicate_components_transitive_chain(spark, tmp_path):
    """A near-dup CHAIN a-b-c (a~b, b~c, but a and c farther apart) must
    collapse into one component via propagation, not direct pairing."""
    from nreadability_spark.operators import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    words = base.split()
    doc_a = " ".join(words)
    doc_b = " ".join(words[:-3] + ["endone", "endtwo", "endthree"])   # ~b close to a
    doc_c = " ".join(words[3:] + ["endone", "endtwo", "endthree"])    # ~c close to b
    texts = [doc_a, doc_b, doc_c, "completely different unrelated content words here now"]
    _write_docs(spark, str(tmp_path), texts)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(spark, str(tmp_path)).collect()}
    comp = {r["doc_id"]: r["component"] for r in dedup.duplicate_components(spark, str(tmp_path)).collect()}
    if {(0, 1), (1, 2)} <= pairs:  # the chain actually formed at this threshold
        assert comp[0] == comp[1] == comp[2] == 0


def test_repetition_flags_repeated_content(spark, tmp_path):
    from nreadability_spark.operators import textops

    texts = [
        "one two three four five " * 40,                        # highly repetitive
        " ".join(f"w{i} x{i*7%13} y{i*3%11}" for i in range(60)),  # mostly unique
    ]
    _write_docs(spark, str(tmp_path), texts)
    rows = {r["doc_id"]: r["dup_ngram_ratio"] for r in textops.repetition_scores(spark, str(tmp_path)).collect()}
    assert rows[0] > 0.9
    assert rows[1] < 0.3


def test_pii_scan_finds_planted_patterns(spark, tmp_path):
    from nreadability_spark.operators import textops

    texts = [
        "contact me at jane.doe@example.com or call 555-123-4567 today",
        "perfectly clean document text with no contact information at all",
        "ssn 123-45-6789 leaked in this row",
    ]
    _write_docs(spark, str(tmp_path), texts)
    rows = {r["doc_id"]: r for r in textops.pii_scan(spark, str(tmp_path)).collect()}
    assert 1 not in rows  # clean doc not materialized
    assert rows[0]["n_emails"] == 1 and rows[0]["n_phones"] >= 1
    assert rows[2]["n_ssns"] == 1


def test_quantize_int8_codes_in_range(spark):
    from nreadability_spark.operators import similarity

    rows = similarity.quantize_int8(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        assert r["mse"] < r["scale"] ** 2  # error bounded by half-step^2 << scale^2
        assert r["scale"] > 0


def test_train_val_split_fractions_and_leakage(spark, tmp_path):
    """Split sizes near 90/5/5 and — the leakage property — exact
    duplicates always land in the same split."""
    from nreadability_spark.operators import textops
    from pyspark.sql import functions as F

    texts = [f"document number {i} with some distinct words w{i * 3} w{i * 7}" for i in range(400)]
    texts += texts[:50]  # 50 exact duplicates
    _write_docs(spark, str(tmp_path), texts)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet").withColumn(
        "lang", F.lit("en")
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/d2/documents.parquet")
    counts = {
        (r["split"]): r["n_docs"]
        for r in textops.train_val_split(spark, str(tmp_path / "d2")).collect()
    }
    total = sum(counts.values())
    assert total == 450
    assert counts.get("train", 0) > 0.8 * total  # ~90% ± sampling noise
    # leakage: duplicates share content hash -> same split by construction;
    # verify via the bucket expression on the duplicated rows
    from nreadability_spark.functions import hashing
    from nreadability_spark.operators.textops import _norm_text

    b = docs.select(
        "doc_id", (hashing.h60(_norm_text(F.col("text"))) % 100).alias("bucket")
    ).collect()
    bucket = {r["doc_id"]: r["bucket"] for r in b}
    for i in range(50):
        assert bucket[i] == bucket[400 + i]


def test_decontaminate_flags_benchmark_duplicates(spark, tmp_path):
    from nreadability_spark.operators import textops

    bench_text = "held out evaluation question about the quick brown fox jumping high"
    texts = []
    for i in range(120):
        if i % 50 == 0:
            texts.append(bench_text + f" variant {i}")   # benchmark rows (doc 0, 50, 100)
        elif i == 7:
            texts.append(bench_text + " leaked into training verbatim prefix")
        else:
            texts.append(f"ordinary training doc {i} " + " ".join(f"t{i}_{j}" for j in range(12)))
    _write_docs(spark, str(tmp_path), texts)
    flagged = {r["doc_id"] for r in textops.decontaminate(spark, str(tmp_path)).collect()}
    assert 7 in flagged          # shares 8-grams with the benchmark
    assert 0 not in flagged      # benchmark rows themselves excluded
    assert 13 not in flagged     # ordinary doc untouched


def test_clean_corpus_components_stricter_than_greedy(spark):
    """Transitive-cluster pruning must keep a subset of the greedy
    survivors (chains collapse further), and both must pass the quality
    gate."""
    from nreadability_spark.plans.pipeline import clean_corpus

    greedy = {r["doc_id"] for r in clean_corpus(spark, SF_DIR).collect()}
    comps = {r["doc_id"] for r in clean_corpus(spark, SF_DIR, near_dup_strategy="components").collect()}
    assert comps <= greedy
    assert comps  # non-empty


def test_simhash_64bit_keyspace_bounds_buckets(spark, tmp_path):
    """The width flood test behind the 32->64-bit widening: with 8-bit
    chunk keys (256 buckets/chunk) a few hundred DISTINCT documents
    already pile many docs into the same candidate bucket (the join
    goes quadratic at crawl scale); 16-bit keys keep buckets near
    singleton size on the same corpus."""
    from pyspark.sql import functions as F

    from nreadability_spark.operators import dedup

    texts = [
        " ".join(f"word{(i * 31 + j * 7) % 997}_{j}" for j in range(25))
        for i in range(300)
    ]
    _write_docs(spark, str(tmp_path), texts)
    docs = dedup.load_documents(spark, str(tmp_path))

    def max_bucket(bits):
        sims = dedup.simhash_values(docs, bits=bits)
        ch = dedup._simhash_chunk_table(sims, bits, dedup.SIMHASH_CHUNKS)
        return (
            ch.groupBy("chunk", "chunk_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m"))
            .collect()[0]["m"]
        )

    m32, m64 = max_bucket(32), max_bucket(64)
    # 300 docs over 256 8-bit buckets/chunk: pigeonhole forces collisions
    assert m32 >= 3
    # 16-bit keys (65,536 buckets/chunk): near-singleton buckets
    assert m64 <= 2
    assert m64 < m32


def test_simhash_hamming_still_exact_at_64bit(spark, tmp_path):
    """A one-token edit of a 40-token doc must surface as a candidate
    pair with a small, exactly-verified Hamming distance at 64 bits."""
    from nreadability_spark.operators import dedup

    base = " ".join(f"tok{j}" for j in range(40))
    texts = [base, base.replace("tok7", "changed"), "wholly different text entirely"]
    _write_docs(spark, str(tmp_path), texts)
    rows = dedup.simhash_pairs(spark, str(tmp_path), max_dist=16).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert (0, 1) in pairs and pairs[(0, 1)] <= 16
    assert (0, 2) not in pairs


def test_components_round_plan_depth_constant(spark):
    """localCheckpoint must truncate lineage every BSP round: the
    optimized plan of the label table stays a constant-size leaf scan
    across rounds instead of layering one join per round."""
    from pyspark.sql import functions as F

    from nreadability_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], "doc_a: long, doc_b: long"
    )
    edges = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()
    labels = (
        edges.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("component"))
        .select("doc_id", F.least("component", "doc_id").alias("component"))
        .localCheckpoint()
    )
    depths = []
    for _ in range(10):
        labels, changed = dedup._cc_round(edges, labels)
        plan = labels._jdf.queryExecution().optimizedPlan().toString()
        depths.append(len(plan.strip().splitlines()))
        if changed == 0:
            break
    assert len(depths) >= 3  # the 0-..-5 path needs several rounds
    assert len(set(depths)) == 1
    # converged labels: min reachable doc_id per chain
    final = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert final == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 7: 7, 8: 7}
    edges.unpersist()


def test_components_nonconvergence_raises(spark, tmp_path):
    """No silent caps: exhausting max_iters without convergence must
    raise, not return partial labels that diverge from the oracle."""
    from nreadability_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    _write_docs(spark, str(tmp_path), [base, base + " tail", "unrelated other words here now"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_components(spark, str(tmp_path), max_iters=0)


def _planted_embeddings_parity(spark, path, rows, build, sql):
    """``build``'s rows over a planted embeddings table, checked against
    the oracle ``sql`` over the same table."""
    spark.createDataFrame(rows, "vec_id: long, embedding: array<float>").coalesce(
        1
    ).write.parquet(f"{path}/embeddings.parquet")
    sdf = build(spark, path)
    got = sdf.collect()
    with duckdb.connect() as con:
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/embeddings.parquet/*.parquet'")
        oracle = con.sql(sql)
        assert check_oracles.compare(sdf.columns, got, oracle.columns, oracle.fetchall()) == []
    return got


def test_quantize_int8_zero_vector_parity(spark, tmp_path):
    """An all-zero embedding must quantize to q=0 / mse=0 / scale=0 on
    BOTH engines (the guarded divide) — no NULL/NaN divergence."""
    from nreadability_spark.operators import similarity

    rows = [
        (0, [0.0] * similarity.DIM),
        (1, [(j % 7 - 3) / 3.0 for j in range(similarity.DIM)]),
    ]
    got = _planted_embeddings_parity(
        spark, str(tmp_path), rows, similarity.quantize_int8, similarity.quantize_int8_sql()
    )
    zero = next(r for r in got if r["vec_id"] == 0)
    assert (zero["scale"], zero["mse"], zero["q_max"], zero["q_min"]) == (0.0, 0.0, 0, 0)


def test_bottomk_containment_detects_subset(spark, tmp_path):
    """A document wholly contained in another must estimate containment
    1.0 from the sketches alone (every union-k element of the subset is
    shared)."""
    from nreadability_spark.operators import textops

    small = " ".join(f"w{j}" for j in range(15))
    big = small + " " + " ".join(f"extra{j}" for j in range(30))
    texts = [small, big, "totally unrelated other document words here now today"]
    _write_docs(spark, str(tmp_path), texts)
    rows = {(r["doc_a"], r["doc_b"]): r for r in
            textops.bottomk_containment(spark, str(tmp_path)).collect()}
    assert (0, 1) in rows  # subset shares its minimum shingle hash
    assert rows[(0, 1)]["est_containment"] == 1.0
    assert rows[(0, 1)]["est_jaccard"] < 1.0
    assert (0, 2) not in rows and (1, 2) not in rows


def test_lang_id_table_scores_weighted_markers(spark, tmp_path):
    """The broadcast marker-table scorer must pick the language with
    the highest weighted hit sum, not just any hit."""
    from nreadability_spark.operators import textops

    texts = [
        "der die und nicht ein ist ich das words",   # German markers
        "le les la et des est une dans pour text",   # French markers
        "the of and to in is that for with filler",  # English markers
        "zzz qqq vvv kkk mmm",                        # no markers at all
    ]
    _write_docs_lang(spark, str(tmp_path), texts)
    rows = {r["doc_id"]: r for r in textops.lang_id(spark, str(tmp_path)).collect()}
    assert rows[0]["pred_lang"] == "de"
    assert rows[1]["pred_lang"] == "fr"
    assert rows[2]["pred_lang"] == "en"
    assert rows[3]["pred_lang"] == "unknown"
    assert rows[0]["score_de"] > rows[0]["score_en"]


def _write_docs_lang(spark, path, texts):
    spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id: long, text: string, lang: string",
    ).coalesce(1).write.parquet(f"{path}/documents.parquet")


def test_approx_quantiles_within_rank_bound(spark):
    """Every group's approx-percentile estimate must satisfy the
    sketch's published rank-error guarantee against the exact data."""
    from nreadability_spark.plans import relational

    rows = relational.order_price_quantiles_approx(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert (r["ok_p25"], r["ok_p50"], r["ok_p90"]) == (1, 1, 1)


def test_knn_zero_vector_parity(spark, tmp_path):
    """A zero embedding in the corpus must not corrupt top-k parity:
    unguarded 0/0 cosine is NaN in Spark (sorts FIRST desc) but NULL in
    DuckDB (sorts last); the guarded cosine makes it exactly 0.0 on
    both engines."""
    from nreadability_spark.operators import similarity

    rows = [(0, [1.0] + [0.0] * (similarity.DIM - 1)),
            (1, [0.0] * similarity.DIM)] + [
        (i, [((i * 13 + j * 7) % 19 - 9) / 9.0 for j in range(similarity.DIM)])
        for i in range(2, 12)
    ]
    got = _planted_embeddings_parity(
        spark, str(tmp_path), rows, similarity.knn_brute_force, similarity.knn_brute_force_sql()
    )
    cos = {r["vec_id"]: r["cos_sim"] for r in got}
    assert cos[1] == 0.0  # the zero vector scores an exact 0, not NaN


def test_gif_frame_parse_is_real():
    """The frame sampler must recover offsets and delays from actual
    GIF block structure — including payloads the doc-keyed formula
    never produces — and be total on garbage."""
    from nreadability_spark.operators.multimodal import gif_frame_info
    from nreadability_spark.sources import synth

    g = synth.build_gif_animated(320, 200, [10, 25, 77])
    assert gif_frame_info(g) == [(0, 27, 10), (1, 50, 25), (2, 73, 77)]
    # the parsed offsets really are image descriptors
    assert g[27] == 0x2C and g[50] == 0x2C and g[73] == 0x2C
    for junk in (b"", b"GIF89a", b"\xff" * 50, g[:-2], b"GIF89a" + b"\x00" * 30):
        assert isinstance(gif_frame_info(junk), list)


def test_mp4_frame_parse_is_real():
    """The mp4 sampler must recover offsets/durations from the actual
    ISO-BMFF sample tables: builder roundtrip (stco and co64 docs, odd
    and even chunk tails), offsets that point at the planted mdat
    bytes, the decoy audio trak skipped, and totality on garbage."""
    from nreadability_spark.operators.multimodal import mp4_frame_info
    from nreadability_spark.sources import synth

    for d in (0, 1, 3, 5, 7, 12):  # 0/5: co64; 3/7: odd-tail stsc
        b = synth.build_mp4(d)
        got = mp4_frame_info(b)
        n = synth.mp4_frame_count_for(d)
        assert len(got) == n  # audio trak contributed nothing
        off = synth.MP4_MDAT_DATA_START
        for k in range(n):
            sz = synth.mp4_frame_size_for(d, k)
            assert got[k] == (k, off, synth.mp4_delay_cs_for(d, k))
            assert b[off : off + sz] == bytes(
                synth.mp4_frame_byte_for(d, k, j) for j in range(sz)
            )
            off += sz
    g = synth.build_mp4(9)
    for junk in (b"", b"\x00" * 64, b"ftyp" * 20, g[:40], g[:-3]):
        assert mp4_frame_info(junk) == []


def test_mp4_frame_parse_structural_variants():
    """A layout the doc-keyed builder never produces: largesize (64-bit)
    mdat first in file, fixed-size stsz, one 3-sample chunk — the
    parser must resolve it from the boxes, not the synth formula."""
    import struct

    from nreadability_spark.operators.multimodal import mp4_frame_info
    from nreadability_spark.sources.synth import _mp4_box, _mp4_fullbox, _mp4_trak

    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + 30) + bytes(30)
    stsd = _mp4_fullbox(
        b"stsd", struct.pack(">I", 1) + _mp4_box(b"raw ", b"\x00" * 6 + struct.pack(">H", 1))
    )
    stts = _mp4_fullbox(b"stts", struct.pack(">III", 1, 3, 200))
    stsc = _mp4_fullbox(b"stsc", struct.pack(">IIII", 1, 1, 3, 1))
    stsz = _mp4_fullbox(b"stsz", struct.pack(">II", 10, 3))  # fixed-size branch
    stco = _mp4_fullbox(b"stco", struct.pack(">II", 1, 16))
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = struct.pack(">I", 20) + b"vmhd" + bytes([0, 0, 0, 1]) + b"\x00" * 8
    moov = _mp4_box(b"moov", _mp4_trak(1, b"vide", 1000, 600, stbl, vmhd))
    # timescale 1000: 200 ticks -> 20 cs; samples contiguous in one chunk
    assert mp4_frame_info(mdat + moov) == [(0, 16, 20), (1, 26, 20), (2, 36, 20)]


def test_mp4_frame_parse_multi_entry_stsc():
    """A sample-to-chunk table with three runs (3, 1, then 2 samples
    per chunk) over five scattered chunks and two stts runs: every
    frame's offset and duration is written out by hand."""
    import struct

    from nreadability_spark.operators.multimodal import mp4_frame_info
    from nreadability_spark.sources.synth import _mp4_box, _mp4_stbl, _mp4_trak

    stbl = _mp4_stbl(
        stts_runs=[(4, 100), (7, 30)],
        stsc_entries=[(1, 3), (3, 1), (4, 2)],
        sizes=[10 + k for k in range(11)],
        chunk_offsets=[100, 200, 300, 400, 500],
        use_co64=False,
        sample_entry_type=b"raw ",
    )
    vmhd = struct.pack(">I", 20) + b"vmhd" + bytes([0, 0, 0, 1]) + b"\x00" * 8
    moov = _mp4_box(b"moov", _mp4_trak(1, b"vide", 1000, 0, stbl, vmhd))
    # timescale 1000: 100 ticks -> 10 cs, 30 ticks -> 3 cs
    assert mp4_frame_info(moov) == [
        (0, 100, 10), (1, 110, 10), (2, 121, 10),  # chunk 1: sizes 10, 11, 12
        (3, 200, 10), (4, 213, 3), (5, 227, 3),  # chunk 2: sizes 13, 14, 15
        (6, 300, 3),  # chunk 3: one sample
        (7, 400, 3), (8, 417, 3),  # chunk 4: sizes 17, 18
        (9, 500, 3), (10, 519, 3),  # chunk 5: sizes 19, 20
    ]


def test_mkv_frame_parse_is_real():
    """The mkv sampler must recover offsets/durations from the actual
    EBML stream: builder roundtrip across frame counts 1-4, all three
    TimestampScales and both block forms (SimpleBlock and
    BlockGroup+BlockDuration), offsets that point at the planted frame
    bytes, the decoy audio cluster skipped, and totality on garbage."""
    from nreadability_spark.operators.multimodal import mkv_frame_info
    from nreadability_spark.sources import synth

    for d in (0, 1, 2, 3, 5, 7, 12):
        b = synth.build_mkv(d)
        got = mkv_frame_info(b)
        n = synth.mkv_frame_count_for(d)
        assert len(got) == n  # the audio cluster contributed nothing
        for k in range(n):
            off = synth.mkv_frame_offset_for(d, k)
            sz = synth.mkv_frame_size_for(d, k)
            assert got[k] == (k, off, synth.mkv_delay_cs_for(d, k))
            assert b[off : off + sz] == bytes(
                synth.mkv_frame_byte_for(d, k, j) for j in range(sz)
            )
    g = synth.build_mkv(9)
    for junk in (b"", b"\x00" * 64, b"\x1a\x45\xdf\xa3", g[:30], g[:-2]):
        assert mkv_frame_info(junk) == []


def test_mkv_frame_parse_width_agnostic():
    """Re-encoding every size varint minimally moves all the offsets;
    the parser must follow the stream's widths, not the fixed-width
    layout the oracle assumes — frame identity is proven by the bytes
    at the reported offsets, not by the offset values."""
    from nreadability_spark.operators.multimodal import mkv_frame_info
    from nreadability_spark.sources import synth

    for d in (0, 3, 5, 10):
        b2 = synth.build_mkv(d, fixed_widths=False)
        got = mkv_frame_info(b2)
        n = synth.mkv_frame_count_for(d)
        assert [(k, dl) for k, _, dl in got] == [
            (k, synth.mkv_delay_cs_for(d, k)) for k in range(n)
        ]
        for k, off, _ in got:
            sz = synth.mkv_frame_size_for(d, k)
            assert b2[off : off + sz] == bytes(
                synth.mkv_frame_byte_for(d, k, j) for j in range(sz)
            )


def test_mkv_frame_parse_structural_variants():
    """A layout the doc-keyed builder never produces: unknown-size
    Segment (streamed-file convention), no Info element (TimestampScale
    falls back to the 1 ms/tick spec default), two SimpleBlocks sharing
    ONE cluster with nonzero relative timestamps, and the last frame's
    duration from DefaultDuration."""
    from nreadability_spark.operators.multimodal import mkv_frame_info
    from nreadability_spark.sources.synth import _ebml_elem
    import struct

    video = _ebml_elem(
        b"\xae",
        _ebml_elem(b"\xd7", b"\x03")  # track number 3
        + _ebml_elem(b"\x83", b"\x01")
        + _ebml_elem(b"\x23\xe3\x83", struct.pack(">I", 30_000_000)),  # 3 cs
    )
    tracks = _ebml_elem(b"\x16\x54\xae\x6b", video)
    blk_a = _ebml_elem(b"\xa3", b"\x83" + struct.pack(">h", 0) + b"\x00" + b"AAAA")
    blk_b = _ebml_elem(b"\xa3", b"\x83" + struct.pack(">h", 20) + b"\x00" + b"BB")
    cluster = _ebml_elem(
        b"\x1f\x43\xb6\x75",
        _ebml_elem(b"\xe7", struct.pack(">H", 100)) + blk_a + blk_b,
    )
    seg_body = tracks + cluster
    # unknown-size: 8-byte varint with all value bits set
    data = b"\x18\x53\x80\x67" + bytes([0x01]) + b"\xff" * 7 + seg_body

    got = mkv_frame_info(data)
    # offsets: segment hdr 12; tracks len = 5 + len(video); cluster hdr
    # 4+1; ts elem 1+1+2; block hdrs 1+1
    tracks_len = len(tracks)
    off_a = 12 + tracks_len + 5 + 4 + 2 + 4  # track vint + relts + flags
    off_b = off_a + 4 + 2 + 4
    # delays: (120-100) ticks at the default 1 ms/tick = 20 ms = 2 cs;
    # last frame falls back to DefaultDuration = 3 cs
    assert got == [(0, off_a, 2), (1, off_b, 3)]


def test_frame_sampling_other_containers_gated(spark):
    from nreadability_spark.operators import multimodal
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(2)
    payloads = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    df = multimodal.sample_frames(payloads, container="avi")
    with pytest.raises(Exception, match="NotImplementedError|frame sampling"):
        df.collect()


def test_training_ready_excludes_eval_and_contaminated(spark, tmp_path):
    """The composed training-ready corpus must exclude the evaluation
    slice itself AND training docs that overlap it, keep clean
    survivors, and assign content-stable splits."""
    from nreadability_spark.operators import textops
    from nreadability_spark.plans.pipeline import training_ready

    bench_text = " ".join(f"eval{i}" for i in range(40))
    texts = []
    for i in range(120):
        if i % textops.DECON_BENCH_EVERY == 0:
            texts.append(bench_text + f" variant {i}")
        elif i == 7:
            texts.append(bench_text + " leaked verbatim prefix into training")
        else:
            texts.append(
                " ".join(f"doc{i}tok{j}x{(i * 13 + j) % 31}" for j in range(40))
            )
    _write_docs(spark, str(tmp_path), texts)
    rows = {r["doc_id"]: r for r in training_ready(spark, str(tmp_path)).collect()}
    assert 0 not in rows and 50 not in rows and 100 not in rows  # eval slice out
    assert 7 not in rows                                         # contaminated out
    assert 13 in rows                                            # clean doc kept
    assert set(r["split"] for r in rows.values()) <= {"train", "val", "test"}


def test_lang_id_marker_join_broadcasts(spark):
    """The lang-ID model table must reach the corpus as a broadcast
    build side (the 100 TB contract: model-as-data, no corpus shuffle
    for the scoring join)."""
    from nreadability_spark.operators import textops

    plan = (
        textops.lang_id(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_training_ready_contamination_join_broadcasts(spark):
    from nreadability_spark.plans.pipeline import training_ready

    plan = (
        training_ready(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the contaminated-ids anti-join is a broadcast (eval-set-sized)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_wav_metadata_decode_is_real():
    """The audio decoder must recover fmt-chunk fields from actual
    RIFF/WAVE bytes — including parameters the doc-keyed formula never
    produces — and be total on garbage and truncation."""
    from nreadability_spark.operators.multimodal import decode_audio_meta
    from nreadability_spark.sources import synth

    w = synth.build_wav(48000, 2, 777)
    assert decode_audio_meta(w) == ("wav", 48000, 2, 16, 777)
    assert decode_audio_meta(synth.build_wav(11025, 1, 1)) == ("wav", 11025, 1, 16, 1)
    for junk in (b"", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE", w[:30], b"\xff" * 64,
                 b"ID3\x03mp3-ish compressed payload"):
        fmt, *rest = decode_audio_meta(junk)
        assert fmt == "unknown" and all(v is None for v in rest)


def test_sequence_packing_offsets_and_spans(spark, tmp_path):
    """Two-phase global prefix sum must equal the sequential layout:
    contiguous offsets in doc_id order, pack arithmetic consistent,
    docs spanning a budget boundary counted correctly."""
    from nreadability_spark.operators import textops

    texts = [" ".join(f"t{j}" for j in range(n)) for n in (5, 10, 3, 20, 7, 0, 9)]
    _write_docs(spark, str(tmp_path), texts)
    rows = sorted(
        textops.sequence_packing(spark, str(tmp_path), budget=16, block_size=2).collect(),
        key=lambda r: r["doc_id"],
    )
    cum = 0
    for r in rows:
        assert r["offset_global"] == cum
        assert r["pack_id"] == cum // 16 and r["pack_offset"] == cum % 16
        if r["n_tokens"]:
            want_span = (cum + r["n_tokens"] - 1) // 16 - cum // 16 + 1
            assert r["n_packs_spanned"] == want_span
        cum += r["n_tokens"]
    # doc 3 (20 tokens from offset 18) must span packs 1..2
    assert rows[3]["n_packs_spanned"] == 2


def test_sft_packed_layout_is_sequential_and_consistent(spark):
    """The composed SFT layout (render arithmetic -> two-phase global
    prefix sum) must be a gapless sequential layout: offsets are the
    running sum of example lengths in conv_id order, pack arithmetic
    is consistent, and each example length equals the rendered
    conversation's actual character count (cross-checked against the
    sft_spans rendering invariant's ground truth)."""
    from nreadability_spark.operators.textops import SFT_END, SFT_ROLES
    from nreadability_spark.plans.pipeline import sft_packed

    rows = sorted(
        sft_packed(spark, SF_DIR, budget=512, block_size=16).collect(),
        key=lambda r: r["conv_id"],
    )
    assert rows
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, event_id, event_type, COALESCE(props, '') "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    true_len: dict[int, int] = {}
    for user_id, event_id, etype, props in ev:
        role = SFT_ROLES[event_id % 3]
        true_len[user_id] = true_len.get(user_id, 0) + len(
            f"<|{role}|>{etype}:{props}{SFT_END}"
        )
    cum = 0
    for r in rows:
        assert r["example_len"] == true_len[r["conv_id"]]
        assert r["offset_global"] == cum
        assert r["pack_id"] == cum // 512 and r["pack_offset"] == cum % 512
        assert (
            r["n_packs_spanned"]
            == (cum + r["example_len"] - 1) // 512 - cum // 512 + 1
        )
        cum += r["example_len"]


# --- unigram LM scoring / source mixture / line dedup (round 3+) -------

def _write_src_docs(spark, path, rows):
    """rows: (doc_id, text, source)"""
    spark.createDataFrame(
        [(i, t, s) for i, t, s in rows], "doc_id: long, text: string, source: string"
    ).coalesce(1).write.parquet(f"{path}/documents.parquet")


def test_unigram_logprob_ranks_oov_docs_lower(spark, tmp_path):
    """A document made of corpus-frequent tokens must out-score a
    document of singletons (all OOV below the top-V cut): the model
    filter's whole point."""
    from nreadability_spark.operators import textops

    common = "alpha beta gamma delta " * 30           # dominates the corpus
    rare = " ".join(f"zq{i}x" for i in range(40))      # 40 singletons
    _write_docs(spark, str(tmp_path), [common, common, common, rare])
    rows = {
        r["doc_id"]: r
        for r in textops.unigram_logprob(spark, str(tmp_path), vocab_size=4).collect()
    }
    assert rows[3]["n_oov"] == 40
    assert rows[0]["n_oov"] == 0
    assert rows[0]["avg_logp"] > rows[3]["avg_logp"]


def test_source_mixture_weights_invert_share(spark, tmp_path):
    """The heavy source gets the small resampling weight; shares sum to
    1; each weight equals target_share / actual_share."""
    from nreadability_spark.operators import textops

    rows = [
        (0, "a b c d e f g h " * 10, "big"),   # 80 tokens
        (1, "a b c d e f g h " * 10, "big"),
        (2, "x y z w", "small"),               # 4 tokens
    ]
    _write_src_docs(spark, str(tmp_path), rows)
    out = {r["source"]: r for r in textops.source_mixture(spark, str(tmp_path)).collect()}
    assert out["big"]["sum_tokens"] == 160 and out["small"]["sum_tokens"] == 4
    assert abs(out["big"]["token_share"] + out["small"]["token_share"] - 1.0) < 1e-6
    assert out["small"]["sample_weight"] > 1.0 > out["big"]["sample_weight"]
    assert abs(out["big"]["sample_weight"] - 0.5 / out["big"]["token_share"]) < 1e-5


def test_bigram_logprob_planted_exact(spark, tmp_path):
    """Closed-form check of the stupid-backoff arithmetic: one doc
    'x y x y x y' — every bigram is deterministic within its context
    (p=1, micro 0), the first token scores unigram log10(3/6), and
    all five pair positions are bigram hits."""
    from nreadability_spark.operators import textops

    _write_src_docs(spark, str(tmp_path), [(0, "x y x y x y", "s")])
    r = textops.bigram_logprob(spark, str(tmp_path)).collect()[0]
    assert r["n_tokens"] == 6
    assert r["n_bigram_hits"] == 5
    import math

    want_first = round(math.log10(3 / 6) * textops.LM_MICRO)
    assert r["sum_logp_micro"] == want_first  # pairs contribute 0 each


def test_cluster_topics_shape(spark):
    """Per cell: ranks are 1..k dense, terms distinct; the cluster
    sizes sum to the corpus size (every vector assigned exactly one
    cell)."""
    from nreadability_spark.plans import pipeline
    from nreadability_spark.operators.textops import load_documents

    rows = pipeline.cluster_topics(spark, SF_DIR).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    assert by_cell
    for cell, rs in by_cell.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len({r["term"] for r in rs}) == len(rs)
        assert len({r["n_docs"] for r in rs}) == 1
    n_docs = load_documents(spark, SF_DIR).count()
    assert sum(rs[0]["n_docs"] for rs in by_cell.values()) == n_docs


def test_dsir_model_is_complete_and_scores_novel_docs(spark):
    """The bucket model must cover ALL B buckets (add-1 smoothing
    exists precisely to weight fit-unseen buckets), so scoring a NOVEL
    document counts every one of its n-grams — with a count-only model
    the inner join silently dropped occurrences hashing to unseen
    buckets and the online score diverged from the model."""
    from nreadability_spark.operators import textops

    model = textops.dsir_bucket_model(spark, SF_DIR)
    assert model.count() == textops.DSIR_BUCKETS
    novel = spark.createDataFrame(
        [(999_999, "zzqx glorp wibble frotz")], "doc_id long, text string"
    )
    r = textops.dsir_score_frame(novel, model).collect()[0]
    # 4 unigrams + 3 bigrams, ALL scored regardless of fit coverage
    assert r["n_ngrams"] == 7


def test_dsir_select_prefers_target_distribution(spark):
    """Importance weights must actually pull toward the target: the
    target source's own documents (drawn FROM the target distribution)
    should be over-represented in the selected set relative to their
    corpus share, and exactly top_k documents are selected (ties
    resolved by doc_id)."""
    from nreadability_spark.operators import textops

    rows = textops.dsir_select(spark, SF_DIR).collect()
    sel = [r for r in rows if r["selected"]]
    assert len(sel) == textops.DSIR_TOP_K
    docs = {r["doc_id"]: r for r in rows}
    from nreadability_spark.operators.textops import load_documents

    src = {
        r["doc_id"]: r["source"]
        for r in load_documents(spark, SF_DIR).select("doc_id", "source").collect()
    }
    n_target_total = sum(1 for s in src.values() if s == textops.DSIR_TARGET_SOURCE)
    n_target_sel = sum(
        1 for r in sel if src[r["doc_id"]] == textops.DSIR_TARGET_SOURCE
    )
    share_corpus = n_target_total / len(docs)
    share_sel = n_target_sel / len(sel)
    assert share_sel > share_corpus, (share_sel, share_corpus)


def test_line_dedup_removes_boilerplate_keeps_body(spark, tmp_path):
    """Header/promo/footer recur across every doc of a source and must
    be removed once doc-frequency reaches the threshold; unique body
    lines survive verbatim, in order."""
    from nreadability_spark.operators import textops

    rows = [
        (i, " ".join(f"body{i}w{j}" for j in range(25)), "siteA") for i in range(5)
    ]
    _write_src_docs(spark, str(tmp_path), rows)
    out = {r["doc_id"]: r for r in textops.line_dedup(spark, str(tmp_path)).collect()}
    for i in range(5):
        r = out[i]
        # 2 header/promo + 3 body chunks (25 toks / 10) + 1 footer
        assert r["n_lines"] == 6
        assert r["n_removed"] == 3          # header, promo, footer (freq 5 >= 4)
        lines = r["clean_text"].split("\n")
        assert len(lines) == 3
        assert lines[0].startswith(f"body{i}w0")
        assert "navigation" not in r["clean_text"]
        assert "subscribe" not in r["clean_text"]
        assert "copyright" not in r["clean_text"]


def test_line_dedup_below_threshold_keeps_lines(spark, tmp_path):
    """With fewer docs than the threshold, even the shared lines stay."""
    from nreadability_spark.operators import textops

    rows = [(i, " ".join(f"b{i}t{j}" for j in range(10)), "s") for i in range(2)]
    _write_src_docs(spark, str(tmp_path), rows)
    out = textops.line_dedup(spark, str(tmp_path)).collect()
    assert all(r["n_removed"] == 0 for r in out)
    assert all("navigation" in r["clean_text"] for r in out)


def test_line_dedup_salted_equals_plain(spark):
    """boiler_salt is a pure partitioning change: salted and plain
    paths must produce identical rows (the salt spreads the hot key's
    probe rows over S join partitions by construction — the
    deterministic fallback where the AQE skew rule structurally cannot
    fire, see docs/SKEW.md section B)."""
    from nreadability_spark.operators import textops

    plain = textops.line_dedup(spark, SF_DIR).collect()
    salted = textops.line_dedup(spark, SF_DIR, boiler_salt=8).collect()
    assert [r.asDict() for r in plain] == [r.asDict() for r in salted]


def test_line_dedup_tag_join_broadcasts(spark):
    """At sandbox scale the boiler-key tag join must plan as a
    broadcast hash join — the wide exploded-lines side then never
    shuffles on line_h, so the every-document hot key cannot produce a
    hot partition."""
    from nreadability_spark.operators import textops

    plan = (
        textops.line_dedup(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_unigram_logprob_plan_shape(spark):
    """Scale contracts: the top-V vocab cut must be
    TakeOrderedAndProject (per-partition heaps, never a global sort of
    the vocabulary) and the scoring join must broadcast the model."""
    from nreadability_spark.operators import textops

    plan = (
        textops.unigram_logprob(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_line_dedup_plan_shape(spark):
    """Scale contracts: no global window and no cartesian product — the
    rebuild is a hash agg, the frequency join is keyed."""
    from nreadability_spark.operators import textops

    plan = (
        textops.line_dedup(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
