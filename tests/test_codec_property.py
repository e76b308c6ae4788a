"""Property tests: the from-scratch codecs (PNG, baseline JPEG, FLAC
subset) driven over hypothesis-generated byte payloads — shapes the
fixture corpus never produces (every byte value, pathological runs,
block-boundary lengths, single bytes).

PNG and FLAC must be LOSSLESS for any input; JPEG must stay within its
PROVABLE quantization bound (the docstring derivation says < 16 for
any input — hypothesis hunts for a counterexample).  No Spark session:
these drive the kernel functions directly, so hypothesis can shrink.
"""

from __future__ import annotations

import numpy as np
import pytest
import hypo
from hypothesis import given, strategies as st

from demo_apache_flink_streaming_mode_spark.operators import bitstream as bs
from demo_apache_flink_streaming_mode_spark.operators import multimodal as mm

# byte payloads biased toward codec-hostile shapes: empty-adjacent
# lengths, block boundaries, constant runs, alternating extremes
payloads = st.one_of(
    st.binary(min_size=1, max_size=1500),
    st.integers(1, 4).flatmap(
        lambda k: st.sampled_from([
            b"\x00" * (k * 256), b"\xff" * (k * 256 - 1),
            bytes([0, 255] * (k * 128)),
            bytes(range(256)) * k,
        ]).map(bytes)),
    # exact block-boundary lengths for every codec's block/row size
    st.sampled_from([1, 2, 31, 32, 33, 255, 256, 257, 511, 512])
      .flatmap(lambda n: st.binary(min_size=n, max_size=n)),
)


@hypo.budget(60)
@given(payloads)
def test_png_lossless_for_any_payload(payload):
    w, h, bd, ct, px = mm._decode_png(mm._encode_png(payload))
    rows = (len(payload) + mm.PNG_WIDTH - 1) // mm.PNG_WIDTH
    assert (w, h, bd, ct) == (mm.PNG_WIDTH, rows, 8, 0)
    assert px == payload.ljust(h * w, b"\x00")


@hypo.budget(60)
@given(st.binary(min_size=0, max_size=30000), st.integers(0, 9))
def test_inflate_interop_with_zlib_for_any_payload(data, level):
    """The from-scratch RFC 1951 inflate decodes bitstreams produced
    by an INDEPENDENT implementation (stdlib zlib) at every
    compression level — level 0 exercises stored blocks, higher levels
    fixed/dynamic Huffman — and agrees with zlib.decompress
    byte-for-byte. This is interoperability, not a self-roundtrip."""
    import zlib
    z = zlib.compress(data, level)
    assert mm._inflate(z) == data == zlib.decompress(z)


@hypo.budget(60)
@given(st.binary(min_size=0, max_size=30000))
def test_deflate_interop_zlib_decodes_our_streams(data):
    """The inverse-direction interop proof: stdlib zlib.decompress
    accepts every stream the from-scratch _deflate emits (greedy
    hash-chain LZ77 + fixed-Huffman blocks + hand-computed Adler-32),
    and _inflate agrees — standard-bitstream conformance both ways."""
    import zlib
    z = mm._deflate(data)
    assert zlib.decompress(z) == data
    assert mm._inflate(z) == data


def test_deflate_compresses_repetitive_content():
    rep = b"training corpus boilerplate " * 200
    assert len(mm._deflate(rep)) < len(rep) / 5


def test_inflate_covers_all_strategies_and_rejects_corruption():
    import os
    import random
    import zlib

    import pytest
    rnd = random.Random(17)
    p = os.urandom(8000) + b"repeat" * 2000 + bytes(
        rnd.randrange(4) for _ in range(8000))
    for strat in (zlib.Z_DEFAULT_STRATEGY, zlib.Z_FILTERED,
                  zlib.Z_HUFFMAN_ONLY, zlib.Z_RLE, zlib.Z_FIXED):
        co = zlib.compressobj(6, zlib.DEFLATED, 15, 8, strat)
        z = co.compress(p) + co.flush()
        assert mm._inflate(z) == p, strat
    good = zlib.compress(b"corruption target" * 64, 6)
    with pytest.raises(ValueError):
        mm._inflate(good[:8])                  # truncated
    bad = bytearray(good)
    bad[0] = 0x00                              # CM != 8
    with pytest.raises(ValueError):
        mm._inflate(bytes(bad))
    bad = bytearray(good)
    bad[-1] ^= 0x01                            # Adler-32 trailer
    with pytest.raises(ValueError):
        mm._inflate(bytes(bad))
    bad = bytearray(good)
    bad[10] ^= 0xFF                            # mid-stream Huffman data
    with pytest.raises(ValueError):
        mm._inflate(bytes(bad))
    # stored-block LEN/NLEN integrity (level 0 streams)
    z0 = bytearray(zlib.compress(b"stored block bytes", 0))
    z0[5] ^= 0xFF                              # NLEN byte
    with pytest.raises(ValueError):
        mm._inflate(bytes(z0))


@hypo.budget(60)
@given(payloads)
def test_gif_lossless_for_any_payload(payload):
    w, h, nc, px = mm._decode_gif(mm._encode_gif(payload))
    rows = (len(payload) + mm.GIF_WIDTH - 1) // mm.GIF_WIDTH
    assert (w, h, nc) == (mm.GIF_WIDTH, rows, 256)
    assert px == payload.ljust(h * w, b"\x00")


@hypo.budget(60)
@given(st.binary(min_size=0, max_size=40000))
def test_gif_lzw_roundtrips_any_byte_stream(data):
    """The LZW pair directly, past the container: any byte stream
    round-trips, including streams long/diverse enough to fill the
    4096-slot table and force mid-stream CLEAR resets."""
    assert mm._lzw_decode(mm._lzw_encode(data)) == data


def test_gif_lzw_dictionary_reset_and_kwkwk():
    """Constructed corners: (a) a stream whose dictionary provably
    overflows 4096 slots (every 2-byte phrase distinct for long
    stretches) must emit mid-stream CLEAR codes and still round-trip;
    (b) the classic KwKwK pattern (aaa... runs) where the decoder
    receives a code one past its table."""
    import random
    rnd = random.Random(41)
    big = bytes(rnd.randrange(256) for _ in range(30000))
    assert mm._lzw_decode(mm._lzw_encode(big)) == big
    clear_code = 256
    # count 12-bit-era clears structurally: re-decode with a tracer is
    # overkill — instead assert the stream is larger than one table's
    # worth of max-width codes, which forces >= 1 reset by the
    # pigeonhole of the 4095-slot cap
    assert len(mm._lzw_encode(big)) * 8 > (4095 - 258) * 9, clear_code
    runs = b"a" * 1000 + b"ab" + b"a" * 997
    assert mm._lzw_decode(mm._lzw_encode(runs)) == runs


def test_gif_standard_syntax_and_compression():
    """Structural conformance of the emitted bitstream: GIF89a magic,
    LSD geometry, 256-entry GCT, image descriptor at the right offset,
    sub-blocks <= 255 bytes, 0x3B trailer — and the LZW layer genuinely
    compresses repetitive content (a real dictionary coder, not a
    store)."""
    payload = b"training corpus boilerplate " * 100
    blob = mm._encode_gif(payload)
    assert blob[:6] == b"GIF89a" and blob[-1] == 0x3B
    import struct as st_
    w, h, packed, bg, aspect = st_.unpack_from("<HHBBB", blob, 6)
    assert (w, packed, bg, aspect) == (mm.GIF_WIDTH, 0xF7, 0, 0)
    assert h == (len(payload) + mm.GIF_WIDTH - 1) // mm.GIF_WIDTH
    gct = blob[13:13 + 768]
    assert all(gct[3 * i] == gct[3 * i + 1] == gct[3 * i + 2] == i
               for i in range(256))
    assert blob[13 + 768] == 0x2C
    # walk the sub-blocks: every length byte <= 255 by type, terminator
    pos = 13 + 768 + 10 + 1
    n_sub = 0
    while blob[pos]:
        pos += 1 + blob[pos]
        n_sub += 1
    assert n_sub >= 1 and blob[pos + 1] == 0x3B
    assert len(mm._lzw_encode(payload)) < len(payload) / 3


def test_gif_height_bound_enforced():
    """The uint16 height bound is an explicit ValueError with the
    limit in the message, not a struct.error from pack (r10 advice) —
    and the largest legal payload still containerizes."""
    import pytest as _pytest
    over = bytes(mm.GIF_WIDTH * 0x10000)       # needs 65536 rows
    with _pytest.raises(ValueError, match="65535"):
        mm._encode_gif(over)
    # exactly at the bound: header parses, height == 0xFFFF
    blob = mm._encode_gif(bytes(mm.GIF_WIDTH * 0xFFFF))
    import struct as st_
    w, h, *_ = st_.unpack_from("<HHBBB", blob, 6)
    assert (w, h) == (mm.GIF_WIDTH, 0xFFFF)


def test_huff_table_rejects_oversubscribed_lengths():
    """RFC 1951 table construction fails fast on Kraft-oversubscribed
    length sets instead of silently overwriting (len, code) entries
    (r10 advice); legal incomplete sets — the fixed distance table's
    30/32, the degenerate one-code dynamic table — still build."""
    import pytest as _pytest
    with _pytest.raises(ValueError, match="over-subscribed"):
        bs.canonical_table([1, 1, 1])           # three 1-bit codes
    with _pytest.raises(ValueError, match="over-subscribed"):
        bs.canonical_table([1, 2, 2, 2])        # Kraft sum 9/8
    assert bs.canonical_table([1]) == {(1, 0): 0}  # one-code table: legal
    fixed_dist = bs.canonical_table([5] * 30)   # RFC fixed dist: 30/32
    assert len(fixed_dist) == 30
    # a complete 2-level tree builds and stays bijective
    t = bs.canonical_table([1, 2, 2])
    assert len(t) == 3 and sorted(t.values()) == [0, 1, 2]


def test_gif_strict_on_malformed_blobs():
    good = mm._encode_gif(b"hello gif" * 30)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        mm._decode_gif(b"NOTGIF" + good[6:])
    with _pytest.raises((ValueError, IndexError)):
        mm._decode_gif(good[:40])              # truncated mid-structure
    # corrupt an LZW byte mid-stream: must either fail loudly or decode
    # to the wrong pixels — never silently return the original
    body = bytearray(good)
    body[13 + 768 + 10 + 2] ^= 0xA5
    try:
        w, h, nc, px = mm._decode_gif(bytes(body))
        assert px != (b"hello gif" * 30).ljust(h * w, b"\x00")
    except ValueError:
        pass


@hypo.budget(60)
@given(payloads)
def test_jpeg_error_bound_for_any_payload(payload):
    w, h, px = mm._decode_jpeg(mm._encode_jpeg(payload))
    assert (w, h) == mm._jpeg_dims(len(payload))
    orig = np.frombuffer(payload.ljust(h * w, b"\x00"),
                         dtype=np.uint8).reshape(h, w)
    err = int(np.max(np.abs(px.astype(np.int32) - orig.astype(np.int32))))
    assert err <= mm.JPEG_ERR_BOUND, err


@hypo.budget(60)
@given(payloads)
def test_flac_lossless_for_any_payload(payload):
    rate, nf, back = mm._decode_flac(mm._encode_flac(payload))
    assert back == payload and rate == mm.FLAC_RATE
    assert nf == (len(payload) + mm.FLAC_BLOCK - 1) // mm.FLAC_BLOCK


@hypo.budget(60)
@given(payloads)
def test_flic_lossless_for_any_payload(payload):
    fs = mm.FLIC_W * mm.FLIC_H
    w, h, frames = mm._decode_flic(mm._encode_flic(payload))
    assert (w, h) == (mm.FLIC_W, mm.FLIC_H)
    assert len(frames) == (len(payload) + fs - 1) // fs
    for i, f in enumerate(frames):
        assert f == payload[i * fs:(i + 1) * fs].ljust(fs, b"\x00")


def test_flic_delta_frames_compress_coherent_sequences():
    """The LC delta frames must genuinely exploit temporal coherence:
    a sequence of frames differing in a few bytes each must code far
    smaller than its payload, while every frame still reconstructs."""
    import random
    rng = random.Random(42)
    fs = mm.FLIC_W * mm.FLIC_H
    seq = bytearray(rng.randrange(256) for _ in range(fs))
    for _ in range(7):
        nxt = bytearray(seq[-fs:])
        for _ in range(8):
            nxt[rng.randrange(fs)] = rng.randrange(256)
        seq += nxt
    payload = bytes(seq)
    blob = mm._encode_flic(payload)
    assert len(blob) < len(payload) * 0.5, (len(blob), len(payload))
    _, _, frames = mm._decode_flic(blob)
    assert b"".join(frames) == payload
    # and an identical repeated frame costs a zero-chunk frame header
    rep = bytes(seq[:fs]) * 3
    assert len(mm._encode_flic(rep)) < len(mm._encode_flic(payload))


def test_flic_decoder_handles_lc_replicate_packets():
    """The spec's LC replicate packets (count >= 128 -> one byte
    repeated) decode correctly even though this encoder only emits
    literal packets — hand-crafted delta frame exercising the path."""
    import struct
    w, h = mm.FLIC_W, mm.FLIC_H
    frame0 = bytes(range(w)) * h
    blob0 = mm._encode_flic(frame0)
    # append a hand-built frame: line 2 gets 10 bytes of 0x55 at col 3
    lc = struct.pack("<HH", 2, 1) + bytes([1, 3, 256 - 10, 0x55])
    chunk = struct.pack("<IH", 6 + len(lc), mm.FLI_LC) + lc
    frame = struct.pack("<IHH8x", 16 + len(chunk), mm.FLIC_FRAME_MAGIC,
                        1) + chunk
    hdr = bytearray(blob0)
    struct.pack_into("<IH H", hdr, 0, len(blob0) + len(frame),
                     mm.FLIC_MAGIC, 2)
    _, _, frames = mm._decode_flic(bytes(hdr) + frame)
    want = bytearray(frame0)
    want[2 * w + 3:2 * w + 13] = b"\x55" * 10
    assert frames[1] == bytes(want) and frames[0] == frame0


def test_flic_frame_count_cap_raises():
    """The FLC header frame count is u16: a payload needing more than
    65535 frames must raise a clear ValueError at ENCODE time (the
    same hidden size-cap class the FLAC UTF-8 frame-number fix
    closed), while exactly 65535 frames still roundtrips."""
    import pytest
    fs = 2 * 2
    with pytest.raises(ValueError, match="65535"):
        mm._encode_flic(b"x" * (fs * 0x10000), w=2, h=2)
    # boundary: exactly 0xFFFF frames encodes and decodes losslessly
    payload = b"x" * (fs * 0xFFFF)
    w, h, frames = mm._decode_flic(mm._encode_flic(payload, w=2, h=2))
    assert (w, h, len(frames)) == (2, 2, 0xFFFF)
    assert frames[0] == b"x" * fs and frames[-1] == b"x" * fs


def _flic_one_frame(chunk_type, data, w, h, extra_frames=()):
    """Hand-build a minimal FLC blob: one constructed frame (+optional
    extra pre-encoded frame bodies) for malformed-input tests."""
    import struct
    chunk = struct.pack("<IH", 6 + len(data), chunk_type) + data
    frames = [struct.pack("<IHH8x", 16 + len(chunk), mm.FLIC_FRAME_MAGIC, 1)
              + chunk] + list(extra_frames)
    body = b"".join(frames)
    hdr = bytearray(128)
    struct.pack_into("<IHHHHHHI", hdr, 0, 128 + len(body), mm.FLIC_MAGIC,
                     len(frames), w, h, 8, 3, mm.FLIC_SPEED_MS)
    return bytes(hdr) + body


def test_flic_strict_on_malformed_blobs():
    """The 'strict: sizes, magics, line overflows all raise' contract
    must hold BEFORE any framebuffer mutation: an undersized data
    slice must not silently resize the bytearray, and an overflowing
    write must not bleed into the next row (r7 advice items)."""
    import pytest, struct
    w, h = 4, 2

    def lc(skip, nlines, packets):
        return struct.pack("<HH", skip, nlines) + packets

    # key frame so the LC frame has a framebuffer to delta against
    key = mm._encode_flic(bytes(range(w * h)), w=w, h=h)
    key_frame_body = key[128:]

    cases = [
        # LC literal overflowing the line width (would hit the next row)
        _flic_one_frame(mm.FLI_LC, lc(0, 1, bytes([1, w - 2, 4, 9, 9, 9, 9])),
                        w, h),
        # LC literal whose data underruns (slice assignment would SHRINK fb)
        _flic_one_frame(mm.FLI_LC, lc(0, 1, bytes([1, 0, 3, 9])), w, h),
        # LC line range past the image height (writes past the buffer end)
        _flic_one_frame(mm.FLI_LC, lc(1, 2, bytes([0, 0])), w, h),
        # BRUN literal whose data underruns
        _flic_one_frame(mm.FLI_BRUN, bytes([1, 256 - w, 9, 9]), w, h),
        # BRUN zero-length replicate (would never advance -> hang)
        _flic_one_frame(mm.FLI_BRUN, bytes([1, 0, 9]), w, h),
        # BRUN replicate overflowing the line width
        _flic_one_frame(mm.FLI_BRUN, bytes([1, w + 1, 9]), w, h),
    ]
    # LC cases need the key frame first; rebuild those with two frames
    for i in (0, 1, 2):
        lc_frame_body = cases[i][128:]
        blob = bytearray(key_frame_body + lc_frame_body)
        hdr = bytearray(128)
        struct.pack_into("<IHHHHHHI", hdr, 0, 128 + len(blob), mm.FLIC_MAGIC,
                         2, w, h, 8, 3, mm.FLIC_SPEED_MS)
        cases[i] = bytes(hdr) + bytes(blob)
    for blob in cases:
        with pytest.raises(ValueError):
            mm._decode_flic(blob)


@hypo.budget(60)
@given(payloads)
def test_mcv_lossless_for_any_payload(payload):
    fs = mm.MCV_W * mm.MCV_H
    w, h, frames, mvs = mm._decode_mcv(mm._encode_mcv(payload))
    assert (w, h) == (mm.MCV_W, mm.MCV_H)
    assert len(frames) == mm._mcv_n_frames(len(payload), fs)
    assert len(mvs) == max(0, len(frames) - 1)
    for i, f in enumerate(frames):
        assert f == payload[i * fs:(i + 1) * fs].ljust(fs, b"\x00")


def test_mcv_motion_search_does_real_work():
    """The block matcher must genuinely find motion: on a sequence of
    frames that each shift the previous one by 2 px, every P-block
    picks a nonzero vector, the stream still reconstructs bit-exact,
    and motion coding beats the same codec with the search disabled
    (r=0 forces zero vectors -> residuals carry all the change)."""
    import random
    rng = random.Random(7)
    w, h = mm.MCV_W, mm.MCV_H
    rows = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
    frames = [rows]
    for _ in range(5):
        prev = frames[-1]
        frames.append([r[-2:] + r[:-2] for r in prev])  # shift right 2
    payload = b"".join(bytes(v for r in f for v in r) for f in frames)
    blob = mm._encode_mcv(payload)
    _, _, dec, mvs = mm._decode_mcv(blob)
    assert b"".join(dec) == payload
    flat = [mv for f in mvs for mv in f]
    assert flat and all(mv != (0, 0) for mv in flat)
    assert len(blob) < len(mm._encode_mcv(payload, r=0))


@hypo.budget(60)
@given(payloads)
def test_mcv2_lossless_for_any_payload(payload):
    fs = mm.MCV_W * mm.MCV_H
    w, h, frames, mvs = mm._decode_mcv2(mm._encode_mcv2(payload))
    assert (w, h) == (mm.MCV_W, mm.MCV_H)
    assert len(frames) == mm._mcv_n_frames(len(payload), fs)
    assert len(mvs) == max(0, len(frames) - 1)
    for i, f in enumerate(frames):
        assert f == payload[i * fs:(i + 1) * fs].ljust(fs, b"\x00")


def test_mcv2_half_pel_beats_integer_pel_on_half_shifted_content():
    """The sub-pixel search must genuinely exploit half-pel motion: on
    content whose second frame is the exact vertical half-sample
    average of the first ((a+b+1)>>1 — the interpolation rule itself),
    MCV2 picks odd (half-unit) vectors with ZERO residual for every
    block whose dy=+1 window fits the frame, reconstructs bit-exact,
    and codes the stream smaller than integer-pel MCV1 on the same
    payload."""
    w, h, b = mm.MCV_W, mm.MCV_H, mm.MCV_B
    f1 = [[((i * 37 + j * 11) * 7) % 256 for j in range(w)]
          for i in range(h)]
    f2 = [[(f1[i][j] + f1[min(i + 1, h - 1)][j] + 1) >> 1
           for j in range(w)] for i in range(h)]
    payload = (bytes(v for r in f1 for v in r)
               + bytes(v for r in f2 for v in r))
    blob = mm._encode_mcv2(payload)
    _, _, dec, mvs = mm._decode_mcv2(blob)
    assert b"".join(dec) == payload
    # top-row blocks (the ones whose dy=+1 half-unit window fits) must
    # have found the exact half-pel predictor
    top = [mv for bi, mv in enumerate(mvs[0]) if bi < (w // b)]
    assert top and all(mv == (1, 0) for mv in top)
    assert len(blob) < len(mm._encode_mcv(payload))


def test_mcv2_strict_on_malformed_blobs():
    import pytest, struct
    blob2 = bytearray(mm._encode_mcv2(bytes(range(256)) * 2))  # 2 frames
    for cut in (0, 4, 13):
        with pytest.raises(ValueError, match="truncated"):
            mm._decode_mcv2(bytes(blob2[:cut]))
    with pytest.raises(ValueError, match="MCV2"):
        mm._decode_mcv2(b"XXXX" + bytes(blob2[4:]))
    bad = bytearray(blob2)
    struct.pack_into("<H", bad, 8, mm.MCV_W - 1)
    with pytest.raises(ValueError, match="divide"):
        mm._decode_mcv2(bytes(bad))
    with pytest.raises(ValueError, match="trailing"):
        mm._decode_mcv2(bytes(blob2) + b"\x00")
    # motion vector outside the frame: P-frame block 0's 5-bit dy field
    # starts the byte right after the I-frame bits; 0b00000... = -2R at
    # row 0 is invalid (and 5-bit fields can also encode magnitudes
    # past 2R, which the decoder must reject via the same check)
    i_len = len(mm._encode_mcv2(bytes(range(256)))) - 14
    bad = bytearray(blob2)
    bad[14 + i_len] = 0x00                         # dy = -2R at by=0
    with pytest.raises(ValueError, match="outside"):
        mm._decode_mcv2(bytes(bad))


def test_mcv_strict_on_malformed_blobs():
    import pytest, struct
    fs = mm.MCV_W * mm.MCV_H
    blob2 = bytearray(mm._encode_mcv(bytes(range(256)) * 2))  # 2 frames
    # header truncated: shorter than the fixed 14-byte header must
    # raise ValueError (the strict-decode class), not struct.error
    for cut in (0, 4, 13):
        with pytest.raises(ValueError, match="truncated"):
            mm._decode_mcv(bytes(blob2[:cut]))
    # bad magic
    with pytest.raises(ValueError, match="MCV1"):
        mm._decode_mcv(b"XXXX" + bytes(blob2[4:]))
    # geometry: block size not dividing the width
    bad = bytearray(blob2)
    struct.pack_into("<H", bad, 8, mm.MCV_W - 1)
    with pytest.raises(ValueError, match="divide"):
        mm._decode_mcv(bytes(bad))
    # trailing bytes after the last frame
    with pytest.raises(ValueError, match="trailing"):
        mm._decode_mcv(bytes(blob2) + b"\x00")
    # motion vector pointing outside the frame: frames are aligned to
    # byte boundaries, so the first P-frame byte (block 0's vector)
    # sits at 14 + len(I-frame bits); patch it to dy=-R at row 0
    i_len = len(mm._encode_mcv(bytes(range(256)))) - 14
    bad = bytearray(blob2)
    bad[14 + i_len] = (0 << 4) | (0 + mm.MCV_R)   # dy = -R, dx = 0
    with pytest.raises(ValueError, match="outside"):
        mm._decode_mcv(bytes(bad))


@hypo.budget(60)
@given(payloads)
def test_mdct_error_bound_for_any_payload(payload):
    """Reconstruction error must stay under the DERIVED bound
    sqrt(2) * sqrt(N) * q/2 (~11.31 for N=64, q=2), well inside the
    contractual <=16 flag — hypothesis hunts the whole payload space
    for a violating spectrum."""
    n, nb, rec = mm._decode_mdct(mm._encode_mdct(payload))
    assert n == len(payload)
    assert nb == (len(payload) + mm.MDCT_N - 1) // mm.MDCT_N + 1
    orig = np.frombuffer(payload, dtype=np.uint8).astype(np.float64) - 128.0
    err = float(np.max(np.abs(rec - orig)))
    bound = (2 ** 0.5) * (mm.MDCT_N ** 0.5) * mm.MDCT_Q / 2
    assert err <= bound <= mm.MDCT_ERR_BOUND, err


def test_mdct_perfect_reconstruction_without_quantization():
    """TDAC sanity: with the quantizer bypassed (analysis then
    synthesis + overlap-add), the sine-window MDCT reconstructs the
    signal to float precision — proving the alias cancellation is
    real, not error hidden under the quantization bound."""
    import random
    rng = random.Random(1)
    N = mm.MDCT_N
    M = mm._mdct_matrix(N)
    x = np.array([rng.uniform(-128, 127) for _ in range(5 * N)])
    nb = mm._mdct_n_blocks(len(x), N)
    pad = np.zeros((nb + 1) * N)
    pad[N:N + len(x)] = x
    out = np.zeros_like(pad)
    for i in range(nb):
        out[i * N:(i + 2) * N] += M.T @ (M @ pad[i * N:(i + 2) * N])
    assert float(np.max(np.abs(out[N:N + len(x)] - x))) < 1e-9


def test_mdct_compresses_smooth_signals():
    """The transform must genuinely concentrate energy: a smooth
    sinusoid codes smaller than its byte length, random bytes don't."""
    import math
    import random
    smooth = bytes(int(127 + 100 * math.sin(i / 5)) % 256
                   for i in range(512))
    assert len(mm._encode_mdct(smooth)) < 512
    rnd = bytes(random.Random(9).randrange(256) for _ in range(512))
    assert len(mm._encode_mdct(rnd)) > len(mm._encode_mdct(smooth))


def test_flac_roundtrips_past_127_frames():
    """r6 ADVICE pin: the frame number is UTF-8-coded per the FLAC
    spec, so streams longer than 127 frames (payloads > 128 * BLOCK
    bytes = 32 KiB) round-trip instead of tripping the old single-byte
    cap."""
    payload = bytes((i * 31) & 0xFF for i in range(130 * mm.FLAC_BLOCK + 7))
    rate, nf, back = mm._decode_flac(mm._encode_flac(payload))
    assert back == payload and nf == 131


@given(st.integers(0, (1 << 36) - 1))
@hypo.budget(200)
def test_flac_utf8_number_roundtrip(n):
    """The UTF-8-style coded number round-trips over its full 36-bit
    domain and is length-minimal at the standard UTF-8 breakpoints."""
    enc = mm._flac_utf8(n)
    got = mm._flac_read_utf8(bs.MsbReader(enc))
    assert got == n
    want_len = next(k for k, bits in
                    ((1, 7), (2, 11), (3, 16), (4, 21), (5, 26), (6, 31),
                     (7, 36)) if n.bit_length() <= bits)
    assert len(enc) == want_len


# --- MCV3: rate-decided modes + adaptive binary range coding --------------

rc_ops = st.lists(
    st.one_of(
        st.tuples(st.just("bit"), st.integers(0, 15),
                  st.integers(0, 1)),
        st.integers(1, 16).flatmap(
            lambda ln: st.tuples(st.just("dir"), st.just(ln),
                                 st.integers(0, (1 << ln) - 1))),
    ),
    max_size=600)


@hypo.budget(45)
@given(rc_ops)
def test_range_coder_roundtrips_any_decision_sequence(ops):
    """The adaptive binary range coder must reproduce EVERY decision
    sequence exactly — context-coded bits (with live adaptation) and
    bypass fields interleaved arbitrarily. Hypothesis hunts the carry
    paths (pending-0xFF runs, first-byte deferral) that byte-level
    unit tests cannot reliably reach."""
    enc = mm._RcEnc()
    probs = [mm._RC_PROB_INIT] * 16
    for op in ops:
        if op[0] == "bit":
            enc.bit(probs, op[1], op[2])
        else:
            enc.direct(op[2], op[1])
    blob = enc.flush()
    dec = mm._RcDec(blob)
    probs = [mm._RC_PROB_INIT] * 16
    for op in ops:
        if op[0] == "bit":
            assert dec.bit(probs, op[1]) == op[2]
        else:
            assert dec.direct(op[1]) == op[2]
    assert dec.pos == len(blob)


def test_range_coder_adapts():
    """A heavily biased bit stream must code well below 1 bit/decision
    (the point of ADAPTIVE coding), and a balanced stream near 1."""
    import random
    rng = random.Random(42)
    bits = [1 if rng.random() < 0.02 else 0 for _ in range(10000)]
    enc = mm._RcEnc()
    probs = [mm._RC_PROB_INIT]
    for b in bits:
        enc.bit(probs, 0, b)
    blob = enc.flush()
    assert len(blob) < 10000 / 8 / 3          # > 3x under raw bits
    dec = mm._RcDec(blob)
    probs = [mm._RC_PROB_INIT]
    assert all(dec.bit(probs, 0) == b for b in bits)


@hypo.budget(60)
@given(payloads)
def test_mcv3_lossless_for_any_payload(payload):
    fs = mm.MCV_W * mm.MCV_H
    w, h, frames, modes = mm._decode_mcv3(mm._encode_mcv3(payload))
    assert (w, h) == (mm.MCV_W, mm.MCV_H)
    assert len(frames) == mm._mcv_n_frames(len(payload), fs)
    assert len(modes) == max(0, len(frames) - 1)
    for i, f in enumerate(frames):
        assert f == payload[i * fs:(i + 1) * fs].ljust(fs, b"\x00")


def test_mcv3_mode_decision_picks_each_mode_where_it_wins():
    """The rate decision must genuinely route blocks to the cheapest
    prediction: SKIP on static content (zero residual bits), INTER
    with the true vector on shifted content, INTRA on a scene cut
    where the current frame's flat DC beats any motion candidate."""
    w, h, b = mm.MCV_W, mm.MCV_H, mm.MCV_B
    # static: every P-block SKIPs
    _, _, frames, modes = mm._decode_mcv3(mm._encode_mcv3(bytes([7]) * 1024))
    assert all(m == ("S", 0, 0) for fm in modes for m in fm)
    # horizontal shift by 2: right-column blocks (whose dx=-2 window
    # fits) must code INTER with exactly (0, -2)
    f0 = [[((i * 37 + j * 11) * 7) % 256 for j in range(w)]
          for i in range(h)]
    f1 = [r[-2:] + r[:-2] for r in f0]            # shift right 2
    payload = (bytes(v for r in f0 for v in r)
               + bytes(v for r in f1 for v in r))
    _, _, frames, modes = mm._decode_mcv3(mm._encode_mcv3(payload))
    right = [m for bi, m in enumerate(modes[0]) if bi % (w // b) != 0]
    assert right and all(m == ("P", 0, -2) for m in right)
    # scene cut to a flat frame: after the top-left block, current-
    # frame DC predicts perfectly -> INTRA must win everywhere
    payload = (bytes(v for r in f0 for v in r) + bytes([200]) * 256)
    _, _, frames, modes = mm._decode_mcv3(mm._encode_mcv3(payload))
    assert all(m[0] == "I" for m in modes[0])
    assert b"".join(frames) == payload


def test_mcv3_range_coding_beats_rice_mcv1():
    """Adaptive arithmetic coding + mode decision must pay for itself:
    MCV3 codes static, panning AND random content smaller than MCV1's
    Rice-coded, always-INTER stream."""
    import random
    rng = random.Random(1)
    cases = [
        bytes([123]) * (256 * 8),
        bytes(rng.randrange(256) for _ in range(256 * 8)),
    ]
    f0 = [[((i * 37 + j * 11) * 7) % 256 for j in range(mm.MCV_W)]
          for i in range(mm.MCV_H)]
    frames = [f0]
    for _ in range(5):
        frames.append([r[-2:] + r[:-2] for r in frames[-1]])
    cases.append(b"".join(bytes(v for r in f for v in r) for f in frames))
    for payload in cases:
        assert len(mm._encode_mcv3(payload)) < len(mm._encode_mcv(payload))


def test_mcv3_strict_on_malformed_blobs():
    import pytest, struct
    blob2 = bytearray(mm._encode_mcv3(bytes(range(256)) * 2))  # 2 frames
    # header shorter than the fixed 18 bytes -> ValueError, never
    # struct.error
    for cut in (0, 4, 17):
        with pytest.raises(ValueError, match="truncated"):
            mm._decode_mcv3(bytes(blob2[:cut]))
    with pytest.raises(ValueError, match="MCV3"):
        mm._decode_mcv3(b"XXXX" + bytes(blob2[4:]))
    bad = bytearray(blob2)
    struct.pack_into("<H", bad, 8, mm.MCV_W - 1)
    with pytest.raises(ValueError, match="divide"):
        mm._decode_mcv3(bytes(bad))
    # coded-length header field must match the actual bytes, both ways
    with pytest.raises(ValueError, match="length mismatch"):
        mm._decode_mcv3(bytes(blob2) + b"\x00")
    with pytest.raises(ValueError, match="length mismatch"):
        mm._decode_mcv3(bytes(blob2[:-1]))
    # a consistent header over a TRUNCATED coded stream: shrink both
    # the blob and the coded_len field so the range decoder itself
    # runs out of bytes mid-frame
    bad = bytearray(blob2[:24])
    struct.pack_into("<I", bad, 14, len(bad) - 18)
    with pytest.raises(ValueError, match="truncated"):
        mm._decode_mcv3(bytes(bad))
    # an empty-payload stream must carry zero coded bytes
    empty = bytearray(mm._encode_mcv3(b""))
    assert len(empty) == 18
    struct.pack_into("<I", empty, 14, 5)
    with pytest.raises(ValueError, match="trailing"):
        mm._decode_mcv3(bytes(empty) + b"\x00\x00\x00\x00\x00")


def _mcv3_hand_stream(drive):
    """Build a hand-driven MCV3 blob: ``drive(enc, probs)`` emits raw
    decisions, the header is stamped for one 2-frame payload."""
    enc = mm._RcEnc()
    probs = [mm._RC_PROB_INIT] * mm._MCV3_N_CTX
    drive(enc, probs)
    coded = enc.flush()
    import struct
    return (mm.MCV3_MAGIC
            + struct.pack("<IHHBBI", 512, mm.MCV_W, mm.MCV_H, mm.MCV_B,
                          mm.MCV_R, len(coded)) + coded)


def test_mcv3_rejects_hand_crafted_invalid_streams():
    """Defects a byte patch can't reach under arithmetic coding are
    reached by DRIVING the encoder: a residual whose unary magnitude
    prefix exceeds the legal pixel range, and a reconstructed pixel
    outside [0, 255]."""
    import pytest

    def overlong_unary(enc, probs):
        base = mm._MCV3_CTX_RES[0]
        for d in range(11):                    # k > 9 must raise
            enc.bit(probs, base + min(d, mm._MCV3_RES_DEPTH - 1), 1)
    with pytest.raises(ValueError, match="magnitude"):
        mm._decode_mcv3(_mcv3_hand_stream(overlong_unary))

    def negative_pixel(enc, probs):
        # frame 0 block 0 first residual: DC is 128, code -129 -> -1
        base = mm._MCV3_CTX_RES[0]
        z = (129 << 1) - 1                     # zigzag(-129) = 257
        k = (z + 1).bit_length() - 1
        for d in range(k):
            enc.bit(probs, base + min(d, mm._MCV3_RES_DEPTH - 1), 1)
        enc.bit(probs, base + min(k, mm._MCV3_RES_DEPTH - 1), 0)
        enc.direct((z + 1) - (1 << k), k)
        # pad the rest of the block with zero residuals so the pixel
        # check is what fires
        for _ in range(mm.MCV_B * mm.MCV_B - 1):
            enc.bit(probs, base, 0)
    with pytest.raises(ValueError, match="pixel"):
        mm._decode_mcv3(_mcv3_hand_stream(negative_pixel))


# --- PAC1: psychoacoustic bit allocation over the MDCT core ---------------

@hypo.budget(60)
@given(payloads)
def test_pac_error_bound_for_any_payload(payload):
    """Reconstruction error must stay under the PROVABLE bound derived
    from the steps actually coded in the stream:
    sqrt(2) * max_block ||q/2||_2 — hypothesis hunts the whole payload
    space for a spectrum whose masking-driven steps break it."""
    n, nb, rec, steps, bound = mm._decode_pac(mm._encode_pac(payload))
    assert n == len(payload)
    assert nb == (len(payload) + mm.MDCT_N - 1) // mm.MDCT_N + 1
    assert len(steps) == nb
    orig = np.frombuffer(payload, dtype=np.uint8).astype(np.float64) - 128.0
    assert float(np.max(np.abs(rec - orig))) <= bound + 1e-9


def test_pac_masking_coarsens_neighbor_bands():
    """The psychoacoustic model must genuinely mask: adding a strong
    tone in one Bark band must RAISE the quantizer steps of its
    neighbors relative to the same weak noise without the tone, with
    the asymmetric spread (upward slope shallower than downward)
    reaching the band above more strongly than two bands below."""
    N = mm.MDCT_N
    n = np.arange(2 * N)
    k0 = 22                                  # band 9 = coeffs [20, 26)
    tone = 90 * np.cos(np.pi * (k0 + 0.5) / N * n)
    noise = np.array([3 * ((i * 7919) % 5 - 2) for i in range(2 * N)],
                     dtype=np.float64)
    M = mm._mdct_matrix(N)
    s_noise = mm._pac_band_steps(M @ noise)
    s_both = mm._pac_band_steps(M @ (noise + tone))
    assert s_both[9] > s_noise[9]            # the tone's own band
    assert s_both[10] > s_noise[10]          # upward masking
    assert s_both[8] > s_noise[8]            # downward masking
    assert s_both[10] > s_both[7]            # asymmetry: up > 2-down
    # far bands stay untouched by a local masker
    assert s_both[0] == s_noise[0] and s_both[13] == s_noise[13]


def test_pac_allocation_beats_fixed_step_on_tonal_content():
    """Where masking structure exists the model must pay for itself:
    a loud tone codes smaller under PAC1's per-band steps than under
    MDC1's fixed q=2, while the reconstruction stays under PAC1's own
    provable bound (checked inside the property test above)."""
    N = mm.MDCT_N
    n = np.arange(2 * N)
    tone = 90 * np.cos(np.pi * 22.5 / N * n)
    payload = bytes(np.clip(128 + tone, 0, 255).astype(np.uint8)) * 8
    assert len(mm._encode_pac(payload)) < len(mm._encode_mdct(payload))


def test_pac_step_reuse_flag():
    """Steady content must reuse the previous block's steps (the MP3
    scfsi mechanism): every interior block of a periodic signal
    decodes the SAME step vector — only the two zero-pad boundary
    blocks may differ — so the stream pays the 14-byte step table a
    handful of times, not once per block (1 reuse bit vs 113)."""
    payload = bytes([128, 180] * 64) * 16     # periodic, steady spectrum
    blob = mm._encode_pac(payload)
    n, nb, rec, steps, bound = mm._decode_pac(blob)
    assert nb >= 8
    assert all(s == steps[1] for s in steps[1:-1])
    n_tables = sum(1 for i, s in enumerate(steps)
                   if i == 0 or s != steps[i - 1])
    assert n_tables <= 3
    # size sanity: header + per block at most ~1 reuse bit + 14 rice
    # params + 64 short codes, plus the <=3 step tables
    assert len(blob) < 10 + 3 * 14 + nb * 24


def test_pac_strict_on_malformed_blobs():
    import pytest, struct
    blob = bytearray(mm._encode_pac(bytes(range(256))))
    for cut in (0, 4, 9):
        with pytest.raises(ValueError, match="truncated"):
            mm._decode_pac(bytes(blob[:cut]))
    with pytest.raises(ValueError, match="PAC1"):
        mm._decode_pac(b"XXXX" + bytes(blob[4:]))
    bad = bytearray(blob)
    struct.pack_into("<H", bad, 8, 32)        # N not matching band table
    with pytest.raises(ValueError, match="band table"):
        mm._decode_pac(bytes(bad))
    with pytest.raises(ValueError, match="trailing"):
        mm._decode_pac(bytes(blob) + b"\x00")
    # a stream whose FIRST block claims step reuse has no steps to
    # reuse: flip block 0's reuse flag (MSB of the first body byte)
    bad = bytearray(blob)
    bad[10] &= 0x7F
    with pytest.raises(ValueError, match="reuse"):
        mm._decode_pac(bytes(bad))


# --- MCV4: bidirectional (B-frame) motion ----------------------------------

@hypo.budget(60)
@given(payloads)
def test_mcv4_lossless_for_any_payload(payload):
    fs = mm.MCV_W * mm.MCV_H
    w, h, frames, types, modes = mm._decode_mcv4(mm._encode_mcv4(payload))
    assert (w, h) == (mm.MCV_W, mm.MCV_H)
    nf = mm._mcv_n_frames(len(payload), fs)
    assert len(frames) == nf and len(types) == nf
    assert len(modes) == sum(1 for t in types if t == "B")
    for i, f in enumerate(frames):
        assert f == payload[i * fs:(i + 1) * fs].ljust(fs, b"\x00")


def test_mcv4_frame_plan_and_coding_order():
    """Display order I B B P B B P... with the final frame always an
    anchor; coding order must emit every anchor BEFORE the B frames
    that reference it (the decoder's reorder contract)."""
    for nf, want_types, want_order in [
        (0, "", []),
        (1, "I", [0]),
        (2, "IP", [0, 1]),
        (4, "IBBP", [0, 3, 1, 2]),
        (5, "IBBPP", [0, 3, 1, 2, 4]),
        (7, "IBBPBBP", [0, 3, 1, 2, 6, 4, 5]),
    ]:
        anchors, order, types = mm._mcv4_frame_plan(nf)
        assert "".join(types) == want_types
        assert order == want_order
        seen = set()
        for fi in order:
            if types[fi] == "B":
                assert {max(a for a in anchors if a < fi),
                        min(a for a in anchors if a > fi)} <= seen
            seen.add(fi)


def test_mcv4_selects_each_prediction_direction_where_it_wins():
    """B blocks must genuinely use all three references: exact-average
    content selects BIDI everywhere; content that matches only the
    FUTURE anchor selects backward."""
    f0 = np.array([[((i * 37 + j * 11) * 7) % 120 for j in range(16)]
                   for i in range(16)], dtype=np.int64)
    f3 = f0 + 80
    mid = (f0 + f3 + 1) >> 1
    payload = b"".join(x.astype(np.uint8).tobytes()
                       for x in (f0, mid, mid, f3))
    _, _, frames, types, modes = mm._decode_mcv4(mm._encode_mcv4(payload))
    assert "".join(types) == "IBBP"
    assert all(m[0] == "BI" for fm in modes for m in fm)
    assert b"".join(frames) == payload
    # scene change at the first B: both Bs equal the future anchor
    payload = b"".join(x.astype(np.uint8).tobytes()
                       for x in (f0, f3, f3, f3))
    _, _, frames, types, modes = mm._decode_mcv4(mm._encode_mcv4(payload))
    assert all(m[0] == "B" for m in modes[0])   # backward from the future
    assert b"".join(frames) == payload


def test_mcv4_bidirectional_reference_choice_beats_forward_only():
    """The B-frame payoff: FLICKER content (an object present in
    frames 1 and 3, absent in 0 and 2) lets each B block pick
    whichever anchor matches — backward for the flash, forward for
    the gap — so MCV4 codes the object once, while forward-only MCV1
    pays for it at every transition."""
    import random
    rng = random.Random(3)
    bg = np.full((16, 16), 50, dtype=np.int64)
    obj = bg.copy()
    obj[:8, :8] = np.array([[rng.randrange(256) for _ in range(8)]
                            for _ in range(8)])
    payload = b"".join(x.astype(np.uint8).tobytes()
                       for x in (bg, obj, bg, obj))
    blob = mm._encode_mcv4(payload)
    _, _, frames, types, modes = mm._decode_mcv4(blob)
    assert b"".join(frames) == payload
    assert modes[0][0][0] == "B" and modes[1][0][0] == "F"
    assert len(blob) < len(mm._encode_mcv(payload))


def test_mcv4_strict_on_malformed_blobs():
    import pytest, struct
    fs = mm.MCV_W * mm.MCV_H
    blob4 = bytearray(mm._encode_mcv4(bytes(range(256)) * 4))  # IBBP
    for cut in (0, 4, 13):
        with pytest.raises(ValueError, match="truncated"):
            mm._decode_mcv4(bytes(blob4[:cut]))
    with pytest.raises(ValueError, match="MCV4"):
        mm._decode_mcv4(b"XXXX" + bytes(blob4[4:]))
    bad = bytearray(blob4)
    struct.pack_into("<H", bad, 8, mm.MCV_W - 1)
    with pytest.raises(ValueError, match="divide"):
        mm._decode_mcv4(bytes(bad))
    with pytest.raises(ValueError, match="trailing"):
        mm._decode_mcv4(bytes(blob4) + b"\x00")
    # frames are byte-aligned in coding order I,P,B,B: the first B
    # frame's first two bits are block 0's mode — force the reserved
    # value 3 (and an out-of-range vector on the P frame's first byte)
    one = len(mm._encode_mcv4(bytes(range(256)))) - 14        # I bits
    # P frame starts right after the I frame (coding order I,P,B,B):
    # dy=-R at row 0 is invalid
    bad = bytearray(blob4)
    bad[14 + one] = (0 << 4) | mm.MCV_R
    with pytest.raises(ValueError, match="outside"):
        mm._decode_mcv4(bytes(bad))
    # locate the first B frame: all four payload frames are identical,
    # so a 2-frame stream's P codes the same bits as blob4's P
    p_len = len(mm._encode_mcv4(bytes(range(256)) * 2)) - 14 - one
    bad = bytearray(blob4)
    bad[14 + one + p_len] |= 0xC0                  # mode bits 11
    with pytest.raises(ValueError, match="reserved|outside|range|pixel"):
        mm._decode_mcv4(bytes(bad))


def test_jpeg_jfif_standard_syntax():
    """Structural JFIF conformance of the emitted bitstream — the
    GIF89a structural standard applied to the second container (r10
    verdict item 6): SOI, an immediately-following JFIF APP0 with
    spec-valid version/density fields, the marker grammar (DQT then
    SOF0 then both Annex-K DHTs then SOS), every segment length
    self-consistent, every 0xFF inside the entropy-coded scan stuffed
    with 0x00, and a final EOI."""
    import struct as st_
    payload = b"training corpus boilerplate " * 100
    blob = mm._encode_jpeg(payload)
    assert blob[:2] == b"\xFF\xD8" and blob[-2:] == b"\xFF\xD9"
    # APP0 must IMMEDIATELY follow SOI (JFIF requirement)
    marker, ln = st_.unpack_from(">HH", blob, 2)
    assert marker == 0xFFE0
    assert blob[6:11] == b"JFIF\x00"
    vmaj, vmin, units, xd, yd, xt, yt = st_.unpack_from(">BBBHHBB", blob, 11)
    assert vmaj == 1 and vmin in (0, 1, 2)
    assert units in (0, 1, 2) and xd >= 1 and yd >= 1
    assert ln == 16 + 3 * xt * yt          # length self-consistent
    # marker-segment walk to SOS
    pos = 4 + ln
    seen = []
    scan_start = None
    while True:
        m, ln2 = st_.unpack_from(">HH", blob, pos)
        seen.append(m)
        body = blob[pos + 4:pos + 2 + ln2]
        assert len(body) == ln2 - 2        # no truncated segment
        if m == 0xFFDB:                    # DQT: Pq=0 (8-bit), Tq=0
            assert body[0] == 0x00 and len(body) == 65
        elif m == 0xFFC0:                  # SOF0: baseline, grayscale
            prec, hh, ww, nc = st_.unpack_from(">BHHB", body, 0)
            assert prec == 8 and nc == 1
            assert (ww, hh) == mm._jpeg_dims(len(payload))
            assert 1 <= hh <= 0xFFFF       # never the DNL-only Y=0 form
            # component spec: id, 1x1 sampling, quant table 0
            assert (body[6], body[7], body[8]) == (1, 0x11, 0)
        elif m == 0xFFC4:                  # DHT: the Annex K tables
            bits, vals = body[1:17], body[17:]
            assert sum(bits) == len(vals)
            if body[0] == 0x00:
                assert (list(bits), list(vals)) == (list(mm._DC_BITS),
                                                    list(mm._DC_VALS))
            else:
                assert body[0] == 0x10
                assert (list(bits), list(vals)) == (list(mm._AC_BITS),
                                                    list(mm._AC_VALS))
        elif m == 0xFFDA:                  # SOS: Ss=0 Se=63 Ah=Al=0
            assert body[0] == 1 and body[2] == 0x00
            assert (body[3], body[4], body[5]) == (0, 63, 0)
            scan_start = pos + 2 + ln2
            break
        else:
            raise AssertionError(f"unexpected marker {m:#06x}")
        pos += 2 + ln2
    assert seen[:2] == [0xFFDB, 0xFFC0]    # tables/frame before scan
    assert seen.count(0xFFC4) == 2 and seen[-1] == 0xFFDA
    # entropy-coded scan: every FF stuffed, up to the final EOI
    i = scan_start
    while i < len(blob) - 2:
        if blob[i] == 0xFF:
            assert blob[i + 1] == 0x00, f"unstuffed FF at offset {i}"
            i += 2
        else:
            i += 1


def test_jpeg_dims_bounds():
    """Empty payloads containerize as one all-zero block row (never
    the non-conformant Y=0 SOF0); the uint16 line-count bound raises
    a clear ValueError, not a struct.error."""
    import pytest as _pytest
    assert mm._jpeg_dims(0) == (mm.JPEG_W, 8)
    w, h, px = mm._decode_jpeg(mm._encode_jpeg(b""))
    assert (w, h) == (mm.JPEG_W, 8)
    import numpy as np
    assert int(np.max(np.abs(px.astype(np.int32)))) <= mm.JPEG_ERR_BOUND
    with _pytest.raises(ValueError, match="65535"):
        mm._encode_jpeg(bytes(mm.JPEG_W * 0x10000))


# --- the shared bitstream / entropy core (operators.bitstream) -----------

fields = st.lists(st.integers(0, 40).flatmap(
    lambda k: st.tuples(st.integers(0, (1 << k) - 1), st.just(k))),
    max_size=200)


@hypo.budget(100)
@given(fields, st.sampled_from(["msb", "lsb"]))
def test_bitstream_roundtrips_any_field_sequence(seq, order):
    """Writer -> reader returns every (value, width) field, widths 0..40
    mixed freely, in both bit orders; the padded tail reads back as
    zeros and one more byte is a truncation error."""
    w = bs.MsbWriter() if order == "msb" else bs.LsbWriter()
    for v, k in seq:
        w.put(v, k)
    blob = w.flush()
    assert len(blob) == (sum(k for _, k in seq) + 7) // 8
    r = (bs.MsbReader if order == "msb" else bs.LsbReader)(
        blob, what="test stream")
    assert [r.bits(k) for _, k in seq] == [v for v, _ in seq]
    assert r.bits(-sum(k for _, k in seq) % 8) == 0
    with pytest.raises(ValueError, match="truncated test stream"):
        r.bits(8)


@hypo.budget(60)
@given(st.lists(st.integers(0, 200), max_size=60), fields)
def test_msb_unary_roundtrips_between_fields(qs, seq):
    """The byte-at-a-time unary reader counts runs of any length,
    across byte boundaries, interleaved with ordinary fields."""
    w = bs.MsbWriter()
    for q, (v, k) in zip(qs, seq + [(0, 0)] * len(qs)):
        w.unary(q)
        w.put(v, k)
    r = bs.MsbReader(w.flush())
    for q, (v, k) in zip(qs, seq + [(0, 0)] * len(qs)):
        assert r.unary() == q
        assert r.bits(k) == v


@hypo.budget(100)
@given(st.binary(max_size=300))
def test_jpeg_stuff_unstuff_roundtrip(scan):
    """Stuffing leaves no 0xFF that could read as a marker, and the
    unstuff of the stuffed scan followed by EOI is the scan."""
    stuffed = mm._jpeg_stuff(scan)
    assert all(stuffed[i + 1] == 0 for i in range(len(stuffed))
               if stuffed[i] == 0xFF)
    assert mm._jpeg_unstuff(stuffed + b"\xff\xd9") == scan
    assert mm._jpeg_unstuff(stuffed) == scan      # no EOI: to the end


@hypo.budget(60)
@given(st.binary(max_size=100), st.integers(0x01, 0xFE).filter(
    lambda m: m != 0xD9))
def test_jpeg_unstuff_rejects_marker_inside_scan(scan, marker):
    with pytest.raises(ValueError, match="marker inside scan data"):
        mm._jpeg_unstuff(mm._jpeg_stuff(scan) + bytes([0xFF, marker])
                         + b"\xff\xd9")


@hypo.budget(100)
@given(st.lists(st.integers(-(1 << 20), 1 << 20), max_size=80))
def test_rice_roundtrips_signed_ints(vals):
    w = bs.MsbWriter()
    bs.rice_put(w, vals)
    w.put(0b101, 3)                               # a field after the run
    r = bs.MsbReader(w.flush())
    assert bs.rice_get(r, len(vals)) == vals
    assert r.bits(3) == 0b101
    assert all(bs.unzigzag(bs.zigzag(v)) == v for v in vals)


@hypo.budget(100)
@given(st.lists(st.integers(1, 400), min_size=1, max_size=40))
def test_canonical_table_inverts_to_encode_table(freqs):
    """Lengths from real frequencies (always a complete prefix code):
    the encode table is the exact inverse of the decode table, and
    every symbol encodes and decodes back through ``read_symbol``."""
    from demo_apache_flink_streaming_mode_spark.operators import (
        compression as cz)
    lengths = cz._huffman_lengths(freqs, 20)
    table = bs.canonical_table(lengths)
    enc = bs.encode_table(table)
    assert {(ln, code): s for s, (code, ln) in enc.items()} == table
    assert sorted(enc) == list(range(len(lengths)))
    assert all(enc[s][1] == ln for s, ln in enumerate(lengths))
    w = bs.MsbWriter()
    syms = list(range(len(lengths))) * 2
    for s in syms:
        w.put(*enc[s])
    r = bs.MsbReader(w.flush())
    assert [bs.read_symbol(r, table, 20) for _ in syms] == syms
