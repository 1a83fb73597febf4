"""Real stdlib codec path for multimodal assets: WAV (wave module), BMP and
PPM (struct), and the FULL PNG profile surface (all five color types, bit
depths 1-16, Adam7 interlace; zlib + full scanline unfiltering) decode
inside decode_asset, exercised both directly and through the mapInPandas
pipeline (functions/multimodal.py). Every other payload, JPEG included,
reaches the NotImplementedError plug-in hook."""

import io
import struct
import wave
import zlib

import pytest

from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import (
    decode_asset,
    extract_features,
    make_bmp_bytes,
    make_png16_bytes,
    make_png_bytes,
    make_png_interlaced_bytes,
    make_png_palette_bytes,
    make_ppm_bytes,
    make_wav_bytes,
    synthesize_codec_assets_from_documents,
)


def _ref_wav_feats(payload: bytes) -> tuple[list[float], int]:
    """Independent WAV reference: parse with wave+struct, recompute RMS."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        n = w.getnframes()
        raw = w.readframes(n)
    samples = list(struct.unpack(f"<{len(raw) // 2}h", raw))
    seg = max(1, len(samples) // 8)
    feats = []
    for i in range(8):
        chunk = samples[i * seg : (i + 1) * seg] or samples[-seg:]
        feats.append((sum(s * s for s in chunk) / len(chunk)) ** 0.5 / 32768.0)
    return feats, n


def test_wav_roundtrip_rms():
    payload = make_wav_bytes(seed=7, n_frames=256)
    feats, frames = decode_asset(payload, "audio")
    ref_feats, ref_frames = _ref_wav_feats(payload)
    assert frames == ref_frames == 256
    assert feats == pytest.approx(ref_feats)
    assert all(0.0 <= f <= 1.0 for f in feats)
    # non-silent pseudo-random signal: RMS well away from zero
    assert sum(feats) / len(feats) > 0.1


def test_bmp_channel_means():
    # hand-built 2x1 BMP: one red pixel, one blue pixel
    raster = bytes([255, 0, 0, 0, 0, 255]) + b"\x00\x00"  # BGR BGR + row pad
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + len(raster), 0, 0, 54,
        40, 2, 1, 1, 24, 0, len(raster), 2835, 2835, 0, 0,
    )
    feats, frames = decode_asset(header + raster, "image")
    assert frames == 1
    # mean_r = (0+255)/2/255 = 0.5, mean_g = 0, mean_b = 0.5
    assert feats == pytest.approx([0.5, 0.0, 0.5])


def test_ppm_channel_means_and_comment_header():
    body = bytes([10, 20, 30, 30, 20, 10])  # two pixels
    payload = b"P6\n# a comment line\n2 1\n255\n" + body
    feats, frames = decode_asset(payload, "image")
    assert frames == 1
    assert feats == pytest.approx([20 / 255.0, 20 / 255.0, 20 / 255.0])


def test_generated_payloads_are_valid():
    bmp = make_bmp_bytes(seed=3, width=5, height=4)  # odd width → padded rows
    feats, _ = decode_asset(bmp, "image")
    assert len(feats) == 3 and all(0.0 <= f <= 1.0 for f in feats)
    ppm = make_ppm_bytes(seed=3, width=5, height=4)
    pf, _ = decode_asset(ppm, "image")
    assert len(pf) == 3
    # same LCG pixels, different container → identical channel means
    assert pf == pytest.approx(feats)


def test_unknown_codec_raises_hook():
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_asset(b"GIF89a......", "image")  # GIF: no built-in codec
    # JPEG has no in-repo codec: it reaches the same plug-in hook
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_asset(b"\xff\xd8\xff\xe0....", "image")


@pytest.mark.parametrize(
    "payload",
    [
        b"BM" + 10 * b"\0",  # BMP header cut before the info header
        make_wav_bytes(1)[:30],  # WAV cut inside the fmt chunk
        b"RIFF\0\0\0\0WAVE",  # RIFF/WAVE magic with no chunks at all
        b"P6\n-2 1\n255\n" + bytes(6),  # negative PPM width
    ],
    ids=["bmp_short_header", "wav_truncated", "wav_no_chunks", "ppm_negative_width"],
)
def test_malformed_payload_raises_valueerror(payload):
    """Malformed payloads of a sniffed format surface as ValueError (the
    decode_asset contract), never struct.error, EOFError, wave.Error or a
    meaningless feature vector."""
    with pytest.raises(ValueError):
        decode_asset(payload, "image")


def _png_with_ihdr(bit_depth: int, color_type: int, interlace: int) -> bytes:
    ihdr = struct.pack(">IIBBBBB", 1, 1, bit_depth, color_type, 0, 0, interlace)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    return b"\x89PNG\r\n\x1a\n" + chunk


def test_png_illegal_ihdr_combinations_raise_valueerror():
    # combinations the SPEC forbids are malformed payloads, not plug-in
    # hooks (every legal profile now decodes — see the profile tests below)
    for bit_depth, color_type, interlace in [
        (4, 2, 0),   # truecolor below 8-bit
        (16, 3, 0),  # 16-bit palette
        (3, 0, 0),   # non-power-of-two depth
        (8, 5, 0),   # undefined color type
        (8, 2, 2),   # undefined interlace method
    ]:
        with pytest.raises(ValueError, match="IHDR"):
            decode_asset(_png_with_ihdr(bit_depth, color_type, interlace), "image")


# ---- Full PNG profile surface (palette / gray / sub-byte / 16-bit / Adam7)

import numpy as np

from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import (
    _lcg_bytes,
    make_png_profile_bytes,
)


def _expected_means_gray(seed, width, height, bit_depth):
    g = np.frombuffer(_lcg_bytes(seed, width * height * 3), dtype=np.uint8)[
        : width * height
    ].astype(np.float64)
    if bit_depth < 8:
        g = np.floor(g / (1 << (8 - bit_depth))) * (255.0 / ((1 << bit_depth) - 1))
    m = float(g.sum()) / (width * height) / 255.0
    return [m, m, m]


@pytest.mark.parametrize("bit_depth", [1, 2, 4, 8, 16])
@pytest.mark.parametrize("interlace", [0, 1])
def test_png_grayscale_all_depths(bit_depth, interlace):
    payload = make_png_profile_bytes(
        5, width=11, height=7, color_type=0, bit_depth=bit_depth, interlace=interlace
    )
    feats, frames = decode_asset(payload, "image")
    assert frames == 1
    assert feats == pytest.approx(_expected_means_gray(5, 11, 7, bit_depth), abs=1e-12)


@pytest.mark.parametrize("bit_depth", [1, 2, 4, 8])
def test_png_palette_matches_manual_gather(bit_depth):
    width, height = 9, 6
    payload = make_png_profile_bytes(
        3, width=width, height=height, color_type=3, bit_depth=bit_depth
    )
    feats, _ = decode_asset(payload, "image")
    n_entries = 1 << bit_depth
    plte = np.frombuffer(_lcg_bytes(4, 3 * n_entries), dtype=np.uint8).reshape(-1, 3)
    idx = (
        np.frombuffer(_lcg_bytes(3, width * height * 3), dtype=np.uint8)[
            : width * height
        ]
        % n_entries
    )
    exp = plte[idx].astype(np.float64).sum(axis=0) / (width * height) / 255.0
    assert feats == pytest.approx(list(exp), abs=1e-12)


@pytest.mark.parametrize("color_type", [0, 2, 4, 6])
def test_png_16bit_featurizes_like_8bit(color_type):
    """16-bit samples are the 8-bit values x257 → the /257 rescale must make
    the widened image featurize IDENTICALLY to its 8-bit original."""
    f8, _ = decode_asset(
        make_png_profile_bytes(9, 10, 5, color_type=color_type, bit_depth=8), "image"
    )
    f16, _ = decode_asset(
        make_png_profile_bytes(9, 10, 5, color_type=color_type, bit_depth=16), "image"
    )
    assert f16 == f8


@pytest.mark.parametrize(
    "color_type, bit_depth",
    [(0, 1), (0, 8), (0, 16), (2, 8), (2, 16), (3, 4), (3, 8), (4, 8), (6, 8), (6, 16)],
)
def test_png_adam7_equals_noninterlaced(color_type, bit_depth):
    """Every pixel is in exactly one Adam7 pass, so the interlaced rendering
    of the same pixels must produce byte-identical channel sums. Dimensions
    deliberately not multiples of 8, so several passes are ragged and pass
    7-empty edge cases are exercised at width/height 1 too."""
    for width, height in [(13, 9), (8, 8), (1, 1), (2, 3)]:
        plain = make_png_profile_bytes(
            21, width, height, color_type=color_type, bit_depth=bit_depth, interlace=0
        )
        adam = make_png_profile_bytes(
            21, width, height, color_type=color_type, bit_depth=bit_depth, interlace=1
        )
        assert decode_asset(adam, "image") == decode_asset(plain, "image")


def test_png_gray_alpha_matches_gray():
    """Alpha is excluded from means: gray+alpha and plain gray of the same
    samples featurize identically (the RGBA/RGB parity contract)."""
    f0, _ = decode_asset(make_png_profile_bytes(2, 7, 7, color_type=0), "image")
    f4, _ = decode_asset(make_png_profile_bytes(2, 7, 7, color_type=4), "image")
    assert f4 == f0


def test_png_palette_missing_plte_raises():
    # a palette PNG whose PLTE chunk was stripped is malformed, not a hook
    payload = make_png_profile_bytes(3, 4, 4, color_type=3, bit_depth=8)
    # rebuild without the PLTE chunk
    out = bytearray(payload[:8])
    pos = 8
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        if ctype != b"PLTE":
            out += payload[pos : pos + 12 + length]
        pos += 12 + length
    with pytest.raises(ValueError, match="PLTE"):
        decode_asset(bytes(out), "image")


def test_png_corrupt_crc_raises():
    # payload[-1] is the final byte of IEND's CRC field itself (the chunk
    # layout ends ...IEND + 4 CRC bytes), so this corrupts the stored CRC,
    # not the covered type/data bytes
    payload = bytearray(make_png_bytes(seed=1))
    payload[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_asset(bytes(payload), "image")
    # and corrupting covered data (an IDAT byte) must fire the same check
    payload2 = bytearray(make_png_bytes(seed=1))
    idat_at = bytes(payload2).index(b"IDAT")
    payload2[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_asset(bytes(payload2), "image")


def test_png_malformed_inputs_raise_valueerror_contract():
    """Truncation and stream corruption must surface as ValueError (the
    codec contract), never struct.error / zlib.error (round-7 advice)."""
    payload = make_png_bytes(seed=2)
    # cut two bytes out of the IDAT chunk's trailing CRC word: the chunk's
    # DATA still fits, so only the new explicit bound catches it (the old
    # code hit struct.unpack_from -> struct.error here)
    idat_crc_cut = payload.index(b"IEND") - 4 - 2
    with pytest.raises(ValueError, match="truncated"):
        decode_asset(payload[:idat_crc_cut], "image")
    # corrupt the deflate stream but keep the chunk CRC consistent: rebuild
    # the IDAT chunk around a mangled zlib header (raises zlib.error inside,
    # which must surface as ValueError)
    import quill_agent_dashboard_pbi_etl_spark.functions.multimodal as mm

    pos = 8
    parts = [payload[:8]]
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IDAT":
            data = bytes([data[0] ^ 0xFF]) + data[1:]
        parts.append(mm._png_chunk(ctype, data))
    with pytest.raises(ValueError, match="IDAT"):
        decode_asset(b"".join(parts), "image")


def test_png_matches_ppm_same_pixels():
    """The PNG container (zlib + filters 0-4 cycling by row) must featurize
    identically to the PPM holding the same LCG pixels — byte-exact
    unfiltering is the only way the channel means come out equal. 8 rows →
    every filter type (None/Sub/Up/Average/Paeth) is exercised."""
    for seed in (0, 3, 11):
        ppm, _ = decode_asset(make_ppm_bytes(seed), "image")
        png, frames = decode_asset(make_png_bytes(seed), "image")
        assert frames == 1
        assert png == pytest.approx(ppm, abs=1e-12)
        # RGBA container of the same pixels: alpha excluded from means
        rgba, _ = decode_asset(make_png_bytes(seed, rgba=True), "image")
        assert rgba == pytest.approx(ppm, abs=1e-12)
    # odd width exercises non-4-aligned strides
    ppm_odd, _ = decode_asset(make_ppm_bytes(5, width=5, height=7), "image")
    png_odd, _ = decode_asset(make_png_bytes(5, width=5, height=7), "image")
    assert png_odd == pytest.approx(ppm_odd, abs=1e-12)


def test_png_channel_means_handbuilt():
    # 2x1 RGB PNG, filter 0: one red pixel, one blue pixel
    raw = b"\x00" + bytes([255, 0, 0, 0, 0, 255])
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    feats, frames = decode_asset(payload, "image")
    assert frames == 1
    assert feats == pytest.approx([0.5, 0.0, 0.5])


def test_real_decode_pipeline(spark):
    """End-to-end: executor-side synthesis of genuine codec payloads →
    mapInPandas real decode; features must equal local decode_asset output."""
    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    assets = synthesize_codec_assets_from_documents(docs)
    assert dict(assets.dtypes)["content"] == "binary"

    rows = {r.asset_id: r for r in extract_features(assets, use_real_decoder=True).collect()}
    assert len(rows) == 30
    makers = {0: make_wav_bytes, 1: make_bmp_bytes, 2: make_ppm_bytes,
              3: make_png_bytes, 4: make_png_palette_bytes,
              5: make_png_interlaced_bytes, 6: make_png16_bytes}
    for i in range(30):
        payload = makers[i % 7](i)
        feats, frames = decode_asset(payload, rows[i].modality)
        assert rows[i].byte_len == len(payload)
        assert rows[i].frames_sampled == frames
        assert rows[i].feat_dim == len(feats)
        assert rows[i].feat_mean == pytest.approx(sum(feats) / len(feats))
        assert rows[i].modality == ("audio" if i % 7 == 0 else "image")


def test_profile_stripes_decode_distinct_lanes():
    """The PNG profile stripes really route through the lanes they claim:
    the palette payload carries PLTE, the interlaced IHDR says Adam7, the
    16-bit twin featurizes identically to its 8-bit base."""
    pal = make_png_palette_bytes(3)
    assert b"PLTE" in pal
    inter = make_png_interlaced_bytes(3)
    ihdr_off = inter.index(b"IHDR") + 4
    assert inter[ihdr_off + 12] == 1  # interlace byte = Adam7
    feats16, _ = decode_asset(make_png16_bytes(3), "image")
    base = make_png_profile_bytes_816(3)
    feats8, _ = decode_asset(base, "image")
    assert feats16 == pytest.approx(feats8)
    # and every stripe decodes through decode_asset without the PIL hook
    for mk in (pal, inter):
        feats, frames = decode_asset(mk, "image")
        assert frames == 1 and len(feats) == 3


def make_png_profile_bytes_816(seed: int) -> bytes:
    """8-bit filter-0 twin of make_png16_bytes for the ×257 equality check."""
    from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import (
        make_png_profile_bytes,
    )

    return make_png_profile_bytes(seed, 8, 8, color_type=2, bit_depth=8)


# Golden feature vectors per LCG seed, computed once from the stdlib codecs
# and cross-checked against the independent wave/struct references above.
# They pin the decode math numerically: any regression in the LCG stream,
# the container writers, or the RMS / channel-mean feature extraction moves
# these values and fails here even if encode and decode drift together.
_GOLDEN = {
    0: {
        "wav": [0.6186673767, 0.5326687245, 0.5993248587, 0.5448164255,
                0.6210634128, 0.4837508790, 0.6283074019, 0.6468517705],
        "rgb": [0.5179534314, 0.4656250000, 0.4612745098],
    },
    1: {
        "wav": [0.5389631917, 0.5666179863, 0.5093494505, 0.6011974141,
                0.5319310489, 0.5506313384, 0.5321642431, 0.5820600003],
        "rgb": [0.4720588235, 0.4810661765, 0.4989583333],
    },
    2: {
        "wav": [0.5724209495, 0.5204384701, 0.5602990642, 0.5671970135,
                0.5713512933, 0.6418858187, 0.5857021617, 0.6810516140],
        "rgb": [0.5046568627, 0.5276348039, 0.5209558824],
    },
    7: {
        "wav": [0.5910469334, 0.5702833780, 0.4961230340, 0.6869091515,
                0.5138547567, 0.6312320409, 0.6449070219, 0.5927342565],
        "rgb": [0.4939338235, 0.5104166667, 0.4579656863],
    },
}


@pytest.mark.parametrize("seed", sorted(_GOLDEN))
def test_codec_golden_features(seed):
    golden = _GOLDEN[seed]
    wav, wav_frames = decode_asset(make_wav_bytes(seed), "audio")
    assert wav_frames == 256
    assert wav == pytest.approx(golden["wav"], abs=1e-9)
    bmp, bmp_frames = decode_asset(make_bmp_bytes(seed), "image")
    ppm, ppm_frames = decode_asset(make_ppm_bytes(seed), "image")
    png, png_frames = decode_asset(make_png_bytes(seed), "image")
    png_a, _ = decode_asset(make_png_bytes(seed, rgba=True), "image")
    assert bmp_frames == ppm_frames == png_frames == 1
    assert bmp == pytest.approx(golden["rgb"], abs=1e-9)
    assert ppm == pytest.approx(golden["rgb"], abs=1e-9)
    # PNG holds the same logical pixels → identical golden channel means,
    # which pins the zlib inflate + filter 0-4 unfiltering numerically
    assert png == pytest.approx(golden["rgb"], abs=1e-9)
    assert png_a == pytest.approx(golden["rgb"], abs=1e-9)


# ---------------------------------------------------------------------------
# Round-8 vectorization: the production lanes (numpy unfilter, vectorized
# encoder/LCG) must be BYTE-IDENTICAL to the preserved per-byte reference
# implementations in tools/png_scalar_reference.py.
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402

import quill_agent_dashboard_pbi_etl_spark.functions.multimodal as mm  # noqa: E402
from tools import png_scalar_reference as ref  # noqa: E402


def test_lcg_bytes_matches_scalar_reference():
    for seed in (0, 1, 7, 123, 99999):
        for n in (0, 1, 5, 192, 1000):
            assert mm._lcg_bytes(seed, n) == ref.lcg_bytes_scalar(seed, n)


def test_png_encoder_byte_identical_to_scalar_reference():
    """make_png_bytes payloads feed content_sha256 columns in the
    multimodal_real_decode query — the vectorized encoder must reproduce the
    scalar encoder's output byte-for-byte, not just pixel-for-pixel."""
    for seed in (0, 3, 11):
        for w, h, rgba in ((8, 8, False), (8, 8, True), (5, 7, False), (1, 1, False), (16, 3, True)):
            pix = ref.lcg_bytes_scalar(seed, w * h * 3)
            filtered = ref.png_filtered_rows_scalar(pix, w, h, rgba)
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 6 if rgba else 2, 0, 0, 0)
            expected = (
                ref.PNG_SIGNATURE
                + mm._png_chunk(b"IHDR", ihdr)
                + mm._png_chunk(b"IDAT", zlib.compress(filtered, 6))
                + mm._png_chunk(b"IEND", b"")
            )
            assert make_png_bytes(seed, w, h, rgba=rgba) == expected


def test_unfilter_numpy_lane_byte_identical_to_scalar_reference():
    """The numpy unfilter lane and the per-byte scalar reference must agree
    on every decoded byte across shapes covering all five filters, RGBA,
    odd strides, and single-pixel rows."""
    for seed in (1, 9, 42):
        for w, h, rgba in ((8, 8, False), (17, 23, True), (1, 40, False), (40, 1, True), (3, 200, False)):
            payload = make_png_bytes(seed, w, h, rgba=rgba)
            channels = 4 if rgba else 3
            # extract the inflated stream via the reference parse path
            pos, idat = 8, bytearray()
            while pos + 12 <= len(payload):
                (length,) = struct.unpack_from(">I", payload, pos)
                ctype = payload[pos + 4 : pos + 8]
                if ctype == b"IDAT":
                    idat += payload[pos + 8 : pos + 8 + length]
                pos += 12 + length
            raw = zlib.decompress(bytes(idat))
            stride = w * channels
            want = np.frombuffer(
                ref.unfilter_scanlines_scalar(raw, h, stride, channels), dtype=np.uint8
            ).reshape(h, stride)
            got_numpy = mm._unfilter_scanlines(raw, h, stride, channels)
            assert (got_numpy == want).all()


def test_decode_png_matches_scalar_reference_end_to_end():
    for seed in (0, 3, 11, 42):
        for w, h, rgba in ((8, 8, False), (8, 8, True), (5, 7, False), (33, 17, True), (64, 64, False)):
            payload = make_png_bytes(seed, w, h, rgba=rgba)
            assert mm._decode_png(payload) == ref.decode_png_scalar(payload)


def test_invalid_filter_type_raises_in_all_lanes():
    # hand-build a 1x2 RGB PNG whose second row uses filter type 9
    raw = b"\x00" + bytes([10, 20, 30]) + b"\x09" + bytes([1, 2, 3])
    ihdr = struct.pack(">IIBBBBB", 1, 2, 8, 2, 0, 0, 0)
    payload = (
        ref.PNG_SIGNATURE
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(raw))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter type"):
        mm._decode_png(payload)
    with pytest.raises(ValueError, match="filter type"):
        mm._unfilter_scanlines(raw, 2, 3, 3)
