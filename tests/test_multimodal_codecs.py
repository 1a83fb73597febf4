"""Real stdlib codec path for multimodal assets: WAV (wave module), BMP and
PPM (struct) decode inside decode_asset, exercised both directly and
through the mapInPandas pipeline (functions/multimodal.py). Every other
payload, PNG and JPEG included, reaches the NotImplementedError plug-in
hook."""

import io
import struct
import wave

import pytest

from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import (
    _lcg_bytes,
    decode_asset,
    extract_features,
    make_bmp_bytes,
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


def _bmp_header(width: int, height: int, raster_len: int) -> bytes:
    """File header + BITMAPINFOHEADER of an uncompressed 24-bit BMP."""
    return struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + raster_len, 0, 0, 54,
        40, width, height, 1, 24, 0, raster_len, 2835, 2835, 0, 0,
    )


def test_bmp_channel_means():
    # hand-built 2x1 BMP: one red pixel, one blue pixel
    raster = bytes([255, 0, 0, 0, 0, 255]) + b"\x00\x00"  # BGR BGR + row pad
    feats, frames = decode_asset(_bmp_header(2, 1, len(raster)) + raster, "image")
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
    # and so does PNG: there is no in-repo PNG decoder either
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_asset(b"\x89PNG\r\n\x1a\n" + bytes(25), "image")


@pytest.mark.parametrize(
    "payload",
    [
        b"BM" + 10 * b"\0",  # BMP header cut before the info header
        make_wav_bytes(1)[:30],  # WAV cut inside the fmt chunk
        b"RIFF\0\0\0\0WAVE",  # RIFF/WAVE magic with no chunks at all
        b"P6\n-2 1\n255\n" + bytes(6),  # negative PPM width
        _bmp_header(-2, 1, 8) + bytes(8),  # negative BMP width
    ],
    ids=[
        "bmp_short_header",
        "wav_truncated",
        "wav_no_chunks",
        "ppm_negative_width",
        "bmp_negative_width",
    ],
)
def test_malformed_payload_raises_valueerror(payload):
    """Malformed payloads of a sniffed format surface as ValueError (the
    decode_asset contract), never struct.error, EOFError, wave.Error or a
    meaningless feature vector."""
    with pytest.raises(ValueError):
        decode_asset(payload, "image")


def test_real_decode_pipeline(spark):
    """End-to-end: executor-side synthesis of genuine codec payloads →
    mapInPandas real decode; features must equal local decode_asset output."""
    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    assets = synthesize_codec_assets_from_documents(docs)
    assert dict(assets.dtypes)["content"] == "binary"

    rows = {r.asset_id: r for r in extract_features(assets, use_real_decoder=True).collect()}
    assert len(rows) == 30
    makers = {0: make_wav_bytes, 1: make_bmp_bytes, 2: make_ppm_bytes}
    for i in range(30):
        payload = makers[i % 3](i)
        feats, frames = decode_asset(payload, rows[i].modality)
        assert rows[i].byte_len == len(payload)
        assert rows[i].frames_sampled == frames
        assert rows[i].feat_dim == len(feats)
        assert rows[i].feat_mean == pytest.approx(sum(feats) / len(feats))
        assert rows[i].modality == ("audio" if i % 3 == 0 else "image")


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
    assert bmp_frames == ppm_frames == 1
    assert bmp == pytest.approx(golden["rgb"], abs=1e-9)
    assert ppm == pytest.approx(golden["rgb"], abs=1e-9)


def lcg_bytes_scalar(seed: int, n: int) -> bytes:
    """Per-byte LCG stream: the sequential recurrence ``_lcg_bytes`` computes
    in closed form."""
    x = (seed * 2654435761 + 1) & 0xFFFFFFFF
    out = bytearray(n)
    for i in range(n):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        out[i] = (x >> 16) & 0xFF
    return bytes(out)


def test_lcg_bytes_matches_scalar_reference():
    for seed in (0, 1, 7, 123, 99999):
        for n in (0, 1, 5, 192, 1000):
            assert _lcg_bytes(seed, n) == lcg_bytes_scalar(seed, n)
