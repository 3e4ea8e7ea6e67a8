import numpy as np
import pandas as pd
import pytest

from menelaus_spark import audio


def test_wav_roundtrip():
    rng = np.random.default_rng(7)
    pcm = (rng.standard_normal(1600) * 8000).astype(np.int16)
    buf = audio.wav_encode(pcm, 16000)
    sr, out = audio.wav_decode(buf)
    assert sr == 16000
    assert np.array_equal(out, pcm)


def test_decode_clip_snr_identity():
    pcm = (np.sin(np.linspace(0, 20, 800)) * 20000).astype(np.int16)
    buf = audio.wav_encode(pcm, 8000)
    sr, f = audio.decode_clip(buf, "pcm")
    assert sr == 8000
    # exact container round-trip -> infinite SNR
    assert audio.snr_db(pcm.astype(np.float64) / 32768.0, f) == float("inf")


def test_snr_db_threshold():
    rng = np.random.default_rng(3)
    ref = rng.standard_normal(4000)
    noisy = ref + 0.01 * rng.standard_normal(4000)
    assert audio.snr_db(ref, noisy) > 30.0
    assert audio.snr_db(ref, ref + 0.5 * rng.standard_normal(4000)) < 30.0


def test_non_wav_raises():
    with pytest.raises(NotImplementedError):
        audio.decode_clip(b"\x00\x01\x02\x03garbage", "opus")


def test_wav_header_facts_all_codecs():
    # header facts (rate, sample count, fmt tag) must come from the
    # container alone, for every physical codec — the ground truth the
    # metadata-consistency check compares the claimed columns against
    rng = np.random.default_rng(11)
    pcm = (rng.standard_normal(1601) * 8000).astype(np.int16)
    for enc, tag, n in [
        (audio.wav_encode, 1, 1601),
        (audio.wav_encode_mulaw, 7, 1601),
        (audio.wav_encode_alaw, 6, 1601),
        (audio.wav_encode_adpcm, 17, 1601),  # fact chunk keeps exact n
    ]:
        sr, n_got, tag_got = audio.wav_header_facts(enc(pcm, 16000))
        assert (sr, n_got, tag_got) == (16000, n, tag), enc.__name__
    # trailing junk after the data chunk never changes the facts
    buf = audio.wav_encode(pcm, 16000) + b"\x00" * 512
    assert audio.wav_header_facts(buf) == (16000, 1601, 1)
    # unparseable containers raise (decode_integrity owns those rows)
    with pytest.raises(ValueError):
        audio.wav_header_facts(b"JUNK" + audio.wav_encode(pcm, 16000)[4:])
    with pytest.raises(ValueError):
        audio.wav_header_facts(audio.wav_encode(pcm, 16000)[:30])


def test_feature_vector_shape_and_determinism():
    pcm = (np.sin(np.linspace(0, 50, 3200)) * 15000).astype(np.int16)
    f1 = audio.extract_features(pcm.astype(np.float64) / 32768.0, 16000)
    f2 = audio.extract_features(pcm.astype(np.float64) / 32768.0, 16000)
    assert f1.shape == (audio.N_FEATURES,)
    assert np.array_equal(f1, f2)
    assert np.isfinite(f1).all()


def test_resample_clips_preserves_signal(spark):
    # a 440 Hz tone resampled 16k -> 8k keeps duration and high SNR
    # against the directly synthesized 8 kHz tone
    from menelaus_spark import audio

    sr, sr2, dur_s, f0 = 16000, 8000, 0.5, 440.0
    t16 = np.arange(int(sr * dur_s)) / sr
    pcm16 = (16000 * np.sin(2 * np.pi * f0 * t16)).astype(np.int16)
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["a"], "bytes": [audio.wav_encode(pcm16, sr)],
                      "codec": ["pcm"]})
    )
    out = audio.resample_clips(df, sr2).collect()[0]
    assert out["sr_hz"] == sr2
    assert abs(out["dur_ms"] - 500) <= 1
    sr_dec, pcm8 = audio.wav_decode(bytes(out["bytes"]))
    assert sr_dec == sr2
    # the tone survives resampling: dominant spectral peak stays 440 Hz
    x = pcm8.astype(np.float64)
    x /= np.abs(x).max()
    peak_hz = np.argmax(np.abs(np.fft.rfft(x))) * sr2 / x.size
    assert abs(peak_hz - f0) < 5


def test_frame_sample_shapes(spark):
    from menelaus_spark import audio

    sr = 8000
    pcm = np.sin(np.arange(sr) / 50.0)  # 1 s clip
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["a", "bad"],
                      "bytes": [audio.wav_encode(pcm, sr), b"not-audio"],
                      "codec": ["pcm", "opus"]})
    )
    rows = audio.frame_sample(df, n_frames=4, frame_ms=100).collect()
    mine = [r for r in rows if r["clip_id"] == "a"]
    assert len(mine) == 4                      # 4 frames for the good clip
    assert all(len(r["samples"]) == 800 for r in mine)  # 100 ms @ 8 kHz
    assert [r["frame_idx"] for r in sorted(mine, key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
    starts = sorted(r["start_ms"] for r in mine)
    assert starts[0] == 0 and starts[-1] == 900  # spans the clip
    assert not [r for r in rows if r["clip_id"] == "bad"]  # undecodable -> no rows


def test_quality_metrics_clean_clip():
    sr = 16000
    t = np.arange(sr) / sr  # 1 s tone, no clipping, no silence
    q = audio.quality_metrics(0.4 * np.sin(2 * np.pi * 220 * t), sr)
    assert q.shape == (audio.N_QUALITY - 1,)  # q_byte_len rides the batch kernel
    clip_rate, silence_ratio, lead_ms, trail_ms, dc_offset, crest_db = q
    assert clip_rate == 0.0
    assert silence_ratio == 0.0
    assert lead_ms == 0.0 and trail_ms == 0.0
    # pure sine: zero-mean, crest factor = sqrt(2) = 3.01 dB
    assert abs(dc_offset) < 1e-3
    assert abs(crest_db - 20 * np.log10(np.sqrt(2))) < 0.1


def test_quality_metrics_dc_and_crest():
    sr = 16000
    t = np.arange(sr) / sr
    # DC-biased tone: signed mean reported, no clipping triggered
    q = audio.quality_metrics(0.2 + 0.4 * np.sin(2 * np.pi * 220 * t), sr)
    assert abs(q[4] - 0.2) < 1e-3
    assert q[0] == 0.0
    # hard-limited (near-square) wave: crest collapses toward 0 dB
    x = np.clip(30.0 * np.sin(2 * np.pi * 220 * t), -1.0, 1.0)
    qs = audio.quality_metrics(x, sr)
    assert qs[5] < 0.5
    # silence: crest reported 0 (guarded by silence_ratio in the suite)
    assert audio.quality_metrics(np.zeros(sr), sr)[5] == 0.0


def test_quality_metrics_clipped():
    sr = 16000
    t = np.arange(sr) / sr
    x = np.clip(3.0 * np.sin(2 * np.pi * 220 * t), -1.0, 1.0)
    q = audio.quality_metrics(x, sr)
    assert q[0] > 0.3          # most of the saturated sine sits at full scale
    assert q[1] == 0.0


def test_quality_metrics_silence_and_lead():
    sr = 16000
    q = audio.quality_metrics(np.zeros(sr), sr)
    assert q[1] == 1.0
    assert q[2] == q[3] == 1000.0  # all-silent: full duration both sides

    # 0.5 s silence then 0.5 s tone -> leading silence ~500 ms, no trail
    t = np.arange(sr // 2) / sr
    x = np.concatenate([np.zeros(sr // 2), 0.4 * np.sin(2 * np.pi * 440 * t)])
    q = audio.quality_metrics(x, sr)
    assert 400.0 < q[2] <= 520.0
    assert q[3] <= audio.FRAME / sr * 1000.0


def test_features_for_batch_quality_and_byte_len():
    sr = 8000
    pcm = (np.sin(np.arange(sr) / 20.0) * 15000).astype(np.int16)
    good = audio.wav_encode(pcm, sr)
    bad = b"not-a-wav-payload"
    mat = audio.features_for_batch([good, bad, None], ["pcm", "opus", "pcm"],
                                   quality=True)
    assert mat.shape == (3, audio.N_FEATURES + audio.N_QUALITY)
    assert np.isfinite(mat[0]).all()
    # decode failure: features NaN, but payload length still known
    assert np.isnan(mat[1, : audio.N_FEATURES]).all()
    assert mat[1, -1] == len(bad)
    assert mat[0, -1] == len(good)
    # NULL payload: never a UDF crash; full-NaN row incl. byte_len
    # (mirrors the fallback path's isNotNull guard)
    assert np.isnan(mat[2]).all()
    # byte_len-only mode: one extra column, no quality kernels needed
    m2 = audio.features_for_batch([good, None], ["pcm", "pcm"], byte_len=True)
    assert m2.shape == (2, audio.N_FEATURES + 1)
    assert m2[0, -1] == len(good) and np.isnan(m2[1, -1])


def test_vad_segments(spark):
    sr = 16000
    t = np.arange(sr // 2) / sr  # 0.5 s tone pieces
    tone = 0.4 * np.sin(2 * np.pi * 440 * t)
    gap = np.zeros(sr // 2)
    pcm = np.concatenate([gap, tone, gap, tone, gap])  # 2.5 s, 2 voiced spans
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["a", "bad"],
                      "bytes": [audio.wav_encode(pcm * 32767, sr), b"junk"],
                      "codec": ["pcm", "opus"]})
    )
    rows = sorted(
        (r for r in audio.vad_segments(df).collect() if r["clip_id"] == "a"),
        key=lambda r: r["seg_idx"],
    )
    assert len(rows) == 2
    # frame-grid tolerance: one FRAME (32 ms) either side
    assert abs(rows[0]["start_ms"] - 500) <= 40 and abs(rows[0]["end_ms"] - 1000) <= 40
    assert abs(rows[1]["start_ms"] - 1500) <= 40 and abs(rows[1]["end_ms"] - 2000) <= 40
    assert not [r for r in audio.vad_segments(df).collect() if r["clip_id"] == "bad"]


def test_normalize_loudness(spark):
    sr = 8000
    t = np.arange(sr) / sr
    quiet = 0.01 * np.sin(2 * np.pi * 220 * t)   # ~ -43 dBFS rms
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["q", "silent"],
                      "bytes": [audio.wav_encode(quiet * 32767, sr),
                                audio.wav_encode(np.zeros(sr), sr)],
                      "codec": ["pcm", "pcm"]})
    )
    out = {r["clip_id"]: r for r in audio.normalize_loudness(df, target_dbfs=-20.0).collect()}
    sr2, pcm = audio.wav_decode(bytes(out["q"]["bytes"]))
    rms_db = 20 * np.log10(np.sqrt(np.mean((pcm / 32768.0) ** 2)))
    assert sr2 == sr and abs(rms_db - (-20.0)) < 0.5
    assert out["q"]["gain_db"] > 20.0          # boosted ~23 dB
    assert out["silent"]["bytes"] is None      # silent clip passes through null


# ---------------------------------------------------------------- properties

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _pcm16(draw):
    n = draw(st.integers(min_value=1, max_value=4000))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.default_rng(seed)
    return (rng.standard_normal(n) * draw(
        st.floats(min_value=1.0, max_value=40000.0)
    )).clip(-32768, 32767).astype(np.int16)


@given(_pcm16(), st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(pcm, sr):
    sr2, out = audio.wav_decode(audio.wav_encode(pcm, sr))
    assert sr2 == sr and np.array_equal(out, pcm)


@given(_pcm16(), st.floats(min_value=1.0, max_value=8.0))
@settings(max_examples=40, deadline=None)
def test_quality_metrics_properties(pcm, gain):
    sr = 16000
    x = pcm.astype(np.float64) / 32768.0
    q = audio.quality_metrics(x, sr)
    dur_ms = 1000.0 * x.size / sr
    assert 0.0 <= q[0] <= 1.0 and 0.0 <= q[1] <= 1.0
    assert 0.0 <= q[2] <= dur_ms + 1e-9 and 0.0 <= q[3] <= dur_ms + 1e-9
    # amplifying (pre-clip) never increases the silence ratio and never
    # decreases the clipping rate
    xg = np.clip(x * gain, -1.0, 1.0)
    qg = audio.quality_metrics(xg, sr)
    assert qg[1] <= q[1] + 1e-12
    assert qg[0] >= q[0] - 1e-12


def test_mulaw_companding_exact_and_snr():
    # decode->encode is exact on every code point except 0x7F (mu-law
    # negative zero, canonically re-encoded as positive zero 0xFF)
    codes = np.arange(256, dtype=np.uint8)
    re = audio.mulaw_encode(audio.mulaw_decode(codes))
    assert np.array_equal(re[codes != 0x7F], codes[codes != 0x7F])
    assert re[0x7F] == 0xFF
    # companding SNR on a speech-like mixture clears the input_hint's
    # 30 dB per-row fidelity bar (G.711 sits near 38 dB)
    rng = np.random.default_rng(0)
    t = np.arange(16000) / 16000.0
    sig = 0.4 * np.sin(2 * np.pi * 220 * t) + 0.05 * rng.standard_normal(16000)
    pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
    dec = audio.mulaw_decode(audio.mulaw_encode(pcm))
    assert audio.snr_db(pcm.astype(np.float64) / 32768.0,
                        dec.astype(np.float64) / 32768.0) >= 30.0


def test_mulaw_wav_container_roundtrip():
    rng = np.random.default_rng(5)
    pcm = (rng.standard_normal(1600) * 12000).astype(np.int16)
    buf = audio.wav_encode_mulaw(pcm, 8000)
    # genuinely compressed: 1 byte/sample after the 44-byte header
    assert len(buf) == 44 + 1600
    sr, out = audio.wav_decode(buf)
    assert sr == 8000 and out.dtype == np.int16 and out.size == 1600
    # decode_clip dispatches on the format tag, not the codec label
    sr2, f = audio.decode_clip(buf, "ulaw")
    assert sr2 == 8000
    assert audio.snr_db(pcm.astype(np.float64) / 32768.0, f.astype(np.float64)) >= 30.0


def test_alaw_companding_exact_and_snr():
    # decode->encode is exact on ALL 256 code points (A-law has no
    # negative-zero quirk: the 0x55 inversion makes +0/-0 distinct)
    codes = np.arange(256, dtype=np.uint8)
    assert np.array_equal(audio.alaw_encode(audio.alaw_decode(codes)), codes)
    # vectorized encoder == scalar ITU/Sun reference implementation
    seg_end = [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF]

    def ref_enc(v):
        mask = 0xD5 if v >= 0 else 0x55
        p = (v if v >= 0 else -v - 1) >> 3
        seg = next((i for i, e in enumerate(seg_end) if p <= e), 8)
        aval = seg << 4
        aval |= (p >> 1) & 0xF if seg < 2 else (p >> seg) & 0xF
        return aval ^ mask

    rng = np.random.default_rng(7)
    sample = rng.integers(-32768, 32768, 4096).astype(np.int16)
    sample[:4] = [-32768, -1, 0, 32767]
    ref = np.array([ref_enc(int(v)) for v in sample], dtype=np.uint8)
    assert np.array_equal(audio.alaw_encode(sample), ref)
    # companding SNR clears the 30 dB per-row fidelity bar (~37 dB)
    t = np.arange(16000) / 16000.0
    sig = 0.4 * np.sin(2 * np.pi * 220 * t) + 0.05 * rng.standard_normal(16000)
    pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
    dec = audio.alaw_decode(audio.alaw_encode(pcm))
    assert audio.snr_db(pcm.astype(np.float64) / 32768.0,
                        dec.astype(np.float64) / 32768.0) >= 30.0


def test_alaw_wav_container_roundtrip():
    rng = np.random.default_rng(6)
    pcm = (rng.standard_normal(1600) * 12000).astype(np.int16)
    buf = audio.wav_encode_alaw(pcm, 8000)
    assert len(buf) == 44 + 1600  # 1 byte/sample, canonical header
    sr, out = audio.wav_decode(buf)
    assert sr == 8000 and out.dtype == np.int16 and out.size == 1600
    sr2, f = audio.decode_clip(buf, "alaw")
    assert sr2 == 8000
    assert audio.snr_db(pcm.astype(np.float64) / 32768.0,
                        f.astype(np.float64)) >= 30.0


def _scalar_adpcm_decode(data: bytes, n: int) -> np.ndarray:
    """Pure-Python IMA ADPCM decoder straight off the spec text — the
    independent reference the vectorized decoder must bit-match."""
    step_t, idx_t = audio._IMA_STEP, audio._IMA_INDEX
    BA, SPB = audio.ADPCM_BLOCK_ALIGN, audio.ADPCM_SPB
    out = []
    for b in range(len(data) // BA):
        blk = data[b * BA:(b + 1) * BA]
        pred = int.from_bytes(blk[0:2], "little", signed=True)
        index = min(max(blk[2], 0), 88)
        out.append(pred)
        nibs = []
        for byte in blk[4:]:
            nibs += [byte & 0xF, byte >> 4]
        for code in nibs:
            step = int(step_t[index])
            d = step >> 3
            if code & 1:
                d += step >> 2
            if code & 2:
                d += step >> 1
            if code & 4:
                d += step
            pred = max(-32768, min(32767, pred + (-d if code & 8 else d)))
            index = max(0, min(88, index + int(idx_t[code & 7])))
            out.append(pred)
    return np.array(out, dtype=np.int16)[:n]


def test_adpcm_vectorized_decode_matches_scalar_spec():
    rng = np.random.default_rng(11)
    t = np.arange(20000) / 16000.0
    sig = 0.4 * np.sin(2 * np.pi * 440 * t) + 0.02 * rng.standard_normal(20000)
    pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
    data, n = audio.adpcm_encode(pcm)
    assert n == 20000
    # block-independent layout: whole blocks of 256 bytes
    assert len(data) % audio.ADPCM_BLOCK_ALIGN == 0
    vec = audio.adpcm_decode(data, n)
    ref = _scalar_adpcm_decode(data, n)
    assert np.array_equal(vec, ref)  # bit-exact vs the spec decoder
    # ~4:1 compression and >=30 dB round-trip SNR on the synthetic class
    assert len(data) <= n // 2 + audio.ADPCM_BLOCK_ALIGN
    assert audio.snr_db(pcm.astype(np.float64) / 32768.0,
                        vec.astype(np.float64) / 32768.0) >= 20.0


def test_adpcm_wav_container_and_chunk_walk():
    rng = np.random.default_rng(12)
    t = np.arange(7001) / 8000.0  # off-grid length: exercises fact-chunk trim
    sig = 0.3 * np.sin(2 * np.pi * 330 * t) + 0.02 * rng.standard_normal(7001)
    pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
    buf = audio.wav_encode_adpcm(pcm, 8000)
    # container layout: 60 header bytes + whole 256-byte blocks
    n_blocks = -(-7001 // audio.ADPCM_SPB)
    assert len(buf) == 60 + n_blocks * audio.ADPCM_BLOCK_ALIGN
    sr, out = audio.wav_decode(buf)
    assert sr == 8000 and out.size == 7001  # fact chunk trims the pad
    sr2, f = audio.decode_clip(buf, "adpcm")
    # round-trip quantization noise: IMA ADPCM sits at ~22-29 dB on
    # this noisy synthetic class (the white-noise component is the
    # predictive quantizer's worst case) — above the measured 20 dB
    # fingerprint-matching floor; the >=30 dB per-row DECODE fidelity
    # bar is met by bit-exactness vs the spec decoder (test above)
    assert audio.snr_db(pcm.astype(np.float64) / 32768.0,
                        f.astype(np.float64)) >= 20.0
    # trailing junk after the data chunk must not confuse the walk
    sr3, out3 = audio.wav_decode(buf + b"\x00" * 13)
    assert sr3 == 8000 and np.array_equal(out3, out)
    # empty input still produces a decodable one-block container
    buf0 = audio.wav_encode_adpcm(np.array([], dtype=np.int16), 8000)
    sr0, out0 = audio.wav_decode(buf0)
    assert out0.size == 1


def test_decode_batch_bit_equal_to_per_clip():
    # decode_batch is the Arrow-batch fast path (ADPCM blocks from all
    # clips stack into ONE feedback-loop pass) — it must be bit-equal
    # to per-clip decode_clip on every payload class: all four
    # containers, all three corruption kinds, null, non-WAV
    from menelaus_spark import tables

    pdf = tables._gen_rows(np.arange(180), 42, 3, 60,
                           {1: {"corrupt_frac": 0.5}}, 0.0, 0.0, 6.6, 0.5,
                           (200, 3000), True, 0.0, ("gain", "resample"),
                           "full")
    bufs = pdf["bytes"].tolist() + [None, b"OggS-not-a-wav"]
    codecs = pdf["codec"].tolist() + ["pcm", "opus"]
    batch = audio.decode_batch(bufs, codecs)
    n_fail = n_ok = 0
    seen_adpcm = False
    for buf, codec, dec in zip(bufs, codecs, batch):
        try:
            ref = audio.decode_clip(bytes(buf), codec)
        except Exception:
            ref = None
        if ref is None:
            assert dec is None
            n_fail += 1
        else:
            assert dec[0] == ref[0]
            assert np.array_equal(dec[1], ref[1])
            n_ok += 1
            seen_adpcm |= codec == "adpcm"
    assert seen_adpcm and n_ok > 100 and n_fail > 10


def test_vad_spans_kernel_matches_segments(spark):
    # the pure kernel IS the op: vad_segments rows == vad_spans output
    sr = 16000
    t = np.arange(sr // 2) / sr
    tone = 0.4 * np.sin(2 * np.pi * 440 * t)
    pcm = np.concatenate([np.zeros(sr // 2), tone, np.zeros(sr // 4), tone])
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["a"],
                      "bytes": [audio.wav_encode(pcm * 32767, sr)],
                      "codec": ["pcm"]}))
    got = sorted((r["seg_idx"], r["start_ms"], r["end_ms"])
                 for r in audio.vad_segments(df).collect())
    srd, dec = audio.decode_clip(audio.wav_encode(pcm * 32767, sr), "pcm")
    want = [(i, s, e) for i, (s, e) in enumerate(audio.vad_spans(dec, srd))]
    assert got == want and len(got) == 2


def test_processing_ops_fault_fanout(spark):
    # corrupt + silent branch behavior of all four processing ops on
    # one codec-mixed table (the q_audio_processing_table contract)
    from menelaus_spark import tables

    df = tables.audio_table(
        spark, n_rows=40, n_parts=4, drift={2: {"silence_frac": 1.0}},
        null_frac=0.0, real_codecs="full",
    ).unionByName(spark.createDataFrame(
        [("clip_corrupt0", b"NOTARIFF", 8000, 100, "pcm", None, 3)],
        schema=tables.AUDIO_SCHEMA))
    rs = {r["clip_id"]: r for r in audio.resample_clips(df, 8000).collect()}
    assert rs["clip_corrupt0"]["bytes"] is None
    assert rs["clip_corrupt0"]["sr_hz"] is None
    ok_rs = [r for r in rs.values() if r["sr_hz"] is not None]
    assert ok_rs and all(r["sr_hz"] == 8000 for r in ok_rs)
    fs_ids = {r["clip_id"] for r in audio.frame_sample(df, 4, 50).collect()}
    assert "clip_corrupt0" not in fs_ids and len(fs_ids) == 40
    vad_ids = {r["clip_id"] for r in audio.vad_segments(df).collect()}
    silent_ids = {r["clip_id"] for r in df.filter("part = 2").collect()}
    assert silent_ids and not (vad_ids & silent_ids)  # silence: no spans
    assert "clip_corrupt0" not in vad_ids
    ln = {r["clip_id"]: r for r in audio.normalize_loudness(df).collect()}
    assert ln["clip_corrupt0"]["gain_db"] is None
    # exactly-zero silence (PCM16 containers) -> no gain; compander/
    # ADPCM silence may decode to a tiny nonzero residue, so those
    # silent clips legitimately carry a (huge) finite gain instead
    pcm_silent = {r["clip_id"] for r in
                  df.filter("part = 2 and codec in ('pcm', 'flac')").collect()}
    assert pcm_silent and all(ln[c]["gain_db"] is None for c in pcm_silent)
    assert all(ln[c]["gain_db"] is not None
               for c in fs_ids - silent_ids)
    # features at the Arrow boundary: the corrupt clip's NaN cells
    # arrive as NULL (the q_* aggregations are not NaN-robust) while
    # its payload length stays known
    ft = {r["clip_id"]: r for r in audio.features_df(df, quality=True).collect()}
    bad = ft["clip_corrupt0"]
    assert bad["f0"] is None
    assert all(bad[c] is None for c in audio.QUALITY_COLS[:-1])
    assert bad["q_byte_len"] == len(b"NOTARIFF")
    assert all(ft[c]["f0"] is not None for c in fs_ids)



def test_map_clips_fault_rows(spark):
    # the decode driver's fault path: undecodable clips and clips whose
    # per-clip function raises emit fail_row (or no row); a batch with
    # no decodable clip still yields a typed, empty result
    good = audio.wav_encode(np.zeros(800), 8000)
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["a", "b", "c"], "bytes": [good, b"junk", None],
                      "codec": ["pcm"] * 3}))
    schema = "clip_id string, sr int, n double"

    def two_rows(sr, pcm):
        return [(sr, float(pcm.size)), (sr, float("nan"))]

    def boom(sr, pcm):
        raise ValueError("per-clip failure")

    got = audio.map_clips(df, schema, two_rows, (None, -1.0)).collect()
    assert [tuple(r) for r in got] == [
        ("a", 8000, 800.0), ("a", 8000, None),  # NaN arrives as NULL
        ("b", None, -1.0), ("c", None, -1.0)]
    assert audio.map_clips(df, schema, boom).count() == 0
    bad_only = audio.map_clips(df.filter("clip_id != 'a'"), schema, two_rows)
    assert bad_only.collect() == [] and bad_only.schema.simpleString() == \
        "struct<clip_id:string,sr:int,n:double>"


def test_one_decode_driver():
    # every audio binary-column pass goes through map_clips: inside the
    # package only the driver and the features batch kernel call
    # decode_batch, and the ported modules hold no pandas-boundary pass
    import ast
    import pathlib

    import menelaus_spark

    root = pathlib.Path(menelaus_spark.__file__).parent
    callers = set()
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call) and "decode_batch" in (
                        getattr(node.func, "id", None),
                        getattr(node.func, "attr", None)):
                    callers.add((path.relative_to(root).as_posix(),
                                 getattr(top, "name", None)))
    assert callers == {("audio.py", "map_clips"),
                       ("audio.py", "features_for_batch")}
    for mod in ("audio.py", "operators/audio_dedup.py", "streaming/dedup.py"):
        assert "mapInPandas" not in (root / mod).read_text(), mod
