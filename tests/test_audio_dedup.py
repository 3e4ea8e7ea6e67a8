"""Audio-fingerprint near-duplicate detection: kernel invariances,
trim containment, and the end-to-end Spark pipeline against the
generator's injected near-dup pairs."""

import numpy as np

from menelaus_spark import tables
from menelaus_spark.audio import (
    FP_SHINGLE,
    FRAME,
    HOP,
    fingerprint_frames,
    fingerprint_shingles,
)
from menelaus_spark.operators.audio_dedup import (
    audio_neardup_pairs,
    audio_shingles,
    transcript_blocked_neardup,
)


def _clip(seed=7, sr=16000, dur_s=0.8, f0=440.0):
    rng = np.random.default_rng(seed)
    t = np.arange(int(dur_s * sr)) / sr
    return 0.4 * np.sin(2 * np.pi * f0 * t) + 0.05 * rng.standard_normal(t.size), sr


def _jacc(a, b):
    inter = np.intersect1d(a, b).size
    union = a.size + b.size - inter
    return inter / union if union else 0.0


def test_fingerprint_gain_invariance():
    x, sr = _clip()
    base = fingerprint_frames(x, sr)
    assert base.size > 10
    for g in (0.25, 0.5, 2.0):
        assert np.array_equal(base, fingerprint_frames(g * x, sr))


def test_fingerprint_quantization_invariance():
    x, sr = _clip()
    q = np.clip(np.round(x * 32767.0), -32768, 32767) / 32768.0
    s1, s2 = fingerprint_shingles(x, sr), fingerprint_shingles(q, sr)
    assert _jacc(s1, s2) >= 0.95


def test_fingerprint_trim_containment():
    # a HOP-aligned prefix trim (at the canonical 8 kHz grid) keeps a
    # subset of the full clip's shingles
    x, sr = _clip(dur_s=1.2)
    full = fingerprint_shingles(x, sr)
    trim = fingerprint_shingles(x[: x.size // 2], sr)
    inter = np.intersect1d(full, trim).size
    assert inter / trim.size >= 0.9
    assert _jacc(full, trim) < 0.9  # jaccard alone would miss the trim


def test_fingerprint_short_and_empty_clips():
    assert fingerprint_shingles(np.zeros(0), 8000).size == 0
    # shorter than two frames at the canonical rate -> empty
    assert fingerprint_shingles(np.zeros(FRAME // 2), 8000).size == 0
    # enough for >=2 frames but fewer codes than FP_SHINGLE -> one
    # zero-padded shingle, no crash
    x, _ = _clip(dur_s=(FRAME + 2 * HOP + 1) / 8000.0, sr=8000)
    sh = fingerprint_shingles(x, 8000)
    assert 1 <= sh.size <= FP_SHINGLE


def test_fingerprint_distinct_clips_disjoint():
    a, sr = _clip(seed=1, f0=330.0)
    b, _ = _clip(seed=2, f0=770.0)
    assert _jacc(fingerprint_shingles(a, sr), fingerprint_shingles(b, sr)) < 0.05


def test_audio_neardup_e2e_and_partition_independence(spark):
    df = tables.audio_table(
        spark, n_rows=160, n_parts=4, drift={}, neardup_frac=0.125, null_frac=0.0
    )
    injected = {
        (f"clip_{i - 1:012d}", f"clip_{i:012d}") for i in range(160) if i % 8 == 7
    }
    srs = {r.clip_id: r.sr_hz for r in df.select("clip_id", "sr_hz").collect()}
    # gain-mode dups keep the source rate; resample-mode dups halve it
    gain_mode = {(a, b) for a, b in injected if srs[a] == srs[b]}
    resample_mode = injected - gain_mode
    assert resample_mode, "fixture should exercise the resample mode"

    # exact-shingle path: every bit-exact copy class, zero extras
    got = {(r.id_a, r.id_b) for r in audio_neardup_pairs(df).collect()}
    assert gain_mode <= got
    assert got <= injected

    # transcript-blocked masked-BER path: ALL injected pairs, including
    # the interpolation-resampled copies the shingle path cannot see
    got_t = {(r.id_a, r.id_b) for r in transcript_blocked_neardup(df).collect()}
    assert got_t == injected

    # same rows, different partitioning -> identical pair set + scores
    rows1 = sorted(map(tuple, audio_neardup_pairs(df).collect()))
    rows2 = sorted(map(tuple, audio_neardup_pairs(df.repartition(13)).collect()))
    assert rows1 == rows2
    rows3 = sorted(map(tuple, transcript_blocked_neardup(df).collect()))
    rows4 = sorted(map(tuple, transcript_blocked_neardup(df.repartition(13)).collect()))
    assert rows3 == rows4


def test_transcript_blocked_rejects_distinct_audio_same_text(spark):
    from pyspark.sql import functions as F

    # distinct recordings, FORCED identical transcript: block pairs
    # them, the masked-BER verify must reject every pair
    df = tables.audio_table(
        spark, n_rows=24, n_parts=2, drift={}, null_frac=0.0
    ).withColumn("transcript", F.lit("the same text for every clip"))
    assert transcript_blocked_neardup(df).count() == 0
    # empty/whitespace transcripts carry no blocking evidence: even
    # genuine dups must NOT pair through the all-empty pseudo-block
    df2 = tables.audio_table(
        spark, n_rows=24, n_parts=2, drift={}, neardup_frac=0.25, null_frac=0.0
    ).withColumn("transcript", F.lit("   "))
    assert transcript_blocked_neardup(df2).count() == 0


def test_audio_shingles_undecodable_rows_empty(spark):
    df = tables.audio_table(spark, n_rows=24, n_parts=2, drift={}, null_frac=0.5)
    out = {r[0]: r[1] for r in audio_shingles(df).collect()}
    assert len(out) == 24
    # null transcripts don't matter; but null BYTES must yield empty
    # sets, not crashes — simulate by running on a frame with nulls
    from pyspark.sql import functions as F

    df2 = df.withColumn(
        "bytes", F.when(F.col("clip_id").substr(-1, 1) == "1", None).otherwise(F.col("bytes"))
    )
    out2 = {r[0]: r[1] for r in audio_shingles(df2).collect()}
    assert len(out2) == 24
    for cid, sh in out2.items():
        if cid.endswith("1"):
            assert sh == []
    # the code pass: empty arrays and n_fp 0 for an undecodable clip,
    # and exactly audio_fingerprints' code columns for the rest
    from menelaus_spark.operators.audio_dedup import (audio_fingerprint_codes,
                                                      audio_fingerprints)

    cols = ["codes", "masks", "peaks", "n_fp"]
    codes = {r[0]: tuple(r[1:]) for r in audio_fingerprint_codes(df2).collect()}
    full = {r[0]: tuple(r[1:]) for r in
            audio_fingerprints(df2).select("clip_id", *cols).collect()}
    assert codes == full and len(codes) == 24
    bad = [v for cid, v in codes.items() if cid.endswith("1")]
    assert bad and all(v == ([], [], [], 0) for v in bad)
    assert all(v[3] > 0 and v[0] for cid, v in codes.items() if not cid.endswith("1"))


def test_shared_fingerprint_frame_equivalence(spark):
    from menelaus_spark.operators.audio_dedup import audio_fingerprints

    df = tables.audio_table(
        spark, n_rows=80, n_parts=2, drift={}, neardup_frac=0.125, null_frac=0.0
    )
    fp = audio_fingerprints(df).persist()
    try:
        assert sorted(map(tuple, audio_neardup_pairs(df, fp=fp).collect())) == \
            sorted(map(tuple, audio_neardup_pairs(df).collect()))
        assert sorted(map(tuple, transcript_blocked_neardup(df, fp=fp).collect())) == \
            sorted(map(tuple, transcript_blocked_neardup(df).collect()))
    finally:
        fp.unpersist()


# ---------------------------------------------------------------- property

from hypothesis import given, settings
from hypothesis import strategies as st

from menelaus_spark.audio import FP_DELTA, fingerprint_codes


@st.composite
def _signal(draw):
    seed = draw(st.integers(0, 2**31 - 1))
    f0 = draw(st.floats(min_value=60.0, max_value=3500.0))
    dur = draw(st.floats(min_value=0.15, max_value=1.5))
    sr = draw(st.sampled_from([8000, 16000]))
    rng = np.random.default_rng(seed)
    t = np.arange(int(dur * sr)) / sr
    return 0.4 * np.sin(2 * np.pi * f0 * t) + 0.05 * rng.standard_normal(t.size), sr


@settings(max_examples=25, deadline=None)
@given(_signal(), st.floats(min_value=0.05, max_value=4.0))
def test_fingerprint_gain_invariance_property(sig_sr, gain):
    x, sr = sig_sr
    c0, m0, p0 = fingerprint_codes(x, sr)
    c1, m1, p1 = fingerprint_codes(gain * x, sr)
    assert np.array_equal(c0, c1)
    assert np.array_equal(m0, m1)
    # sub-bin peak offsets come from a log-magnitude parabola, which is
    # gain-invariant only up to IEEE rounding (log(g*s) vs log(s) in the
    # last ulp) — matching tolerances are 0.35-1.0 bins, so assert far
    # below them rather than bit equality
    assert np.allclose(p0, p1, atol=1e-6, rtol=0.0)


@settings(max_examples=25, deadline=None)
@given(_signal())
def test_fingerprint_mask_monotone_in_delta(sig_sr):
    # a larger confidence margin can only CLEAR bits from the mask
    x, sr = sig_sr
    _, m_loose, _ = fingerprint_codes(x, sr, delta=FP_DELTA / 2)
    _, m_tight, _ = fingerprint_codes(x, sr, delta=FP_DELTA * 2)
    for lo, hi in zip(m_tight, m_loose):
        assert int(lo) & ~int(hi) == 0


def test_trim_mode_detected_by_containment(spark):
    # truncated-recording copies: the shingle path's containment score
    # is ~1 (trim shingles are a subset of the source's, thanks to the
    # absolute-time fingerprint grid) and half-trims still clear the
    # jaccard threshold; the transcript path's equal-frame-count guard
    # correctly rejects them (trims are the shingle path's job)
    df = tables.audio_table(
        spark, n_rows=80, n_parts=2, drift={}, neardup_frac=0.125,
        null_frac=0.0, neardup_modes=("trim",),
    )
    injected = {
        (f"clip_{i - 1:012d}", f"clip_{i:012d}") for i in range(80) if i % 8 == 7
    }
    rows = audio_neardup_pairs(df, containment_threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert injected <= got
    by_pair = {(r.id_a, r.id_b): r for r in rows}
    for pair in injected:
        assert by_pair[pair].containment >= 0.9
    assert got == injected
    # the time-order HEAD buckets are what guarantee these candidates:
    # without them, LSH at J~0.4 misses pairs with ~25% probability
    # per pair (observed before the heads column existed), and short
    # trims can sit below the jaccard threshold entirely
    assert transcript_blocked_neardup(df).count() == 0


def test_pad_mode_detected_by_containment(spark):
    # leading-silence copies (frame-grid aligned): silence frames
    # collapse to O(1) distinct shingles, so the source's shingle set
    # is contained in the copy's (containment ~1, jaccard still high);
    # the transcript path's equal-frame-count guard rejects them
    df = tables.audio_table(
        spark, n_rows=80, n_parts=2, drift={}, neardup_frac=0.125,
        null_frac=0.0, neardup_modes=("pad",),
    )
    injected = {
        (f"clip_{i - 1:012d}", f"clip_{i:012d}") for i in range(80) if i % 8 == 7
    }
    rows = audio_neardup_pairs(df, containment_threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert injected <= got
    by_pair = {(r.id_a, r.id_b): r for r in rows}
    for pair in injected:
        assert by_pair[pair].containment >= 0.9
    assert got == injected
    assert transcript_blocked_neardup(df).count() == 0


def test_noise_mode_detected_by_transcript_path(spark):
    # additive-noise copies at SNR >= 20 dB: exact code shingles are
    # scrambled (Jaccard ~0 — the LSH path finds nothing), but the
    # masked-BER transcript path holds: margin-cleared bits agree
    df = tables.audio_table(
        spark, n_rows=80, n_parts=2, drift={}, neardup_frac=0.125,
        null_frac=0.0, neardup_modes=("noise",),
    )
    injected = {
        (f"clip_{i - 1:012d}", f"clip_{i:012d}") for i in range(80) if i % 8 == 7
    }
    rows = transcript_blocked_neardup(df).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert got == injected
    by_pair = {(r.id_a, r.id_b): r for r in rows}
    for pair in injected:
        assert by_pair[pair].wber <= 0.10
        assert by_pair[pair].peak_agree >= 0.9
    # complementarity: the exact-shingle path misses noise copies
    shingle_got = {
        (r.id_a, r.id_b) for r in audio_neardup_pairs(df).collect()
    }
    assert not (injected & shingle_got)


def test_speed_mode_detected_by_peak_rescaling(spark):
    # speed-perturbed copies (resampled without relabeling the rate):
    # every frame-grid fingerprint breaks — shingle path AND the
    # equal-frame-count transcript path miss them — but the rescaled
    # peak-track criterion recovers every pair: time and frequency
    # scale by the same factor, observable as the frame-count ratio
    from menelaus_spark.operators.audio_dedup import speed_blocked_neardup

    df = tables.audio_table(
        spark, n_rows=80, n_parts=2, drift={}, neardup_frac=0.125,
        null_frac=0.0, neardup_modes=("speed",),
    )
    injected = {
        (f"clip_{i - 1:012d}", f"clip_{i:012d}") for i in range(80) if i % 8 == 7
    }
    rows = speed_blocked_neardup(df).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert injected <= got
    by_pair = {(r.id_a, r.id_b): r for r in rows}
    for pair in injected:
        r = by_pair[pair]
        assert r.peak_agree >= 0.8
        assert 0.77 <= r.speed_ratio <= 1.30
        assert r.n_frames_a != r.n_frames_b
    assert got == injected
    # complementarity: both frame-grid paths miss speed copies
    assert transcript_blocked_neardup(df).count() == 0
    shingle_got = {
        (r.id_a, r.id_b) for r in audio_neardup_pairs(df).collect()
    }
    assert not (injected & shingle_got)


def test_mixed_mode_resolution_end_to_end(spark):
    # the flagship pipeline: a mixed-taxonomy table (each dup's copy
    # class drawn from gain/resample, trim, pad, noise, speed), all
    # three matching paths unioned, connected components resolved —
    # every injected (source, copy) pair must land in one cluster with
    # the source as representative, regardless of which class it drew
    from menelaus_spark.operators.audio_dedup import audio_dedup_resolution

    df = tables.audio_table(
        spark, n_rows=160, n_parts=2, drift={}, neardup_frac=0.125,
        null_frac=0.0, neardup_modes=("mixed",),
    )
    injected = {
        (f"clip_{i - 1:012d}", f"clip_{i:012d}") for i in range(160) if i % 8 == 7
    }
    rows = {r.id: r for r in audio_dedup_resolution(df).collect()}
    # no false merges: every emitted node belongs to an injected pair,
    # and its cluster is exactly that pair
    members = set(rows)
    assert members <= {c for pair in injected for c in pair}
    recovered = {(s, c) for s, c in injected if s in rows and c in rows}
    for src, cpy in recovered:
        assert rows[cpy].cluster_id == src
        assert rows[src].cluster_id == src
        assert rows[src].is_representative and not rows[cpy].is_representative
        assert rows[src].cluster_size == 2
    # near-total recall; the one tolerated miss in this fixture is a
    # resampled default-class copy whose raw BER lands a hair past the
    # 0.35 threshold (clip 127) — a detector-floor edge, not a
    # pipeline gap (the DuckDB oracle reproduces the same miss)
    assert len(recovered) >= len(injected) - 1


def test_mulaw_transcode_neardup_detected(spark):
    # real_codecs=True injects dups that are G.711 mu-law TRANSCODES of
    # their (gain/resample-modified) source — codec label and byte
    # format both change. All matching paths work on the decoded PCM,
    # so the cross-container pairs must still be found.
    df = tables.audio_table(
        spark, n_rows=160, n_parts=4, drift={}, neardup_frac=0.125,
        null_frac=0.0, real_codecs=True,
    )
    injected = {
        (f"clip_{i - 1:012d}", f"clip_{i:012d}") for i in range(160) if i % 8 == 7
    }
    codecs = {r.clip_id: r.codec for r in df.select("clip_id", "codec").collect()}
    # every injected dup is mu-law; sources keep their drawn container
    assert all(codecs[b] == "ulaw" for _a, b in injected)
    assert any(codecs[a] != "ulaw" for a, _b in injected)

    # transcript-blocked masked-BER catches ALL pairs (mu-law's ~38 dB
    # companding noise is inside the path's measured >=20 dB tolerance)
    got_t = {(r.id_a, r.id_b) for r in transcript_blocked_neardup(df).collect()}
    assert got_t == injected

    # the exact-shingle path does NOT claim lossy re-encodes (mu-law
    # companding noise flips low-margin fingerprint bits, breaking
    # bit-exact shingle equality) — that class belongs to the masked-BER
    # path above. It must stay silent rather than emit false pairs.
    got = {(r.id_a, r.id_b) for r in audio_neardup_pairs(df).collect()}
    assert got <= injected


def test_full_codec_transcode_neardup_detected(spark):
    # real_codecs="full" cycles injected transcodes through mu-law,
    # A-law AND IMA ADPCM (the dup's container is keyed idx%3). The
    # transcript-blocked masked-BER path must find every pair across
    # all three re-encode noise levels (~38/37/~22-29 dB) — ADPCM is
    # the stress case, its predictive quantization noise sits just
    # above the path's measured 20 dB floor.
    df = tables.audio_table(
        spark, n_rows=160, n_parts=4, drift={}, neardup_frac=0.125,
        null_frac=0.0, real_codecs="full",
    )
    injected = {
        (f"clip_{i - 1:012d}", f"clip_{i:012d}") for i in range(160) if i % 8 == 7
    }
    codecs = {r.clip_id: r.codec for r in df.select("clip_id", "codec").collect()}
    dup_codecs = {codecs[b] for _a, b in injected}
    assert dup_codecs == {"ulaw", "alaw", "adpcm"}  # the cycle covers all three

    got_t = {(r.id_a, r.id_b) for r in transcript_blocked_neardup(df).collect()}
    assert got_t == injected


def test_decode_pass_sig_matches_frame_kernel(spark):
    """The per-row signature computed inside the decode pass
    (dedup.minhash_sig_py) must equal the explode->groupBy frame
    kernel's signature bit-for-bit — the r06 fusion is a plan change,
    not a value change."""
    from menelaus_spark.operators.audio_dedup import FP_MINHASH_K
    from menelaus_spark.operators.dedup import minhash_from_shingles

    df = tables.audio_table(
        spark, n_rows=40, n_parts=2, drift={}, neardup_frac=0.25, null_frac=0.1
    )
    sh = audio_shingles(df).persist()
    try:
        embedded = {r["clip_id"]: list(r["sig"]) for r in sh.collect()}
        kernel = {
            r["clip_id"]: list(r["sig"])
            for r in minhash_from_shingles(sh, "clip_id", "shingles",
                                           FP_MINHASH_K, kernel="jvm").collect()
        }
        assert embedded == kernel
    finally:
        sh.unpersist()


def test_minhash_sig_py_matches_kernel_on_text_shingles(spark):
    from menelaus_spark.operators.dedup import (
        minhash_from_shingles,
        minhash_sig_py,
        with_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, ""), (4, "one two")],
        "doc_id long, text string",
    )
    sh = with_shingles(docs, "doc_id", "text", 3).persist()
    try:
        kernel = {r["doc_id"]: list(r["sig"])
                  for r in minhash_from_shingles(sh, "doc_id", "shingles", 8,
                                         kernel="jvm").collect()}
        for r in sh.collect():
            assert minhash_sig_py(list(r["shingles"]), 8) == kernel[r["doc_id"]]
    finally:
        sh.unpersist()


def test_neardup_driver_fast_path_matches_distributed(spark):
    # bounded-driver candidate generation (driver_cap) must be
    # byte-equal — values AND dtypes — to the forced distributed
    # LSH/block-join plans on every matching path
    df = tables.audio_table(spark, n_rows=160, n_parts=4, drift={},
                            neardup_frac=0.2, null_frac=0.05)
    df_trim = tables.audio_table(spark, n_rows=80, n_parts=2, drift={},
                                 neardup_frac=0.25, null_frac=0.0,
                                 neardup_modes=("trim",))
    df_speed = tables.audio_table(spark, n_rows=80, n_parts=2, drift={},
                                  neardup_frac=0.25, null_frac=0.0,
                                  neardup_modes=("speed",))

    def canon(d):
        return (d.dtypes, sorted(map(tuple, d.collect())))

    from menelaus_spark.operators.audio_dedup import (
        speed_blocked_neardup, transcript_candidate_pairs)

    for name, fn in [
        ("tcp", lambda cap: transcript_candidate_pairs(df, driver_cap=cap)),
        ("lsh", lambda cap: audio_neardup_pairs(df, driver_cap=cap)),
        ("containment", lambda cap: audio_neardup_pairs(
            df_trim, containment_threshold=0.9, driver_cap=cap)),
        ("transcript", lambda cap: transcript_blocked_neardup(
            df, pairs=transcript_candidate_pairs(df, driver_cap=cap))),
        ("speed", lambda cap: speed_blocked_neardup(
            df_speed, pairs=transcript_candidate_pairs(df_speed, driver_cap=cap))),
    ]:
        fast, slow = canon(fn(200_000)), canon(fn(0))
        assert fast == slow, name
        assert fast[1], name  # fixtures inject duplicates: never vacuous


def test_minhash_arrow_kernel_matches_jvm_kernel(spark):
    # the default Arrow signature kernel (minhash_sig_py per row, no
    # explode/groupBy) must be bit-equal to the JVM expression plan,
    # including empty-shingle docs, at both entry widths
    from menelaus_spark.operators.dedup import minhash_from_shingles, with_shingles

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog and runs"),
         (2, "pack my box with five dozen liquor jugs right now"),
         (3, ""), (4, "one two"), (5, "the quick brown fox jumps over it")],
        "doc_id long, text string",
    )
    sh = with_shingles(docs, "doc_id", "text", 3).persist()
    try:
        for k in (8, 32):
            arrow = {r["doc_id"]: list(r["sig"]) for r in
                     minhash_from_shingles(sh, "doc_id", "shingles", k).collect()}
            jvm = {r["doc_id"]: list(r["sig"]) for r in
                   minhash_from_shingles(sh, "doc_id", "shingles", k,
                                         kernel="jvm").collect()}
            assert arrow == jvm
            assert arrow[3] == []  # empty-shingle contract
    finally:
        sh.unpersist()
