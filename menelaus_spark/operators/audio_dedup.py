"""Audio near-duplicate detection: spectral fingerprint shingles ->
MinHash + LSH banding -> exact Jaccard/containment verification.

A 10^12-clip training corpus carries re-encoded, gain-shifted,
resampled and silence-trimmed copies that byte-level exact dedup
cannot see (and that transcript equality alone mis-groups). The
fingerprint (menelaus_spark.audio.fingerprint_shingles) is a
Haitsma-Kalker-style sign code over log band energies: constant gain
cancels exactly, int16 re-quantization is invariant in practice, and
resampling to the canonical FP_SR puts copies at different container
rates on the same frame grid. HOP-aligned trims survive as shingle
subsets (the ``containment`` column is the trim-detection score).
Perceptually-similar-but-noise-degraded copies are NOT this
operator's job — that is the embedding near-dup path
(operators/dedup.py embedding_neardup_pairs).

Scale shape (100 TB): ONE Arrow decode pass emits ~8-byte shingle keys
(a few hundred per clip, ~1-2% of payload volume); everything after is
EXACTLY the text near-dup plan — explode -> groupBy with k min-aggs,
band-bucket equi-join (no unblocked pair join anywhere), and a verify
join driven only by the candidate pairs. Linear in clip count; the
reference has no audio operators (this extends its batch data-drift
scope per the training-data-pipeline mandate).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from menelaus_spark.audio import (
    fingerprint_codes,
    fp_sample_count,
    map_clips,
    pack_shingles,
)
from menelaus_spark.operators.dedup import (
    OwnedCache,
    jaccard_col,
    local_pairs_frame,
    lsh_candidate_pairs,
    lsh_candidate_pairs_driver,
    minhash_from_shingles,
    minhash_sig_py,
)


FP_HEADS = 4  # time-order head shingles emitted for prefix-trim buckets
# MinHash width baked into the decode pass (r06): the per-clip
# signature is computed in Python WHILE the shingles are still in
# numpy, so the downstream pipeline starts from a per-row sig column
# instead of an explode -> groupBy(k min-aggs) shuffle. Identical md5
# family and values (dedup.minhash_sig_py twin, asserted in tests);
# callers requesting a different k fall back to the frame kernel.
FP_MINHASH_K = 16


def shingle_hex(shingles: np.ndarray) -> list[str]:
    """int64 shingle array -> sorted 16-hex-digit strings (the string
    domain lets the md5 minhash lanes and the DuckDB oracle run the
    byte-identical expressions they run for text shingles)."""
    return [f"{v:016x}" for v in np.asarray(shingles, dtype=np.int64).view(np.uint64)]


_SHINGLE_FIELDS = "shingles array<string>, heads array<string>, sig array<long>"
_CODE_FIELDS = ("codes array<int>, masks array<int>, peaks array<double>, "
               "n_fp int")
# what an undecodable or failing clip emits: it can never pair
_NO_SHINGLES = ([], [], [])
_NO_CODES = ([], [], [], 0)


def _shingle_fields(codes: np.ndarray) -> tuple:
    """(shingles, heads, sig) of one clip's uint32 frame codes: the
    sorted shingle set, its first FP_HEADS time-order shingles, and the
    decode-pass MinHash signature (minhash_sig_py, the exact md5 twin
    of the frame kernel)."""
    packed = pack_shingles(codes)
    sh = shingle_hex(np.unique(packed))
    return sh, shingle_hex(packed[:FP_HEADS]), minhash_sig_py(sh, FP_MINHASH_K)


def _code_fields(codes, masks, peaks, n_samples: int, sr: int) -> tuple:
    """(codes, masks, peaks, n_fp) of one clip: the uint32 words as
    int32 lanes, and the canonical-rate sample count (the speed-factor
    basis)."""
    return (codes.astype(np.int32), masks.astype(np.int32), peaks,
            fp_sample_count(n_samples, sr))


def audio_shingles(
    df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """(key, shingles array<string>, heads, sig) in one Arrow-batched
    pass — the MinHash signature rides the decode, so downstream LSH
    starts from a per-row column with zero extra shuffle. Undecodable
    or too-short clips yield an empty set — they can never pair, and
    the decode-integrity check owns reporting them."""
    def per_clip(sr, pcm):
        return [_shingle_fields(fingerprint_codes(pcm, sr)[0])]

    return map_clips(df, f"{key_col} string, {_SHINGLE_FIELDS}", per_clip,
                     _NO_SHINGLES, key_col, bytes_col, codec_col)


def audio_fingerprints(
    df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Everything every matching path needs from ONE Arrow decode
    pass: (key, shingles/heads array<string>, sig array<long>,
    codes/masks array<int>, peaks array<double>, n_fp int). When a
    corpus runs several near-dup paths — the production configuration
    — persist this frame and pass it to each; the binary column is
    then read exactly once for the whole dedup suite."""
    def per_clip(sr, pcm):
        c, m, p = fingerprint_codes(pcm, sr)
        return [_shingle_fields(c) + _code_fields(c, m, p, pcm.size, sr)]

    return map_clips(df, f"{key_col} string, {_SHINGLE_FIELDS}, {_CODE_FIELDS}",
                     per_clip, _NO_SHINGLES + _NO_CODES,
                     key_col, bytes_col, codec_col)


# at most one internally-pinned shingle frame across repeated fp=None
# calls (dedup.OwnedCache semantics)
_SHINGLE_CACHE = OwnedCache()


def audio_neardup_pairs(
    df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    threshold: float = 0.35,
    k: int = 16,
    bands: int = 8,
    rows: int = 2,
    fp: DataFrame | None = None,
    containment_threshold: float | None = None,
    prefix_keys: int = 4,
    prefix_cap: int = 200,
    driver_cap: int = 100_000,
) -> DataFrame:
    """Near-duplicate clip pairs: (id_a, id_b, jaccard, containment)
    with fingerprint-shingle Jaccard >= threshold. bands=8 x rows=2
    catches pairs down to J ~ 0.3 with high probability (1-(1-J^2)^8),
    which covers every mechanical-copy class the fingerprint
    preserves; the verify join computes the exact scores on candidate
    pairs only.

    ``containment_threshold`` turns on trim detection: pairs also
    qualify when intersection/min-size clears it, and candidate
    generation is widened with HEAD-shingle buckets — a truncated
    recording shares its source's first TIME-ORDER shingle exactly
    (absolute-time fingerprint grid), so bucketing every clip's first
    ``prefix_keys`` head shingles guarantees a candidate for every
    prefix trim no matter how low its Jaccard. Buckets hotter than ``prefix_cap`` are
    skipped (a shingle shared by thousands of clips — digital silence
    — is not trim evidence), keeping the union linear."""
    assert bands * rows == k
    if fp is not None:
        keep = [c for c in ("shingles", "heads", "sig") if c in fp.columns]
        sh = fp.select(key_col, *keep)
    else:
        # decoded once, read three ways (signatures + both verify
        # sides). The cache is OWNED by this module: persisting without
        # release would pin blocks on every fp=None call, so the
        # previous internally-owned frame is unpersisted first — at
        # most ONE pinned shingle frame ever accumulates. Callers that
        # interleave several fp=None plans before materializing them
        # should pass a managed fp (audio_fingerprints(df).persist())
        # and unpersist it themselves, as audio_dedup_resolution does.
        sh = _SHINGLE_CACHE.persist(audio_shingles(df, key_col, bytes_col, codec_col))
    cands = None
    # fast path only for the containment variant: its head-bucket
    # chain (explode + count + two joins + union + distinct) is what
    # the driver generation removes; the plain LSH plan over the
    # decode-pass signature column is already cheaper distributed
    # (measured: 1.0 s vs 1.7 s at 16k clips)
    if ("sig" in sh.columns and k == FP_MINHASH_K and driver_cap
            and containment_threshold is not None and "heads" in sh.columns
            and sh.count() <= driver_cap):
        # bounded-driver fast path (the count doubles as the pin's /
        # caller-persisted frame's materializing action — one decode
        # either way): banding, bucket self-joins and the distinct all
        # run on the collected (id, sig, heads) rows; the resulting
        # LocalRelation broadcasts into the verify joins below, so the
        # shingle frame is never shuffled. Above the cap (e.g. the
        # 800k-clip scaling witness) the distributed plans run
        # unchanged.
        pdf = sh.select(key_col, "sig", "heads").toPandas()  # Arrow collect off the pin
        pairs = lsh_candidate_pairs_driver(
            list(zip(pdf[key_col], pdf["sig"])), bands, rows)
        # twin of the head-bucket union: explode(slice(heads, 1,
        # prefix_keys)) keeps per-row duplicates, the bucket count
        # counts ROWS, and same-id pairs fall to id_a < id_b
        buckets: dict = defaultdict(list)
        for rid, heads in zip(pdf[key_col], pdf["heads"]):
            if heads is None:
                continue
            for hshingle in heads[:prefix_keys]:
                buckets[hshingle].append(rid)
        for g in buckets.values():
            if len(g) < 2 or len(g) > prefix_cap:
                continue
            for x in range(len(g)):
                for y in range(x + 1, len(g)):
                    a, b2 = g[x], g[y]
                    if a == b2:
                        continue
                    pairs.add((a, b2) if a < b2 else (b2, a))
        cands = local_pairs_frame(df.sparkSession, pairs,
                                  dict(sh.dtypes)[key_col])
    if cands is None:
        if "sig" in sh.columns and k == FP_MINHASH_K:
            # decode-pass signature: per-row column, no explode/groupBy
            sigs = sh.select(key_col, "sig")
        else:
            sigs = minhash_from_shingles(sh, key_col, "shingles", k)
        cands = lsh_candidate_pairs(sigs, key_col, bands, rows)
        if containment_threshold is not None:
            pfx = sh.select(
                F.col(key_col),
                F.explode(F.slice("heads", 1, prefix_keys)).alias("__pfx"),
            )
            ok = pfx.groupBy("__pfx").count().filter(
                F.col("count") <= prefix_cap).select("__pfx")
            pfx = pfx.join(ok, on="__pfx")
            pcands = (
                pfx.select(F.col("__pfx"), F.col(key_col).alias("id_a"))
                .join(pfx.select(F.col("__pfx"), F.col(key_col).alias("id_b")),
                      on="__pfx")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            cands = cands.unionByName(pcands).distinct()
    keep = F.col("jaccard") >= threshold
    if containment_threshold is not None:
        keep = keep | (F.col("containment") >= containment_threshold)
    paired = cands.join(
        sh.select(F.col(key_col).alias("id_a"), F.col("shingles").alias("sh_a")),
        on="id_a",
    )
    if cands.isLocal():
        # bounded driver-generated candidates: broadcast the pair +
        # sh_a intermediate so the shingle frame is never shuffled
        paired = F.broadcast(paired)
    return (
        paired.join(
            sh.select(F.col(key_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            on="id_b",
        )
        .withColumn("jaccard", F.round(jaccard_col(F.col("sh_a"), F.col("sh_b")), 6))
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.least(F.size("sh_a"), F.size("sh_b")), F.lit(1)),
                6,
            ),
        )
        .filter(keep)
        .select("id_a", "id_b", "jaccard", "containment")
    )


def audio_fingerprint_codes(
    df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """(key, codes array<int>, masks array<int>, peaks array<double>,
    n_fp int) in one Arrow-batched pass — the per-frame sign codes,
    confidence masks, and sub-bin peak ids from
    audio.fingerprint_codes, plus the canonical-rate sample count
    (the speed-factor basis). Undecodable clips yield empty arrays
    and n_fp 0."""
    def per_clip(sr, pcm):
        return [_code_fields(*fingerprint_codes(pcm, sr), pcm.size, sr)]

    return map_clips(df, f"{key_col} string, {_CODE_FIELDS}", per_clip,
                     _NO_CODES, key_col, bytes_col, codec_col)


def transcript_candidate_pairs(
    df: DataFrame,
    key_col: str = "clip_id",
    transcript_col: str = "transcript",
    block_cap: int = 50,
    driver_cap: int = 200_000,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from transcript-equality blocking:
    groupBy on md5(normalized transcript) with singleton and hot-block
    pruning (blocks past ``block_cap`` are skipped — a transcript
    shared by thousands of clips is the text-dedup path's job), so
    candidate volume is bounded by cap x blocks.

    At or below ``driver_cap`` block rows (gated on ``blocks.count()``
    — the count reads only the pruned transcript column, never the
    payload) the
    grouping and pair generation run driver-side on the collected
    JVM-computed (id, md5 block) rows, and the resulting LocalRelation
    broadcasts into the verify joins so the fingerprint frame is never
    shuffled; above the cap the block self-join plan is unchanged.
    The cap sits below the audio scaling-witness size (800k clips)."""
    from menelaus_spark.operators.dedup import (capped_block_pairs_driver,
                                                local_pairs_frame,
                                                normalized_text)

    blocks = (
        df.filter(F.col(transcript_col).isNotNull())
        # empty/whitespace transcripts carry no blocking evidence and
        # would otherwise all land in one bucket (md5('') is non-empty)
        .filter(F.length(normalized_text(F.col(transcript_col))) > 0)
        .select(
            F.col(key_col),
            F.md5(normalized_text(F.col(transcript_col))).alias("__blk"),
        )
    )
    if driver_cap and blocks.count() <= driver_cap:
        # count + Arrow collect: two parallel one-pass jobs over the
        # pruned transcript projection (a LIMIT probe would ramp
        # through partitions sequentially)
        pdf = blocks.toPandas()
        pairs = capped_block_pairs_driver(
            list(zip(pdf[key_col], pdf["__blk"])), block_cap)
        return local_pairs_frame(df.sparkSession, pairs,
                                 dict(df.dtypes)[key_col])
    sized = blocks.join(
        blocks.groupBy("__blk").count().filter(
            (F.col("count") >= 2) & (F.col("count") <= block_cap)
        ).select("__blk"),
        on="__blk",
    )
    return (
        sized.select(F.col("__blk"), F.col(key_col).alias("id_a"))
        .join(sized.select(F.col("__blk"), F.col(key_col).alias("id_b")), on="__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def transcript_blocked_neardup(
    df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    transcript_col: str = "transcript",
    wber_max: float = 0.10,
    raw_ber_max: float = 0.35,
    peak_agree_min: float = 0.9,
    min_mask_bits: int = 16,
    block_cap: int = 50,
    fp: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Cross-modal near-duplicate detection: block on transcript
    equality (same text, possibly different encodings of the same
    recording), verify with masked bit-error rate + peak-bin agreement
    over the fingerprint code sequences. Catches the LOSSY copy
    classes the exact-shingle path cannot (interpolation-resampled
    copies perturb noise-dominated band bits at O(1); only
    margin-cleared bits carry evidence, which is exactly what the
    mask keeps).

    Scale shape: one decode pass; the block join is a groupBy on
    md5(normalized transcript) with singleton and hot-block pruning
    (blocks past ``block_cap`` are skipped — a transcript shared by
    thousands of clips is the text-dedup path's job), so candidate
    volume is bounded by cap x blocks; all verify arithmetic is
    JVM-side zip_with/bit_count over the candidate pairs only.

    Duplicate criterion (equal frame counts, then all three must hold):
    - masked wBER <= wber_max: margin-cleared bits agree (the lossy-
      copy evidence channel);
    - RAW BER <= raw_ber_max: the Haitsma-Kalker matching criterion
      (ISMIR 2002 uses BER < 0.35) over ALL bits — distinct
      recordings' noise-dominated bits disagree at ~0.5, copies stay
      well under even after interpolation resampling;
    - peak-bin agreement >= peak_agree_min: 15.6 Hz pitch identity.

    Returns (id_a, id_b, wber, raw_ber, peak_agree, n_overlap).
    """
    def bc32(v):
        # our uint32 words live in signed int columns; bit_count would
        # sign-extend negatives to 64 bits and count 32 phantom ones
        return F.bit_count(v.cast("long").bitwiseAND(F.lit(0xFFFFFFFF)))

    if fp is None:
        fp = audio_fingerprint_codes(df, key_col, bytes_col, codec_col)
    if pairs is None:
        pairs = transcript_candidate_pairs(df, key_col, transcript_col, block_cap)
    a = fp.select(F.col(key_col).alias("id_a"), F.col("codes").alias("ca"),
                  F.col("masks").alias("ma"), F.col("peaks").alias("pa"))
    b = fp.select(F.col(key_col).alias("id_b"), F.col("codes").alias("cb"),
                  F.col("masks").alias("mb"), F.col("peaks").alias("pb"))
    n = F.least(F.size("ca"), F.size("cb"))
    # a driver-generated (LocalRelation) pair set is bounded by
    # construction, so the pair+codes intermediate can broadcast and
    # the fingerprint frame is never shuffled; distributed pair frames
    # keep the shuffle join (their size scales with the corpus)
    paired = pairs.join(a, on="id_a")
    if pairs.isLocal():
        paired = F.broadcast(paired)
    joined = (
        paired.join(b, on="id_b")
        # full-duplicate classes preserve duration exactly: equal frame
        # counts is the cheapest distinct-recording rejector (trimmed
        # copies are the exact-shingle path's job, via containment)
        .filter(F.size("ca") == F.size("cb"))
        .withColumn("__n", n)
        .filter(F.col("__n") > 0)
        .withColumn("__mand", F.zip_with(
            F.slice("ma", 1, F.col("__n")), F.slice("mb", 1, F.col("__n")),
            lambda x, y: x.bitwiseAND(y)))
        .withColumn("__xor", F.zip_with(
            F.slice("ca", 1, F.col("__n")), F.slice("cb", 1, F.col("__n")),
            lambda x, y: x.bitwiseXOR(y)))
        .withColumn("__den", F.aggregate(
            "__mand", F.lit(0), lambda acc, m: acc + bc32(m)))
        .withColumn("__num", F.aggregate(
            F.zip_with("__xor", "__mand", lambda x, m: x.bitwiseAND(m)),
            F.lit(0), lambda acc, v: acc + bc32(v)))
        .withColumn("__raw", F.aggregate(
            "__xor", F.lit(0), lambda acc, v: acc + bc32(v)))
        .withColumn("__pagree", F.aggregate(
            F.zip_with(F.slice("pa", 1, F.col("__n")), F.slice("pb", 1, F.col("__n")),
                       lambda x, y: F.when(F.abs(x - y) <= 1, 1).otherwise(0)),
            F.lit(0), lambda acc, v: acc + v))
    )
    return (
        joined.filter(F.col("__den") >= min_mask_bits)
        .withColumn("wber", F.round(F.col("__num") / F.col("__den"), 6))
        .withColumn("raw_ber", F.round(F.col("__raw") / (32 * F.col("__n")), 6))
        .withColumn("peak_agree", F.round(F.col("__pagree") / F.col("__n"), 6))
        .filter((F.col("wber") <= wber_max)
                & (F.col("raw_ber") <= raw_ber_max)
                & (F.col("peak_agree") >= peak_agree_min))
        .select("id_a", "id_b", "wber", "raw_ber", "peak_agree",
                F.col("__n").alias("n_overlap"))
    )


def speed_blocked_neardup(
    df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    transcript_col: str = "transcript",
    min_ratio: float = 0.77,
    max_ratio: float = 1.30,
    dead_zone: tuple[float, float] = (0.96, 1.04),
    peak_tol: float = 0.35,
    agree_min: float = 0.8,
    min_frames: int = 8,
    block_cap: int = 50,
    fp: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Speed-perturbed (time-stretched) copy detection: a copy
    resampled WITHOUT relabeling its rate plays faster/slower and
    pitch-shifts — every frame-grid fingerprint breaks (codes,
    shingles, and the equal-frame-count transcript path all miss it).
    But the perturbation scales the time axis and the frequency axis
    by the SAME factor f, and f is directly observable as the
    canonical-rate sample-count ratio n_fp_a / n_fp_b (exactly
    duration-proportional — the STFT frame count is NOT, its FRAME
    offset inflates ratios on short clips). The already-computed
    sub-bin peak tracks then verify candidates with zero extra decode
    work:

        |f * peak_a(floor(f*j + .5)) - peak_b(j)| <= peak_tol

    for an ``agree_min`` fraction of frames j (floor(x+.5) index
    rounding — identical semantics in Spark, numpy, and DuckDB,
    unlike round()'s half-even/half-up split). Parabolic sub-bin
    peaks (~0.03-bin measured error on true pairs) are what make
    ``peak_tol`` 0.35 workable — it sits 10x above the true-pair
    error and ~2x below the ~0.6-bin error of coincidental
    same-transcript distinct takes whose pitch ratio happens to
    mirror their duration ratio (the measured false-positive class
    on constant-pitch content); integer argmax bins carry up to ~2 bins of
    quantization error, which a 10% pitch shift at low pitch cannot
    clear. Ratios inside ``dead_zone`` are skipped: below ~4% tempo
    deviation, a constant-pitch distinct take (same transcript,
    near-equal duration, pitch ratio ~ duration ratio by coincidence)
    is indistinguishable from a copy at this resolution — the
    detector's documented floor.

    Scale shape: same transcript-equality blocking as
    :func:`transcript_blocked_neardup` (bounded candidates), then a
    sample-count-ratio gate and one JVM transform/aggregate over the
    candidate pairs' peak arrays. Returns
    (id_a, id_b, speed_ratio, peak_agree, n_frames_a, n_frames_b).
    """
    if fp is None:
        fp = audio_fingerprint_codes(df, key_col, bytes_col, codec_col)
    if pairs is None:
        pairs = transcript_candidate_pairs(df, key_col, transcript_col, block_cap)
    a = fp.select(F.col(key_col).alias("id_a"), F.col("peaks").alias("pa"),
                  F.col("n_fp").alias("__la"))
    b = fp.select(F.col(key_col).alias("id_b"), F.col("peaks").alias("pb"),
                  F.col("n_fp").alias("__lb"))

    def pred_ok(j):
        idx = F.least(
            F.greatest(F.floor(F.col("__f") * j + F.lit(0.5)), F.lit(0)),
            (F.col("__na") - 1).cast("long"),
        )
        pred = F.col("__f") * F.element_at("pa", idx.cast("int") + 1)
        return F.when(
            F.abs(pred - F.element_at("pb", j.cast("int") + 1)) <= peak_tol, 1
        ).otherwise(0)

    paired = pairs.join(a, on="id_a")
    if pairs.isLocal():  # bounded driver-generated pairs: see transcript path
        paired = F.broadcast(paired)
    return (
        paired.join(b, on="id_b")
        .withColumn("__na", F.size("pa"))
        .withColumn("__nb", F.size("pb"))
        .filter((F.col("__na") >= min_frames) & (F.col("__nb") >= min_frames))
        .filter(F.col("__lb") > 0)
        .withColumn("__f", F.col("__la").cast("double") / F.col("__lb").cast("double"))
        .filter((F.col("__f") >= min_ratio) & (F.col("__f") <= max_ratio))
        .filter((F.col("__f") <= dead_zone[0]) | (F.col("__f") >= dead_zone[1]))
        .withColumn("__agree", F.aggregate(
            F.transform(F.sequence(F.lit(0), F.col("__nb") - 1), pred_ok),
            F.lit(0), lambda acc, v: acc + v))
        .withColumn("peak_agree", F.round(F.col("__agree") / F.col("__nb"), 6))
        .filter(F.col("peak_agree") >= agree_min)
        .select(
            "id_a", "id_b",
            F.round("__f", 6).alias("speed_ratio"),
            "peak_agree",
            F.col("__na").alias("n_frames_a"),
            F.col("__nb").alias("n_frames_b"),
        )
    )


def audio_dedup_resolution(
    df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    transcript_col: str = "transcript",
    containment_threshold: float = 0.9,
    fp: DataFrame | None = None,
) -> DataFrame:
    """End-to-end audio dedup RESOLUTION: all three matching paths —
    fingerprint-shingle MinHash/LSH with containment (bit-exact,
    trimmed, padded copies), transcript-blocked masked-BER (lossy /
    resampled / noisy copies), and speed-ratio peak rescaling
    (tempo-perturbed copies) — share ONE Arrow decode pass; their
    pair sets union into a graph whose connected components are the
    duplicate clusters. Returns the audit frame
    (id, cluster_id = component-min clip_id, cluster_size,
    is_representative). Feed it with the source table and
    :func:`resolve_representatives` to materialize the deduplicated
    corpus.

    Scale shape: each path is independently bounded (LSH bands + capped
    head buckets / capped transcript blocks / ratio-gated candidates);
    the component resolution is alternating large-star/small-star —
    O(log^2 n) rounds regardless of how long trim-of-trim chains get.
    """
    from menelaus_spark.operators.clusters import (
        cluster_members,
        connected_components,
    )

    own_fp = fp is None
    if own_fp:
        fp = audio_fingerprints(df, key_col, bytes_col, codec_col).persist()
    # paths 2 and 3 block on the SAME transcript-equality candidate
    # pairs; computed once and pinned here, the union's materializing
    # job (connected_components' signature action) evaluates the
    # block-join subtree once instead of once per path. Released right
    # after the pair graph is materialized.
    tcp = transcript_candidate_pairs(df, key_col, transcript_col)
    if not tcp.isLocal():
        # a driver-generated pair set is already materialized (and
        # persisting it would hide isLocal from the verify joins'
        # broadcast decision); only a distributed plan needs the pin
        tcp = tcp.persist()
    p1 = audio_neardup_pairs(
        df, key_col, bytes_col, codec_col, fp=fp,
        containment_threshold=containment_threshold,
    ).select("id_a", "id_b")
    p2 = transcript_blocked_neardup(
        df, key_col, bytes_col, codec_col, transcript_col, fp=fp, pairs=tcp
    ).select("id_a", "id_b")
    p3 = speed_blocked_neardup(
        df, key_col, bytes_col, codec_col, transcript_col, fp=fp, pairs=tcp
    ).select("id_a", "id_b")
    out = cluster_members(connected_components(p1.union(p2).union(p3)))
    # connected_components already materialized the pair graph (its
    # loop runs jobs against checkpointed edges), so the shared
    # intermediates can be released before the caller's action
    tcp.unpersist()
    if own_fp:
        fp.unpersist()
    return out
