"""Streaming near-duplicate detection — dedup AT INGEST.

The batch audio near-dup path (operators/audio_dedup.py) answers "which
clips in this corpus are copies"; this module answers it INCREMENTALLY
as clips arrive: each micro-batch's clips are fingerprinted, banded
with EXACTLY the batch pipeline's MinHash/LSH family (two 60-bit md5
lanes, band hash = md5 of the comma-joined row signatures — bit-equal
to `dedup.minhash_from_shingles` + `lsh_candidate_pairs`, asserted by
the differential test), and checked against every clip previously seen
in the same LSH bucket via `applyInPandasWithState` — the bucket
membership IS the streaming state, so no growing-corpus re-scan ever
happens.

Scale shape: state is per (band, bucket) and capped at ``bucket_cap``
members (a bucket hotter than the cap stops ADMITTING new members but
still verifies arrivals against the retained ones — the same
hot-bucket guard as the batch path's head buckets; a shingle key hot
enough to blow the cap is near-constant content, not dedup evidence).
Per-pair verification is the exact Jaccard over the full shingle
sets carried in state (~1 KB/clip), identical to the batch verify.

Emission is at-least-once per pair: a pair sharing several LSH bucket
keys is emitted from each (consumers `dropDuplicates(["id_a",
"id_b"])`; deterministic dedup downstream beats cross-bucket state
coordination). Within a micro-batch arrivals are processed in clip-id
order, so output is deterministic for a given micro-batch split.
"""

from __future__ import annotations

import hashlib
import math
import pickle

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PAIR_SCHEMA = "id_a string, id_b string, jaccard double, band int"
STATE_SCHEMA = "members binary"


def _md5_lanes(j: int, shingle: str) -> tuple[int, int]:
    """The batch pipeline's two-lane md5 family, bit-exact:
    conv(substring(md5('{j}|'||s), 1, 15), 16, 10) and the lane at
    chars 17..31 (dedup._md5_hash64 / minhash_from_shingles)."""
    h = hashlib.md5(f"{j}|{shingle}".encode()).hexdigest()
    return int(h[0:15], 16), int(h[16:31], 16)


def minhash_signature(shingles, k: int = 16) -> list[int]:
    """k-lane MinHash signature of a shingle set — numpy/driver twin of
    `minhash_from_shingles` (empty set -> empty signature)."""
    if not len(shingles):
        return []
    mins = [None] * k
    for s in shingles:
        for j in range((k + 1) // 2):
            lo, hi = _md5_lanes(j, s)
            i = 2 * j
            if mins[i] is None or lo < mins[i]:
                mins[i] = lo
            if i + 1 < k and (mins[i + 1] is None or hi < mins[i + 1]):
                mins[i + 1] = hi
    return [int(v) for v in mins]


def band_hashes(sig: list[int], bands: int = 8, rows: int = 2) -> list[str]:
    """Band-bucket keys, bit-equal to `lsh_candidate_pairs`'s
    md5(concat_ws(',', slice(sig, b*rows+1, rows)))."""
    return [
        hashlib.md5(
            ",".join(str(v) for v in sig[b * rows: (b + 1) * rows]).encode()
        ).hexdigest()
        for b in range(bands)
    ]


def fingerprint_banded_stream(
    stream_df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    k: int = 16,
    bands: int = 8,
    rows: int = 2,
) -> DataFrame:
    """Streaming-safe fingerprint stage: ONE Arrow-batched pass decodes,
    shingles, signs and bands each clip (no groupBy — a streaming
    aggregation would force its own state store). Emits ``bands`` rows
    per decodable clip: (key, band, bhash, shingles)."""
    from menelaus_spark.audio import fingerprint_shingles, map_clips
    from menelaus_spark.operators.audio_dedup import shingle_hex

    def per_clip(sr, pcm):
        sh = shingle_hex(fingerprint_shingles(pcm, sr))
        if not sh:
            return []
        sig = minhash_signature(sh, k)
        return [(b, bh, sh) for b, bh in enumerate(band_hashes(sig, bands, rows))]

    schema = f"{key_col} string, band int, bhash string, shingles array<string>"
    return map_clips(stream_df, schema, per_clip, None, key_col, bytes_col, codec_col)


def stateful_neardup_stream(
    stream_df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    threshold: float = 0.35,
    k: int = 16,
    bands: int = 8,
    rows: int = 2,
    bucket_cap: int = 200,
) -> DataFrame:
    """Incremental near-dup pair stream: (id_a, id_b, jaccard, band)
    rows, id_a < id_b, emitted the moment the LATER clip of a pair
    arrives. Bucket state persists across micro-batches in GroupState;
    restart-safe through the stream's checkpoint like any stateful
    query.

    RECALL CONTRACT under the state bound: once a bucket holds
    ``bucket_cap`` members, later arrivals in that bucket are verified
    against the RETAINED members but are never admitted — so two
    post-cap arrivals whose ONLY shared LSH bucket is the saturated one
    will not be reported as a pair (each is still reported against any
    retained member it matches, and the pair is still found if it
    shares ANY unsaturated band bucket). This is the deliberate
    trade: per-bucket state is hard-bounded at cap x ~1 KB regardless
    of stream length — at 10^12 clips an unbounded hot bucket
    (near-constant content: silence, test tones) would otherwise grow
    state without limit while contributing O(cap^2) true pairs at
    most. The exact missed-pair set on an over-cap fixture is asserted
    in test_streaming_neardup_bucket_cap_recall_contract."""
    banded = fingerprint_banded_stream(
        stream_df, key_col, bytes_col, codec_col, k, bands, rows
    )

    def bucket_fn(key, pdf_iter, state: GroupState):
        members: list = pickle.loads(state.get[0]) if state.exists else []
        seen = {m[0] for m in members}
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        out_a, out_b, out_j, out_band = [], [], [], []
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(key_col)
            for cid, sh in zip(pdf[key_col], pdf["shingles"]):
                if cid in seen:
                    continue
                sset = set(sh)
                for mid, msh in members:
                    inter = len(sset & msh)
                    union = len(sset) + len(msh) - inter
                    # HALF_UP at 1e-6 to stay bit-equal with the batch
                    # path's F.round (Python round() is half-EVEN and
                    # diverges on exact ties like 45/128 = 0.3515625)
                    j = math.floor(inter / union * 1e6 + 0.5) / 1e6 if union else 0.0
                    if j >= threshold:
                        a, b = (cid, mid) if cid < mid else (mid, cid)
                        out_a.append(a)
                        out_b.append(b)
                        out_j.append(j)
                        out_band.append(int(key[0]))
                if len(members) < bucket_cap:
                    members.append((cid, sset))
                    seen.add(cid)
        state.update((pickle.dumps(members),))
        yield pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "jaccard": out_j, "band": out_band}
        )

    return banded.groupBy("band", "bhash").applyInPandasWithState(
        bucket_fn,
        outputStructType=PAIR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
