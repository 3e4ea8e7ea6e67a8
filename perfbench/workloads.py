"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup``, runs one
operation per ``op`` call (the timed part), and checks that operation's
output in ``check`` (untimed). Every op of a workload does the same
work, so the median op is not a mix of unlike ops.

Checks compare each output with a reference: the incremental table
with a cold run made in set-up, the near-dup outputs with the run's
first (a warm-up). For the seeds recorded in ``expected.json`` the
digests must also equal the recorded ones. Each workload adds its own
semantic checks (drift fires where it was injected, near-dup recall).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _num(x):
    # 10 significant digits: a changed statistic shows, a last-bit
    # difference in a floating-point sum does not
    return None if x is None else float(f"{x:.10g}")


def verdict_digest(rows) -> str:
    canon = sorted(
        [r["partition_key"], r["check_name"], r["state"], _num(r["statistic"]),
         _num(r["threshold"]), r["n_rows"], sorted((r["details"] or {}).items())]
        for r in (row.asDict() for row in rows)
    )
    return _digest(canon)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


def suite_config() -> dict:
    """The audio-depth suite of ``bench.py``'s ``audio_suite_codecs``
    leaf, for the three-physical-codec table."""
    from menelaus_spark import tables
    from menelaus_spark.audio import ADPCM_PAYLOAD_MODEL

    return dict(
        expected_schema=tables.AUDIO_SCHEMA,
        null_rate_max={"transcript": 0.2},
        ranges={"dur_ms": (200, 3000)},
        accepted_values={"codec": ["pcm", "ulaw", "alaw", "adpcm", "flac"]},
        kdq_params={"count_ubound": 200, "bootstrap_samples": 200},
        cps_bounds=(1.0, 60.0),
        payload_tol=0.02,
        payload_bps={"ulaw": 1.0, "alaw": 1.0, "adpcm": ADPCM_PAYLOAD_MODEL},
        quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                       "min_band_ratio": 0.01},
    )


class Workload:
    name = ""
    warmup_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.expected = _load_expected().get(self.name, {}).get(str(ctx.seed))
        self.first: dict = {}   # op slot -> digest of its first output
        self.digests: dict = {}  # what expected.json records for this seed
        self.suite = None        # last ValidationSuite, for detector state
        self.checkpoint = None   # its checkpoint dir

    def setup(self) -> None:
        raise NotImplementedError

    def before_op(self, i: int) -> None:
        """Untimed preparation for op ``i``."""

    def op(self, i: int):
        """Run op ``i``; return (clips processed, output)."""
        raise NotImplementedError

    def check(self, i: int, out) -> list[str]:
        raise NotImplementedError

    def finish(self) -> list[str]:
        """Checks after the timed loop; any problem fails every op."""
        return self._check_expected()

    def trace_extras(self) -> dict:
        """Per-layer figures that come from outputs, not spans."""
        return {}

    def _same(self, slot, digest: str) -> list[str]:
        first = self.first.setdefault(slot, digest)
        return [] if first == digest else [f"{slot}: digest {digest} != first {first}"]

    def _check_expected(self) -> list[str]:
        if self.expected is None:
            return []
        return [f"{k}: digest {self.digests.get(k)} != recorded {v}"
                for k, v in self.expected.items() if self.digests.get(k) != v]

    def write_fixture(self, path: str, **kw) -> None:
        """Generate the run's audio table from its seed and write it
        partitioned by ``part``; ``kw`` goes to ``tables.audio_table``."""
        from menelaus_spark import tables

        self.write_frame(path, tables.audio_table(self.ctx.spark, seed=self.ctx.seed, **kw))

    def write_frame(self, path: str, df) -> None:
        from menelaus_spark import tables

        t = time.perf_counter()
        tables.write_audio_table(df, path)
        self.generate_s = time.perf_counter() - t


def missing_drift(rows, want: list[tuple[str, tuple[str, ...]]]) -> list[str]:
    """(partition, checks) pairs of ``want`` where none of the checks fired."""
    fired = {(r["partition_key"], r["check_name"]) for r in rows if r["state"] != "pass"}
    return [f"injected drift did not fire on partition {pk} ({'/'.join(names)})"
            for pk, names in want if not any((pk, n) in fired for n in names)]


# the three kinds of injected drift and the checks that must catch them:
# a dur_ms mean shift, a codec reshuffle, 50x noise (clipping in the
# decode pass, or kdq on the features)
DUR_SHIFT = ("hdddm", "ks:dur_ms")
CODEC_SHIFT = ("psi:codec",)
NOISE = ("audio_clipping", "kdq_tree")


class SuiteIncremental(Workload):
    """Daily ingest: a checkpoint pre-built over the first
    ``base_parts`` partitions (the history) is restored before every
    op, and each op builds a new ValidationSuite on it that validates
    exactly one appended partition carrying all three kinds of drift.

    The history is drawn from a fixed seed and only the appended
    partition from the run's seed: where the detectors' state machines
    reset along the history (HDDDM raises drift on clean partitions of
    this size) sets the reference an append must restore, and a
    history drawn per seed moved the append's median wall by up to
    1.5x between seeds."""

    name = "suite_incremental"
    # many small partitions: the manifest, the replayed verdicts and the
    # full-table uniqueness pass scale with the history, not the append
    base_parts = 32
    # after the pre-build and the cold run (the fresh JVM's first suite
    # runs) appends still speed up; warm-up takes the steep part
    warmup_ops = 2
    rows_per_part = 50
    history_seed = 0

    def setup(self):
        from pyspark.sql import functions as F

        from menelaus_spark import tables
        from menelaus_spark.runner import ValidationSuite

        b, n = self.base_parts, self.rows_per_part
        spark = self.ctx.spark
        history = tables.audio_table(spark, n_rows=b * n, n_parts=b, seed=self.history_seed,
                                     drift={}, real_codecs="full")
        # drift strong enough that every seed's append trips the same
        # checks, so the detector path of an op does not depend on it
        drift = {0: {"dur_mu_shift": 1.5, "codec_probs": [0.1, 0.1, 0.15, 0.35, 0.3],
                     "noise_scale": 50.0}}
        appended = tables.audio_table(spark, n_rows=n, n_parts=1, seed=self.ctx.seed,
                                      drift=drift, real_codecs="full")
        # drawn as a one-partition table, relabelled as partition b with
        # the clip ids that follow the history's
        appended = appended.withColumn("part", F.lit(b)).withColumn(
            "clip_id", F.format_string("clip_%012d", F.substring("clip_id", 6, 12).cast("int") + b * n))
        path = os.path.join(self.ctx.work, "audio")
        self.write_frame(path, history.unionByName(appended))
        self.df = spark.read.parquet(path)
        self.base = os.path.join(self.ctx.work, "ckpt_base")
        self.checkpoint = os.path.join(self.ctx.work, "ckpt")
        ValidationSuite(spark, self.base, **suite_config()).run(
            self.df.filter(F.col("part") < b))[0].collect()
        # the cold run over all partitions that every append must equal
        rows = ValidationSuite(spark, os.path.join(self.ctx.work, "ckpt_cold"),
                               **suite_config()).run(self.df)[0].collect()
        self.digests["cold"] = verdict_digest(rows)

    def before_op(self, i):
        shutil.rmtree(self.checkpoint, ignore_errors=True)
        shutil.copytree(self.base, self.checkpoint)

    def op(self, i):
        from menelaus_spark.runner import ValidationSuite

        self.suite = ValidationSuite(self.ctx.spark, self.checkpoint, **suite_config())
        with self.ctx.span("runner.run"):
            rows = self.suite.run(self.df)[0].collect()
        return self.rows_per_part, rows

    def check(self, i, rows):
        digest, cold = verdict_digest(rows), self.digests["cold"]
        pk = str(self.base_parts)
        problems = [] if digest == cold else [f"appended verdicts {digest} != cold run {cold}"]
        return problems + missing_drift(
            rows, [(pk, DUR_SHIFT), (pk, CODEC_SHIFT), (pk, NOISE)])


class NeardupResolve(Workload):
    """Persisted fingerprints, the three near-dup matching paths and
    the resolution (connected components) over a table with injected
    near-duplicates of every copy class."""

    name = "neardup_resolve"
    # a near-dup chain runs ~40 small jobs whatever the table size, so
    # a small table keeps an op short and a run holds many of them
    n_clips = 160
    n_parts = 4
    # a fresh JVM's first chain is ~4x a warm one, its next two ~1.2x
    warmup_ops = 3
    dup_every = 8  # neardup_frac = 1/8: clip i is a copy of clip i-1 when i % 8 == 7

    def setup(self):
        path = os.path.join(self.ctx.work, "audio")
        self.write_fixture(path, n_rows=self.n_clips, n_parts=self.n_parts, drift={},
                           neardup_frac=1.0 / self.dup_every, neardup_modes=("mixed",))
        self.df = self.ctx.spark.read.parquet(path)
        self.injected = {
            (f"clip_{i - 1:012d}", f"clip_{i:012d}")
            for i in range(self.n_clips) if i % self.dup_every == self.dup_every - 1
        }

    def op(self, i):
        from menelaus_spark.operators import audio_dedup as AD

        span, df = self.ctx.span, self.df
        with span("operators.audio_dedup.audio_fingerprints"):
            fp = AD.audio_fingerprints(df).persist()
            fp.count()
        out = {}
        for fn in (AD.audio_neardup_pairs, AD.transcript_blocked_neardup,
                   AD.speed_blocked_neardup):
            with span(f"operators.audio_dedup.{fn.__name__}"):
                out[fn.__name__] = sorted(
                    (r[0], r[1]) for r in fn(df, fp=fp).select("id_a", "id_b").collect())
        with span("operators.audio_dedup.audio_dedup_resolution"):
            out["resolution"] = sorted(
                (r["id"], r["cluster_id"], r["cluster_size"], r["is_representative"])
                for r in AD.audio_dedup_resolution(df, fp=fp).collect())
        fp.unpersist()
        return self.n_clips, out

    def check(self, i, out):
        pairs = {k: v for k, v in out.items() if k != "resolution"}
        self.digests["pairs"] = _digest(pairs)
        self.digests["clusters"] = _digest(out["resolution"])
        problems = self._same("pairs", self.digests["pairs"])
        problems += self._same("clusters", self.digests["clusters"])
        cluster = {r[0]: r[1] for r in out["resolution"]}
        found = [p for p in self.injected if p[0] in cluster and cluster[p[0]] == cluster.get(p[1])]
        self.recall = len(found) / len(self.injected)
        self.pairs = {k: len(v) for k, v in pairs.items()}
        self.clusters = len(set(cluster.values()))
        if self.recall < 0.85:
            problems.append(f"near-dup recall {self.recall:.3f} < 0.85")
        return problems

    def trace_extras(self):
        from menelaus_spark.operators.audio_dedup import transcript_candidate_pairs

        candidates = transcript_candidate_pairs(self.df).count()
        verified = self.pairs["transcript_blocked_neardup"]
        p = "operators.audio_dedup."
        extras = {p + f"{k}.pairs": v for k, v in self.pairs.items()}
        extras.update({
            p + "transcript_candidate_pairs.rows": candidates,
            p + "verify_yield": verified / candidates if candidates else 0.0,
            p + "recall": self.recall,
            p + "audio_dedup_resolution.clusters": self.clusters,
        })
        return extras


WORKLOADS = {w.name: w for w in (SuiteIncremental, NeardupResolve)}
