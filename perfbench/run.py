"""menelaus_spark benchmark: one workload per process, fresh JVM.

    python3 perfbench/run.py --workload suite_incremental --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 14 [--trace 1]

A run builds its inputs from ``--seed``, sets up (session, fixture,
pre-state, warm-up ops: all reported as ``setup_s``), runs
ops for ``--seconds``, checks every op's output, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates traced and untraced ops and reports the per-layer
metrics (see perfbench/README.md). ``--all`` runs every workload in
its own process and prints one table.

Everything the run writes goes under ``.perfbench_run/`` at the
checkout root; the run's own work directory is removed on exit, a
traced run leaves its span table in ``.perfbench_run/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import workloads as W  # noqa: E402
from spans import (SPAN_FIELDS, Tracer, covered, event_log_conf, per_name,  # noqa: E402
                   read_event_log, span_figures)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
CORES = 4
# fixed-work JVM row (bench.py's calibration query, 1/20 the rows):
# moves only with host CPU contention, never with engine code
CALIBRATION_ROWS = 1_000_000_000

E2E = [("setup_s", "s"), ("clips_per_s", "clips/s"), ("op_p50_s", "s"),
       ("driver_rss_peak_mb", "MB")]

NEARDUP_PATHS = ("audio_neardup_pairs", "transcript_blocked_neardup", "speed_blocked_neardup")
AD = "operators.audio_dedup."
PER_LAYER = (
    [("audio.features_df.task_s", "s"),
     ("audio.kernel.decode_us_per_clip", "us"),
     ("audio.kernel.features_us_per_clip", "us"),
     ("audio.kernel.fingerprint_us_per_clip", "us"),
     ("runner.run.wall_s", "s"), ("runner.run.jobs", "count"),
       ("runner.run.driver_s", "s"), ("runner.run.result_mb", "MB"),
       ("runner.run.shuffle_mb", "MB"), ("runner.global_uniqueness.wall_s", "s"),
       ("state.load_s", "s"), ("state.manifest_bytes", "bytes"),
       ("state.violations_bytes", "bytes"),
       ("checks.hdm.update_s", "s"), ("checks.hdm.state_bytes", "bytes"),
       ("checks.kdqtree.update_s", "s"), ("checks.kdqtree.state_bytes", "bytes"),
       ("operators.constraints.total.wall_s", "s"),
       ("operators.histograms.total.wall_s", "s"),
       ("operators.histograms.total.shuffle_mb", "MB"),
       (AD + "audio_fingerprints.wall_s", "s"), (AD + "audio_fingerprints.task_s", "s")]
    + [(f"{AD}{fn}.{f}", u) for fn in NEARDUP_PATHS
       for f, u in (("wall_s", "s"), ("pairs", "count"), ("result_mb", "MB"))]
    + [(AD + "transcript_candidate_pairs.rows", "count"),
       (AD + "verify_yield", "ratio"), (AD + "recall", "ratio"),
       (AD + "audio_dedup_resolution.wall_s", "s"),
       (AD + "audio_dedup_resolution.clusters", "count"),
       ("operators.clusters.connected_components.wall_s", "s"),
       ("session.start_s", "s"), ("session.jvm_hwm_mb", "MB"),
       ("tables.generate_s", "s"), ("host.calibration_s", "s"),
       ("host.steal_frac", "ratio"),
       ("trace.overhead_frac", "ratio"), ("trace.span_coverage_frac", "ratio"),
       ("trace.unspanned_driver_s", "s"), ("trace.op_driver_s", "s"), ("trace.spans_per_op", "count"),
       ("trace.jobs_per_op", "count")]
)


class Ctx:
    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


# ------------------------------------------------------------- helpers


def jvm_pids() -> list[int]:
    """Descendant processes of this one whose command is java."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            todo.append(c)
            try:
                with open(f"/proc/{c}/comm") as f:
                    if f.read().strip() == "java":
                        out.append(c)
            except OSError:
                pass
    return out


def jvm_hwm_mb() -> float:
    total = 0.0
    for pid in jvm_pids():
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024
    return total


def cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: the host
    contention the calibration row also shows."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def calibration_s(spark) -> float:
    times = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, CALIBRATION_ROWS, 1, CORES).selectExpr("bit_xor(id)").collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def kernel_us_per_clip(df, n: int = 48, reps: int = 5) -> dict:
    """Driver-side numpy cost of the per-clip kernels on a fixed sample
    of the fixture's clips (the first ``n`` in clip_id order)."""
    from menelaus_spark import audio

    rows = df.orderBy("clip_id").select("bytes", "codec").limit(n).collect()
    bufs, codecs = [r[0] for r in rows], [r[1] for r in rows]
    decoded = [d for d in audio.decode_batch(bufs, codecs) if d is not None]

    def per_clip(fn):
        ts = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return statistics.median(ts) / len(rows) * 1e6

    return {
        "audio.kernel.decode_us_per_clip": per_clip(lambda: audio.decode_batch(bufs, codecs)),
        "audio.kernel.features_us_per_clip": per_clip(lambda: [
            (audio.extract_features(pcm, sr), audio.quality_metrics(pcm, sr))
            for sr, pcm in decoded]),
        "audio.kernel.fingerprint_us_per_clip": per_clip(lambda: [
            audio.fingerprint_codes(pcm, sr) for sr, pcm in decoded]),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------ layers


def layer_metrics(tracer, jobs, ops, extras) -> dict:
    traced = [o for o in ops if o["traced"]]
    spans = tracer.spans

    def op_of(s):
        for o in traced:
            if o["start"] <= s["start"] <= o["end"]:
                return o["i"]
        return None

    for s in spans:
        s["op"] = op_of(s)

    def total(select, field):
        """Per op that opened a selected span: the summed inclusive
        ``field`` of the selected spans that no other selected span
        encloses on the same thread."""
        chosen = [s for s in spans if select(s["name"])
                  and not any(select(p) for p in s["parents"])]
        calls_ops = {s["op"] for s in chosen}
        if not chosen:
            return 0.0
        return sum(span_figures(s, jobs)[field] for s in chosen) / len(calls_ops)

    m = {}
    for name, _unit in PER_LAYER:
        layer, _, field = name.rpartition(".")
        if field in SPAN_FIELDS:
            if layer.endswith(".total"):
                prefix = layer[: -len("total")]
                m[name] = total(lambda n, p=prefix: n.startswith(p), field)
            else:
                m[name] = total(lambda n, ly=layer: n == ly, field)
    hdm = ("checks.hdm.set_reference", "checks.hdm.update", "checks.hdm.set_state")
    kdq = tuple(f"checks.kdqtree.{f}" for f in (
        "set_reference", "update", "install_reference", "observe_counts",
        "build_tree_from_sample", "set_state"))
    m["checks.hdm.update_s"] = total(lambda n: n in hdm, "wall_s")
    m["checks.kdqtree.update_s"] = total(lambda n: n in kdq, "wall_s")
    m["state.load_s"] = total(lambda n: n == "state.load", "wall_s")

    # decode+feature UDF stages of the suite: Python-map stage task
    # time in the ops that built a features_df plan
    feat_ops = [o for o in traced
                if any(s["op"] == o["i"] and s["name"] == "audio.features_df" for s in spans)]
    m["audio.features_df.task_s"] = statistics.mean(
        [sum(j["python_task_s"] for j in jobs if o["start"] <= j["submit"] <= o["end"])
         for o in feat_ops]) if feat_ops else 0.0

    job_iv = [(j["submit"], j["end"]) for j in jobs]
    cover, unspanned, driver, n_jobs = [], [], [], []
    for o in traced:
        top = [(s["start"], s["end"]) for s in spans if s["op"] == o["i"] and not s["parents"]]
        wall = o["end"] - o["start"]
        in_spans = covered(top, o["start"], o["end"])
        cover.append(in_spans / wall)
        unspanned.append(wall - in_spans)
        driver.append(wall - covered(job_iv, o["start"], o["end"]))
        n_jobs.append(sum(1 for j in jobs if o["start"] <= j["submit"] <= o["end"]))
    m["trace.span_coverage_frac"] = statistics.mean(cover)
    m["trace.unspanned_driver_s"] = statistics.mean(unspanned)
    m["trace.op_driver_s"] = statistics.mean(driver)
    m["trace.jobs_per_op"] = statistics.mean(n_jobs)
    m["trace.spans_per_op"] = len(spans) / len(traced)

    walls = {True: [], False: []}
    for o in ops:
        walls[o["traced"]].append(o["wall"])
    m["trace.overhead_frac"] = (statistics.median(walls[True])
                                / statistics.median(walls[False]) - 1)
    for name, vals in extras.items():
        m[name] = statistics.mean(vals) if isinstance(vals, list) else vals
    return m


# --------------------------------------------------------------- run


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    work = os.path.join(RUN_DIR, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every temporary file of this process, the JVMs it launches (the
    # spark-submit launcher too) and the Python workers stays in `work`
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # pinned, so no caller's shell changes the JVM the figures come
    # from; the workloads need nothing near the engine's 12g/16g defaults
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPARK_OFFHEAP"] = "2g"
    try:
        return _run(workload, seed, seconds, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(workload, seed, seconds, trace, work):
    from menelaus_spark.session import get_spark

    tracer = Tracer() if trace else None
    if tracer:
        tracer.install()
    ctx = Ctx(seed, work, tracer)
    conf = {
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "events")))
    t = time.perf_counter()
    ctx.spark = get_spark(cores=CORES, shuffle_partitions=CORES,
                          app_name=f"perfbench_{workload}", extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        return _measure(ctx, workload, seed, seconds, trace, work, session_s)
    except BaseException:
        stop_spark(ctx.spark)
        raise


def _measure(ctx, workload, seed, seconds, trace, work, session_s):
    tracer = ctx.tracer
    wl = W.WORKLOADS[workload](ctx)
    t = time.perf_counter()
    wl.setup()
    setup_body_s = time.perf_counter() - t

    attempted = failed = 0
    ops: list[dict] = []
    extras: dict[str, list] = {}

    def one(i: int, traced: bool, timed: bool):
        nonlocal attempted, failed
        wl.before_op(i)
        if tracer:
            tracer.enabled = traced
        start, p0 = time.time(), time.perf_counter()
        try:
            clips, out = wl.op(i)
            problems = None
        except Exception:
            problems = ["op raised:\n" + traceback.format_exc()]
        wall = time.perf_counter() - p0
        end = time.time()
        if tracer:
            tracer.enabled = False
            tracer.forget_frames()
        if problems is None:
            try:
                problems = wl.check(i, out)
            except Exception:
                problems = ["check raised:\n" + traceback.format_exc()]
        if traced and wl.suite is not None:
            _detector_extras(wl, extras)
        attempted += 1
        if problems:
            failed += 1
            print(f"op {i} FAILED: " + "; ".join(problems), file=sys.stderr)
        if timed:
            ops.append({"i": len(ops), "traced": traced, "start": start,
                        "end": end, "wall": wall, "clips": clips if not problems else 0,
                        "ok": not problems})

    for i in range(wl.warmup_ops):
        one(i, False, False)
    setup_s = time.perf_counter() - T_START

    ticks = cpu_ticks()
    t_loop, n = time.perf_counter(), 0
    while True:
        # traced ops first: warm-up drift then inflates, never hides,
        # the overhead estimate
        traced = trace and n % 2 == 0
        one(wl.warmup_ops + n, traced, True)
        n += 1
        if failed > 3:
            break
        if time.perf_counter() - t_loop >= seconds and n >= (2 if trace else 1):
            break

    steal = steal_frac(ticks, cpu_ticks())
    problems = wl.finish()
    for p in problems:
        print("check FAILED: " + p, file=sys.stderr)
    if problems:
        # every op agreed with the first; a wrong output is wrong in all
        failed = attempted
    calib = calibration_s(ctx.spark)
    if trace:
        for k, v in wl.trace_extras().items():
            extras[k] = v
        extras.update(kernel_us_per_clip(wl.df))
        extras["session.start_s"] = session_s
        extras["session.jvm_hwm_mb"] = jvm_hwm_mb()
        extras["tables.generate_s"] = wl.generate_s
        extras["host.calibration_s"] = calib
        extras["host.steal_frac"] = steal
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    stop_spark(ctx.spark)

    good = [o for o in ops if o["ok"]]
    walls = [o["wall"] for o in good]
    print(f"{workload} seed={seed} trace={int(trace)} ops={len(ops)} "
          f"failed_ops_frac={failed / max(attempted, 1):.4f} ({failed}/{attempted}) "
          f"calibration_s={calib:.4f} steal_frac={steal:.3f} session_s={session_s:.3f} "
          f"generate_s={wl.generate_s:.3f} setup_body_s={setup_body_s:.3f}")
    print("op walls: " + " ".join(f"{w:.3f}" for w in walls))
    print("digests: " + json.dumps(wl.digests, sort_keys=True))
    if trace:
        jobs = read_event_log(os.path.join(work, "events"))
        metrics = layer_metrics(tracer, jobs, ops, extras)
        os.makedirs(os.path.join(RUN_DIR, "traces"), exist_ok=True)
        out_path = os.path.join(RUN_DIR, "traces", f"{workload}-seed{seed}.json")
        table = per_name(tracer.spans, jobs)
        with open(out_path, "w") as f:
            json.dump({"workload": workload, "seed": seed, "spans": table,
                       "ops": ops, "jobs": len(jobs)}, f, indent=1)
        for name, agg in sorted(table.items(), key=lambda kv: -kv[1]["wall_s"])[:30]:
            print(f"  span {name:58s} calls={agg['calls']:<4d} wall_s={agg['wall_s']:.3f} "
                  f"jobs={agg['jobs']:<4.0f} task_s={agg['task_s']:.3f} "
                  f"driver_s={agg['driver_s']:.3f}")
        unknown = set(metrics) - {k for k, _u in PER_LAYER}
        if unknown:
            raise KeyError(f"per-layer figures not in PER_LAYER: {sorted(unknown)}")
        # a layer this workload never calls did no work: 0
        metrics = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {
            "setup_s": setup_s,
            "clips_per_s": sum(o["clips"] for o in good) / sum(walls) if walls else 0.0,
            "op_p50_s": statistics.median(walls) if walls else 0.0,
            "driver_rss_peak_mb": rss_mb,
        }
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in E2E}
        for k, v in metrics.items():
            print(f"  {k} {v['value']:.4f} {v['unit']}")
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def _detector_extras(wl, extras) -> None:
    suite, ckpt = wl.suite, wl.checkpoint
    add = lambda k, v: extras.setdefault(k, []).append(v)  # noqa: E731
    manifest = os.path.join(ckpt, "manifest.jsonl")
    add("state.manifest_bytes", os.path.getsize(manifest) if os.path.exists(manifest) else 0)
    add("state.violations_bytes", W.dir_bytes(os.path.join(ckpt, "violations")))
    if suite.hdm is not None:
        add("checks.hdm.state_bytes", len(json.dumps(suite.hdm.get_state(), default=str)))
    if suite.kdq is not None:
        add("checks.kdqtree.state_bytes", len(json.dumps(suite.kdq.get_state(), default=str)))


def run_all(seed: int, seconds: int, trace: int) -> int:
    """Every workload in its own process; one table of results."""
    rows, ok = [], True
    for name in W.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        calib = next((ln.split("calibration_s=")[1].split()[0]
                      for ln in lines if "calibration_s=" in ln), "?")
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            sys.stderr.write(proc.stdout + proc.stderr)
            print(f"{name}: no result (exit {proc.returncode})")
            ok = False
            continue
        ok &= proc.returncode == 0 and res["correct"]
        rows.append((name, res, calib))
    for name, res, calib in rows:
        print(f"{name}: correct={res['correct']} failed_ops_frac="
              f"{res['failed'] / res['attempted']:.4f} ({res['failed']}/{res['attempted']}) "
              f"calibration_s={calib}")
        for k, v in res["metrics"].items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "menelaus_spark")):
        print(f"menelaus_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.all:
        return run_all(args.seed, args.seconds, args.trace)
    if args.workload not in W.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
