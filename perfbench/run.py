"""Run one workload of the xmlschema_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload flagship_lax --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. The line before it
is the run's full report: host record, codec probes, set-up breakdown,
every iteration's wall time, failed_frac and the digests checked.

A run sets up SETUP_REPS times (SparkContext start, fixture generation,
a SparkContext restart, WARMUP_ITERATIONS checked warm-up iterations) and
reports the median as `setup_s`; after BURN_IN_ITERATIONS untimed
iterations the timed loop runs on the last set-up for `--seconds`.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# Set-ups per run (setup_s is their median). Two, not more: the first
# includes the JVM launch and costs about half a run, and a measurement
# campaign of some fifty runs must stay within an hour even when this
# shared host runs two to three times slower than usual.
SETUP_REPS = 2
# JIT and Python-worker warm-up, part of every set-up
WARMUP_ITERATIONS = 1
# Checked iterations after the last set-up whose walls are not timed: the
# JIT of the reused JVM is still warming, and the first walls after one
# warm-up ran a tenth to a fifth above the later ones
BURN_IN_ITERATIONS = 1
RUNS_DIR = ".perfbench_runs"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="override the workload's table size (self-test)")
    return p.parse_args(argv)


def _metric_units(trace: int) -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Loop:
    """Attempted and failed iterations, digests, errors of one run."""

    def __init__(self, ctx, workload, pinned: str | None):
        self.ctx, self.workload, self.pinned = ctx, workload, pinned
        self.attempted = self.failed = 0
        self.digests: list[str] = []
        self.errors: list[str] = []

    def check(self, raw) -> dict | None:
        """Check one iteration's outputs; None when they are wrong."""
        from perfbench.workloads import CheckFailed
        try:
            out = self.workload.check(self.ctx, raw)
        except CheckFailed as e:
            self.errors.append(str(e))
            return None
        first = self.pinned or (self.digests[0] if self.digests else None)
        self.digests.append(out["digest"])
        if first is not None and out["digest"] != first:
            self.errors.append(f"digest {out['digest']} != {first}")
            return None
        return out

    def timed(self, tracer=None):
        """One attempted iteration: (wall seconds, checked outputs), or
        (None, None) when it raised or failed its check."""
        from perfbench.tracing import NO_TRACE
        self.attempted += 1
        t0 = time.monotonic()
        try:
            raw = self.workload.run(self.ctx, tracer or NO_TRACE)
        except Exception as e:     # an iteration that raises counts as failed
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            return None, None
        wall = time.monotonic() - t0
        out = self.check(raw)
        if out is None:
            self.failed += 1
            return None, None
        return wall, out


def set_up(wl, work, seed):
    """SETUP_REPS full set-ups; the last one's session and input stay.

    The context is restarted after fixture generation (the JVM stays up),
    so the Python workers `WorkerRss` samples never ran the fixture
    encoder: their peak covers warm-up and the timed iterations only."""
    from perfbench import engine, workloads
    from perfbench.tracing import NO_TRACE
    nproc = engine.host_nproc()
    parts = {"session_s": [], "generate_s": [], "restart_s": [],
             "warmup_s": [], "total_s": []}
    spark = ctx = None
    digests = []
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
            shutil.rmtree(ctx.input_path, ignore_errors=True)
        t0 = time.monotonic()
        spark = engine.start_session(REPO, work, nproc)
        t1 = time.monotonic()
        path = os.path.join(work, f"input-{rep}")
        workloads.generate(spark, wl, seed, path)
        t2 = time.monotonic()
        spark.stop()
        spark = engine.start_session(REPO, work, nproc)
        t3 = time.monotonic()
        ctx = workloads.Context(spark, wl, path,
                                os.path.join(work, "scratch")).open()
        for _ in range(WARMUP_ITERATIONS):
            digests.append(wl.check(ctx, wl.run(ctx, NO_TRACE))["digest"])
        t4 = time.monotonic()
        for key, v in zip(parts, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t4 - t0)):
            parts[key].append(v)
    return ctx, parts, digests


def measure(args, ctx, loop, rss) -> dict:
    walls = []
    deadline = time.monotonic() + args.seconds
    while not walls and loop.attempted < 3 or time.monotonic() < deadline:
        wall, _ = loop.timed()
        rss.sample()
        if wall is not None:
            walls.append(wall)
    return {"walls": walls}


def measure_traced(args, ctx, loop, rss, tracer) -> dict:
    """Alternate an untraced iteration, a traced one (spans, a job group
    per layer call, stage metrics) and the layer probes, for --seconds."""
    from perfbench import engine, tracing
    from perfbench.workloads import CheckFailed
    cycles, untraced, traced = [], [], []
    stage_store = True
    deadline = time.monotonic() + args.seconds
    while not cycles and loop.attempted < 6 or time.monotonic() < deadline:
        wall, _ = loop.timed()
        if wall is not None:
            untraced.append(wall)
        tracer.iteration = len(cycles)
        first = len(tracer.spans)
        wall, out = loop.timed(tracer)
        if wall is None:
            continue
        traced.append(wall)
        groups = {s["name"]: s["group"] for s in tracer.spans[first:]
                  if s["group"]}
        by_group = {}
        for name, group in groups.items():
            m = engine.stage_metrics(ctx.spark, group,
                                     task_skew=name.startswith("dedup."))
            if m is None:
                stage_store, m = False, {}
            by_group[name] = m
        reading = {f"spark.{k}": sum(m.get(k, 0.0) for m in by_group.values())
                   for k in engine.STAGE_KEYS}
        runner = by_group.get("runner.validate", {})
        reading["runner.jobs"] = runner.get("jobs", 0)
        reading["runner.validate_s"] = tracer.last("runner.validate")
        reading["runner.verdicts_s"] = tracer.last("runner.verdicts")
        if "dedup.hamming_near_dups" in by_group:
            dedup = by_group["dedup.hamming_near_dups"]
            reading["dedup.s"] = tracer.last("dedup.hamming_near_dups")
            reading["dedup.pairs_out"] = out["pairs_out"]
            reading["dedup.shuffle_write_bytes"] = dedup.get("shuffle_write_bytes", 0.0)
            reading["dedup.task_skew"] = dedup.get("task_skew", 0.0)
        try:
            reading.update(tracing.run_probes(ctx, tracer))
        except CheckFailed as e:
            loop.errors.append(f"probe: {e}")
        rss.sample()
        cycles.append(reading)
    per_layer = {k: _median([c[k] for c in cycles if k in c])
                 for k in {k for c in cycles for k in c}}
    per_layer["trace.overhead_s"] = _median(traced) - _median(untraced)
    per_layer["runner.input_scans"] = tracing.input_scans(ctx)
    return {"per_layer": per_layer, "walls": untraced, "traced_walls": traced,
            "cycles": len(cycles),
            "stage_metrics": "status store" if stage_store
            else "unavailable: wall clock only"}


def run(args, wl, work) -> tuple[dict, dict]:
    from perfbench import engine, tracing, workloads
    codec_before = engine.codec_probe()
    ctx, setup, warm_digests = set_up(wl, work, args.seed)
    rss = engine.WorkerRss(engine.jvm_pid())
    rss.sample()
    pinned = (workloads.PINNED_DIGESTS.get(wl.name)
              if wl.rows == workloads.WORKLOADS[wl.name].rows else None)
    loop = Loop(ctx, wl, pinned)
    for d in warm_digests:
        if (pinned or warm_digests[0]) != d:
            loop.errors.append(f"set-up digest {d} != {pinned or warm_digests[0]}")
    burn_in = [loop.timed()[0] for _ in range(BURN_IN_ITERATIONS)]
    if args.trace:
        tracer = tracing.Tracer(ctx.spark)
        res = measure_traced(args, ctx, loop, rss, tracer)
    else:
        res = measure(args, ctx, loop, rss)
    report = {
        "workload": wl.name, "rows": wl.rows, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": engine.host_record(ctx.spark, engine.host_nproc()),
        "codec_mbps_before": codec_before,
        "setup": setup,
        "burn_in_walls": burn_in,
    }
    walls = res["walls"]
    wall_s = _median(walls)
    end_to_end = {
        "setup_s": _median(setup["total_s"]),
        "wall_s": wall_s,
        "rows_per_s": wl.rows / wall_s if wall_s else 0.0,
        "worker_peak_rss_mb": rss.peak_mb,
    }
    metrics = end_to_end
    if args.trace:
        per_layer = res["per_layer"]
        per_layer["fixtures.generate_s"] = _median(setup["generate_s"])
        trace_dir = os.path.join(REPO, RUNS_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        spans_path = os.path.join(
            trace_dir, f"{wl.name}-seed{args.seed}-{os.getpid()}.json")
        tracer.write(spans_path)
        report.update(spans=os.path.relpath(spans_path, REPO),
                      cycles=res["cycles"], stage_metrics=res["stage_metrics"],
                      traced_walls=res["traced_walls"])
        metrics = per_layer
    report.update(
        walls=walls, wall_samples=len(walls), end_to_end=end_to_end,
        attempted=loop.attempted, failed=loop.failed,
        failed_frac=loop.failed / loop.attempted,
        digests=sorted(set(loop.digests + warm_digests)),
        errors=loop.errors[:10],
        codec_mbps_after=engine.codec_probe())
    correct = loop.failed == 0 and not loop.errors
    return report, {"correct": correct, "attempted": loop.attempted,
                    "failed": loop.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(REPO, "xmlschema_spark")):
        print("perfbench: no xmlschema_spark package beside perfbench/; "
              "run from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import engine, workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    if args.rows:
        if args.rows % workloads.PARTS:
            print(f"perfbench: --rows must be a multiple of {workloads.PARTS}",
                  file=sys.stderr)
            return 2
        wl = dataclasses.replace(wl, rows=args.rows)
    units = _metric_units(args.trace)
    work = os.path.join(REPO, RUNS_DIR,
                        f"{wl.name}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work)
    engine.adopt_orphans()
    # SIGTERM unwinds like an exception, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        report, result = run(args, wl, work)
    finally:
        try:
            engine.stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    values = result["metrics"]
    missing = sorted(set(units) - set(values))
    if missing and not args.trace:
        raise RuntimeError(f"metrics not computed: {missing}")
    # a layer the workload does not call reads 0 (the predicted "no change")
    report["zero_metrics"] = sorted(k for k in units if not values.get(k))
    result["metrics"] = {k: {"value": values.get(k, 0), "unit": u}
                         for k, u in units.items()}
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
