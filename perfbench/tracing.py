"""Spans recorded by the benchmark around its calls into each layer, and
the layer probes of a traced run.

Spark is lazy, so a layer's cost shows only when its frame is forced.
Each probe forces one layer's frame alone into a noop sink, inside its
own job group, and reads that group's stage metrics from the status
store. Nothing inside the package is instrumented.
"""

from __future__ import annotations

import contextlib
import json
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from xmlschema_spark.operators.identity import (keyref_violations,
                                                unique_violations)
from xmlschema_spark.operators.payload import payload_violations
from xmlschema_spark.operators.row_checks import row_violations
from xmlschema_spark.plans.compiler import compile_plan
from xmlschema_spark import validate
from xmlschema_spark.sources.fixtures import make_captions_ref

from . import engine


class Tracer:
    """In-memory spans: name, start, end, parent span, iteration id.

    A span opened with group=True runs its Spark jobs in a job group of
    its own (recorded as the span's "group"), so the status store can
    answer for that layer alone."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": self._open[-1] if self._open else None,
               "iteration": self.iteration, "group": None}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            if group:
                rec["group"] = f"perfbench-{self.iteration}-{name}"
                with in_group(self.spark, rec["group"]):
                    yield rec
            else:
                yield rec
        finally:
            rec["end"] = time.monotonic()
            self._open.pop()

    def last_span(self, name: str) -> dict:
        return next(r for r in reversed(self.spans) if r["name"] == name)

    def last(self, name: str) -> float:
        """Duration of the most recent span called `name`."""
        rec = self.last_span(name)
        return rec["end"] - rec["start"]

    def self_times(self) -> list[dict]:
        """Each span's duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        out = []
        for idx, rec in enumerate(self.spans):
            covered, cursor = 0.0, rec["start"]
            for ch in sorted(children.get(idx, []), key=lambda c: c["start"]):
                lo, hi = max(ch["start"], cursor), min(ch["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            dur = rec["end"] - rec["start"]
            out.append({**rec, "duration_s": dur, "self_s": dur - covered})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.self_times(), f)


class _NoTrace:
    iteration = None

    def span(self, name: str, group: bool = False):
        return contextlib.nullcontext()


NO_TRACE = _NoTrace()


def in_group(spark, group: str):
    """Run the block's Spark jobs under job group `group`."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def cm():
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
    return cm()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed_noop(df) -> int:
    obs = Observation()
    _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def input_scans(ctx) -> int:
    """Parquet scans of the input in the executed plans of the frames
    `validate()` returns, `violations` and `verdicts`: the scans reading
    both of them runs. A cached relation's plan (the violations
    `validate()` persists) counts once however many frames read it.
    Only the input table is read from parquet; the keyref side is
    generated."""
    refs = ({"captions_ref": make_captions_ref(ctx.spark, ctx.workload.rows)}
            if ctx.spec.keyrefs else None)
    res = validate(ctx.inp, ctx.spec, refs=refs)
    try:
        cached: dict[str, int] = {}
        return sum(_scans(df, cached) for df in (res.violations, res.verdicts)) \
            + sum(cached.values())
    finally:
        res.unpersist()


def _scans(df, cached: dict) -> int:
    """Scans outside cached relations; each InMemoryRelation subtree's
    scans go to `cached`, keyed by the subtree's text."""
    text = df._jdf.queryExecution().executedPlan().toString()
    n, sub, sub_depth = 0, None, None
    for line in text.splitlines() + [""]:
        depth = len(line) - len(line.lstrip(" :+-|"))
        if sub is not None:
            if line and depth > sub_depth:
                sub.append(line[sub_depth:])
                continue
            body = "\n".join(sub)
            cached[body] = body.count("FileScan parquet")
            sub = None
        if "InMemoryRelation" in line:
            sub, sub_depth = [], depth
        elif "FileScan parquet" in line:
            n += 1
    return n


def _boundary_floor(df, spec, part_key: str):
    """A mapInArrow that returns nothing, over the payload stage's
    projection and partitioning: the JVM<->Python boundary cost alone."""
    cols = [spec.id_col, spec.bytes_col, spec.fmt_col, spec.w_col, spec.h_col]
    if spec.check_phash:
        cols.append(spec.phash_col)
    cols.append(part_key)

    def drain(batches):
        for _ in batches:
            pass
        return iter(())

    return df.select(*dict.fromkeys(cols)).mapInArrow(
        drain, "row_key string, part_key bigint, constraint string, "
               "reason string, value string, occurs bigint")


def run_probes(ctx, tr: Tracer) -> dict:
    """Force each layer the workload exercises alone; returns this
    cycle's per-layer readings (seconds, counts, bytes)."""
    spark, spec, inp = ctx.spark, ctx.spec, ctx.inp
    out: dict[str, float] = {}

    def probe(name: str, fn):
        with tr.span(name, group=True) as rec:
            value = fn()
        return value, rec["end"] - rec["start"], \
            engine.stage_metrics(spark, rec["group"]) or {}

    for layer in ctx.workload.probes:
        if layer == "compiler":
            with tr.span("compiler.compile_plan") as rec:
                compile_plan(spec)
            out["compiler.compile_s"] = rec["end"] - rec["start"]
        elif layer == "row_checks":
            plan = compile_plan(spec)
            n, secs, _ = probe("row_checks.row_violations",
                               lambda: _observed_noop(row_violations(inp, plan)))
            out["row_checks.s"], out["row_checks.rows_out"] = secs, n
        elif layer == "identity":
            shuffle = 0.0
            for u in spec.uniques:
                _, secs, m = probe(f"identity.unique_{u.name}", lambda u=u: _noop(
                    unique_violations(inp, u, spec.key_column, spec.part_key)))
                out[f"identity.unique_{u.name}_s"] = secs
                shuffle += m.get("shuffle_write_bytes", 0.0)
            for k in spec.keyrefs:
                # the ref side is materialized first so the probe times
                # the anti-join, not the fixture generator
                ref = make_captions_ref(spark, ctx.workload.rows).persist()
                ref.count()
                _, secs, m = probe("identity.keyref", lambda k=k: _noop(
                    keyref_violations(inp, ref, k, spec.key_column,
                                      spec.part_key, broadcast_ref=k.broadcast)))
                ref.unpersist()
                out["identity.keyref_s"] = secs
                shuffle += m.get("shuffle_write_bytes", 0.0)
            out["identity.shuffle_write_bytes"] = shuffle
        elif layer == "payload":
            _, secs, m = probe("payload.payload_violations", lambda: _noop(
                payload_violations(inp, spec.payload, spec.part_key)))
            _, floor, _ = probe("payload.boundary_floor", lambda: _noop(
                _boundary_floor(inp, spec.payload, spec.part_key)))
            out["payload.s"], out["payload.boundary_floor_s"] = secs, floor
            out["payload.kernel_s"] = secs - floor
            out["payload.tasks"] = m.get("tasks", 0.0)
        elif layer == "checkpoint":
            from .workloads import check_resume, run_resume
            checked = check_resume(ctx, run_resume(ctx, tr))
            for part in ("increment1", "increment2", "finalize"):
                out[f"checkpoint.{part}_s"] = tr.last(f"checkpoint.{part}")
            for key in ("files_written", "remainder_parts", "out_bytes"):
                out[f"checkpoint.{key}"] = checked[key]
        elif layer == "scan_floor":
            cols = ctx.workload.columns
            _, secs, _ = probe("spark.scan_floor",
                               lambda: _noop(inp.select(*cols)))
            out["spark.scan_floor_s"] = secs
    return out
