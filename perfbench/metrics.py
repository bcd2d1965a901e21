"""What the benchmark reports. Names and units come from
``BENCHMARK.json``; this module adds, for each per-layer metric of a
traced run, the end-to-end metric and workload it should move, and
computes the per-layer figures.
"""

from __future__ import annotations

import json
from collections import defaultdict

from perfbench.catalog import ROWS
from perfbench.harness import ROOT


def units() -> dict[str, str]:
    """{metric name: unit} of every end-to-end and per-layer metric."""
    manifest = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in manifest["end_to_end"] + manifest["per_layer"]}


WAVES = ("bronze", "silver1", "silver2", "dims", "silver3", "gold")
STREAMS = (
    "bz_registered_users_bz",
    "bz_gym_logins_bz",
    "bz_kafka_multiplex_bz",
    "sv_users",
    "sv_gym_logs",
    "sv_user_profile",
    "sv_workouts",
    "sv_heart_rate",
    "sv_completed_workouts",
    "sv_workout_bpm",
)
STATEFUL = STREAMS[3:9]

_FRESH = "op_p50_s@trickle"
_DASH = "read_s@trickle"
_CAT = "pass_s@catalog"


def _moves() -> dict[str, str]:
    """{per-layer metric: the end-to-end metric@workload it moves}."""
    out = {}
    for w in WAVES:
        out[f"wave.{w}_s"] = out[f"jobs.{w}"] = _FRESH
    for q in STREAMS:
        for m in ("batches", "rows", "batch_ms_p50", "add_batch_ms", "overhead_ms"):
            out[f"stream.{q}.{m}"] = _FRESH
        if q in STATEFUL:
            out[f"stream.{q}.state_rows"] = _FRESH
    for m in ("merge.calls", "merge.busy_s", "merge.p50_ms", "merge.max_ms",
              "write.calls", "write.busy_s"):
        out[m] = _FRESH
    for m in ("merge.files_written", "merge.bytes_written", "read.catalog_ms",
              "read.gym_summary_ms", "read.summary_slices_ms", "read.files"):
        out[m] = _DASH
    for r in ROWS:
        out[f"query.{r}_s"] = _CAT
    out["catalog.build_s"] = out["catalog.jobs"] = _CAT
    return out


MOVES = _moves()


def _med(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return float(xs[mid]) if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def layer_metrics(tracer, passes: list[str], read_files: int) -> dict[str, float]:
    """Per-layer figures of the measured passes. Sums are taken per pass
    and reported as the median pass; latencies are medians over all
    calls or micro-batches. A layer the workload never enters reads 0."""
    spans = [s for s in tracer.spans if s["run_id"] in passes and "end" in s]
    per_pass: dict[tuple[str, str], list[float]] = defaultdict(list)
    for s in spans:
        per_pass[(s["run_id"], s["name"])].append(s["end"] - s["start"])

    def pass_median(name: str, value=sum) -> float:
        return _med([value(per_pass.get((p, name), [])) for p in passes])

    def attr_pass_median(name: str, attr: str) -> float:
        return _med(
            [
                sum(s["attrs"][attr] for s in spans if s["run_id"] == p and s["name"] == name)
                for p in passes
            ]
        )

    m: dict[str, float] = {}
    for w in WAVES:
        m[f"wave.{w}_s"] = pass_median(f"wave.{w}")
        m[f"jobs.{w}"] = attr_pass_median(f"wave.{w}", "jobs")

    events = [e for e in tracer.progress if e["run_id"] in passes]
    for q in STREAMS:
        qe = [e for e in events if e["query"] == q]
        trig = [e["ms"].get("triggerExecution", 0) for e in qe]
        add = [e["ms"].get("addBatch", 0) for e in qe]
        m[f"stream.{q}.batches"] = _med(
            [sum(1 for e in qe if e["run_id"] == p) for p in passes]
        )
        m[f"stream.{q}.rows"] = _med(
            [sum(e["rows"] for e in qe if e["run_id"] == p) for p in passes]
        )
        m[f"stream.{q}.batch_ms_p50"] = _med(trig)
        m[f"stream.{q}.add_batch_ms"] = _med(add)
        m[f"stream.{q}.overhead_ms"] = _med([t - a for t, a in zip(trig, add)])
        if q in STATEFUL:
            m[f"stream.{q}.state_rows"] = float(qe[-1]["state_rows"]) if qe else 0.0

    merges = [s for s in spans if s["name"] == "merge"]
    merge_ms = [1000.0 * (s["end"] - s["start"]) for s in merges]
    m["merge.calls"] = pass_median("merge", len)
    m["merge.busy_s"] = pass_median("merge")
    m["merge.p50_ms"] = _med(merge_ms)
    m["merge.max_ms"] = max(merge_ms, default=0.0)
    m["merge.files_written"] = attr_pass_median("merge", "files_written")
    m["merge.bytes_written"] = attr_pass_median("merge", "bytes_written")
    m["write.calls"] = pass_median("write", len)
    m["write.busy_s"] = pass_median("write")
    for r in ("catalog", "gym_summary", "summary_slices"):
        m[f"read.{r}_ms"] = 1000.0 * pass_median(f"read.{r}")
    m["read.files"] = float(read_files)

    for r in ROWS:
        m[f"query.{r}_s"] = _med(
            [
                sum(per_pass.get((p, f"query.{r}.build"), []))
                + sum(per_pass.get((p, f"query.{r}.execute"), []))
                for p in passes
            ]
        )
    m["catalog.build_s"] = _med(
        [sum(sum(per_pass.get((p, f"query.{r}.build"), [])) for r in ROWS) for p in passes]
    )
    m["catalog.jobs"] = attr_pass_median("catalog.pass", "jobs")
    assert set(m) == set(MOVES)
    return m
