"""Spans and counters recorded from outside the program.

A traced run patches the public entry points of each layer (the wave
runner as ``plans.fitbit`` looks it up, the dimension and gold builds,
``TableStore.merge``/``write``/``detail``), listens to streaming
progress, and counts Spark jobs from the status store. An untraced run
uses the same ``Tracer`` with ``enabled=False``: every span is a no-op
and nothing is patched, so the end-to-end figures carry no tracing
cost.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


class _Progress(StreamingQueryListener):
    """Keeps one record per micro-batch, tagged with the current pass."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.tracer.progress.append(
            {
                "run_id": self.tracer.run_id,
                "query": p.name,
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "stateful": bool(p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.run_id = "setup"
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._t0 = time.perf_counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Record ``name`` around the block. Work on another thread (a
        ``foreachBatch`` callback) is parented to the innermost span
        open on the main thread, the call that caused it. With
        ``jobs=True`` the span also counts the Spark jobs started in it."""
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "parent": parent, "run_id": self.run_id, "attrs": attrs}
        with self._lock:
            sid = len(self.spans)
            self.spans.append(rec)
        first_job = self.last_job_id() if jobs else None
        stack.append(sid)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            if jobs:
                attrs["jobs"] = self.last_job_id() - first_job

    def last_job_id(self) -> int:
        """Highest Spark job id the status store has seen, after the
        listener bus has delivered every pending event."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        if jobs.size() == 0:
            return -1
        return max(jobs.head().jobId(), jobs.last().jobId())

    def begin(self, run_id: str) -> None:
        """Start attributing spans and progress to ``run_id``. Drains
        the listener bus first, so late events stay with the pass that
        caused them."""
        if self.enabled:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.run_id = run_id

    # -- patching -----------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patches.append((owner, attr, orig))

    def _spanned(self, owner, attr: str, name: str, jobs: bool = False) -> None:
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name, jobs=jobs):
                    return orig(*args, **kwargs)

            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        """Patch each layer's entry points and add the progress listener."""
        if not self.enabled:
            return
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
            TableStore,
        )
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
            fitbit,
        )

        def make_run_waves(orig):
            # one wave per call, so each barrier group gets its own span
            def run_waves(spark, waves, timeout_sec=600):
                report = {}
                for wave in waves:
                    with self.span(f"wave.{wave.name}", jobs=True):
                        report.update(orig(spark, [wave], timeout_sec=timeout_sec))
                return report

            return run_waves

        def make_merge(orig):
            def merge(store, name, *args, **kwargs):
                started = time.time()
                with self.span("merge", table=name) as attrs:
                    out = orig(store, name, *args, **kwargs)
                attrs.update(_written_since(store.current_path(name), started))
                return out

            return merge

        self._patch(fitbit, "run_waves", make_run_waves)
        self._spanned(fitbit.FitbitPipeline, "build_user_bins", "wave.dims", jobs=True)
        self._spanned(fitbit.FitbitPipeline, "build_gold", "wave.gold", jobs=True)
        self._patch(TableStore, "merge", make_merge)
        self._spanned(TableStore, "write", "write")
        self._spanned(TableStore, "detail", "detail")
        self._listener = _Progress(self)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- output -------------------------------------------------------------

    def write_spans(self, path: Path) -> None:
        """One JSON object per span, with its self time: duration minus
        the part of it covered by child spans."""
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for sid, rec in enumerate(self.spans):
                if "end" not in rec:
                    continue
                covered = _covered(
                    rec["start"], rec["end"], children.get(sid, [])
                )
                f.write(
                    json.dumps(
                        {
                            "id": sid,
                            **rec,
                            "duration_s": rec["end"] - rec["start"],
                            "self_s": rec["end"] - rec["start"] - covered,
                        }
                    )
                    + "\n"
                )


def _covered(start: float, end: float, kids: list[dict]) -> float:
    """Length of [start, end] covered by the union of the kids' intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for k in sorted(kids, key=lambda k: k["start"]):
        if "end" not in k:
            continue
        s, e = max(k["start"], start), min(k["end"], end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _written_since(path: str | None, started: float) -> dict:
    """Parquet files (and their bytes) under a table version that were
    written after ``started``; files carried over from the previous
    version keep their older modification time."""
    files = nbytes = 0
    if path is not None:
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    st = os.stat(os.path.join(root, n))
                    if st.st_mtime >= started:
                        files += 1
                        nbytes += st.st_size
    return {"files_written": files, "bytes_written": nbytes}
