"""``trickle``: small increments landing one at a time on a built lake.

Set-up lands a 4-user bootstrap set and drains it, which builds every
table and warms the JVM, refreshes the dashboard once and runs one
untimed warm-up increment. Each increment lands one more 4-user set at
a 5-s bpm cadence, drains it with one ``FitbitPipeline.run()`` and
refreshes the dashboard. At this size the fixed cost of each trigger and commit is
nearly all of the drain.

Outputs are checked after every drain, outside the timed regions (the
checks in set-up are timed and left out of ``setup_s``):
golden table counts, each session's gold min/avg/max bpm and
recording count, and the ``gym_summary`` rows, all recomputed in pure
Python from the fixture sets.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from perfbench import harness

BOOTSTRAP_SETS = 1
# The first increment after the cold bootstrap drains ~20% slower than
# the next ones (the merge paths are still cold), so set-up runs it.
WARMUP_INCREMENTS = 1
USERS_PER_SET = 4
BPM_CADENCE_S = 5
DASHBOARD_TABLES = ("gym_logs", "completed_workouts", "users", "workout_bpm_summary")


def _surviving_bpm(sets) -> dict[tuple, dict]:
    """Silver heart_rate keeps the first reading per (device_id, time)."""
    out: dict[tuple, dict] = {}
    for s in sets:
        for b in s.bpm:
            out.setdefault((b["device_id"], b["time"]), b)
    return out


def _sessions(sets):
    """(user_id, workout_id, session_id, start, stop) of every session."""
    for s in sets:
        starts = {}
        for w in s.workouts:
            if w["action"] == "start":
                starts[(w["user_id"], w["workout_id"])] = w
        for w in s.workouts:
            if w["action"] == "stop":
                st = starts[(w["user_id"], w["workout_id"])]
                yield (w["user_id"], w["workout_id"], w["session_id"], st["timestamp"], w["timestamp"])


def expected_gold(sets) -> dict[tuple, tuple]:
    """{(user_id, workout_id, session_id): (min, avg, max, n)} over the
    deduped valid readings of the user's device inside (start, stop]."""
    device = {u["user_id"]: u["device_id"] for s in sets for u in s.users}
    by_dev: dict[int, list[dict]] = {}
    for b in _surviving_bpm(sets).values():
        by_dev.setdefault(b["device_id"], []).append(b)
    out = {}
    for uid, wid, sid, t0, t1 in _sessions(sets):
        hr = [
            b["heartrate"]
            for b in by_dev.get(device[uid], [])
            if t0 < b["time"] <= t1 and b["heartrate"] > 0
        ]
        if hr:
            out[(uid, wid, sid)] = (min(hr), sum(hr) / len(hr), max(hr), len(hr))
    return out


def expected_gym_summary(sets) -> list[tuple]:
    """Rows of the ``gym_summary`` view: gym visits joined to the
    sessions of the visiting user whose start lies BETWEEN login and
    logout."""
    mac = {u["user_id"]: u["mac_address"] for s in sets for u in s.users}
    visits = [g for s in sets for g in s.gym_logins]
    rows = []
    for uid, wid, sid, start, stop in _sessions(sets):
        for g in visits:
            if g["mac_address"] == mac[uid] and g["login"] <= start <= g["logout"]:
                rows.append(
                    (
                        dt.datetime.fromtimestamp(g["login"], dt.timezone.utc).date(),
                        g["gym"],
                        g["mac_address"],
                        wid,
                        sid,
                        round((int(g["logout"]) - int(g["login"])) / 60, 2),
                        round((int(stop) - int(start)) / 60, 2),
                    )
                )
    return rows


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def check_gold(got: dict[tuple, tuple], want: dict[tuple, tuple]) -> list[str]:
    if set(got) != set(want):
        return [f"gold sessions: {len(got)} rows, expected {len(want)}"]
    bad = [
        k
        for k, w in want.items()
        if not all(_close(g, e) for g, e in zip(got[k], w))
    ]
    return [f"gold values differ for {len(bad)} sessions, first {bad[0]}"] if bad else []


def check_gym_summary(got: list[tuple], want: list[tuple]) -> list[str]:
    norm = lambda rows: sorted(  # noqa: E731
        (tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows),
        key=repr,
    )
    if norm(got) != norm(want):
        return [f"gym_summary: {len(got)} rows differ from {len(want)} expected"]
    return []


class Trickle:
    # two timed increments; a third (~15 s more a run) would bring the 48
    # runs of a full two-workload measurement within ~5% of their 3420 s
    # budget on a 4-core machine
    MIN_PASSES = 2

    def __init__(self, spark, tracer, work, seed: int) -> None:
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
            fitbit_fixtures as fx,
        )
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans.fitbit import (
            FitbitPipeline,
        )

        self.fx = fx
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.pipe = FitbitPipeline(spark, str(work / "lake"))
        self.sets = []
        self.drain_s: list[float] = []
        self.dashboard_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0

    def _land(self) -> None:
        s = self.fx.generate_set(
            len(self.sets) + 1,
            n_users=USERS_PER_SET,
            # the fixture rng is seeded with seed + set_id; spread the
            # seeds so two runs never share a set
            seed=self.seed * 1000,
            bpm_cadence_s=BPM_CADENCE_S,
        )
        self.fx.write_landing(s, self.pipe.landing)
        self.sets.append(s)

    def _dashboard(self):
        with self.tracer.span("read.catalog"):
            self.pipe.register_sql_catalog()
        with self.tracer.span("read.gym_summary"):
            gym = [tuple(r) for r in self.spark.sql("SELECT * FROM gym_summary").collect()]
        with self.tracer.span("read.summary_slices"):
            self.pipe.summary_slices().collect()
        return gym

    def _check_drain(self) -> None:
        """Golden counts and gold values after the sets landed so far."""
        self.attempted += 1
        counts = self.pipe.table_counts()
        want = self.fx.expected_counts(self.sets)
        errs = [] if counts == want else [f"table counts {counts} != {want}"]
        gold = {
            (r.user_id, r.workout_id, r.session_id): (
                r.min_bpm,
                r.avg_bpm,
                r.max_bpm,
                r.num_recordings,
            )
            for r in self.pipe.store.read("workout_bpm_summary").collect()
        }
        errs += check_gold(gold, expected_gold(self.sets))
        self.failed += bool(errs)
        self.failures += [f"drain {len(self.sets)}: {e}" for e in errs]

    def _check_dashboard(self, gym_rows) -> None:
        self.attempted += 1
        errs = check_gym_summary(gym_rows, expected_gym_summary(self.sets))
        self.failed += bool(errs)
        self.failures += [f"dashboard {len(self.sets)}: {e}" for e in errs]

    def _check(self, gym_rows) -> None:
        """Check the lake and the dashboard after the sets landed so
        far; the time it takes is kept in ``check_s``."""
        t0 = time.perf_counter()
        self._check_drain()
        self._check_dashboard(gym_rows)
        self.check_s += time.perf_counter() - t0

    def _increment(self) -> tuple[float, float]:
        """Land one set, drain it, refresh the dashboard, check both;
        returns the drain and dashboard seconds."""
        self._land()
        t0 = time.perf_counter()
        self.pipe.run()
        t1 = time.perf_counter()
        gym = self._dashboard()
        t2 = time.perf_counter()
        self._check(gym)
        return t1 - t0, t2 - t1

    def setup(self) -> None:
        """Bootstrap drain and dashboard refresh, then the warm-up
        increments, each checked."""
        for _ in range(BOOTSTRAP_SETS):
            self._land()
        self.pipe.run()
        self._check(self._dashboard())
        for _ in range(WARMUP_INCREMENTS):
            self._increment()

    def step(self) -> float:
        """One timed increment; returns its drain plus dashboard seconds."""
        drain, dashboard = self._increment()
        self.drain_s.append(drain)
        self.dashboard_s.append(dashboard)
        return drain + dashboard

    def end_to_end(self) -> dict[str, float]:
        return {
            "op_p50_s": harness.median(self.drain_s),
            "read_s": harness.median(self.dashboard_s),
            "pass_s": harness.median(
                [a + b for a, b in zip(self.drain_s, self.dashboard_s)]
            ),
        }

    def _landing_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(root, n))
            for root, _d, names in os.walk(self.pipe.landing)
            for n in names
        )

    def report(self) -> dict:
        """Workload figures by their own names, plus input sizes."""
        store = self.pipe.store
        tables = [t for t in self.pipe.SQL_TABLES if store.exists(t)]
        details = {t: store.detail(t) for t in tables}
        landing = self._landing_bytes()
        return {
            "metrics": {
                "freshness_p50_s": harness.median(self.drain_s),
                "freshness_tail_s": harness.tail(self.drain_s),
                "dashboard_p50_s": harness.median(self.dashboard_s),
                "space_amp": sum(d["size_bytes"] for d in details.values()) / landing,
            },
            "read_files": sum(details[t]["num_files"] for t in DASHBOARD_TABLES),
            "sizes": {
                "bootstrap_users": BOOTSTRAP_SETS * USERS_PER_SET,
                "warmup_increments": WARMUP_INCREMENTS,
                "increment_users": USERS_PER_SET,
                "bpm_cadence_s": BPM_CADENCE_S,
                "bpm_rows_per_set": [len(s.bpm) for s in self.sets],
                "landing_bytes": landing,
                "increments": len(self.drain_s),
            },
            "samples": {"drain_s": self.drain_s, "dashboard_s": self.dashboard_s},
        }
