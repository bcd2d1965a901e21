"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The smoke runs start a Spark session per run (about a minute each on
four cores); the other tests need no Spark.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import catalog, harness, metrics, run, trickle

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_manifest_within_limits_and_mapped():
    on_disk = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert set(metrics.MOVES) == {m["name"] for m in on_disk["per_layer"]}
    gated = {m["name"] for m in on_disk["end_to_end"]}
    assert {v.split("@")[0] for v in metrics.MOVES.values()} <= gated
    assert 2 <= len(on_disk["workloads"]) <= 8
    assert 1 <= len(on_disk["per_layer"]) <= 128
    names = [m["name"] for m in on_disk["end_to_end"] + on_disk["per_layer"]]
    names += [w["name"] for w in on_disk["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in on_disk["end_to_end"])
    setup = [m for m in on_disk["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in on_disk["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in on_disk["workloads"])


def test_fails_without_the_program(tmp_path):
    shutil.copytree(harness.ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(harness.ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "trickle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""


def _fixture_sets(seed: int, n: int = 2):
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
        fitbit_fixtures as fx,
    )

    return [fx.generate_set(i + 1, n_users=2, seed=seed) for i in range(n)]


def test_corrupted_gold_expectation_fails_the_check():
    sets = _fixture_sets(7)
    want = trickle.expected_gold(sets)
    assert want and trickle.check_gold(dict(want), want) == []
    key = next(iter(want))
    lo, avg, hi, n = want[key]
    assert trickle.check_gold(dict(want), {**want, key: (lo, avg + 0.5, hi, n)})
    assert trickle.check_gold(dict(want), {**want, key: (lo, avg, hi, n + 1)})
    missing = dict(want)
    del missing[key]
    assert trickle.check_gold(missing, want)


def test_corrupted_gym_summary_expectation_fails_the_check():
    want = trickle.expected_gym_summary(_fixture_sets(7))
    assert want and trickle.check_gym_summary(list(reversed(want)), want) == []
    row = want[0]
    bad = [row[:5] + (row[5] + 1.0, row[6])] + want[1:]
    assert trickle.check_gym_summary(want, bad)
    assert trickle.check_gym_summary(want, want[1:])


def test_corrupted_oracle_fails_the_catalog_check():
    c = catalog.Catalog.__new__(catalog.Catalog)
    c.norm = catalog._norm_rows()
    c.attempted = c.failed = 0
    c.failures = []
    c.oracle = {"row": c.norm(["k", "v"], [(1, 0.5), (2, 1.5)])}
    c.exact = {"row": c.oracle["row"]}
    c._check("row", ["v", "k"], [(1.5, 2), (0.5, 1)])  # same rows, any order
    assert (c.attempted, c.failed) == (1, 0)
    c.oracle = {"row": c.norm(["k", "v"], [(1, 0.5), (2, 1.25)])}
    c.exact = {"row": c.oracle["row"]}
    c._check("row", ["v", "k"], [(1.5, 2), (0.5, 1)])
    assert (c.attempted, c.failed) == (2, 1)
    assert c.failures[0].startswith("row:")
    # a half-cent tie: the double oracle rounded down, exact arithmetic up
    c.oracle = {"row": c.norm(["k", "v"], [(1, 518106.06)])}
    c.exact = {"row": c.norm(["k", "v"], [(1, 518106.07)])}
    c._check("row", ["k", "v"], [(1, 518106.07)])
    assert (c.attempted, c.failed) == (3, 1)
    c._check("row", ["k", "v"], [(1, 518106.08)])
    assert (c.attempted, c.failed) == (4, 2)


def test_exact_oracle_reads_money_as_decimal(tmp_path):
    c = catalog.Catalog.__new__(catalog.Catalog)
    c.norm = catalog._norm_rows()
    c.data = tmp_path
    c.sizes = catalog.generate(5, tmp_path, scale=0.01)
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import QUERIES

    c.queries = {r: QUERIES[r] for r in catalog.ROWS}
    double = c._oracle(["shipping_priority"], exact=False)["shipping_priority"]
    exact = c._oracle(["shipping_priority"], exact=True)["shipping_priority"]
    assert double[0] == exact[0] and len(double[1]) == len(exact[1]) > 0


def test_generated_catalog_input_has_the_sf01_shape(tmp_path):
    import duckdb

    sizes = catalog.generate(3, tmp_path)
    assert sizes == {
        "customer": 15_000, "orders": 150_000, "lineitem": 600_000,
        "documents": 5_000, "embeddings": 2_000,
    }
    con = duckdb.connect()
    one = lambda sql: con.execute(sql.format(d=tmp_path)).fetchone()  # noqa: E731
    assert one("SELECT count(*) FROM '{d}/documents.parquet' WHERE text LIKE '% dup'") == (250,)
    assert one(
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w "
        "FROM '{d}/documents.parquet')"
    ) == (len(catalog.VOCAB) + 1,)
    assert one(
        "SELECT count(DISTINCT l_suppkey), count(DISTINCT l_returnflag || l_linestatus) "
        "FROM '{d}/lineitem.parquet'"
    ) == (1_000, 6)


@pytest.fixture()
def tiny(monkeypatch):
    """Shrink both workloads; the code paths stay the same."""
    monkeypatch.setattr(trickle, "USERS_PER_SET", 2)
    monkeypatch.setattr(catalog, "SCALE", 0.01)


# untraced first, so the traced run has a baseline to report overhead against
@pytest.mark.parametrize(
    "workload,trace", [("trickle", 0), ("trickle", 1), ("catalog", 0), ("catalog", 1)]
)
def test_smoke_run_prints_every_metric_and_passes_its_checks(tiny, capsys, workload, trace):
    # seed 2 is not one the benchmark was tuned on
    assert run.main(["--workload", workload, "--seed", "2", "--seconds", "0",
                     "--trace", str(trace)]) == 0
    out = capsys.readouterr().out.splitlines()
    last = json.loads(out[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    manifest = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    table = manifest["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in table
    }
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())
    text = "\n".join(out)
    for name in run.REPORT_METRICS:
        assert re.search(rf"^  {name} ", text, re.M), name
    assert "output check         PASS" in text
    assert '"calibration_range_sum_50m_s"' in text
    if trace:
        spans = harness.RUNS_DIR / f"spans-{workload}-s2.jsonl"
        recs = [json.loads(line) for line in spans.read_text().splitlines()]
        assert recs and all(r["self_s"] <= r["duration_s"] + 1e-9 for r in recs)
        assert "tracing overhead" in text
