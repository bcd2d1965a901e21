"""Benchmark entry point.

    python3 perfbench/run.py --workload trickle|catalog --seed N \
        --seconds S --trace 0|1

Runs one workload on ``local[nproc]`` in a single closed loop with one
client: set-up, then passes until ``--seconds`` of timed work have
gone by and the workload's minimum number of passes is reached. Every
output is checked outside the timed regions; checks made during
set-up are timed and left out of ``setup_s``. The last line of standard output is the result JSON: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of the
traced run with ``--trace 1``. The lines before it give the workload's
figures by their own names, the check verdict and the run's context
(with the per-pass samples). Results and span files are kept under
``.perfbench_runs/``; a traced run also reports its overhead against
the untraced run of the same workload and seed, when one is there.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness  # noqa: E402

REPORT_METRICS = (
    "setup_s",
    "replay_wall_s",
    "freshness_p50_s",
    "freshness_tail_s",
    "dashboard_p50_s",
    "catalog_total_s",
    "catalog_geomean_s",
    "space_amp",
    "peak_rss_mb",
    "fail_ratio",
)


def _workload(name: str):
    if name == "trickle":
        from perfbench.trickle import Trickle

        return Trickle
    from perfbench.catalog import Catalog

    return Catalog


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import metrics
    from perfbench.trace import Tracer

    with harness.workdir(workload) as work:
        t0 = time.perf_counter()
        spark = harness.start_spark(work)
        tracer = Tracer(spark, enabled=trace)
        try:
            tracer.install()
            wl = _workload(workload)(spark, tracer, work, seed)
            wl.setup()
            setup_s = time.perf_counter() - t0 - wl.check_s

            clock = harness.Clock(seconds)
            passes: list[str] = []
            while clock.running() or len(passes) < wl.MIN_PASSES:
                passes.append(f"pass{len(passes)}")
                tracer.begin(passes[-1])
                clock.add(wl.step())
            tracer.begin("report")

            e2e = {"setup_s": setup_s, **wl.end_to_end()}
            report = wl.report()
            report["metrics"]["peak_rss_mb"] = harness.peak_rss_mb(spark)
            report["metrics"]["fail_ratio"] = wl.failed / wl.attempted
            layers = metrics.layer_metrics(tracer, passes, report["read_files"])
            context = {
                "workload": workload,
                "seed": seed,
                "seconds": seconds,
                "nproc": harness.nproc(),
                "master": spark.sparkContext.master,
                "spark_version": spark.version,
                "calibration_range_sum_50m_s": harness.calibration_s(spark),
                "check_s": wl.check_s,
                "sizes": report["sizes"],
                "samples": report["samples"],
            }
            if trace:
                tracer.write_spans(harness.RUNS_DIR / f"spans-{workload}-s{seed}.jsonl")
        finally:
            tracer.uninstall()
            harness.stop_spark(spark)

    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "failures": wl.failures,
        "end_to_end": e2e,
        "per_layer": layers,
        "workload_metrics": {**report["metrics"], **e2e},
        "context": context,
    }


def _print_report(res: dict) -> None:
    wm = res["workload_metrics"]
    units = {"space_amp": "x", "peak_rss_mb": "MB", "fail_ratio": "ratio"}
    for name in REPORT_METRICS:
        v = wm.get(name)
        if name == "freshness_tail_s" and v is None and "freshness_p50_s" in wm:
            n = res["context"]["sizes"]["increments"]
            print(f"  {name:<20} n/a ({n} increments; a tail needs at least 11)")
        elif v is None:
            print(f"  {name:<20} n/a")
        elif name == "fail_ratio":
            print(f"  {name:<20} {v:.4f} ratio ({res['failed']}/{res['attempted']} operations)")
        elif name == "freshness_tail_s":
            print(f"  {name:<20} {v['value']:.4f} s (p{v['p']}, n={v['n']})")
        else:
            print(f"  {name:<20} {v:.4f} {units.get(name, 's')}")
    print(f"  output check         {'PASS' if res['correct'] else 'FAIL'}")
    for f in res["failures"]:
        print(f"    mismatch: {f}")
    print("context " + json.dumps(res["context"], sort_keys=True))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("trickle", "catalog"), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    harness.require_program()
    from perfbench import metrics

    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    tag = f"{args.workload}-s{args.seed}"
    harness.save_json(harness.RUNS_DIR / f"result-{tag}-t{args.trace}.json", res)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    _print_report(res)
    if args.trace:
        base = harness.load_json(harness.RUNS_DIR / f"result-{tag}-t0.json")
        if base is not None:
            overhead = {
                k: res["end_to_end"][k] - base["end_to_end"][k] for k in res["end_to_end"]
            }
            print("tracing overhead (traced - untraced) " + json.dumps(overhead, sort_keys=True))
        chosen = res["per_layer"]
    else:
        chosen = res["end_to_end"]
    units = metrics.units()
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in chosen.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
