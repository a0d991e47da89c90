"""Extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload web_extract --seed 1 --seconds 25 --trace 0

``--trace 0`` measures the end-to-end metrics: set-up rounds, one
golden-checked verification pass, then back-to-back timed passes at
``local[nproc]`` for ``--seconds``.  ``--trace 1`` measures the
per-layer metrics: a single-process replay of the same rows through
the layer functions (untraced, traced, and through the UDF body) and
a Spark plan decomposition.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_ROUNDS = 3  # set-up rounds per run; setup_s is their median


def declared_units(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def _loadavg() -> str:
    return Path("/proc/loadavg").read_text().strip()


def _versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "numpy": numpy.__version__}


def run_untraced(wl_cls, inputs, nproc: int, seconds: float) -> tuple[dict, dict, dict]:
    from perfbench.sparkrun import SparkHost, timed_passes

    host = SparkHost(WORK, nproc)
    try:
        # the first round also launches the JVM; each later one starts
        # a new session (fresh Python workers) in it; the last session
        # runs the timed passes
        rounds = []
        for i in range(SETUP_ROUNDS):
            if i:
                host.stop_session()
            wl, timings = host.start_round(wl_cls, inputs)
            rounds.append(timings)
        # one untimed pass over the whole input compares every output
        # row with its golden; it also lets the JIT settle on full-size
        # batches before timing
        n = inputs.n_docs
        try:
            wrong = wl.verify()
        except Exception as exc:
            print(f"verification pass failed: {exc!r}", file=sys.stderr)
            wrong = n
        res = timed_passes(wl, seconds)
        # timed passes are checksum-checked; a pass that is off counts
        # the documents the row check found wrong (all, if it found none)
        attempted = n * (1 + len(res["rates"]))
        failed = wrong + res["failed_passes"] * (wrong or n)
    finally:
        host.close()
    metrics = {
        "docs_per_s": res["docs_per_s"],
        "setup_s": statistics.median(r["setup_s"] for r in rounds),
        "py_worker_peak_rss_mb": res["py_worker_peak_rss_mb"],
    }
    detail = {"setup_rounds": rounds, "pass_docs_per_s": res["rates"],
              "failed_passes": res["failed_passes"], "verify_failed": wrong}
    return metrics, {"attempted": attempted, "failed": failed}, detail


def run_traced(wl_cls, inputs, nproc: int, record_stem: Path) -> tuple[dict, dict, dict]:
    from perfbench.replay import Replay, measure
    from perfbench.sparkrun import SparkHost, decompose

    replay = Replay(inputs.pages(), ocr=wl_cls.ocr)
    metrics, checks, tracer = measure(replay, inputs.goldens)
    tracer.write_jsonl(record_stem.with_suffix(".spans.jsonl"))
    host = SparkHost(WORK, nproc)
    try:
        _wl, cold = host.start_round(wl_cls, inputs)
        host.stop_session()
        wl, warm = host.start_round(wl_cls, inputs)
        spark_m, spark_checks = decompose(wl)
    finally:
        host.close()
    metrics.update(spark_m)
    metrics["session.cold_start_s"] = cold["setup_s"]
    for k in ("start_s", "worker_import_s", "warmup_s"):
        metrics[f"session.{k}"] = warm[k]
    for k in checks:
        checks[k] += spark_checks[k]
    return metrics, checks, {"replay_docs": replay.n_docs, "setup_rounds": [cold, warm]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["web_extract", "receipt_scans", "job_commit"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("receipt_scanner_spark") is None:
        print(f"perfbench: no receipt_scanner_spark package under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import inputs as inputs_mod
    from perfbench.sparkrun import WORKLOADS, configure_process

    load_before = _loadavg()
    configure_process(ROOT, WORK)
    nproc = len(os.sched_getaffinity(0))
    inputs = inputs_mod.prepare(WORK / "inputs", args.workload, args.seed)
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    stem = records / f"{args.workload}-seed{args.seed}-trace{args.trace}"

    t0 = time.perf_counter()
    wl_cls = WORKLOADS[args.workload]
    if args.trace:
        metrics, checks, detail = run_traced(wl_cls, inputs, nproc, stem)
        units = declared_units("per_layer")
    else:
        metrics, checks, detail = run_untraced(wl_cls, inputs, nproc, args.seconds)
        units = declared_units("end_to_end")
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(metrics.keys() ^ units.keys())}")

    provenance = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": nproc, "master": f"local[{nproc}]",
        **_versions(), "input": inputs.meta,
        "loadavg_before": load_before, "loadavg_after": _loadavg(),
        "run_wall_s": time.perf_counter() - t0, **detail,
    }
    failed_share = checks["failed"] / checks["attempted"]
    result = {
        "correct": checks["failed"] == 0,
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    stem.with_suffix(".json").write_text(
        json.dumps({"provenance": provenance, "failed_share": failed_share, **result},
                   indent=1))
    print("provenance " + json.dumps(provenance))
    for k, v in sorted(metrics.items()):
        print(f"{k:32s} {v:>16.6g} {units[k]}")
    print(f"{'failed_share':32s} {failed_share:>16.6g} "
          f"({checks['failed']} of {checks['attempted']} docs)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
