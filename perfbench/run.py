"""Seeded end-to-end benchmark of the EDI job stream, corpus curation and
embedding-index paths. See perfbench/README.md for the workloads, the
metrics and the load model.

    python3 perfbench/run.py --workload edi_jobs --seed 1 \
        --seconds 5 --trace 0

Runs from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Traced runs also write their spans and per-layer summary
to ``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    PACKAGE, PER_LAYER, ROOT, host_cpu, now, peak_rss_mb, pin_session_env,
)

WORKLOADS = ("edi_jobs", "corpus_embed")

# Gated end-to-end metrics. Work is counted in CPU seconds: on a shared
# host the hypervisor steals a varying share of the CPUs, which moves wall
# times by up to a third from run to run and CPU time far less. The
# wall-clock figures (wall_s, rows_per_s, jobs_per_s, job latency p50/p95)
# are in the run record next to the stolen share.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "rows_per_cpu_s": "rows/s",
    "job_cpu_p50_s": "s",
    "peak_rss_mb": "MB",
}


def _workload(name: str):
    if name == "edi_jobs":
        import edi as mod
    else:
        import corpus_embed as mod
    return mod.Workload(name)


def _cpu_calibration() -> float:
    # the repository's machine-speed probe, recorded beside the results
    sys.path.insert(0, ROOT)
    from bench import _cpu_calibration as calib

    return calib()


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    import numpy as np

    load_start = os.getloadavg()[0]
    calib = _cpu_calibration()
    pinned = pin_session_env(work)
    wl = _workload(args.workload)
    wl.prepare(np.random.default_rng(args.seed), work)

    t0 = now()
    sys.path.insert(0, ROOT)
    from etl_edi_data_scrapper_spark.session import get_spark

    spark = get_spark()
    session_s = now() - t0
    warm = wl.warm_up(spark)
    setup_s = now() - t0

    passes = []
    steal0 = host_cpu()
    t_start = now()
    while not passes or now() - t_start < args.seconds:
        passes.append(wl.timed_pass(spark))
    steal1 = host_cpu()
    attempted = sum(p.get("ops", p["jobs"]) for p in [warm, *passes])
    failed = sum(p["failed"] for p in [warm, *passes])
    e2e = wl.summarize(passes)
    e2e["setup_s"] = setup_s

    layer = None
    if args.trace:
        layer, traced = wl.traced(spark, untraced_wall=passes[-1]["wall"])
        attempted += traced.get("ops", traced.get("jobs", 0))
        failed += traced["failed"]
    e2e["peak_rss_mb"] = peak_rss_mb()
    spark.stop()
    _stop_jvm()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "params": wl.params,
        "session": pinned,
        "load_avg_start": load_start,
        "calib_md5_64mb_sec": calib,
        # share of host CPU time stolen by the hypervisor while timing
        "steal_frac_timed": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "session_s": session_s,
        "passes": len(passes),
        "jobs": attempted,
        "error_frac": failed / max(1, attempted),
        "e2e": e2e,
    }
    if args.trace:
        record["layer"] = layer
        path = os.path.join(ROOT, ".perfbench",
                            f"trace-{args.workload}-seed{args.seed}.json")
        wl.tracer.write(path, record)
    print(json.dumps(record, default=str))

    if args.trace:
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
