"""Benchmark for the sac2mseed_spark rollup engine.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0

Runs one workload (backfill, ingest_serve or query_suite) against the
engine's public API at local[nproc] from a single Python process, checks
the outputs, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end set; with ``--trace 1`` they are the per-layer
set, from spans the benchmark records around its calls into each engine
layer plus Spark counters parsed from the local event log. The line
before it carries the host block and workload detail. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, Session, StealMeter, Tracer, job_counters, log, median, sum_counters  # noqa: E402
from inputs import PANEL  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "unit_p50_s": "s",
    "items_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.rows": "count",
    "metrics.derive_s": "s",
    "rollup.1m_s": "s",
    "rollup.1h_s": "s",
    "rollup.1d_s": "s",
    "rollup.points": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "pack.encode_1m_s": "s",
    "pack.encode_1h_s": "s",
    "pack.blobs": "count",
    "pack.payload_bytes": "bytes",
    "pack.bytes_per_point_1m": "B/pt",
    "pack.bytes_per_point_1h": "B/pt",
    "pack.decode_s": "s",
    "pack.decode_points": "count",
    "pipeline.commit_s": "s",
    "pipeline.compact_s": "s",
    "pipeline.heal_s": "s",
    "pipeline.jobs_per_commit": "count",
    "pipeline.chain_length_max": "count",
    "pipeline.state_bytes_per_point": "B/pt",
    "read.plan_s": "s",
    "read.exec_s": "s",
    "read.p50_ms": "ms",
    "read.p75_ms": "ms",
    "selections.blobs_decoded_frac": "ratio",
    "suite.build_s": "s",
    "suite.plan_s": "s",
    "suite.exec_s": "s",
    "suite.jobs": "count",
    "suite.build_jobs": "count",
    **{f"query.{q}_s": "s" for q in PANEL},
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


class Context:
    def __init__(self, spark, tracer, untraced, seed, seconds, work):
        self.spark = spark
        self.tracer = tracer
        self.untraced = untraced  # a disabled tracer for set-up and checks
        self.seed = seed
        self.seconds = seconds
        self.work = work


def _workload(name: str):
    if name == "backfill":
        import wl_backfill as mod
    else:
        import wl_ingest as mod
    return mod


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "ingest_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sac2mseed_spark", "session.py")):
        log(f"engine package sac2mseed_spark not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    traced = bool(args.trace)
    build = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(build, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal = StealMeter()
    run_id = uuid.uuid4().hex[:12]

    session = None
    try:
        session = Session(work, traced)
        sc = session.spark.sparkContext
        tracer = Tracer(sc, traced, run_id)
        ctx = Context(session.spark, tracer, Tracer(sc, False, run_id), args.seed, args.seconds, work)
        res = _workload(args.workload).run(ctx)
        host = session.host(steal.pct())
    finally:
        if session is not None:
            session.close()

    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(res["layers"])
    layers["session.start_s"] = session.start_s
    if traced:
        counters = job_counters(session.event_dir)
        # probes time one layer in isolation; their jobs are not the workload's
        measured = tracer.under("measure") - tracer.under("probe")
        tot = sum_counters(counters, measured)
        units = max(res["units"], 1)
        layers["spark.tasks"] = tot["tasks"] / units
        layers["spark.executor_run_s"] = tot["run_ms"] / 1000.0 / units
        layers["spark.shuffle_write_bytes"] = tot["shuffle_write"] / units
        layers["spark.spill_bytes"] = tot["spill"] / units
        jobs = tracer.jobs(counters)
        layers["suite.jobs"] = sum(jobs["suite.exec"])
        layers["suite.build_jobs"] = sum(jobs["suite.build"])
        layers["pipeline.jobs_per_commit"] = median(jobs["pipeline.commit"])
        os.makedirs(os.path.join(build, "traces"), exist_ok=True)
        tracer.dump(os.path.join(build, "traces", f"{args.workload}-s{args.seed}-{run_id}.jsonl"))

    e2e = {
        "setup_s": session.start_s + res["setup_s"],
        "unit_p50_s": res["unit_p50_s"],
        "items_per_s": res["items_per_s"],
    }
    for err in res["errors"]:
        log(f"FAILED: {err}")
    shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_id": run_id,
        "host": host,
        "end_to_end": e2e,
        "failed_ops_frac": res["failed"] / max(res["attempted"], 1),
        **res["detail"],
    }
    print(json.dumps(detail))
    spec = PER_LAYER if traced else END_TO_END
    values = layers if traced else e2e
    correct = res["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in spec.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main()
    log(f"perfbench: {time.perf_counter() - t0:.1f}s total")
    sys.exit(rc)
