#!/usr/bin/env python3
"""Ingest-and-query benchmark: one workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0

Workloads: ``ingest_trickle`` (reference-sized micro-batches with
schema drift; its traced run adds the 100k-event bulk backlog at
``local[nproc]`` and ``local[1]``) and ``query_mix`` (a fixed list of
registry queries at sf0.1).
Inputs are generated from ``--seed``; the package receives only those
inputs. Every output is checked (ingest against the generator's
manifest, queries against their DuckDB oracle).

Standard output: one ``name = value unit`` line per user-facing metric
under the names of the benchmark's definition (``events_per_s``,
``batch_p50_s``, ``query_pass_s``, ``failed_ratio``, ...), then, as the
last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) of ``BENCHMARK.json``. A traced run
also writes its spans and per-batch/per-query rows to
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
# trickle: 8 types x ~100 events per micro-batch (the reference's
# sample TAKE_UP_TO_PER_BATCH), three batches at --seconds 20 (one
# batch takes 3-4 s here); bulk (traced run only): one 100k-event batch
# of 6 types with a stable schema, after a 10k-event warm-up batch
TRICKLE_BATCHES_PER_S = 0.15
BULK_TYPES = 6
BULK_EVENTS = 100_000
BULK_WARM_EVENTS = 10_000


def metric_units(kind: str) -> dict[str, str]:
    """``end_to_end`` or ``per_layer`` metric names and units."""
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def stop_jvm() -> None:
    """End the JVM PySpark started and wait for it: it exits when its
    stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def backlog_specs(seconds: float):
    from perfbench.events import BacklogSpec

    trickle = BacklogSpec(8, 100, max(3, round(seconds * TRICKLE_BATCHES_PER_S)), drift=True)
    bulk = BacklogSpec(
        BULK_TYPES, BULK_EVENTS // BULK_TYPES, 1, drift=False,
        warm_per_type=BULK_WARM_EVENTS // BULK_TYPES,
    )
    return trickle, bulk


def user_lines(workload: str, result) -> list[tuple[str, float, str]]:
    """The metrics a user reads, under the names of the definition."""
    e, i = result.e2e, result.info
    lines = [("setup_s", e["setup_s"], "s")]
    if workload == "ingest_trickle":
        lines += [
            ("events_per_s", i["events_per_s"], "events/s"),
            ("batch_p50_s", result.layer["step.p50_s"], "s"),
            (f"batch_tail_s (p{i['batch_tail_pct']:.0f} of {i['batches']} batches, "
             f"{i['batch_tail_beyond']} beyond)", i["batch_tail_s"], "s"),
            ("readback_s", e["readback_s"], "s"),
        ]
    else:
        lines += [
            ("query_pass_s", e["pass_s"], "s"),
            ("query_p50_s", result.layer["step.p50_s"], "s"),
            ("readback_s", e["readback_s"], "s"),
        ]
    lines += [
        ("failed_ratio", i["failed_ratio"], "ratio"),
        ("peak_rss_mb", result.layer["session.peak_rss_mb"], "MB"),
    ]
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_trickle", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "redis_events_to_clickhouse_tables_spark" / "session.py").is_file() or not (
        root / "tests" / "oracle_harness.py"
    ).is_file():
        print(f"perfbench: {root} holds no source tree of the package; run from the repository root",
              file=sys.stderr)
        return 2
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # the package, the tests' oracle harness and Spark's Python workers
    # all import from the checkout; every scratch file stays inside it
    sys.path.insert(0, str(root))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    submit = [
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if args.trace:
        # one trickle run issues more jobs than the status store keeps
        # by default (1000)
        submit += ["--conf spark.ui.retainedJobs=100000", "--conf spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    from perfbench.tracing import Tracer
    from perfbench.workloads import run_ingest, run_query_mix

    tracer = Tracer() if args.trace else None
    try:
        if args.workload == "query_mix":
            result = run_query_mix(work, args.seed, args.seconds, tracer)
        else:
            trickle, bulk = backlog_specs(args.seconds)
            result = run_ingest(work, args.seed, trickle, tracer, bulk if tracer else None)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()

    for name, value, unit in user_lines(args.workload, result):
        print(f"{name} = {value:.6g} {unit}")
    for problem in result.problems:
        print(f"check failed: {problem}")
    # run details (set-up repetitions, per-query times, ...) for the reader
    print(json.dumps({k: v for k, v in result.info.items() if k not in ("per_batch", "per_query")}),
          file=sys.stderr)
    if tracer is not None:
        out = root / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.json"
        tracer.dump(out, {"layer": result.layer, "info": result.info, "e2e": result.e2e})
        print(f"trace written to {out.relative_to(root)}")
        # a layer the workload does not run reports 0
        values = {k: result.layer.get(k, 0.0) for k in metric_units("per_layer")}
        units = metric_units("per_layer")
    else:
        values, units = result.e2e, metric_units("end_to_end")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": not result.problems,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
