"""Benchmark of the crawler4j-spark engine: one seeded workload per run.

    python3 perfbench/run.py --workload recrawl-warm --seed 7 --seconds 45 --trace 0

Run it from a checkout root (the directory that holds ``crawler4j_spark``).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. The last line of stdout is the JSON result
``{"correct", "attempted", "failed", "metrics"}``; the lines before it name
every metric with its unit. The exit code is non-zero, and no result is
printed, when the engine sources are missing or the run cannot start.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness  # noqa: E402

E2E = ["setup_s", "throughput_per_s", "op_p50_s", "op_tail_s", "peak_rss_mb"]
SPARK_COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks"]


@dataclass
class Ctx:
    spark: object
    box: harness.Box
    run: harness.RunDir
    tracer: harness.Tracer
    rss: harness.RssSampler
    seed: int
    seconds: int
    scale: str
    session_s: float


def workloads() -> dict:
    from perfbench import crawl, dataprep

    return {crawl.NAME: crawl, dataprep.NAME: dataprep}


def layer_names() -> list[str]:
    from perfbench import crawl, dataprep

    return crawl.layer_names() + SPARK_COUNTS + dataprep.layer_names()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["recrawl-warm", "dataprep"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True,
                   help="cap on the measured window; no op starts after it")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny is the self-test smoke size")
    a = p.parse_args(argv)
    if a.seed < 0 or a.seconds < 1:
        p.error("--seed must be >= 0 and --seconds >= 1")
    return a


def _untraced_windows(workload: str, scale: str) -> Path:
    return harness.CACHE / f"windows-{workload}-{scale}.jsonl"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (harness.ROOT / "crawler4j_spark" / "plans" / "engine.py").is_file():
        harness.log(f"no engine sources under {harness.ROOT}; nothing to benchmark")
        return 2
    try:
        import pyspark  # noqa: F401

        mod = workloads()[args.workload]
    except ImportError as e:
        harness.log(f"cannot import the engine: {e}")
        return 2

    box = harness.fit_box()
    harness.CACHE.mkdir(parents=True, exist_ok=True)
    run = harness.RunDir(args.workload, args.seed)
    harness.configure_env(box, run)
    print(f"box: nproc={box.cpus} master={box.master} "
          f"SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"SPARK_DRIVER_MEM={box.driver_mem}", flush=True)
    tracer = harness.Tracer(bool(args.trace))
    spark = None
    try:
        with harness.RssSampler() as rss:
            spark, session_s = harness.start_spark(box, run)
            ctx = Ctx(spark, box, run, tracer, rss, args.seed, args.seconds,
                      args.scale, session_s)
            out = mod.run(ctx)
    finally:
        tracer.unwrap_all()
        if spark is not None:
            harness.stop_spark(spark)
        run.close()
    out.e2e["peak_rss_mb"] = (rss.peak_mb, "MB")
    out.info["session_start_s"] = round(session_s, 3)

    windows = _untraced_windows(args.workload, args.scale)
    if args.trace:
        for name in layer_names():  # layers this workload leaves idle read 0
            out.layers.setdefault(name, (0.0, harness.layer_unit(name)))
        past = []
        if windows.exists():
            past = [json.loads(x)["window_s"] for x in windows.read_text().splitlines()]
        if past:
            ratio = out.info["window_s"] / harness.median(past)
            print(f"trace_overhead: {ratio:.3f} (traced window / median of "
                  f"{len(past)} untraced windows)")
        else:
            print("trace_overhead: n/a (no untraced run of this workload in this checkout)")
    elif not out.failed:
        with open(windows, "a") as f:
            f.write(json.dumps({"seed": args.seed, "window_s": out.info["window_s"]}) + "\n")

    for k, (v, unit) in out.e2e.items():
        if not math.isfinite(v):
            out.e2e[k] = (0.0, unit)
    fail_ratio = out.failed / max(out.attempted, 1)
    print("end_to_end: " + " | ".join(f"{k}={v:.6g} {u}" for k, (v, u) in out.e2e.items())
          + f" | fail_ratio={fail_ratio:.3g} ({out.failed}/{out.attempted} ops)"
          + f" | result_mismatches={out.mismatches}")
    print("detail: " + json.dumps(out.info, default=str))
    if args.trace:
        print("per_layer: " + " | ".join(
            f"{k}={v:.6g} {u}" for k, (v, u) in out.layers.items()))
    names = layer_names() if args.trace else E2E
    print(json.dumps(harness.emit(out, names, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
