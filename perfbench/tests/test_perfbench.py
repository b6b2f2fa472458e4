"""Self-tests of the benchmark, kept out of the repository's tier-1 suite
because each one starts Spark:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

They run the workloads at the tiny scale, check the result-line contract,
and inject faults to show that a wrong result is reported as a mismatch
and a raising operation as a failure.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys

import pytest

from perfbench import crawl, dataprep, harness, reference
from perfbench.run import E2E, Ctx

ROOT = harness.ROOT
RUN = [sys.executable, "perfbench/run.py"]


def _bench(*args: str, cwd=ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(RUN + list(args), cwd=cwd, capture_output=True,
                          text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["recrawl-warm", "dataprep"])
def test_tiny_smoke(workload):
    r = _result(_bench("--workload", workload, "--seed", "3", "--seconds", "60",
                       "--trace", "0", "--scale", "tiny"))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert sorted(r["metrics"]) == sorted(E2E)
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_traced_run_prints_every_layer():
    r = _result(_bench("--workload", "recrawl-warm", "--seed", "3", "--seconds",
                       "60", "--trace", "1", "--scale", "tiny"))
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    assert sorted(r["metrics"]) == sorted(m["name"] for m in declared)
    assert r["metrics"]["engine.round_jobs"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _bench("--workload", "dataprep", "--seed", "1", "--seconds", "10",
               "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ------------------------------------------------- in-process fault injection


@pytest.fixture(scope="module")
def make_ctx():
    box = harness.fit_box()
    base = harness.RunDir("selftest", 0)
    harness.configure_env(box, base)
    spark, session_s = harness.start_spark(box, base)
    dirs = [base]

    def make(seed: int) -> Ctx:
        dirs.append(harness.RunDir("selftest", seed))
        return Ctx(spark, box, dirs[-1], harness.Tracer(False),
                   harness.RssSampler(), seed, 120, "tiny", session_s)

    yield make
    harness.stop_spark(spark)
    for d in dirs:
        d.close()


def test_dropped_docid_is_a_mismatch(make_ctx, monkeypatch):
    real = reference.crawl_digest

    def drop_one(eng, rounds):
        got = real(eng, rounds)
        got["seen"].pop(max(got["seen"], key=got["seen"].get))
        return got

    monkeypatch.setattr(reference, "crawl_digest", drop_one)
    out = crawl.run(make_ctx(5))
    assert out.failed == 0 and out.mismatches > 0


def test_raising_round_counts_toward_fail_ratio(make_ctx, monkeypatch):
    from crawler4j_spark.plans.engine import CrawlEngine

    real, calls = CrawlEngine.run_round, []

    def second_round_raises(self):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected fault")
        return real(self)

    monkeypatch.setattr(CrawlEngine, "run_round", second_round_raises)
    out = crawl.run(make_ctx(6))
    # warm batch + round 1 done, round 2 raised: 1 of 3 ops failed
    assert (out.attempted, out.failed) == (3, 1)


def test_wrong_query_result_is_a_mismatch(make_ctx, monkeypatch):
    from crawler4j_spark.operators import analytics

    fn, oracle = analytics.REGISTRY["frontier_claim"]
    monkeypatch.setitem(analytics.REGISTRY, "frontier_claim",
                        (lambda spark, d: fn(spark, d).limit(99), oracle))
    out = dataprep.run(make_ctx(7))
    assert out.failed == 0 and out.mismatches > 0


def test_tail_is_highest_percentile_with_ten_beyond():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    value, pct, n = harness.tail([float(i) for i in range(1, 41)])
    assert (value, pct, n) == (30.0, 75.0, 40)  # 31..40 lie beyond it
