"""``recrawl-warm``: a crawl that resumes over a large URL-seen set.

Set-up builds the engine over a seeded corpus and adds the seeds. The
measured window is closed-loop, one driver: one bulk warm-start batch
(``add_seen_urls_bulk``), then crawl rounds driven through
``CrawlStream``, each starting after the previous commit, then the
store's garbage sweep.

Every round claims the whole pending frontier (``round_size`` above the
corpus size). Rounds are then breadth-first levels, so the visited and
seen URL sets after k rounds do not depend on the order inside a round,
and the reference simulator run level by level (batch = whole frontier)
for the same k rounds must produce the same sets, per-round claim counts
and pending frontier.
"""

from __future__ import annotations

import os
import random
import time

from .harness import (Outcome, SparkJobs, cache_dir, cache_tmp, layer_unit,
                      log, median, publish, tail)
from . import reference

NAME = "recrawl-warm"

# full: ~20 s of rounds on 4 vCPUs; tiny: the self-test smoke size
SPECS = {
    "full": dict(n_pages=20_000, n_hosts=32, n_seeds=2_500, rounds=2,
                 warm_share=0.75, never_linked_per_page=3),
    "tiny": dict(n_pages=400, n_hosts=6, n_seeds=20, rounds=2,
                 warm_share=0.75, never_linked_per_page=3),
}
ZIPF_S = 1.1
FANOUT = 10
POLITENESS_MS = 50
PHASES = ("claim_slots", "fetch", "parse_candidates", "dedup_mint",
          "gates_admit", "bloom_update", "frontier_rewrite", "round_state")


def layer_names() -> list[str]:
    return (
        [f"engine.phase_s.{p}" for p in PHASES]
        + [f"engine.phase_jobs.{p}" for p in PHASES]
        + ["engine.round_jobs", "engine.phase_cover_ratio", "engine.new_ratio",
           "engine.admit_ratio", "engine.run_round_s", "engine.add_seeds_s",
           "microbatch.rounds_s", "microbatch.self_s",
           "tableio.commit_s", "tableio.commits", "tableio.stage_s",
           "tableio.gc_s", "tableio.bytes_written", "tableio.files_written",
           "tableio.store_bytes_per_url",
           "seen_filter.load_bitmaps_s", "seen_filter.maybe_seen_ratio",
           "seen_filter.bloom_fp_ratio", "seen_filter.split_rows_per_s",
           "parse.extract_candidates_rows_per_s", "urlkit.canonicalize_us",
           "udfs.canonicalize_batch_us", "mint.mint_docids_rows_per_s",
           "politeness.assign_slots_rows_per_s",
           "warm_start.add_seen_urls_bulk_s"])


# ----------------------------------------------------------------- inputs


def _corpus_key(spec: dict, seed: int) -> dict:
    return {"corpus": 1, "seed": seed, "n_pages": spec["n_pages"],
            "n_hosts": spec["n_hosts"], "n_seeds": spec["n_seeds"],
            "fanout": FANOUT, "zipf": ZIPF_S, "warm_share": spec["warm_share"],
            "never_linked_per_page": spec["never_linked_per_page"]}


def seeds_for(spec: dict) -> list[dict]:
    from crawler4j_spark.sources.corpus_spark import bench_seeds

    return bench_seeds(spec["n_pages"], spec["n_hosts"], ZIPF_S, spec["n_seeds"])


def _warm_dump(urls: list[str], seeds: list[dict], spec: dict, seed: int):
    """The previous crawl's URL-seen dump: a ``warm_share`` of the corpus
    URLs (never a seed) plus never-linked URLs on the same hosts, in a
    seeded arrival order, with docids above the seeds'."""
    rng = random.Random(seed)
    seed_urls = {s["url"] for s in seeds}
    warm = [u for u in sorted(urls)
            if u not in seed_urls and rng.random() < spec["warm_share"]]
    hosts = sorted({u.split("/")[2] for u in urls})
    for k in range(spec["never_linked_per_page"] * spec["n_pages"]):
        warm.append(f"http://{rng.choice(hosts)}/archive/{k}/old.html")
    rng.shuffle(warm)
    base = len(seeds)
    return list(range(len(warm))), warm, [base + 1 + i for i in range(len(warm))]


def ensure_corpus(spark, spec: dict, seed: int):
    """Seeded corpus, robots bodies and warm dump as parquet, generated once
    per (spec, seed). Returns (dir, generation seconds or 0 when cached)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawler4j_spark.sources.corpus_spark import (bench_robots,
                                                      generate_corpus_spark)

    final = cache_dir("corpus", _corpus_key(spec, seed))
    if final.exists():
        return final, 0.0
    t0 = time.perf_counter()
    tmp = cache_tmp(final)
    generate_corpus_spark(
        spark, n_pages=spec["n_pages"], n_hosts=spec["n_hosts"], seed=seed,
        fanout=FANOUT, zipf_s=ZIPF_S).write.parquet(str(tmp / "pages"))
    bench_robots(spark, spec["n_hosts"]).write.parquet(str(tmp / "robots"))
    urls = pq.read_table(str(tmp / "pages"), columns=["doc_id"]).column("doc_id").to_pylist()
    ords, warm, docids = _warm_dump(urls, seeds_for(spec), spec, seed)
    pq.write_table(pa.table({"ord": pa.array(ords, pa.int64()),
                             "url": pa.array(warm, pa.string()),
                             "docid": pa.array(docids, pa.int64())}),
                   str(tmp / "warm.parquet"))
    publish(tmp, final)
    return final, time.perf_counter() - t0


def engine_config(spec: dict, cpus: int):
    from crawler4j_spark.plans.engine import EngineConfig
    from crawler4j_spark.plans.refsim import SimConfig

    buckets = max(cpus * 2, 16)
    expected = spec["n_pages"] * (2 + spec["never_linked_per_page"])
    return EngineConfig(
        sim=SimConfig(max_depth=-1, politeness_ms=POLITENESS_MS),
        round_size=10 * expected,  # whole frontier: rounds are BFS levels
        n_seen_buckets=buckets,
        expected_urls_per_bucket=max(expected // buckets, 10_000),
        mint_buckets=cpus,
        exact_claim=False,
        dense_seq_distributed=True,
    )


# ------------------------------------------------------------------ run


def _install_spans(tracer, eng) -> None:
    import crawler4j_spark.plans.engine as engine_mod

    def staged(span, entries):
        span.attrs["files"] = len(entries)
        span.attrs["bytes"] = sum(
            os.path.getsize(os.path.join(eng.store.root, e["path"]))
            for e in entries)

    tracer.wrap(eng, "run_round", "engine.run_round")
    tracer.wrap(eng, "add_seeds", "engine.add_seeds")
    tracer.wrap(eng, "add_seen_urls_bulk", "warm_start.add_seen_urls_bulk")
    tracer.wrap(eng.store, "commit", "tableio.commit")
    tracer.wrap(eng.store, "stage_dataframe", "tableio.stage", on_result=staged)
    tracer.wrap(eng.store, "gc_unreferenced", "tableio.gc")
    tracer.wrap(engine_mod, "load_bitmaps", "seen_filter.load_bitmaps")


def _store_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def run(ctx) -> Outcome:
    from crawler4j_spark.plans.engine import CrawlEngine
    from crawler4j_spark.streaming.microbatch import CrawlStream

    spark, spec, tracer = ctx.spark, SPECS[ctx.scale], ctx.tracer
    out = Outcome()
    corpus, gen_s = ensure_corpus(spark, spec, ctx.seed)
    out.info["corpus_gen_s"] = round(gen_s, 3)
    seeds = seeds_for(spec)
    cfg = engine_config(spec, ctx.box.cpus)

    # --- set-up: engine over a fresh store, corpus + robots staged, seeds
    t0 = time.perf_counter()
    eng = CrawlEngine(spark, ctx.run.sub("store"),
                      spark.read.parquet(str(corpus / "pages")),
                      spark.read.parquet(str(corpus / "robots")), cfg)
    _install_spans(tracer, eng)
    eng.add_seeds(seeds)
    setup_engine_s = time.perf_counter() - t0

    # --- measured window (closed loop) ---
    jobs = SparkJobs(spark)
    planned, done = 1 + spec["rounds"], 0
    rounds: list[dict] = []
    walls: list[float] = []
    warm_s, n_warm = 0.0, 0
    stream = CrawlStream(eng).rounds()
    w0 = time.perf_counter()
    deadline = w0 + ctx.seconds
    try:
        jobs.mark("perfbench-warm")
        t = time.perf_counter()
        n_warm = eng.add_seen_urls_bulk(spark.read.parquet(str(corpus / "warm.parquet")))
        warm_s = time.perf_counter() - t
        done += 1
        for _ in range(spec["rounds"]):
            if time.perf_counter() >= deadline:
                break
            t = time.perf_counter()
            with tracer.span("microbatch.rounds"):
                m = next(stream, None)
            jobs.note_current()
            if m is None:
                break
            walls.append(time.perf_counter() - t)
            rounds.append(m)
            done += 1
        jobs.mark("perfbench-gc")
        eng.store.gc_unreferenced()
    except Exception:
        out.fail_rest(planned, done, "crawl op")
    window_s = time.perf_counter() - w0
    ctx.rss.stop()
    out.attempted = done + out.failed
    spark_counts = jobs.counts()

    # --- correctness, outside the window ---
    if not out.failed:
        ref = reference.crawl_reference(corpus, seeds, len(rounds), spec)
        got = reference.crawl_digest(eng, rounds)
        out.mismatches, details = reference.crawl_mismatches(got, ref)
        if out.mismatches:
            log(f"reference mismatches: {details}")
        seen_n = len(got["seen"])
    else:
        seen_n = max(eng.last_docid, 1)

    deduped = sum(r["deduped"] for r in rounds)
    minted = sum(r["minted"] for r in rounds)
    admitted = sum(r["admitted"] for r in rounds)
    crawl_wall = sum(walls) or float("nan")
    t_val, t_pct, t_n = tail(walls) if walls else (float("nan"), 0.0, 0)
    store_bytes = _store_bytes(eng.store.root)
    out.e2e = {
        "setup_s": (ctx.session_s + setup_engine_s, "s"),
        "throughput_per_s": ((deduped + admitted) / crawl_wall, "1/s"),
        "op_p50_s": (median(walls) if walls else float("nan"), "s"),
        "op_tail_s": (t_val, "s"),
    }
    out.info.update({
        "window_s": round(window_s, 3),
        "crawl_urls_per_s": round((deduped + admitted) / crawl_wall, 1),
        "round_p50_s": round(out.e2e["op_p50_s"][0], 3),
        "round_tail_s": f"{t_val:.3f} (p{t_pct:g} of n={t_n})",
        "warm_urls_per_s": round(n_warm / warm_s, 1) if warm_s else 0.0,
        "store_bytes_per_url": round(store_bytes / seen_n, 1),
        "rounds": [{"wall_s": round(w, 3),
                    **{k: r[k] for k in ("claimed", "deduped", "minted", "admitted")}}
                   for w, r in zip(walls, rounds)],
        "warm_registered": n_warm,
    })

    if tracer.enabled:
        since = w0
        phase_s = {p: sum(r["phases"].get(p, 0.0) for r in rounds) for p in PHASES}
        n_r = max(len(rounds), 1)
        layers = {f"engine.phase_s.{p}": phase_s[p] for p in PHASES}
        layers.update({f"engine.phase_jobs.{p}":
                       sum(r["phase_jobs"].get(p, 0) for r in rounds) / n_r for p in PHASES})
        stage_spans = tracer.select("tableio.stage", since)
        layers.update({
            "engine.round_jobs": sum(r["jobs"] for r in rounds) / n_r,
            "engine.phase_cover_ratio": sum(phase_s.values()) / crawl_wall,
            "engine.new_ratio": minted / max(deduped, 1),
            "engine.admit_ratio": admitted / max(minted, 1),
            "engine.run_round_s": tracer.total("engine.run_round", since),
            "engine.add_seeds_s": tracer.total("engine.add_seeds"),
            "microbatch.rounds_s": tracer.total("microbatch.rounds", since),
            "microbatch.self_s": tracer.total("microbatch.rounds", since)
            - tracer.child_time("microbatch.rounds", "engine.run_round"),
            "tableio.commit_s": tracer.total("tableio.commit", since),
            "tableio.commits": len(tracer.select("tableio.commit", since)),
            "tableio.stage_s": sum(s.dur for s in stage_spans),
            "tableio.gc_s": tracer.total("tableio.gc", since),
            "tableio.bytes_written": sum(s.attrs.get("bytes", 0) for s in stage_spans),
            "tableio.files_written": sum(s.attrs.get("files", 0) for s in stage_spans),
            "tableio.store_bytes_per_url": store_bytes / seen_n,
            "seen_filter.load_bitmaps_s": tracer.total("seen_filter.load_bitmaps", since),
            "warm_start.add_seen_urls_bulk_s": tracer.total(
                "warm_start.add_seen_urls_bulk", since),
        })
        layers.update(spark_counts)
        tracer.unwrap_all()
        layers.update(probe_layers(spark, eng, cfg, ctx.run))
        out.layers = {k: (v, layer_unit(k)) for k, v in layers.items()}
    return out


# ------------------------------------------------------- isolated probes


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def probe_layers(spark, eng, cfg, run) -> dict[str, float]:
    """Lazy operators timed on inputs captured from the workload: the next
    round's claim (the pending frontier) is slotted, fetched, parsed,
    probed against the blooms and minted, each stage forced with a noop
    write on a captured (parquet) copy of its input, so each time covers
    one operator."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from crawler4j_spark.functions import urlkit
    from crawler4j_spark.functions.udfs import canonicalize_batch
    from crawler4j_spark.operators.mint import mint_docids
    from crawler4j_spark.operators.parse import extract_candidates
    from crawler4j_spark.operators.politeness import assign_slots
    from crawler4j_spark.operators.seen_filter import (split_new_vs_maybe_seen,
                                                       with_bucket)

    names = ("politeness.assign_slots_rows_per_s", "parse.extract_candidates_rows_per_s",
             "seen_filter.split_rows_per_s", "seen_filter.maybe_seen_ratio",
             "seen_filter.bloom_fp_ratio", "mint.mint_docids_rows_per_s",
             "urlkit.canonicalize_us", "udfs.canonicalize_batch_us")
    res = dict.fromkeys(names, 0.0)
    frontier = eng.store.read("frontier")
    if frontier is None:
        log("frontier drained: no input for the operator probes")
        return res
    sim = cfg.sim
    cap = run.sub("probe")

    def capture(df, name):
        path = f"{cap}/{name}"
        df.write.parquet(path)
        rows = sum(pq.read_metadata(os.path.join(path, f)).num_rows
                   for f in os.listdir(path) if f.endswith(".parquet"))
        return spark.read.parquet(path), rows

    n_front = eng.frontier_pending()
    slotted = assign_slots(frontier, None, eng.clock, sim.politeness_ms,
                           dense_seq_distributed=True)
    res["politeness.assign_slots_rows_per_s"] = n_front / _timed(lambda: _noop_write(slotted))
    slotted, _ = capture(slotted, "slotted")
    corpus = eng.corpus().withColumnRenamed("doc_id", "url")
    pages, n_pages = capture(
        slotted.join(corpus, "url").filter(
            (F.col("status_code") == 200)
            & (F.col("content_length") <= sim.max_download_size)), "pages")
    cands = extract_candidates(pages, sim.max_outlinks, sim.include_binary,
                               sim.process_binary)
    res["parse.extract_candidates_rows_per_s"] = n_pages / _timed(lambda: _noop_write(cands))
    cands, n_c = capture(with_bucket(cands.dropDuplicates(["url"]), "url",
                                     cfg.n_seen_buckets), "cands")
    blooms = eng.store.read("seen_bloom")
    probed = split_new_vs_maybe_seen(cands, blooms)
    res["seen_filter.split_rows_per_s"] = n_c / _timed(lambda: _noop_write(probed))
    seen_urls = eng.store.read("seen").select("url").withColumn("_seen", F.lit(True))
    flags = (probed.join(seen_urls, "url", "left")
             .select("maybe_seen", F.coalesce("_seen", F.lit(False)).alias("seen"))
             .groupBy("maybe_seen", "seen").count().collect())
    counts = {(r["maybe_seen"], r["seen"]): r["count"] for r in flags}
    unseen = counts.get((True, False), 0) + counts.get((False, False), 0)
    res["seen_filter.maybe_seen_ratio"] = (
        counts.get((True, True), 0) + counts.get((True, False), 0)) / max(n_c, 1)
    res["seen_filter.bloom_fp_ratio"] = counts.get((True, False), 0) / max(unseen, 1)
    fresh, n_f = capture(cands.join(seen_urls.select("url"), "url", "left_anti"), "fresh")
    res["mint.mint_docids_rows_per_s"] = n_f / _timed(lambda: _noop_write(
        mint_docids(fresh, eng.last_docid, n_front, cfg.mint_buckets)))
    spark.catalog.clearCache()

    # driver-side URL kernels over the raw hrefs of the captured pages
    hrefs, ctxs = [], []
    for row in pq.read_table(f"{cap}/pages", columns=["url", "spans"]).to_pylist():
        for s in row["spans"] or []:
            if s["media_ref"]:
                hrefs.append(s["media_ref"])
                ctxs.append(row["url"])
    hrefs, ctxs = hrefs[:20_000], ctxs[:20_000]
    if hrefs:
        t = time.perf_counter()
        for h, c in zip(hrefs, ctxs):
            urlkit.canonicalize(h, c)
        res["urlkit.canonicalize_us"] = (time.perf_counter() - t) / len(hrefs) * 1e6
        hs, cs = pd.Series(hrefs), pd.Series(ctxs)
        res["udfs.canonicalize_batch_us"] = _timed(
            lambda: canonicalize_batch(hs, cs)) / len(hrefs) * 1e6
    return res
