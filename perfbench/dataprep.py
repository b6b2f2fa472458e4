"""``dataprep``: a pass of ``operators.analytics.REGISTRY`` queries over
seeded synthetic tables, each result checked against the query's DuckDB
oracle SQL.

The tables follow the schema and value ranges of the repository's
TPC-H-like test data (plus ``documents``, ``embeddings`` and ``events``)
and are generated from the seed with NumPy, so a run reads nothing
outside its checkout.
"""

from __future__ import annotations

import math
import time
from collections import Counter

import numpy as np

from .harness import (Outcome, SparkJobs, cache_dir, cache_tmp, layer_unit,
                      log, median, publish, tail)

NAME = "dataprep"

# Rows per table; "full" is about 1/500 of TPC-H scale factor 1.
SIZES = {
    "full": dict(customer=300, orders=3_000, lineitem=12_000, part=400,
                 supplier=20, documents=1_000, embeddings=1_000, events=2_000),
    "tiny": dict(customer=30, orders=300, lineitem=1_200, part=40,
                 supplier=5, documents=100, embeddings=100, events=200),
}

# The timed pass: one query from each family of the registry, weighted
# to the operators whose plans were tuned (see plans/r06). Traced runs
# time every other registry query afterwards.
QUERIES = {
    "full": ["frontier_claim", "politeness_slots", "docid_mint", "seen_antijoin",
             "url_canonicalize", "domain_split", "anchor_normalize",
             "robots_prefix_gate", "junk_link_filter", "robots_cache_lookup",
             "dedup_minhash_lsh", "dedup_simhash", "doc_fingerprint", "pii_scrub",
             "boilerplate_shingles", "embedding_topk", "ann_ivf_probe",
             "events_sessionize", "multimodal_decode", "graph_pagerank_step"],
    "tiny": ["frontier_claim", "url_canonicalize", "dedup_simhash", "events_sessionize"],
}

# Run in set-up, before the window: other registry queries that take the
# JVM's JIT and the Python workers' imports through the common paths
# (parquet scan, shuffle, window, pandas UDF) so that a cold first query
# does not carry the whole process warm-up.
WARMUP = {
    "full": ["dedup_exact", "token_count", "content_type_dispatch",
             "events_tumbling", "within_page_dedup", "lang_id_heuristic",
             "seed_pipeline", "quality_score"],
    "tiny": ["dedup_exact"],
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_WORDS = ("key agg row scan slow fast table value part hash merge batch spark a "
          "the line sort window data column join small customer query order "
          "group filter stream big vector").split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def layer_names() -> list[str]:
    from crawler4j_spark.operators.analytics import REGISTRY

    return [f"analytics.{q}_s" for q in REGISTRY]


# ----------------------------------------------------------------- tables


def _ts(rng, n: int, start: str, days: int, intraday: bool):
    base = np.datetime64(start, "us")
    span_us = days * 86_400_000_000
    if intraday:
        off = np.sort(rng.integers(0, span_us, n))
    else:
        off = rng.integers(0, days, n) * 86_400_000_000
    return base + off.astype("timedelta64[us]")


def generate_tables(n: dict, seed: int) -> dict:
    """Seeded tables as pyarrow Tables (same schema as the test data)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    r2 = lambda x: np.round(x, 2)  # noqa: E731
    i64 = lambda k: pa.array(np.arange(k, dtype=np.int64))  # noqa: E731
    nc, no, nl, npart, ns = (n["customer"], n["orders"], n["lineitem"],
                             n["part"], n["supplier"])
    nd, ne, nev = n["documents"], n["embeddings"], n["events"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": i64(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": r2(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    t["supplier"] = pa.table({
        "s_suppkey": i64(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": r2(rng.uniform(-999.99, 9999.99, ns))})
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    t["part"] = pa.table({
        "p_partkey": i64(npart),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": r2(900.0 + (np.arange(npart) % 1000) / 10.0)})
    t["orders"] = pa.table({
        "o_orderkey": i64(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": r2(rng.uniform(1000.0, 500_000.0, no)),
        "o_orderdate": pa.array(_ts(rng, no, "1995-01-01", 2404, False)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": r2(qty * rng.uniform(900.0, 2100.0, nl)),
        "l_discount": r2(rng.integers(0, 11, nl) / 100.0),
        "l_tax": r2(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_ts(rng, nl, "1995-01-02", 2498, False))})
    texts = [" ".join(rng.choice(_WORDS, int(k)))
             for k in rng.integers(8, 90, nd)]
    t["documents"] = pa.table({
        "doc_id": i64(nd), "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    emb = rng.normal(size=(ne, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": i64(ne),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne).astype(np.int32))})
    t["events"] = pa.table({
        "event_id": i64(nev),
        "ts": pa.array(_ts(rng, nev, "2024-01-01", 30, True)),
        "user_id": rng.integers(0, max(nev // 66, 10), nev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], nev),
        "value": np.maximum(r2(rng.exponential(50.0, nev)), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)]})
    return t


def ensure_tables(scale: str, seed: int):
    """Generated tables as ``<dir>/<name>.parquet``, once per (scale,
    seed). Returns (dir, generation seconds or 0 when cached)."""
    import pyarrow.parquet as pq

    final = cache_dir("tables", {"tables": 1, "scale": scale, "seed": seed})
    if final.exists():
        return final, 0.0
    t0 = time.perf_counter()
    tmp = cache_tmp(final)
    for name, table in generate_tables(SIZES[scale], seed).items():
        pq.write_table(table, str(tmp / f"{name}.parquet"))
    publish(tmp, final)
    return final, time.perf_counter() - t0


# ----------------------------------------------------------------- oracle


# Two floats rounded to 6 decimals match when they differ by at most one
# unit in the last place. Spark's ROUND(x, 6) rounds the double's decimal
# string half-up, DuckDB's rounds the binary double, so a tie such as
# 0.2534375 reads 0.253438 on one side and 0.253437 on the other.
FLOAT_TOL = 1.0000001e-6


def _cell(v) -> tuple:
    if isinstance(v, float):
        return ("nan", 0.0) if math.isnan(v) else ("f", round(v, 6))
    return ("s", str(v))


def canonical(df) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form: columns by name, floats to 6 decimals,
    everything else stringified, rows sorted."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in rec)
            for rec in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def _same(a: tuple, b: tuple) -> bool:
    return all(x == y or (x[0] == y[0] == "f" and abs(x[1] - y[1]) <= FLOAT_TOL)
               for x, y in zip(a, b))


def result_mismatches(got, want) -> int:
    """Rows that differ between the two results: row by row in sorted
    order when the row counts agree, else rows present on one side only.
    A differing column set counts as every row."""
    gcols, grows = canonical(got)
    wcols, wrows = canonical(want)
    if gcols != wcols:
        return 1 + max(len(grows), len(wrows))
    if len(grows) != len(wrows):
        diff = Counter(grows)
        diff.subtract(Counter(wrows))
        return sum(abs(v) for v in diff.values())
    return sum(not _same(a, b) for a, b in zip(grows, wrows))


def oracle_con(data_dir):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# -------------------------------------------------------------------- run


def run(ctx) -> Outcome:
    from crawler4j_spark.operators.analytics import REGISTRY

    spark, tracer = ctx.spark, ctx.tracer
    out = Outcome()
    data, gen_s = ensure_tables(ctx.scale, ctx.seed)
    out.info["tables_gen_s"] = round(gen_s, 3)
    sf_dir = str(data)
    queries = QUERIES[ctx.scale]

    results, lat = {}, {}
    t0 = time.perf_counter()
    for q in WARMUP[ctx.scale]:  # checked and traced like the others
        t = time.perf_counter()
        results[q] = REGISTRY[q][0](spark, sf_dir).toPandas()
        lat[q] = time.perf_counter() - t
    warmup_s = time.perf_counter() - t0

    jobs = SparkJobs(spark)
    jobs.mark("perfbench-dataprep")
    w0 = time.perf_counter()
    deadline = w0 + ctx.seconds
    done = 0
    try:
        for q in queries:
            if time.perf_counter() >= deadline:
                break
            fn, _ = REGISTRY[q]
            t = time.perf_counter()
            with tracer.span(f"analytics.{q}"):
                results[q] = fn(spark, sf_dir).toPandas()
            lat[q] = time.perf_counter() - t
            done += 1
    except Exception:
        out.fail_rest(len(queries), done, f"query {queries[done]}")
    window_s = time.perf_counter() - w0
    ctx.rss.stop()
    out.attempted = done + out.failed
    spark_counts = jobs.counts()

    if tracer.enabled:  # every other registry query, outside the window
        for q, (fn, _) in REGISTRY.items():
            if q in lat:
                continue
            t = time.perf_counter()
            try:
                results[q] = fn(spark, sf_dir).toPandas()
            except Exception:
                out.attempted += 1
                out.fail_rest(1, 0, f"query {q}")
                continue
            lat[q] = time.perf_counter() - t
            out.attempted += 1

    con = oracle_con(sf_dir)
    bad = {}
    for q, got in results.items():
        n = result_mismatches(got, con.sql(REGISTRY[q][1]).df())
        if n:
            bad[q] = n
    con.close()
    out.mismatches = sum(bad.values())
    if bad:
        log(f"oracle mismatches by query: {bad}")

    window_lat = [lat[q] for q in queries if q in lat and q in results]
    t_val, t_pct, t_n = tail(window_lat) if window_lat else (float("nan"), 0.0, 0)
    out.e2e = {
        "setup_s": (ctx.session_s + warmup_s, "s"),
        "throughput_per_s": (len(window_lat) / window_s, "1/s"),
        "op_p50_s": (median(window_lat) if window_lat else float("nan"), "s"),
        "op_tail_s": (t_val, "s"),
    }
    out.info.update({
        "window_s": round(window_s, 3),
        "dataprep_s": round(window_s, 3),
        "queries": len(window_lat),
        "query_p50_s": round(out.e2e["op_p50_s"][0], 3),
        "query_tail_s": f"{t_val:.3f} (p{t_pct:g} of n={t_n})",
        "query_s": {q: round(lat[q], 3) for q in queries if q in lat},
    })
    if tracer.enabled:
        out.layers = {f"analytics.{q}_s": (lat.get(q, 0.0), "s") for q in REGISTRY}
        out.layers.update({k: (v, layer_unit(k)) for k, v in spark_counts.items()})
    return out
