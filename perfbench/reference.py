"""Reference results the benchmark checks the engine against.

The crawl reference is the repository's executable spec (``RefSim``) run
level by level over the same corpus, seeds and warm dump. It is computed
outside the measured window and cached per (corpus, rounds).
"""

from __future__ import annotations

import json
import os
from collections import Counter
from itertools import zip_longest
from pathlib import Path

from .harness import cache_dir


def crawl_reference(corpus: Path, seeds: list[dict], rounds: int, spec: dict) -> dict:
    """Visited set, seen set, per-round claim counts, pending frontier and
    docid high-water mark after ``rounds`` breadth-first rounds."""
    final = cache_dir("ref", {"corpus": corpus.name, "rounds": rounds, "v": 1})
    path = final.with_suffix(".json")
    if path.exists():
        with open(path) as f:
            return json.load(f)

    import pyarrow.parquet as pq

    from crawler4j_spark.plans.refsim import (CorpusPage, RefSim, SimConfig,
                                              SimCorpus)

    pages = {}
    for r in pq.read_table(str(corpus / "pages")).to_pylist():
        pages[r["doc_id"]] = CorpusPage(
            url=r["doc_id"], status_code=r["status_code"],
            content_type=r["content_type"], redirect_to=r["redirect_to"],
            content_length=r["content_length"],
            spans=[(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in r["spans"] or []],
            content_data=r["content_data"])
    robots = {r["host"]: r["body"]
              for r in pq.read_table(str(corpus / "robots")).to_pylist()}
    # One batch = the whole frontier, so a sim round is one BFS level like
    # an engine round. Politeness only orders work inside a level, which
    # changes no set compared here, so the sim skips it.
    sim = RefSim(SimCorpus(pages, robots),
                 SimConfig(max_depth=-1, politeness_ms=0, batch_size=1 << 40))
    for s in seeds:
        sim.add_seed(s["url"], priority=s["priority"])
    warm = pq.read_table(str(corpus / "warm.parquet")).sort_by("ord")
    for url, docid in zip(warm.column("url").to_pylist(),
                          warm.column("docid").to_pylist()):
        sim.add_seen_url(url, docid)
    sim.crawl(max_rounds=rounds)
    per_round = Counter(e["round"] for e in sim.process_log)
    ref = {
        "visited": sorted({v["url"] for v in sim.visited}),
        "seen": sorted(sim.seen),
        "claimed": [per_round[i] for i in range(1, rounds + 1) if per_round[i]],
        "pending": sim.scheduled_pages - sim.processed_pages,
        "last_docid": sim.last_docid,
    }
    tmp = path.with_name(f".{path.name}.{os.getpid()}")
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, path)
    return ref


def crawl_digest(eng, rounds: list[dict]) -> dict:
    """The same quantities read back from the engine's public API."""
    docs = eng.documents()
    visited = ([r["url"] for r in docs.select("url").collect()]
               if docs is not None else [])
    return {
        "visited": visited,
        "seen": eng.seen_map(),
        "claimed": [r["claimed"] for r in rounds],
        "pending": eng.frontier_pending(),
        "last_docid": eng.last_docid,
    }


def crawl_mismatches(got: dict, ref: dict) -> tuple[int, dict[str, int]]:
    """Number of differences between engine and reference, by kind. Docids
    must also be unique and dense (exactly 1..N over the seen set)."""
    ids = sorted(got["seen"].values())
    d = {
        "visited": len(set(got["visited"]) ^ set(ref["visited"]))
        + len(got["visited"]) - len(set(got["visited"])),
        "seen": len(set(got["seen"]) ^ set(ref["seen"])),
        "docid_duplicates": len(ids) - len(set(ids)),
        "docid_gaps": len(set(range(1, len(ids) + 1)) - set(ids)),
        "last_docid": int(got["last_docid"] != ref["last_docid"]),
        "claimed": sum(abs(a - b) for a, b in
                       zip_longest(got["claimed"], ref["claimed"], fillvalue=0)),
        "pending": abs(got["pending"] - ref["pending"]),
    }
    return sum(d.values()), {k: v for k, v in d.items() if v}
