"""The benchmark's workloads: inputs from a seed, one timed batch job (for
kg_build followed by a closed-loop read phase), and the output checks.

Each workload is driven from one process through the program's public
functions only; ``Tracer.layer`` marks every call into a layer.
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import time
from bisect import bisect
from itertools import accumulate

from perfbench import checks

# The sizes keep a run, set-up and checks included, near a minute on 4
# cores of a shared host whose speed can drift by 2x within an hour; every
# run starts a fresh JVM and sets the session up three times.
# Both jobs are bound by stage latency, so fewer pages would not make a
# job much shorter (measured on 4 vCPUs: 600, 1000 and 2000 small
# pages took 20-31 s; 300 and 800 pages of 8.5 KB took 26-29 s and 38 s).
# ``reads``: the job is followed by the read phase over its output.
WORKLOADS = {
    # shuffle/stage latency and driver planning dominate; extraction is small
    "kg_build": {"n_pages": 600, "body_scale": 1, "reads": True},
    # 8.5 KB pages: the Arrow kernel, the per-bucket commit and MinHash-LSH
    # canonicalization do the work; scoring and pruning never run
    "triples_ingest": {"n_pages": 200, "body_scale": 32, "reads": False},
}
CORES = 4
N_BUCKETS = 8          # materialize_triples' default
MIN_LOOKUPS = 200      # closed loop, one client; p95 has >= 10 samples beyond it
LOOKUP_TOP = 10
ANSWERS_CHECKED = 50   # distinct keys whose answers are checked
ZIPF_S = 1.1
KERNEL_SAMPLE_PAGES = 64
KERNEL_SAMPLE_S = 0.5


def zipf_keys(n_items: int, n_keys: int, seed: int, s: float = ZIPF_S) -> list[int]:
    """Seeded Zipf draws over item indices; the popularity order is a
    seeded permutation, so the hot items are not simply the first pages."""
    rng = random.Random(seed * 31 + 17)
    order = list(range(n_items))
    rng.shuffle(order)
    cum = list(accumulate(1.0 / (k + 1) ** s for k in range(n_items)))
    top = cum[-1]
    return [order[min(bisect(cum, rng.random() * top), n_items - 1)]
            for _ in range(n_keys)]


def make_inputs(spark, workload: str, seed: int):
    """Generate and cache the seeded pages/evidence tables."""
    from gossiphs_spark.datagen import pages_df_dist

    w = WORKLOADS[workload]
    pages, evidence = pages_df_dist(spark, n_pages=w["n_pages"], seed=seed,
                                    partitions=2 * CORES,
                                    body_scale=w["body_scale"])
    pages = pages.cache()
    pages.count()
    if workload == "kg_build":
        evidence = evidence.cache()
        evidence.count()
    return pages, evidence


def kg_build_job(spark, tr, pages, evidence, out: str) -> float:
    """build_graph, then write candidates, edges, related and triples.
    Returns triples per second; the triples come out of the whole build, so
    the rate is over all of it."""
    from gossiphs_spark.config import PipelineConfig
    from gossiphs_spark.plans.pipeline import build_graph

    t0 = time.perf_counter()
    with tr.layer("pipeline.build_graph"):
        g = build_graph(spark, pages, evidence, PipelineConfig())
    for name in ("candidates", "edges", "related", "triples"):
        with tr.layer(f"pipeline.{name}"):
            getattr(g, name).write.parquet(os.path.join(out, name))
    g.release_caches()
    g.release()
    build_s = time.perf_counter() - t0
    n_triples = _parquet_rows(os.path.join(out, "triples"))
    return n_triples / build_s


def triples_ingest_job(spark, tr, pages, _evidence, out: str) -> float:
    """materialize_triples into the default sink, read_triples, then
    canonicalize_triples and write the result. Returns committed triples
    per second of the commit."""
    from gossiphs_spark import lineage
    from gossiphs_spark.plans.pipeline import canonicalize_triples

    tri_dir = os.path.join(out, "triples")
    with tr.layer("lineage.commit") as rec:
        committed = lineage.materialize_triples(
            spark, pages, tri_dir, run_id="perfbench", n_buckets=N_BUCKETS)
        rec["buckets"] = len(committed)
    commit_s = rec["wall_s"]
    with tr.layer("lineage.read") as rec:
        triples = lineage.read_triples(spark, tri_dir)
        rec["rows_out"] = n_in = triples.count()
    with tr.layer("canonicalize") as rec:
        cached: list = []
        canonicalize_triples(triples, cached_out=cached).write.parquet(
            os.path.join(out, "canonical"))
        for df in cached:
            df.unpersist()
        rec["rows_in"] = n_in
    return n_in / commit_s


JOBS = {"kg_build": kg_build_job, "triples_ingest": triples_ingest_job}


def read_phase(tr, out: str, seed: int, until: float) -> dict:
    """Closed-loop, single-client ``/relate`` lookups over the written
    related table through ``server.GraphHandle`` and ``route_graph``. Keys
    are seeded Zipf draws over the pages, cycled; lookups go on until
    ``time.perf_counter()`` reaches ``until``, and at least
    ``MIN_LOOKUPS`` are made."""
    from gossiphs_spark.datagen import url_of
    from gossiphs_spark.server import GraphHandle, route_graph

    n_pages = WORKLOADS["kg_build"]["n_pages"]
    keys = [url_of(i) for i in zipf_keys(n_pages, MIN_LOOKUPS, seed)]
    lat_ms, statuses, n_rows, answers = [], [], 0, {}
    with tr.layer("server", spark_counters=False) as rec:
        t0 = time.perf_counter()
        handle = GraphHandle(os.path.join(out, "related", "*.parquet"))
        rec["open_s"] = time.perf_counter() - t0
        try:
            while len(lat_ms) < len(keys) or time.perf_counter() < until:
                key = keys[len(lat_ms) % len(keys)]
                q = {"url": [key], "top": [str(LOOKUP_TOP)]}
                t0 = time.perf_counter()
                status, payload = route_graph(handle, "/relate", q)
                lat_ms.append((time.perf_counter() - t0) * 1e3)
                statuses.append(status)
                n_rows += len(payload) if status == 200 else 0
                if len(answers) < ANSWERS_CHECKED and status == 200:
                    answers[key] = [(r["page"], r["other"], r["score"])
                                    for r in payload]
        finally:
            handle.close()
        rec["lookups"] = len(lat_ms)
        rec["rows_per_lookup"] = n_rows / len(lat_ms)
        rec["lookup_p50_ms"] = statistics.median(lat_ms)
        rec["lookup_p95_ms"] = statistics.quantiles(lat_ms, n=100,
                                                    method="inclusive")[94]
    return {"statuses": statuses, "answers": answers}


def kernel_sample(workload: str, seed: int) -> dict:
    """Time the extraction kernel alone on a seeded sample of the pages."""
    from gossiphs_spark.datagen import page_record
    from gossiphs_spark.operators.extract import extract_page

    w = WORKLOADS[workload]
    rng = random.Random(seed * 7 + 3)
    idx = rng.sample(range(w["n_pages"]), KERNEL_SAMPLE_PAGES)
    sample = []
    for i in idx:
        url, _ts, html, *_ = page_record(i, w["n_pages"], seed, w["body_scale"])
        sample.append((url, html))
    n_bytes = sum(len(html) for _, html in sample)
    pages_done, t0 = 0, time.perf_counter()
    while True:
        for url, html in sample:
            extract_page(url, html)
        pages_done += len(sample)
        elapsed = time.perf_counter() - t0
        if elapsed >= KERNEL_SAMPLE_S:
            break
    passes = pages_done / len(sample)
    return {"kernel_ms_per_page": elapsed / pages_done * 1e3,
            "kernel_mb_per_s": n_bytes * passes / elapsed / 1e6,
            "kernel_s_per_page": elapsed / pages_done}


# ------------------------------------------------------------------ checks
def run_checks(workload: str, seed: int, out: str, reads: dict) -> tuple[list, dict]:
    """All output checks of one workload; returns (problem lists, info)."""
    w = WORKLOADS[workload]
    expected = checks.expected_triples(w["n_pages"], seed, w["body_scale"])
    tri_dir = os.path.join(out, "triples")
    got = _rows(tri_dir, ["subj", "pred", "obj", "url"])
    scores, triple_problems = checks.check_triples(expected, got)
    results = [triple_problems]
    info = {"precision": round(scores["precision"], 6),
            "recall": round(scores["recall"], 6)}
    if workload == "kg_build":
        from gossiphs_spark.config import PipelineConfig

        related = _rows(os.path.join(out, "related"), ["page", "other", "score"])
        cands = _rows(os.path.join(out, "candidates"), ["ref_url", "ref_name"])
        edges = _rows(os.path.join(out, "edges"), ["src_url", "dst_url", "weight"])
        results.append(checks.check_graph(related, cands,
                                          PipelineConfig().def_limit))
        results.append(checks.check_relate_answers(reads["answers"], related,
                                                   LOOKUP_TOP))
        info.update(related_hash=checks.table_hash(related),
                    edges_hash=checks.table_hash(edges),
                    related_rows=len(related), edges_rows=len(edges))
    else:
        with open(os.path.join(tri_dir, "lineage.jsonl")) as f:
            records = [json.loads(line) for line in f]
        results.append(checks.check_lineage(records, N_BUCKETS, len(got)))
        canon = _rows(os.path.join(out, "canonical"), ["subj", "pred", "obj", "url"])
        info.update(canonical_hash=checks.table_hash(canon),
                    canonical_rows=len(canon))
    return results, info


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def _rows(path: str, columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(_parquet_files(path), columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))
