"""The workloads.  Closed loop, one client: one driver thread issues each
request only after the previous one returned.  Run through
``perfbench/run.py``, which owns the process group and the environment.

    python3 -m perfbench.workloads --workload query --seed 1 --seconds 15 --trace 0

Both workloads share one set-up: a Spark session, then a bulk
``build_index`` of the seed's corpus (the build measurement), checked
against the oracle.  ``query`` then serves distinct reads; ``ingest_mix``
interleaves writes with reads.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

from perfbench import gen
from perfbench.oracle import Oracle, check
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
SCHEMA = "repo string, path string, commit string, lang string, content string"
K = 10
# Rounds (query) or cycles (ingest_mix) scheduled per run: several times
# what a timed window at the sizes below completes.
ROUNDS = 20

# Costs on a shared 4-core VM (local[4]), tabled in perfbench/README.md:
# Spark session 5-7 s; the first build_index in a JVM 17-36 s for 40 to
# 1000 docs (JIT and codegen dominate); warm single search_wand 0.33-1.1 s
# (p50 0.45-0.68 s); a 32-query batch 0.75-1.7 s; a match-any plan
# 0.9-1.7 s; add_documents of 20 docs 4.2-7 s; compact_deltas 4.2-4.8 s.
# Set-up is therefore 34-41 s, and a run's wall time 54-61 s with a 15 s
# window, which holds ~2 query rounds (16-20 singles) or one ingest cycle
# (~12 singles), so ingest_mix compacts after every add rather than every
# few.  Singles get most of the window: query_p50_ms is the one timed-window
# metric both workloads measure.  "tiny" is for the self-test.
SIZES = {
    "full": dict(
        docs=1000, singles_per_round=8, batch=32, add_docs=20, deletes=2,
        pops_per_add=4, singles_per_add=12, pool=6,
    ),
    "tiny": dict(
        docs=120, singles_per_round=3, batch=4, add_docs=6, deletes=2,
        pops_per_add=3, singles_per_add=3, pool=4,
    ),
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pctl(xs, p: float) -> float:
    return float(np.percentile(xs, p)) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Bench:
    """Counters, samples and the tracer for one run."""

    def __init__(self, args, sizes: dict):
        self.args = args
        self.warming = False
        self.sz = sizes
        self.t0 = float(os.environ.get("PERFBENCH_T0", time.time()))
        self.excluded = 0.0
        self.tr = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.setup_s = None
        self.t_measure = None
        self.work = os.path.join(STATE, f"run-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)

    @contextmanager
    def excluded_time(self):
        """Benchmark-side generation and oracle work: not set-up cost."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t

    def log(self, msg: str) -> None:
        print(f"[{time.time() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def start_measuring(self) -> None:
        self.setup_s = time.time() - self.t0 - self.excluded
        self.lat.clear()
        self.t_measure = time.perf_counter()
        self.log(f"set-up done: setup_s={self.setup_s:.2f} (excluded {self.excluded:.2f})")

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_measure

    def run_schedule(self, ops) -> None:
        """Issue ops one after another until the timed window closes; the
        window is checked before each op, so it overruns by at most one."""
        for op in ops:
            if self.elapsed() >= self.args.seconds:
                return
            op()

    def sample(self, name: str, value: float) -> None:
        """Per-layer sample; traced runs only, warm-up ops excluded."""
        if self.tr.enabled and not self.warming:
            self.layer[name].append(float(value))

    def call(self, layer: str, fn):
        """One engine call in a layer span -> (value, seconds)."""
        with self.tr.span(layer) as s:
            v = fn()
        self.sample(f"{layer}.spark_jobs", s.counts.get("spark_jobs", 0))
        return v, s.seconds

    def op(self, name: str, fn):
        """One counted operation: an exception or a rejected answer (fn
        returns a reason string) counts as failed.  Returns fn's value, or
        None when the op raised."""
        self.attempted += 1
        try:
            with self.tr.span(f"op:{name}", op=True) as s:
                out = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        self.log(f"{'warm-up ' if self.warming else ''}{name} {s.seconds * 1e3:.0f} ms")
        return out

    def reject(self, what: str, reason: str) -> None:
        print(f"REJECTED {what}: {reason}", file=sys.stderr, flush=True)
        self.failed += 1


@contextmanager
def warming(b: Bench):
    b.warming = True
    try:
        yield
    finally:
        b.warming = False


# -- engine access -------------------------------------------------------


def start_spark(b: Bench):
    from open_source_search_engine_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    # SPARK_LOCAL_DIRS (set by run.py) overrides the session's shuffle dir
    with b.tr.span("session.get_spark") as s:
        spark = get_spark(
            app_name="perfbench",
            cores=nproc,
            extra_conf={
                "spark.executorEnv.PYTHONPATH": ROOT,
                "spark.driver.extraJavaOptions": (
                    f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ.get('TMPDIR', b.work)}"
                ),
            },
        )
    b.tr.bind(spark.sparkContext)
    b.layer["session.get_spark.busy_s"].append(s.seconds)
    b.log(f"session ready in {s.seconds:.2f}s")
    return spark, nproc


def doc_map(spark, idx) -> dict[int, str]:
    """doc_id -> commit, read from the index's docstats table."""
    rows = idx.docstats.read(spark).select("doc_id", "commit").collect()
    return {r["doc_id"]: r["commit"] for r in rows}


def to_pairs(rows, dmap: dict[int, str]) -> list[tuple[str, float]]:
    return [(dmap.get(r["doc_id"], f"unknown-doc-{r['doc_id']}"), r["score"]) for r in rows]


def force(df, *exprs) -> dict:
    """Run a lazy frame into the noop sink; returns observed aggregates."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return obs.get


def layer_stages(b: Bench, df) -> dict[str, float]:
    """Traced runs only: tokenize and encode the op's corpus in their own
    spans (both are lazy inside build_index, so their cost is only
    visible when forced separately)."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.functions.tokenize import tokenize_to_postings
    from open_source_search_engine_spark.operators.build import derive_ids, encode_blocks

    posts = tokenize_to_postings(
        derive_ids(df), code_aware=True, field_terms=True, bigram_terms=True
    ).persist()
    got, tok_s = b.call(
        "functions.tokenize.tokenize_to_postings",
        lambda: force(posts, F.count(F.lit(1)).alias("n")),
    )
    b.sample("functions.tokenize.busy_s", tok_s)
    b.sample("functions.tokenize.postings", got["n"])
    b.sample("functions.tokenize.postings_per_s", got["n"] / tok_s)
    blocks = encode_blocks(posts.select("term_id", "doc_id", "doclen", "tf", "pos_enc"))
    first_salted = (F.col("n_salts") > 1) & (F.col("salt") == 0) & (F.col("block_id") == 0)
    enc, enc_s = b.call(
        "operators.build.encode_blocks",
        lambda: force(
            blocks,
            F.count(F.lit(1)).alias("blocks"),
            F.sum(F.when(first_salted, 1).otherwise(0)).alias("salted"),
        ),
    )
    posts.unpersist()
    b.sample("operators.build.encode_blocks.busy_s", enc_s)
    b.sample("operators.build.encode_blocks.blocks", enc["blocks"])
    b.sample("operators.build.encode_blocks.salted_terms", enc["salted"] or 0)
    return {"tokenize": tok_s, "encode": enc_s}


def finalize_stage(b: Bench, spark, idx) -> float:
    from open_source_search_engine_spark.operators.build import finalize_stats

    _, s = b.call(
        "operators.build.finalize_stats", lambda: finalize_stats(spark, idx, "perfbench")
    )
    b.sample("operators.build.finalize_stats.busy_s", s)
    return s


def build(b: Bench, spark, rows, root: str):
    """build_index of ``rows`` into a fresh root -> (index, seconds)."""
    from open_source_search_engine_spark.operators.build import build_index

    shutil.rmtree(root, ignore_errors=True)
    df = spark.createDataFrame(rows, SCHEMA)
    stages = layer_stages(b, df) if b.tr.enabled else None
    idx, secs = b.call(
        "operators.build.build_index",
        lambda: build_index(spark, df, root, bigram_terms=True, n_shards=2),
    )
    if stages is not None:
        fin = finalize_stage(b, spark, idx)
        b.sample(
            "operators.build.build_index.self_s",
            secs - stages["tokenize"] - stages["encode"] - fin,
        )
    return idx, secs


def verify_index(spark, idx, oracle: Oracle, rng) -> str | None:
    """Docstats doclens and a sample of termstats dfs against the oracle."""
    from pyspark.sql import functions as F

    got = {r["commit"]: r["doclen"] for r in idx.docstats.read(spark).select("commit", "doclen").collect()}
    want = {c: len(t) for c, t in oracle.tokens.items()}
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"docstats differ from the oracle, e.g. {bad}"
    terms = sorted(oracle.postings)
    sample = [terms[int(i)] for i in rng.choice(len(terms), min(40, len(terms)), replace=False)]
    rows = idx.termstats.read(spark).filter(F.col("term").isin(sample)).select("term", "df").collect()
    dfs = {r["term"]: r["df"] for r in rows}
    for t in sample:
        if dfs.get(t) != len(oracle.postings[t]):
            return f"df({t!r}) = {dfs.get(t)}, oracle {len(oracle.postings[t])}"
    return None


def table_layers(b: Bench, spark, idx) -> None:
    """Traced runs only: storage-layer sizes and describe_index densities."""
    from open_source_search_engine_spark.operators.stats import describe_index

    if not b.tr.enabled:
        return
    for name in ("postings", "termdict", "docstats", "termstats"):
        snap = getattr(idx, name).latest()
        b.layer[f"sources.tables.{name}_bytes"].append(
            sum(dir_bytes(p) for p in snap.segments) if snap else 0
        )
    commits = 0
    for name in ("postings", "termdict", "docstats", "termstats", "termstats_partial", "collstats"):
        commits += len(getattr(idx, name).history())
    b.layer["sources.tables.commits"].append(commits)
    if "sources.tables.live_segments" not in b.layer:
        b.layer["sources.tables.live_segments"].append(len(idx.postings.latest().segments))
    d, _ = b.call("operators.stats.describe_index", lambda: describe_index(spark, idx))
    p = d.get("postings", {})
    b.layer["operators.stats.bytes_per_posting"].append(p.get("bytes_per_posting", 0.0))
    b.layer["operators.stats.bytes_per_occurrence_total"].append(
        p.get("bytes_per_occurrence_total", 0.0)
    )
    b.layer["operators.merge.tombstones"].append(d.get("tombstones", 0))


def content_bytes(rows) -> int:
    return sum(len(r[4].encode()) for r in rows)


# -- query-side ops ------------------------------------------------------


def single_query(b, spark, idx, q, oracle, dmap, kind="search_wand") -> None:
    """One timed search_wand call, checked against the oracle afterwards.
    ``kind`` "search_wand" is a distinct query with the serp cache off;
    "mixed" is a popular query with the cache on."""
    from open_source_search_engine_spark.operators.topk import search_wand
    from open_source_search_engine_spark.plans.query import parse_query

    use_cache = kind == "mixed"

    def run():
        if b.tr.enabled:
            _, ps = b.call("plans.query.parse_query", lambda: parse_query(q))
            b.sample("plans.query.parse_query.busy_ms", ps * 1e3)
            if use_cache:
                b.sample("sources.tables.live_segments", len(idx.postings.latest().segments))
        with b.tr.span("operators.topk.search_wand") as s:
            rows = search_wand(spark, idx, q, k=K, enrich=True, use_cache=use_cache).collect()
        b.lat[kind].append(s.seconds)
        if b.tr.enabled:
            jobs = s.counts.get("spark_jobs", 0)
            b.sample("operators.topk.search_wand.busy_ms", s.seconds * 1e3)
            b.sample("operators.topk.search_wand.spark_jobs", jobs)
            b.sample("operators.topk.search_wand.spark_tasks", s.counts.get("spark_tasks", 0))
            if use_cache:
                b.sample("plans.exec.cached_result.hit", 1.0 if jobs == 0 else 0.0)
            elif not b.warming:
                prune_stats(b, spark, idx, q)
        return rows

    rows = b.op(kind, run)
    if rows is not None:
        err = check(oracle.answer(q), to_pairs(rows, dmap), K)
        if err:
            b.reject(f"{kind} {q!r}", err)


def prune_stats(b, spark, idx, q) -> None:
    """Block counts from a repeat call with with_prune_stats=True.  Each
    result row carries its shard's kernel counters; shards that placed no
    doc in the merged top-k are not seen."""
    from open_source_search_engine_spark.operators.topk import search_wand

    rows, _ = b.call(
        "operators.topk.search_wand.prune_stats",
        lambda: search_wand(spark, idx, q, k=K, enrich=False, with_prune_stats=True).collect(),
    )
    per_shard = {(r["blocks_scored"], r["blocks_skipped"], r["other_blocks_decoded"]) for r in rows}
    scored = sum(t[0] for t in per_shard)
    skipped = sum(t[1] for t in per_shard)
    b.sample("operators.topk.search_wand.blocks_scored", scored)
    b.sample("operators.topk.search_wand.blocks_skipped", skipped)
    b.sample("operators.topk.search_wand.other_blocks_decoded", sum(t[2] for t in per_shard))
    b.sample("_skip_base", scored + skipped)
    b.sample("_skipped", skipped)


def batch_query(b, spark, idx, qs, oracle, dmap) -> None:
    from open_source_search_engine_spark.operators.topk import search_wand_batch

    def run():
        with b.tr.span("operators.topk.search_wand_batch") as s:
            rows = search_wand_batch(spark, idx, qs, k=K).collect()
        b.lat["search_wand_batch"].append(s.seconds)
        b.sample("operators.topk.search_wand_batch.busy_ms", s.seconds * 1e3)
        b.sample("operators.topk.search_wand_batch.spark_jobs", s.counts.get("spark_jobs", 0))
        return rows

    rows = b.op("search_wand_batch", run)
    if rows is None:
        return
    by_q: dict[str, list] = defaultdict(list)
    for r in rows:
        by_q[r["query"]].append(r)
    for q in qs:
        err = check(oracle.answer(q), to_pairs(by_q.get(q, []), dmap), K)
        if err:
            b.reject(f"search_wand_batch {q!r}", err)
            break


def any_query(b, spark, idx, q, oracle, dmap) -> None:
    from open_source_search_engine_spark.plans.exec import search

    def run():
        with b.tr.span("plans.exec.search") as s:
            rows = search(spark, idx, q, k=K, match_mode="any").collect()
        b.lat["search_any"].append(s.seconds)
        b.sample("plans.exec.search.busy_ms", s.seconds * 1e3)
        b.sample("plans.exec.search.spark_jobs", s.counts.get("spark_jobs", 0))
        return rows

    rows = b.op("search_any", run)
    if rows is not None:
        err = check(oracle.answer(q, "any"), to_pairs(rows, dmap), K)
        if err:
            b.reject(f"search_any {q!r}", err)


# -- workloads -----------------------------------------------------------


def serving_index(b: Bench, spark, seed: int):
    """Set-up shared by every workload: corpus, oracle and the bulk
    build_index every timed op reads.  This build is the benchmark's build
    measurement (``build_docs_per_s``, ``index_bytes_per_content_byte``
    and, in a traced run, the build layers' spans)."""
    with b.excluded_time():
        vocab = gen.Vocab(seed)
        rows = gen.make_docs(vocab, seed, 0, b.sz["docs"])
        oracle = Oracle()
        oracle.add(rows)
    idx, build_s = build(b, spark, rows, os.path.join(b.work, "serve"))
    with b.excluded_time():
        dmap = doc_map(spark, idx)
        err = verify_index(spark, idx, oracle, np.random.default_rng([seed, 1]))
    if err:
        raise RuntimeError(f"set-up index disagrees with the oracle: {err}")
    b.log(f"set-up build_index of {len(rows)} docs in {build_s:.2f}s")
    built = {
        "build_docs_per_s": len(rows) / build_s,
        "index_bytes_per_content_byte": dir_bytes(idx.root) / content_bytes(rows),
    }
    return vocab, oracle, idx, dmap, built


def read_warmup(b, spark, idx, oracle, dmap, qs, batch, anyq) -> None:
    """Untimed JIT warm-up of each read plan, on queries no timed op uses;
    its cost lands in ``setup_s``."""
    with warming(b):
        for q in qs:
            single_query(b, spark, idx, q, oracle, dmap)
        batch_query(b, spark, idx, batch, oracle, dmap)
        any_query(b, spark, idx, anyq, oracle, dmap)


def wl_query(b: Bench, spark, seed: int) -> dict:
    """Read-only serving: distinct single queries, 32-query batches and
    match-any plans against the set-up index; serp cache off.  A round is
    ``singles_per_round`` singles, one batch and one match-any plan."""
    sz = b.sz
    vocab, oracle, idx, dmap, built = serving_index(b, spark, seed)
    with b.excluded_time():
        qg = gen.QueryGen(np.random.default_rng([seed, 7]), oracle, vocab)
        warm = qg.stream(2 + sz["batch"])
        warm_any = qg.any_stream(1)
        seen = set(warm) | set(warm_any)
        singles = qg.stream(sz["singles_per_round"] * ROUNDS, seen)
        seen |= set(singles)
        batches = []
        for _ in range(ROUNDS):
            batches.append(qg.stream(sz["batch"], seen))
            seen |= set(batches[-1])
        anys = qg.any_stream(ROUNDS, seen)
    read_warmup(b, spark, idx, oracle, dmap, warm[:2], warm[2:], warm_any[0])
    n = sz["singles_per_round"]
    ops = []
    for r in range(ROUNDS):
        ops += [
            (lambda q=q: single_query(b, spark, idx, q, oracle, dmap))
            for q in singles[r * n : (r + 1) * n]
        ]
        ops.append(lambda r=r: batch_query(b, spark, idx, batches[r], oracle, dmap))
        ops.append(lambda r=r: any_query(b, spark, idx, anys[r], oracle, dmap))
    b.start_measuring()
    b.run_schedule(ops)
    table_layers(b, spark, idx)
    batch_s = b.lat["search_wand_batch"]
    return {
        **built,
        "batch_queries_per_s": (
            (sz["batch"] * len(batch_s) / sum(batch_s), "q/s") if batch_s else None
        ),
        "any_query_p50_ms": (median(b.lat["search_any"]) * 1e3, "ms"),
        "batch_calls": (len(batch_s), "count"),
        "any_query_samples": (len(b.lat["search_any"]), "count"),
    }


def wl_ingest_mix(b: Bench, spark, seed: int) -> dict:
    """Writes beside reads.  Each cycle: add_documents of fresh docs,
    tombstone a few live docs, then zipf-popular cached queries from a
    fixed pool interleaved with distinct uncached ones, then
    compact_deltas.  Every commit invalidates the cache."""
    from open_source_search_engine_spark.operators.merge import compact_deltas, delete_docs
    from open_source_search_engine_spark.streaming.incremental import add_documents

    sz = b.sz
    vocab, oracle, idx, dmap, built = serving_index(b, spark, seed)
    rng = np.random.default_rng([seed, 11])
    with b.excluded_time():
        qg = gen.QueryGen(np.random.default_rng([seed, 13]), oracle, vocab)
        warm = qg.stream(4)
        seen = set(warm)
        pool = qg.stream(sz["pool"], seen)
        seen |= set(pool)
        singles = qg.stream(sz["singles_per_add"] * ROUNDS, seen)
        pop = 1.0 / np.arange(1, len(pool) + 1)
        pop /= pop.sum()
    state = {"next": sz["docs"], "dmap": dmap, "write_s": 0.0, "added": 0, "adds": 0}

    def add_batch() -> None:
        with b.excluded_time():
            new = gen.make_docs(vocab, seed, state["next"], sz["add_docs"])
            state["next"] += len(new)
            df = spark.createDataFrame(new, SCHEMA)

        def run():
            if b.tr.enabled:
                layer_stages(b, df)
            _, s = b.call("streaming.incremental.add_documents", lambda: add_documents(spark, idx, df))
            return s

        s = b.op("add_documents", run)
        if s is None:
            return
        oracle.add(new)
        b.lat["add_documents"].append(s)
        b.sample("streaming.incremental.add_documents.busy_ms", s * 1e3)
        state["write_s"] += s
        state["added"] += len(new)
        state["adds"] += 1
        if b.tr.enabled:
            finalize_stage(b, spark, idx)
        state["dmap"] = doc_map(spark, idx)

    def tombstone() -> None:
        live = oracle.live
        commits = [live[int(i)] for i in rng.choice(len(live), sz["deletes"], replace=False)]
        by_commit = {c: d for d, c in state["dmap"].items()}
        ids = [by_commit[c] for c in commits]
        res = b.op(
            "delete_docs",
            lambda: b.call("operators.merge.delete_docs", lambda: delete_docs(spark, idx, ids)),
        )
        if res is None:
            return
        oracle.delete(commits)
        state["write_s"] += res[1]
        b.sample("operators.merge.delete_docs.busy_ms", res[1] * 1e3)

    def compact() -> None:
        res = b.op(
            "compact_deltas",
            lambda: b.call("operators.merge.compact_deltas", lambda: compact_deltas(spark, idx)),
        )
        if res is not None:
            n, s = res
            state["write_s"] += s
            b.sample("operators.merge.compact_deltas.busy_ms", s * 1e3)
            b.sample("operators.merge.compact_deltas.segments_merged", n)

    def read(q: str, kind: str):
        return lambda: single_query(b, spark, idx, q, oracle, state["dmap"], kind)

    with warming(b):
        for q in warm[:2]:
            single_query(b, spark, idx, q, oracle, dmap)
        for q in warm[2:]:
            single_query(b, spark, idx, q, oracle, dmap, "mixed")
    ops = []
    for c in range(ROUNDS):
        ops += [add_batch, tombstone]
        picks = [pool[int(j)] for j in rng.choice(len(pool), sz["pops_per_add"], p=pop)]
        fresh = singles[c * sz["singles_per_add"] : (c + 1) * sz["singles_per_add"]]
        step = -(-len(fresh) // len(picks))
        for j, q in enumerate(picks):
            ops.append(read(q, "mixed"))
            ops += [read(f, "search_wand") for f in fresh[j * step : (j + 1) * step]]
        ops.append(compact)
    b.start_measuring()
    b.run_schedule(ops)
    table_layers(b, spark, idx)
    mixed = b.lat["mixed"]
    return {
        **built,
        "add_p50_ms": (median(b.lat["add_documents"]) * 1e3, "ms"),
        "ingest_docs_per_s": (
            (state["added"] / state["write_s"], "docs/s") if state["write_s"] else None
        ),
        "mixed_query_p50_ms": (median(mixed) * 1e3, "ms"),
        "mixed_query_p95_ms": (pctl(mixed, 95) * 1e3, "ms"),
        "add_samples": (state["adds"], "count"),
        "mixed_query_samples": (len(mixed), "count"),
    }


WORKLOADS = {"query": wl_query, "ingest_mix": wl_ingest_mix}

# The metrics BENCHMARK.json lists: every workload measures each under one
# definition, and each held its bound over ten seeds on a loaded host (see
# perfbench/README.md).  The report line adds every other metric.
END_TO_END_UNITS = {
    "setup_s": "s",
    "index_bytes_per_content_byte": "ratio",
}

PER_LAYER = [
    "functions.tokenize.busy_s",
    "functions.tokenize.postings",
    "functions.tokenize.postings_per_s",
    "operators.build.encode_blocks.busy_s",
    "operators.build.encode_blocks.blocks",
    "operators.build.encode_blocks.salted_terms",
    "operators.build.build_index.self_s",
    "operators.build.build_index.spark_jobs",
    "operators.build.finalize_stats.busy_s",
    "sources.tables.postings_bytes",
    "sources.tables.termdict_bytes",
    "sources.tables.docstats_bytes",
    "sources.tables.termstats_bytes",
    "sources.tables.live_segments",
    "sources.tables.commits",
    "operators.stats.bytes_per_posting",
    "operators.stats.bytes_per_occurrence_total",
    "plans.query.parse_query.busy_ms",
    "operators.topk.search_wand.busy_ms",
    "operators.topk.search_wand.spark_jobs",
    "operators.topk.search_wand.spark_tasks",
    "operators.topk.search_wand.blocks_scored",
    "operators.topk.search_wand.blocks_skipped",
    "operators.topk.search_wand.other_blocks_decoded",
    "operators.topk.search_wand.skip_ratio",
    "operators.topk.search_wand_batch.busy_ms",
    "operators.topk.search_wand_batch.spark_jobs",
    "plans.exec.search.busy_ms",
    "plans.exec.search.spark_jobs",
    "plans.exec.cached_result.hit_ratio",
    "streaming.incremental.add_documents.busy_ms",
    "streaming.incremental.add_documents.spark_jobs",
    "operators.merge.delete_docs.busy_ms",
    "operators.merge.compact_deltas.busy_ms",
    "operators.merge.compact_deltas.segments_merged",
    "operators.merge.tombstones",
    "session.get_spark.busy_s",
    "trace.overhead_ms",
]


def unit_of(name: str) -> str:
    for suffix, unit in (
        ("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
        ("_ratio", "ratio"), ("bytes_per_posting", "bytes"),
        ("bytes_per_occurrence_total", "bytes"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def result_path(args, seed="*") -> str:
    return os.path.join(STATE, "results", f"{args.workload}-{args.scale}-seed{seed}.json")


def untraced_query_p50(args) -> float | None:
    """query_p50_ms of an untraced run recorded in this checkout at the
    same scale: the same seed if there is one, else the latest run."""
    same = result_path(args, args.seed)
    paths = [same] if os.path.exists(same) else sorted(
        glob.glob(result_path(args)), key=os.path.getmtime
    )[-1:]
    for path in paths:
        with open(path) as f:
            return json.load(f)["metrics"]["query_p50_ms"]["value"]
    return None


def layer_metrics(b: Bench) -> dict:
    """Per-layer metric = median over the run's calls (0 for a layer the
    workload never calls); ratios are pooled over calls."""
    out = {name: median(b.layer.get(name, [])) for name in PER_LAYER}
    base = sum(b.layer.get("_skip_base", []))
    out["operators.topk.search_wand.skip_ratio"] = (
        sum(b.layer.get("_skipped", [])) / base if base else 0.0
    )
    hits = b.layer.get("plans.exec.cached_result.hit", [])
    out["plans.exec.cached_result.hit_ratio"] = sum(hits) / len(hits) if hits else 0.0
    off = untraced_query_p50(b.args)
    if off is None:
        b.log("no untraced run recorded in this checkout: trace.overhead_ms reported as 0")
    out["trace.overhead_ms"] = median(b.lat["search_wand"]) * 1e3 - off if off else 0.0
    return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}


def provenance(nproc: int, spark) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "open_source_search_engine_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return {
        "nproc": nproc,
        "spark_version": spark.version,
        "git_sha": sha,
        "engine_source_sha256": h.hexdigest()[:16],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    b = Bench(args, SIZES[args.scale])
    try:
        spark, nproc = start_spark(b)
        res = WORKLOADS[args.workload](b, spark, args.seed)
        b.log(f"measured {b.elapsed():.2f}s; {b.attempted} ops, {b.failed} failed")
        prov = provenance(nproc, spark)
        if b.tr.enabled:
            trace_dir = os.path.join(STATE, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            b.tr.dump(
                os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, **prov},
            )
        spark.stop()
    finally:
        shutil.rmtree(b.work, ignore_errors=True)
    q = b.lat["search_wand"]
    named = {
        "setup_s": (b.setup_s, "s"),
        "build_docs_per_s": (res.pop("build_docs_per_s"), "docs/s"),
        "index_bytes_per_content_byte": (res.pop("index_bytes_per_content_byte"), "ratio"),
        "query_p50_ms": (median(q) * 1e3, "ms"),
        "query_p95_ms": (pctl(q, 95) * 1e3, "ms"),
        "query_samples": (len(q), "count"),
        **{k: v for k, v in res.items() if v is not None},
        "failed_op_ratio": (b.failed / max(b.attempted, 1), "ratio"),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **prov,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
    }
    print("report " + json.dumps(report), flush=True)
    if not args.trace:
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        with open(result_path(args, args.seed), "w") as f:
            json.dump(report, f)
    e2e = {k: {"value": named[k][0], "unit": u} for k, u in END_TO_END_UNITS.items()}
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": layer_metrics(b) if args.trace else e2e,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
