"""The benchmark workloads.

Each workload runs in three timed phases inside one process:

- set-up: a fresh gateway JVM and Spark session, a warm-up job that
  starts the Python worker pool, and the seeded inputs (repeated
  ``SETUPS`` times, each from a cold JVM);
- ingest: the write side (crawl + store append + BM25 index build, or the
  cold layout builds);
- read: after untimed warm-up reads, a closed loop with one client for
  ``seconds`` (whole passes over the analytics mix, at least one).

Peak memory is read up to the end of the read phase. Every output is
checked against an answer computed without Spark, after the timed region.
Calls into the package go through its public functions only and each one
runs inside a tracer span named after its layer.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import sitegen
import tablegen
from procs import stop_spark

SETUPS = 2

SITE_ARTICLES = 6_000
WARM_REQUESTS = 32
REQUESTS = 20_000  # more than a read phase consumes

# Analytics mix: (query, bench.py family). One query per family plus every
# query a ROADMAP perf or pin item targets; the *_from_store members read
# the layouts below. The search family is served by crawl_search, whose
# read phase is the BM25 layout's production read path; repeating it here
# would cost a second cold BM25 build per run.
MIX = [
    ("q1_pricing_summary", "relational"),
    ("events_hourly", "events"),
    ("near_dup_sampling_weights", "dedup"),
    ("perplexity_tercile_mix", "textcorpus"),
    ("token_budget_selection", "textcorpus"),
    ("kneser_ney_doc_scores", "textcorpus"),
    ("pmi_cooccurrence", "textcorpus"),
    ("dsir_importance_weights", "textcorpus"),
    ("kmeans_fixed_point", "vector"),
    ("ivf_pq_residual_topk", "vector"),
    ("score_auc_eval", "graphrec"),
    ("label_propagation_seeded_from_store", "graphrec"),
    ("recsys_hitrate_eval_from_store", "graphrec"),
    ("triangle_participation", "graphrec"),
    ("zorder_layout", "layout_media"),
]
LAYOUTS = [
    ("copurchase", "ensure_copurchase_store"),
]


class CheckFailed(Exception):
    pass


def log(msg: str) -> None:
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``.crc`` and marker files
    excluded."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


@dataclass
class Op:
    kind: str
    latency_s: float
    hits: int = 0


@dataclass
class Ctx:
    """Per-run state shared by the phases."""

    seed: int
    seconds: float
    root: str  # the run's private temp root
    tracer: object
    sampler: object  # procs.MemorySampler, stopped when the read phase ends
    spark: object = None
    attempted: int = 0
    errors: list[str] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)
    ingest_s: float = 0.0
    stored_bytes: int = 0
    input_bytes: int = 0
    ops: list[Op] = field(default_factory=list)
    read_s: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)

    def attempt(self, what: str, fn, *args):
        """Run one operation; count it, and record its failure by type and
        traceback tail instead of raising."""
        self.attempted += 1
        try:
            return True, fn(*args)
        except Exception as exc:  # the run's boundary: record, keep going
            tail = traceback.format_exc().strip().splitlines()[-6:]
            self.errors.append(f"{what}: {type(exc).__name__}: {exc} | " + " / ".join(tail))
            return False, None


def _warm_up(spark, cpus: int) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    def ident(batches):
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"]})

    spark.range(8 * cpus).repartition(2 * cpus).mapInPandas(ident, "id long").collect()
    spark.range(1000).select(F.sum("id")).collect()


def settle(ctx: Ctx) -> None:
    """Let the write side's debris clear before the read phase is timed:
    collect Python garbage, ask the JVM to GC (which triggers the
    ContextCleaner's asynchronous unpersists), and pause so that cleanup
    lands here (the same settle bench.py uses)."""
    import gc

    gc.collect()
    ctx.spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def setup(ctx: Ctx, make_inputs):
    """Start the session from a cold JVM, warm it and generate the inputs,
    ``SETUPS`` times; the last session and inputs are kept."""
    from code_challenge___data_engineer___machinemax_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    inputs = None
    for i in range(SETUPS):
        ctx.tracer.sc = None
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        t0 = time.perf_counter()
        with ctx.tracer.span("session.get_spark"):
            ctx.spark = get_spark(f"perfbench-{i}")
        ctx.tracer.sc = ctx.spark.sparkContext
        with ctx.tracer.span("session.warm_up"):
            _warm_up(ctx.spark, cpus)
        inputs = make_inputs()
        ctx.setup_s.append(time.perf_counter() - t0)
    log("set-up done")
    return inputs


# --------------------------------------------------------------- search side


def _article_field_bytes(articles) -> int:
    return sum(
        len((v or "").encode())
        for a in articles
        for v in (a.url, a.title, a.description, a.author, a.section, a.keywords, a.text)
    )


def _index_path(ctx: Ctx) -> str:
    return os.path.join(ctx.root, "bm25_index")


def _build_index(ctx: Ctx, store) -> None:
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        materialize_bm25_index,
    )

    with ctx.tracer.span("search_index.build"):
        materialize_bm25_index(store.latest(), "url", _index_path(ctx))


def _serve(ctx: Ctx, store, warm: list, requests: list, results: list) -> None:
    """Closed loop, one client: next request after the previous returns.
    The ``warm`` requests run first, untimed, until latencies level off
    (the first requests of a session pay code generation); their
    responses are checked like the timed ones."""
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_rank_from_index,
    )

    index = _index_path(ctx)

    def request(req, span: str) -> tuple[float, int]:
        def call():
            with ctx.tracer.span(span):
                if req.kind == "bm25":
                    return [
                        (r["url"], r["bm25"])
                        for r in bm25_rank_from_index(ctx.spark, index, req.keyword, key_col="url").collect()
                    ]
                return store.search_json(req.keyword)

        t0 = time.perf_counter()
        ok, out = ctx.attempt(f"request {req.kind} {req.keyword!r}", call)
        latency = time.perf_counter() - t0
        if ok:
            results.append((req, out))
        return latency, (len(out) if ok else 0)

    settle(ctx)
    for req in warm:
        request(req, "search.warm_up")
    start = time.perf_counter()
    for req in requests:
        if time.perf_counter() - start >= ctx.seconds:
            break
        latency, hits = request(req, "search.bm25" if req.kind == "bm25" else "search.keyword")
        ctx.ops.append(Op(req.kind, latency, hits))
    ctx.read_s = time.perf_counter() - start
    ctx.sampler.stop()
    log("read p50 by kind: " + ", ".join(f"{k} {v * 1000:.0f} ms" for k, v in kind_p50s(ctx.ops).items()))


class Bm25Oracle:
    """BM25 over the generated articles in plain Python, with the formula
    and constants of ``operators.search.bm25_rank_from_index``."""

    K1, B = 1.2, 0.75

    def __init__(self, articles):
        self.n_docs = len(articles)
        self.tf: dict[str, dict[str, int]] = {}
        self.dl: dict[str, int] = {}
        for a in articles:
            if a.text is None:
                continue
            toks = sitegen.token_list(a.text)
            self.dl[a.url] = len(toks)
            counts: dict[str, int] = {}
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
            for t, c in counts.items():
                self.tf.setdefault(t, {})[a.url] = c
        self.avgdl = sum(self.dl.values()) / len(self.dl)

    def scores(self, keyword: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for t in sitegen.tokens(keyword):
            post = self.tf.get(t, {})
            df = len(post)
            idf = math.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)
            for url, tf in post.items():
                norm = tf + self.K1 * (1 - self.B + self.B * self.dl[url] / self.avgdl)
                out[url] = out.get(url, 0.0) + idf * (tf * (self.K1 + 1)) / norm
        return out


def check_responses(corpus, results) -> None:
    """Url sets of lookups against the generator's token sets; BM25 top-10
    against :class:`Bm25Oracle` (scores to 1e-5, ties broken by url)."""
    toks = corpus.token_sets()
    oracle = Bm25Oracle(corpus.articles)
    for req, out in results:
        if req.kind != "bm25":
            got = sorted(json.loads(row)["url"] for row in out)
            q = sitegen.tokens(req.keyword)
            want = sorted(u for u, t in toks.items() if t & q)
            if got != want:
                raise CheckFailed(f"{req.kind} {req.keyword!r}: {len(got)} urls, expected {len(want)}")
            continue
        scores = oracle.scores(req.keyword)
        want = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:10]
        if len(out) != len(want):
            raise CheckFailed(f"bm25 {req.keyword!r}: {len(out)} rows, expected {len(want)}")
        for (url, score), (_, wscore) in zip(out, want):
            if url not in scores or abs(scores[url] - score) > 1e-5 or abs(score - wscore) > 1e-5:
                raise CheckFailed(f"bm25 {req.keyword!r}: got {out[:3]}, expected {want[:3]}")


def crawl_search(ctx: Ctx) -> None:
    """The paper's pipeline as one flow: crawl -> store -> BM25 index, then
    the keyword API request mix over what was crawled."""
    from code_challenge___data_engineer___machinemax_spark.crawl.fetcher import dict_fetcher
    from code_challenge___data_engineer___machinemax_spark.crawl.ingest import ArticleStore
    from code_challenge___data_engineer___machinemax_spark.crawl.orchestrator import crawl

    site = setup(ctx, lambda: sitegen.make_site(ctx.seed, SITE_ARTICLES))
    stream = sitegen.make_requests(ctx.seed, site.corpus, WARM_REQUESTS + REQUESTS)
    store = ArticleStore(ctx.spark, os.path.join(ctx.root, "articles"))

    def ingest():
        with ctx.tracer.span("crawl"):
            result = crawl(ctx.spark, site.seeds, dict_fetcher(site.pages), sitegen.BASE,
                           max_depth=site.max_depth)
        with ctx.tracer.span("store.append"):
            store.append(result.articles)
        _build_index(ctx, store)
        return result

    t0 = time.perf_counter()
    ok, result = ctx.attempt("ingest", ingest)
    ctx.ingest_s = time.perf_counter() - t0
    if not ok:
        return
    log("ingest done")
    results: list = []
    _serve(ctx, store, stream[:WARM_REQUESTS], stream[WARM_REQUESTS:], results)
    log("read done")

    def check():
        if result.stats != site.expected:
            raise CheckFailed(f"crawl stats {result.stats} != {site.expected}")
        rows = store.latest().count()
        if rows != site.expected["articles"]:
            raise CheckFailed(f"store holds {rows} rows, expected {site.expected['articles']}")
        check_responses(site.corpus, results)
        return result.journal.filter("event = 'tries'").count()

    ok, tries = ctx.attempt("check", check)
    if ok:
        ctx.layer["crawl.rounds"] = result.stats["depth_reached"]
        ctx.layer["crawl.fetch_useful_ratio"] = result.stats["pages_found"] / tries
    ctx.input_bytes = _article_field_bytes(site.corpus.articles)
    ctx.stored_bytes = dir_bytes(store.path)[0] + dir_bytes(_index_path(ctx))[0]


# ------------------------------------------------------------ analytics side


class _Frame:
    """Hands a result already collected in the timed region to
    ``oracle_harness.compare``, which only calls ``toPandas()``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _equal(a, b) -> bool:
    try:
        return bool(a.equals(b))
    except (TypeError, ValueError):  # cells pandas cannot compare
        return False


def analytics_batch(ctx: Ctx) -> None:
    """Cold layout builds, then passes over the registered-query mix."""
    from code_challenge___data_engineer___machinemax_spark import plans, stores
    from tests.oracle_harness import compare, duck_connection

    data = os.path.join(ctx.root, "tables")
    setup(ctx, lambda: tablegen.generate(ctx.seed, data))
    queries, oracles = plans.all_queries(), plans.all_oracles()

    t0 = time.perf_counter()
    for name, fn in LAYOUTS:
        def build():
            with ctx.tracer.span(f"layout.{name}"):
                return getattr(stores, fn)(ctx.spark, data)

        ok, path = ctx.attempt(f"layout {name}", build)
        if ok:
            ctx.layer[f"layout.{name}.bytes"] = dir_bytes(path)[0]
            ctx.stored_bytes += ctx.layer[f"layout.{name}.bytes"]
    ctx.ingest_s = time.perf_counter() - t0
    ctx.input_bytes = dir_bytes(data)[0]
    log("layouts built")

    results = []

    def run_pass(timed: bool) -> list[Op]:
        ops = []
        for name, _family in MIX:
            def run():
                with ctx.tracer.span(f"query.{name}" if timed else "query.warm_up"):
                    return queries[name](ctx.spark, data).toPandas()

            t = time.perf_counter()
            ok, pdf = ctx.attempt(f"query {name}", run)
            ops.append(Op(name, time.perf_counter() - t, len(pdf) if ok else 0))
            if ok:
                results.append((name, pdf))
        return ops

    # An untimed first pass pays each query's one-off costs (code
    # generation, JIT, imports in the Python workers), so the timed passes
    # measure the steady state; its results are checked like the others.
    run_pass(timed=False)
    settle(ctx)
    start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - start < ctx.seconds:
        ctx.ops += run_pass(timed=True)
        passes += 1
    ctx.read_s = time.perf_counter() - start
    ctx.sampler.stop()
    slowest = sorted(kind_p50s(ctx.ops).items(), key=lambda kv: -kv[1])[:3]
    log(f"mix done, {passes} pass(es); slowest: " + ", ".join(f"{k} {v:.2f} s" for k, v in slowest))

    # the DuckDB oracles run on threads (DuckDB releases the GIL), each on
    # its own cursor; failures surface through the futures
    con = duck_connection(data)

    def check(name, pdf):
        cur = con.cursor()
        try:
            same, msg = compare(_Frame(pdf), cur, oracles[name])
        finally:
            cur.close()
        if not same:
            raise CheckFailed(f"{name}: {msg}")

    # a result equal to one already checked for the same query is not
    # checked again
    distinct: dict[str, list] = {}
    for name, pdf in results:
        seen = distinct.setdefault(name, [])
        if not any(_equal(pdf, other) for other in seen):
            seen.append(pdf)
    with ThreadPoolExecutor(int(os.environ["SPARK_GRAFT_CPUS"])) as pool:
        futures = [(name, pool.submit(check, name, pdf)) for name, pdfs in distinct.items() for pdf in pdfs]
        for name, fut in futures:
            ctx.attempt(f"oracle {name}", fut.result)
    con.close()


WORKLOADS = {
    "crawl_search": crawl_search,
    "analytics_batch": analytics_batch,
}


def p50(xs):
    return statistics.median(xs)


def kind_p50s(ops: list[Op]) -> dict[str, float]:
    """Median latency (s) of each kind of read operation."""
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.latency_s)
    return {k: p50(v) for k, v in by_kind.items()}
