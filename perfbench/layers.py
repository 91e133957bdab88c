"""Metric definitions: end-to-end metrics from the untraced run, per-layer
metrics from the traced run (spans + Spark event-log ledger).

Every workload reports every metric; a layer that does no work in a
workload reports 0, which is the isolation the design claims (``crawl.*``
is 0 on ``analytics_batch``, ``layout.*`` is 0 on ``crawl_search``).
``metric_map.json`` records which end-to-end metric and workload each
layer metric is expected to move.
"""

from __future__ import annotations

import statistics

from eventlog import GroupCost, covered_s, read_ledger
from workloads import LAYOUTS, MIX, Ctx, dir_bytes, kind_p50s, p50

FAMILIES = sorted({family for _, family in MIX})
# the queries a ROADMAP perf or pin item targets, reported one by one
TARGETS = [
    "score_auc_eval", "perplexity_tercile_mix", "token_budget_selection", "zorder_layout",
    "kneser_ney_doc_scores", "near_dup_sampling_weights", "kmeans_fixed_point",
    "label_propagation_seeded_from_store", "pmi_cooccurrence", "dsir_importance_weights",
    "recsys_hitrate_eval_from_store", "ivf_pq_residual_topk", "triangle_participation",
]
READ_KINDS = ("keyword", "multi", "miss", "bm25")


def end_to_end(ctx: Ctx, peak_pss_bytes: int) -> dict[str, tuple]:
    lat = [op.latency_s for op in ctx.ops]
    have = bool(lat) and ctx.read_s > 0 and ctx.ingest_s > 0 and ctx.input_bytes > 0
    return {
        "setup_s": (statistics.median(ctx.setup_s) if ctx.setup_s else None, "s"),
        "peak_pss_mb": (peak_pss_bytes / 2**20 if peak_pss_bytes else None, "MB"),
        "ingest_s": (ctx.ingest_s if have else None, "s"),
        "stored_bytes_per_input_byte": (ctx.stored_bytes / ctx.input_bytes if have else None, "ratio"),
        "read_p50_ms": (p50(lat) * 1000 if have else None, "ms"),
        "read_slowest_kind_p50_ms": (max(kind_p50s(ctx.ops).values()) * 1000 if have else None, "ms"),
        "read_ops_per_s": (len(lat) / ctx.read_s if have else None, "1/s"),
    }


class _Costs:
    """Spans joined with the ledger: cost of every span with a given name."""

    def __init__(self, ctx: Ctx, ledger: dict[str, GroupCost]):
        self.tracer = ctx.tracer
        self.ledger = ledger

    def of(self, name: str) -> dict[str, float]:
        spans = self.tracer.named(name)
        out = dict.fromkeys(
            ("n", "wall_s", "driver_ms", "executor_ms", "jobs", "stages", "tasks",
             "records_read", "shuffle_write_bytes", "spill_bytes"), 0.0)
        out["n"] = len(spans)
        for s in spans:
            c = self.ledger.get(s.id, GroupCost())
            out["wall_s"] += s.wall_s
            out["driver_ms"] += (s.wall_s - covered_s(c.job_intervals, s.start, s.end)) * 1000
            for k in ("executor_ms", "jobs", "stages", "tasks", "records_read",
                      "shuffle_write_bytes", "spill_bytes"):
                out[k] += getattr(c, k)
        return out


def per_layer(ctx: Ctx, eventlog_dir: str, e2e: dict[str, tuple]) -> dict[str, tuple]:
    costs = _Costs(ctx, read_ledger(eventlog_dir))
    m: dict[str, tuple] = {}

    get_spark = [s.wall_s for s in ctx.tracer.named("session.get_spark")]
    m["session.get_spark_s"] = (statistics.median(get_spark) if get_spark else 0.0, "s")

    crawl = costs.of("crawl")
    m["crawl.wall_s"] = (crawl["wall_s"], "s")
    m["crawl.driver_ms"] = (crawl["driver_ms"], "ms")
    m["crawl.executor_ms"] = (crawl["executor_ms"], "ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"crawl.{k}"] = (crawl[k], "count")
    m["crawl.rounds"] = (ctx.layer.get("crawl.rounds", 0), "count")
    m["crawl.shuffle_write_bytes"] = (crawl["shuffle_write_bytes"], "B")
    m["crawl.fetch_useful_ratio"] = (ctx.layer.get("crawl.fetch_useful_ratio", 0.0), "ratio")

    append = costs.of("store.append")
    store_dir = f"{ctx.root}/articles"
    store_bytes, store_files = dir_bytes(store_dir)
    m["store.append_s"] = (append["wall_s"], "s")
    m["store.bytes_written"] = (store_bytes, "B")
    m["store.files_written"] = (store_files, "count")

    index = costs.of("search_index.build")
    m["search_index.build_s"] = (index["wall_s"], "s")
    m["search_index.bytes_written"] = (dir_bytes(f"{ctx.root}/bm25_index")[0], "B")
    m["search_index.jobs"] = (index["jobs"], "count")

    hits = {k: sum(op.hits for op in ctx.ops if op.kind == k) for k in READ_KINDS}
    for span, kinds in (("keyword", ("keyword", "multi", "miss")), ("bm25", ("bm25",))):
        c = costs.of(f"search.{span}")
        n = c["n"] or 1
        for k, unit in (("driver_ms", "ms"), ("executor_ms", "ms"), ("jobs", "count"),
                        ("tasks", "count"), ("records_read", "count")):
            m[f"search.{span}.{k}"] = (c[k] / n, unit)
        n_hits = sum(hits[k] for k in kinds)
        m[f"search.{span}.records_read_per_hit"] = (c["records_read"] / n_hits if n_hits else 0.0, "ratio")
    m["store.latest_records_read"] = (m["search.keyword.records_read"][0], "count")

    for name, _ in LAYOUTS:
        c = costs.of(f"layout.{name}")
        m[f"layout.{name}.build_s"] = (c["wall_s"], "s")
        m[f"layout.{name}.jobs"] = (c["jobs"], "count")
        m[f"layout.{name}.bytes_written"] = (ctx.layer.get(f"layout.{name}.bytes", 0), "B")

    # per pass over the mix
    passes = max(1, len(ctx.tracer.named(f"query.{MIX[0][0]}")))
    for family in FAMILIES:
        agg: dict[str, float] = {}
        for q, f in MIX:
            if f == family:
                for k, v in costs.of(f"query.{q}").items():
                    agg[k] = agg.get(k, 0.0) + v
        for k, unit in (("wall_s", "s"), ("driver_ms", "ms"), ("executor_ms", "ms"),
                        ("jobs", "count"), ("tasks", "count"), ("shuffle_write_bytes", "B"),
                        ("spill_bytes", "B")):
            m[f"query.{family}.{k}"] = (agg[k] / passes, unit)
    for q in TARGETS:
        c = costs.of(f"query.{q}")
        m[f"query.{q}.wall_s"] = (c["wall_s"] / passes, "s")
        m[f"query.{q}.jobs"] = (c["jobs"] / passes, "count")

    # the traced run's own end-to-end figures: minus the untraced run's, the
    # tracing overhead
    for k in ("setup_s", "ingest_s", "read_p50_ms", "read_ops_per_s"):
        value, unit = e2e[k]
        m[f"traced.{k}"] = (value if value is not None else 0.0, unit)
    # the read latencies' tail (the highest quartile with ten samples beyond
    # it) and their count. Not end-to-end metrics: with a quarter of the
    # crawl_search requests BM25 probes, the p75 sits on the boundary between
    # the lookups' and the probes' latencies and is unsteady from run to run.
    lat = [op.latency_s for op in ctx.ops]
    p75 = statistics.quantiles(lat, n=4, method="inclusive")[-1] if len(lat) > 1 else 0.0
    m["traced.read_p75_ms"] = (p75 * 1000, "ms")
    m["traced.read_ops"] = (len(lat), "count")
    return m
