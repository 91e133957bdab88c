from __future__ import annotations

import pyarrow.parquet as pq

import sitegen
import tablegen
from conftest import new_session
from workloads import check_responses


def test_site_and_requests_are_deterministic_per_seed():
    a, b, c = sitegen.make_site(5, 300), sitegen.make_site(5, 300), sitegen.make_site(6, 300)
    assert a.pages == b.pages and a.expected == b.expected
    assert a.pages != c.pages
    ra = sitegen.make_requests(5, a.corpus, 50)
    assert ra == sitegen.make_requests(5, b.corpus, 50)
    assert ra != sitegen.make_requests(6, c.corpus, 50)
    assert [r.kind for r in ra[:len(sitegen.KIND_CYCLE)]] == list(sitegen.KIND_CYCLE)


def test_tables_are_deterministic_per_seed(tmp_path):
    tablegen.generate(3, str(tmp_path / "a"))
    tablegen.generate(3, str(tmp_path / "b"))
    tablegen.generate(4, str(tmp_path / "c"))
    for t in ("lineitem", "documents", "embeddings", "events"):
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))


def test_known_answers_match_a_small_crawl(tmp_path):
    from code_challenge___data_engineer___machinemax_spark.crawl.fetcher import dict_fetcher
    from code_challenge___data_engineer___machinemax_spark.crawl.ingest import ArticleStore
    from code_challenge___data_engineer___machinemax_spark.crawl.orchestrator import crawl
    from code_challenge___data_engineer___machinemax_spark.operators.search import (
        bm25_rank_from_index,
        materialize_bm25_index,
    )

    site = sitegen.make_site(7, 400)
    spark = new_session()
    try:
        result = crawl(spark, site.seeds, dict_fetcher(site.pages), sitegen.BASE,
                       max_depth=site.max_depth)
        assert result.stats == site.expected
        store = ArticleStore(spark, str(tmp_path / "articles"))
        store.append(result.articles)
        texts = {r.url: r.text for r in store.latest().collect()}
        assert texts == {a.url: a.text for a in site.corpus.articles}

        index = str(tmp_path / "index")
        materialize_bm25_index(store.latest(), "url", index)
        results = []
        for req in sitegen.make_requests(7, site.corpus, 20):
            if req.kind == "bm25":
                rows = bm25_rank_from_index(spark, index, req.keyword, key_col="url").collect()
                results.append((req, [(r["url"], r["bm25"]) for r in rows]))
            else:
                results.append((req, store.search_json(req.keyword)))
        check_responses(site.corpus, results)
    finally:
        spark.stop()
