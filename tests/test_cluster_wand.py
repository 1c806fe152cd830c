"""Cluster-side WAND phases (no driver bounds collect).

Above MAX_DRIVER_SHARD_ROWS estimated (term, shard) bound rows the two-phase
shard pruning runs fully cluster-side: phase-1 collects only a bounded
prefix of per-shard bounds, phase-2 prunes the scan via a broadcast
semi-join on the survivor shard set.  Results must be IDENTICAL to the
driver-side path — same algorithm, different data movement."""

import pytest

from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import build_index
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher


@pytest.fixture(scope="module")
def corpus():
    pdf = generate_pandas(0, 400, min_tokens=15, max_tokens=40)
    pdf["doc_id"] = range(400)
    return pdf


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory, corpus):
    pdf = corpus
    d = str(tmp_path_factory.mktemp("cw") / "idx")
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("lang", "string")],
                      id_cols=["doc_id", "lang"], content_col="content",
                      shard_bits=5)  # many shards -> real pruning decisions
    build_index(spark, spark.createDataFrame(pdf), cfg, d,
                doc_id_col="doc_id", num_segments=2)
    return d


QUERIES = [
    Q.Term("content", "import"),                       # single high-df term
    Q.Term("content", "shuffle"),                      # rarer term
    Q.Boolean(must=[Q.Term("content", "import"),
                    Q.Term("content", "return")]),     # AND
    Q.Boolean(should=[Q.Term("content", "shuffle"),
                      Q.Term("content", "import")]),   # OR
    Q.Boolean(must=[Q.Term("content", "import"),
                    Q.Term("lang", "python")]),        # multi-field AND
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
@pytest.mark.parametrize("k", [5, 50])
def test_cluster_path_matches_driver_path(spark, idx, qi, k, monkeypatch):
    q = QUERIES[qi]
    s_local = IndexSearcher(spark, idx)
    local = [(r["doc_id"], round(r["score"], 9))
             for r in s_local.search(q, limit=k).collect()]
    assert s_local.last_metrics.get("local_path") == 1  # driver fast path ran

    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s_driver = IndexSearcher(spark, idx)
    driver = [(r["doc_id"], round(r["score"], 9))
              for r in s_driver.search(q, limit=k).collect()]
    assert s_driver.last_metrics.get("shards_total", -1) >= 0  # driver path ran
    assert local == driver

    s_cluster = IndexSearcher(spark, idx)
    monkeypatch.setattr(s_cluster, "MAX_DRIVER_SHARD_ROWS", 0)
    cluster = [(r["doc_id"], round(r["score"], 9))
               for r in s_cluster.search(q, limit=k).collect()]
    assert s_cluster.last_metrics.get("shards_total") == -1  # cluster path ran
    assert cluster == driver


REPEATED = [
    Q.Boolean(should=[Q.Term("content", "return"),
                      Q.Term("content", "return")]),    # repeated SHOULD
    Q.Boolean(must=[Q.Term("content", "return"),
                    Q.Term("content", "return")]),      # repeated MUST
    Q.Boolean(should=[Q.Term("content", "return"),
                      Q.Term("content", "shuffle"),
                      Q.Term("content", "return")]),
]


@pytest.mark.parametrize("qi", range(len(REPEATED)))
@pytest.mark.parametrize("k", [5, 50])
def test_repeated_clause_scores_per_occurrence(spark, idx, corpus, qi, k,
                                               monkeypatch):
    """A clause given twice scores twice (tantivy sums every clause) on
    both WAND paths, as on the driver fast path and in the golden scorer."""
    from tests.golden import GoldenIndex
    q = REPEATED[qi]
    golden = [(d, round(sc, 9)) for d, sc in GoldenIndex(
        corpus, "doc_id", text_fields={"content": "default"},
        keyword_fields=["lang"]).topk(q, k)]

    def rows(s):
        return [(r["doc_id"], round(r["score"], 9))
                for r in s.search(q, limit=k).collect()]

    s_local = IndexSearcher(spark, idx)
    assert rows(s_local) == golden
    assert s_local.last_metrics.get("local_path") == 1

    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s_driver = IndexSearcher(spark, idx)
    assert rows(s_driver) == golden
    assert s_driver.last_metrics.get("shards_total", -1) >= 0

    s_cluster = IndexSearcher(spark, idx)
    monkeypatch.setattr(s_cluster, "MAX_DRIVER_SHARD_ROWS", 0)
    assert rows(s_cluster) == golden
    assert s_cluster.last_metrics.get("shards_total") == -1


def test_cluster_path_respects_deletes(spark, idx, monkeypatch, tmp_path):
    import shutil
    from tantivy4java_spark import maintenance as M
    d2 = str(tmp_path / "idx2")
    shutil.copytree(idx, d2)
    q = Q.Term("content", "import")
    s0 = IndexSearcher(spark, d2)
    before = {r["doc_id"] for r in s0.search(q, limit=400).collect()}
    victim = sorted(before)[0]
    M.delete_by_query(spark, d2, Q.Range("doc_id", victim, victim))

    s = IndexSearcher(spark, d2)
    monkeypatch.setattr(s, "MAX_DRIVER_SHARD_ROWS", 0)
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    after = {r["doc_id"] for r in s.search(q, limit=400).collect()}
    assert victim not in after
    assert after == before - {victim}


def test_cluster_path_plan_uses_broadcast_semi_join(spark, idx, monkeypatch):
    """The survivor shard set must prune the postings scan via a broadcast
    join — never an isin literal built on the driver."""
    s = IndexSearcher(spark, idx)
    monkeypatch.setattr(s, "MAX_DRIVER_SHARD_ROWS", 0)
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    df = s.search(Q.Term("content", "import"), limit=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the shard filter is a join, not a literal IN list over shard ids
    assert "shard IN" not in plan
