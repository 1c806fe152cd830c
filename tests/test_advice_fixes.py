"""Regression tests for the round-1 ADVICE findings.

1. WAND pruned top-k must apply delete tombstones BEFORE collecting the
   phase-1 threshold (deleted docs must not inflate it / live docs in pruned
   shards must not be dropped).
2. order_by_field disables score-based shard pruning (field order is over the
   full match set).
3. apply_deletes rewrites positions so phrase queries cannot resurrect
   physically deleted docs after the tombstones are cleared.
4. A streaming-only index writes the metadata manifest action (string fields
   raw-match, shard_bits honored).
5. minimum_should_match is enforced alongside must clauses
   (SplitBooleanQuery semantics).
"""

import os

import pytest

from pyspark.sql import functions as F

from tantivy4java_spark import maintenance as M
from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import DELETES_DIR, build_index
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher
from tantivy4java_spark.streaming import StreamingIndexWriter

from tests.golden import GoldenIndex

N = 220


@pytest.fixture(scope="module")
def corpus_pdf():
    pdf = generate_pandas(0, N, seed=7, min_tokens=15, max_tokens=80)
    pdf["doc_id"] = range(N)
    return pdf


def _cfg(shard_bits=5):
    # 32-doc shards -> ~7 shards: multi-shard pruning is actually exercised
    return IndexConfig(
        fields=[FieldConfig("content", "text"), FieldConfig("lang", "string")],
        id_cols=["doc_id", "lang"], content_col="content",
        shard_bits=shard_bits)


@pytest.fixture()
def built(spark, corpus_pdf, tmp_path):
    idx = str(tmp_path / "advidx")
    build_index(spark, spark.createDataFrame(corpus_pdf), _cfg(), idx,
                doc_id_col="doc_id", num_segments=2)
    return idx


def test_wand_pruning_respects_deletes(spark, corpus_pdf, built):
    """Delete the current top docs; pruned top-k must equal the golden top-k
    over the LIVE corpus (threshold computed over live docs only)."""
    s = IndexSearcher(spark, built)
    q = Q.Term("content", "import")
    top_before = [r["doc_id"] for r in s.search(q, limit=5).collect()]
    assert top_before
    for did in top_before[:3]:
        M.delete_by_query(spark, built, Q.Range("doc_id", did, did))
    # fresh searcher (sees tombstones)
    s2 = IndexSearcher(spark, built)
    got = [(r["doc_id"], round(r["score"], 9))
           for r in s2.search(q, limit=10).collect()]
    live_pdf = corpus_pdf[~corpus_pdf["doc_id"].isin(top_before[:3])]
    # golden over the live docs with the ORIGINAL global stats (tantivy
    # tombstone semantics: df/avgdl unchanged until merge)
    full_golden = GoldenIndex(corpus_pdf, "doc_id",
                              text_fields={"content": "default"},
                              keyword_fields=["lang"])
    scored = {d: sc for d, sc in full_golden.score(q).items()
              if d not in set(top_before[:3])}
    want = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [d for d, _ in want] == [d for d, _ in got]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-6


def test_order_by_field_over_full_match_set(spark, corpus_pdf, built):
    """Field-ordered search must consider ALL matching docs, not a
    BM25-pruned subset."""
    s = IndexSearcher(spark, built)
    q = Q.Term("content", "import")
    all_ids = sorted(r["doc_id"]
                     for r in s.search(q, limit=N, prune=False).collect())
    by_field = [r["doc_id"] for r in
                s.search(q, limit=5, order_by_field="doc_id",
                         ascending=True).collect()]
    assert by_field == all_ids[:5]
    by_field_desc = [r["doc_id"] for r in
                     s.search(q, limit=5, order_by_field="doc_id").collect()]
    assert by_field_desc == sorted(all_ids, reverse=True)[:5]


def test_apply_deletes_rewrites_positions(spark, corpus_pdf, built):
    """After apply_deletes, phrase queries (positions scan) must not return
    physically deleted docs."""
    s = IndexSearcher(spark, built)
    phrase = Q.Phrase("content", ["import", "return"], slop=2)
    before = {r["doc_id"] for r in s.search(phrase, limit=N).collect()}
    if not before:
        pytest.skip("phrase has no matches in this corpus slice")
    victim = min(before)
    M.delete_by_query(spark, built, Q.Range("doc_id", victim, victim))
    M.apply_deletes(spark, built)
    s3 = IndexSearcher(spark, built)
    after = {r["doc_id"] for r in s3.search(phrase, limit=N).collect()}
    assert victim not in after
    assert after == before - {victim}
    # tombstone dir is gone AND positions physically exclude the victim
    assert not os.path.isdir(os.path.join(built, DELETES_DIR)) or \
        not os.listdir(os.path.join(built, DELETES_DIR))
    pos_docs = {r["doc_id"] for r in
                s3.positions().select("doc_id").distinct().collect()}
    assert victim not in pos_docs


def test_streaming_only_index_has_metadata(spark, tmp_path):
    """A streaming-only index must carry field metadata: string query values
    raw-match (NOT lowercased through the text analyzer)."""
    pdf = generate_pandas(0, 40, min_tokens=10, max_tokens=30)
    pdf["tag"] = ["KeepCase" if i % 2 else "other" for i in range(40)]
    src = str(tmp_path / "in")
    os.makedirs(src)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(os.path.join(src, "f0"))
    schema = spark.read.parquet(os.path.join(src, "f0")).schema
    stream = spark.readStream.schema(schema).parquet(os.path.join(src, "*"))
    cfg = IndexConfig(
        fields=[FieldConfig("content", "text"), FieldConfig("tag", "string")],
        id_cols=["tag"], content_col="content", shard_bits=8)
    idx = str(tmp_path / "sidx")
    w = StreamingIndexWriter(spark, cfg, idx)
    w.start(stream, checkpoint_dir=str(tmp_path / "ckpt")).awaitTermination(120)
    w.refresh()
    s = IndexSearcher(spark, idx)
    assert s._field_meta("tag")["type"] == "string"
    assert s._meta.get("shard_bits") == 8
    # raw match with original case; lowercased value must NOT match
    assert s.score_query(Q.Term("tag", "KeepCase")).count() == 20
    assert s.score_query(Q.Term("tag", "keepcase")).count() == 0


def test_msm_enforced_with_must(spark, corpus_pdf, built):
    """Explicit minimum_should_match with must clauses present."""
    s = IndexSearcher(spark, built)
    g = GoldenIndex(corpus_pdf, "doc_id", text_fields={"content": "default"},
                    keyword_fields=["lang"])
    q = Q.Boolean(must=[Q.Term("content", "import")],
                  should=[Q.Term("content", "merge"),
                          Q.Term("content", "shuffle"),
                          Q.Term("content", "partition")],
                  minimum_should_match=2)
    got = [(r["doc_id"], round(r["score"], 6))
           for r in s.search(q, limit=25).collect()]
    want = [(d, round(sc, 6)) for d, sc in g.topk(q, 25)]
    assert got == want
    # sanity: strictly fewer hits than without msm
    q0 = Q.Boolean(must=[Q.Term("content", "import")],
                   should=[Q.Term("content", "merge"),
                           Q.Term("content", "shuffle"),
                           Q.Term("content", "partition")])
    assert s.score_query(q).count() < s.score_query(q0).count()


def test_exists_on_tokenized_text_field(spark, tmp_path):
    """existsQuery on a TEXT field works via the len_ doc-store column."""
    import pandas as pd
    from tantivy4java_spark.build import build_index
    rows = pd.DataFrame({"doc_id": [0, 1, 2],
                         "body": ["hello world", None, "  "]})
    cfg = IndexConfig(fields=[FieldConfig("body", "text")], id_cols=["doc_id"])
    idx = str(tmp_path / "exidx")
    build_index(spark, spark.createDataFrame(rows), cfg, idx,
                doc_id_col="doc_id")
    s = IndexSearcher(spark, idx)
    assert [r["doc_id"] for r in s.score_query(Q.Exists("body")).collect()] == [0]
