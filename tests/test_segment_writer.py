"""The one segment writer: empty tables carry their schema, and the
tokenize kernel's two paths (Arrow/RE2 for pure-ASCII batches, pandas
``findall`` otherwise) agree with the pure-Python tokenizer."""

import os

import pandas as pd
import pyarrow as pa
import pytest

from tantivy4java_spark import maintenance as M
from tantivy4java_spark import queries as Q
from tantivy4java_spark.analysis import tokenize_text
from tantivy4java_spark.build import (IndexBuilder, _tokenize_agg_fn,
                                      build_index, partition_row_ids)
from tantivy4java_spark.codec import decode_positions
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher
from tantivy4java_spark.streaming import add_documents

TABLES = ("postings", "termstats", "docs", "positions")


def _cfg():
    return IndexConfig(fields=[FieldConfig("content", "text"),
                               FieldConfig("lang", "string")],
                       id_cols=["doc_id", "lang"], content_col="content")


def _frame(spark, pdf):
    return spark.createDataFrame(
        pdf, "doc_id long, content string, lang string")


@pytest.mark.parametrize("num_segments", [1, 4])
def test_empty_input_builds_empty_index(spark, tmp_path, num_segments):
    idx = str(tmp_path / "empty")
    empty = _frame(spark, pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"),
         "content": pd.Series([], dtype=object),
         "lang": pd.Series([], dtype=object)}))
    stats = build_index(spark, empty, _cfg(), idx, doc_id_col="doc_id",
                        num_segments=num_segments)
    assert stats.num_docs == 0
    s = IndexSearcher(spark, idx)
    assert s.num_docs == 0
    assert s.search(Q.Term("content", "import"), 10).count() == 0

    extra = generate_pandas(0, 30, min_tokens=10, max_tokens=20)
    add_documents(spark, _cfg(), idx, spark.createDataFrame(
        extra[["content", "lang"]]))
    s2 = IndexSearcher(spark, idx)
    assert s2.num_docs == 30
    want = sum("import" in t.split() for t in extra["content"])
    assert s2.count(Q.Term("content", "import")) == want


def test_all_null_text_field_has_readable_positions(spark, tmp_path):
    idx = str(tmp_path / "nulltext")
    pdf = pd.DataFrame({"doc_id": range(40), "content": [None] * 40,
                        "lang": ["java", "rust"] * 20})
    build_index(spark, _frame(spark, pdf), _cfg(), idx,
                doc_id_col="doc_id", num_segments=2)
    s = IndexSearcher(spark, idx)
    assert s.positions().count() == 0
    assert M.delete_by_query(spark, idx, Q.Term("lang", "java")) == 20
    assert M.apply_deletes(spark, idx) == 20
    s2 = IndexSearcher(spark, idx)
    assert s2.num_docs == 20
    assert s2.count(Q.Term("lang", "rust")) == 20
    assert s2.positions().count() == 0


def test_doc_id_gap_leaves_readable_empty_segment(spark, tmp_path):
    # ids 0..39 and 120..159 over 4 segments of width 40: segments 1 and 2
    # have no rows
    idx = str(tmp_path / "gap")
    pdf = generate_pandas(0, 80, min_tokens=10, max_tokens=20)
    pdf = pdf[["content", "lang"]].assign(
        doc_id=list(range(40)) + list(range(120, 160)))
    stats = build_index(spark, _frame(spark, pdf[["doc_id", "content",
                                                  "lang"]]),
                        _cfg(), idx, doc_id_col="doc_id", num_segments=4)
    assert stats.num_docs == 80
    for sid in (1, 2):
        seg = os.path.join(idx, "segments", f"seg={sid:05d}")
        for table in TABLES:
            assert spark.read.parquet(os.path.join(seg, table)).count() == 0
    assert IndexSearcher(spark, idx).num_docs == 80


def test_segment_ok_rejects_postings_without_parquet(spark, tmp_path):
    seg = tmp_path / "seg=00000"
    (seg / "postings").mkdir(parents=True)
    b = IndexBuilder(spark, _cfg(), str(tmp_path))
    assert not b._segment_ok(str(seg))


def test_build_phases_sum_to_wall(spark, tmp_path):
    pdf = generate_pandas(0, 60, min_tokens=10, max_tokens=20)
    pdf["doc_id"] = range(60)
    stats = build_index(spark, spark.createDataFrame(pdf), _cfg(),
                        str(tmp_path / "ph"), doc_id_col="doc_id",
                        num_segments=2)
    assert list(stats.phases) == ["manifest", "ids", "seg-width",
                                  "stats+cache", "write", "rename", "merge"]
    assert sum(stats.phases.values()) == pytest.approx(stats.wall_sec,
                                                       rel=1e-6)
    assert stats.merge_wall_sec == stats.phases["merge"]


def _kernel_rows(texts, limit):
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts)), type=pa.int64()),
         pa.array(texts, type=pa.string())], names=["doc_id", "content"])
    out = pa.Table.from_batches(
        list(_tokenize_agg_fn("content", "default", limit)(iter([batch]))))
    return {(r["doc_id"], r["term"]): (r["tf"], r["norm_id"],
                                       list(decode_positions(r["pos_bin"])))
            for r in out.to_pylist()}


def _golden_rows(texts, limit):
    rows = {}
    for doc, text in enumerate(texts):
        for term, pos in tokenize_text(text, "default", limit):
            rows.setdefault((doc, term), []).append(pos)
    return rows


def test_tokenize_kernel_paths_agree():
    limit = 12
    ascii_texts = [
        "Hello hello World_wide web, hello again",
        None,
        "",
        "a_b  c1 C1 x" + "y" * 20 + " tail",  # a token longer than limit
        "FOO foo Foo bar 42 42",
    ]
    fast = _kernel_rows(ascii_texts, limit)
    slow = _kernel_rows(ascii_texts + ["Grüße aus Köln, grüße"], limit)
    shared = {k: v for k, v in slow.items() if k[0] < len(ascii_texts)}
    assert fast == shared
    assert ("x" + "y" * 20) not in {t for _, t in fast}
    golden = _golden_rows(ascii_texts, limit)
    assert {k: v[2] for k, v in fast.items()} == golden
    assert {k: v[0] for k, v in fast.items()} == \
        {k: len(v) for k, v in golden.items()}
    # the non-ASCII doc itself matches the golden tokenizer too
    extra = len(ascii_texts)
    assert {k[1]: v[2] for k, v in slow.items() if k[0] == extra} == \
        {t: p for (d, t), p in _golden_rows(
            ascii_texts + ["Grüße aus Köln, grüße"], limit).items()
         if d == extra}


def test_partition_row_ids_follow_the_partition_not_the_task(spark):
    # a coalesced union computes several partitions in one task: ids must
    # still come from each row's own partition, as a cached frame first
    # built there would otherwise hand two partitions the same ids
    pid, row = partition_row_ids()
    ids = spark.range(0, 40, numPartitions=4).select(
        "id", pid.alias("p"), row.alias("r"))
    got = ids.union(ids).coalesce(1).collect()
    assert {(r["p"], r["r"]) for r in got} == \
        {(p, r) for p in range(4) for r in range(10)}
    assert all(r["id"] == 10 * r["p"] + r["r"] for r in got)
