"""A commit only lists segments: stats.json names the committed segment dirs
and folds the corpus stats from the manifest add actions, on the driver.

These tests pin that the commit of add_documents(commit=True) runs no Spark
job, and that the stats it writes equal a recomputation from the segment
tables after every kind of write: a build, appends, a hierarchical merge
and apply_deletes, on an index with a json field."""

import json
import os

import pyarrow.compute as pc
import pyarrow.dataset as pads
import pytest

from tantivy4java_spark import maintenance as M
from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import IndexBuilder, build_index
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher
from tantivy4java_spark.streaming import add_documents

CFG = IndexConfig(fields=[FieldConfig("content", "text"),
                          FieldConfig("lang", "string"),
                          FieldConfig("props", "json")],
                  id_cols=["doc_id", "lang"], content_col="content",
                  shard_bits=5)


def _docs(start: int, n: int, ids: bool = True):
    pdf = generate_pandas(start, n, seed=start, min_tokens=8, max_tokens=40)
    pdf["props"] = [json.dumps({"k": f"v{i % 3}", "n": i % 5,
                                "note": f"alpha beta{i % 4} gamma"})
                    for i in range(start, start + n)]
    cols = ["content", "lang", "props"]
    if ids:
        pdf["doc_id"] = range(start, start + n)
        cols = ["doc_id"] + cols
    return pdf[cols]


def _recomputed(d: str) -> dict:
    """num_docs and per-field stats recomputed with pyarrow from the
    segment docs and termstats dirs that stats.json lists."""
    with open(os.path.join(d, "stats.json")) as fh:
        dirs = json.load(fh)["segment_dirs"]

    def table(name):
        return pads.dataset([pads.dataset(os.path.join(d, s, name),
                                          format="parquet")
                             for s in dirs]).to_table()

    docs, termstats = table("docs"), table("termstats")
    n = docs.num_rows
    tokens = {c[len("len_"):]: pc.sum(docs[c]).as_py() or 0
              for c in docs.column_names if c.startswith("len_")}
    props = termstats.filter(pc.equal(termstats["field"], "props"))
    tokens["props"] = pc.sum(props["total_tf"]).as_py() or 0
    return {"num_docs": n,
            "fields": {f: {"num_docs": n, "total_tokens": t,
                           "avgdl": t / n if n else 0.0}
                       for f, t in tokens.items()}}


def _assert_stats_match(d: str) -> dict:
    with open(os.path.join(d, "stats.json")) as fh:
        stats = json.load(fh)
    assert stats["format_version"] == 2
    want = _recomputed(d)
    assert stats["num_docs"] == want["num_docs"]
    assert stats["fields"] == want["fields"]
    return stats


def test_stats_equal_the_segment_tables_after_every_write(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_docs(0, 160)), CFG, d,
                doc_id_col="doc_id", num_segments=4)
    stats = _assert_stats_match(d)
    assert stats["num_docs"] == 160
    assert stats["fields"]["props"]["total_tokens"] > 0

    b = IndexBuilder(spark, CFG, d)
    b._append_manifest(b.merge_hierarchical(list(range(4)), fanin=2))
    stats = _assert_stats_match(d)
    assert stats["segment_dirs"] == ["segments/merged_L0_0000",
                                     "segments/merged_L0_0001"]

    for start in (1000, 2000):  # appends with index-owned ids
        add_documents(spark, CFG, d,
                      spark.createDataFrame(_docs(start, 30, ids=False)))
        _assert_stats_match(d)
    assert IndexSearcher(spark, d).num_docs == 220

    assert M.delete_by_query(spark, d, Q.Term("lang", "python")) > 0
    removed = M.apply_deletes(spark, d)
    stats = _assert_stats_match(d)
    assert stats["num_docs"] == 220 - removed
    assert len(stats["segment_dirs"]) == 1


def test_commit_of_add_documents_runs_zero_spark_jobs(spark, tmp_path,
                                                      spark_jobs,
                                                      monkeypatch):
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_docs(0, 120)), CFG, d,
                doc_id_col="doc_id", num_segments=3)
    commits = []
    merge = IndexBuilder._merge

    def counted(self, segment_ids):
        with spark_jobs() as jobs:
            action = merge(self, segment_ids)
        commits.append(list(jobs))
        return action

    monkeypatch.setattr(IndexBuilder, "_merge", counted)
    add_documents(spark, CFG, d, spark.createDataFrame(_docs(500, 40)))
    assert commits == [[]]
    s = IndexSearcher(spark, d)
    assert s.num_docs == 160
    assert s.count(Q.Term("lang", "python")) == \
        sum(lang == "python" for lang in
            list(_docs(0, 120)["lang"]) + list(_docs(500, 40)["lang"]))


@pytest.mark.parametrize("table", ["docs", "termstats"])
def test_segment_tables_are_sorted_for_their_readers(spark, tmp_path, table):
    """Segment docs files are sorted by doc_id, one file per segment under
    100k docs; termstats files are sorted by (field, term)."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_docs(0, 160)), CFG, d,
                doc_id_col="doc_id", num_segments=4)
    keys = ["doc_id"] if table == "docs" else ["field", "term"]
    for seg in IndexSearcher(spark, d)._stats["segment_dirs"]:
        files = [f for f in os.listdir(os.path.join(d, seg, table))
                 if f.endswith(".parquet")]
        if table == "docs":
            assert len(files) == 1, seg
        for f in files:
            t = pads.dataset(os.path.join(d, seg, table, f)).to_table(
                columns=keys)
            rows = list(zip(*[t[k].to_pylist() for k in keys]))
            assert rows == sorted(rows), f"{seg}/{table}/{f}"
