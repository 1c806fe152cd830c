"""Merges and apply_deletes rewrite segments through the build's one
segment writer: a compacted or merged segment equals, table by table and
row for row, a fresh one-segment build of the same documents with the same
ids.  Also: indexes in an older layout fail loudly, the per-segment
tables are read without a schema-inference job, and ``spark_jobs`` sees
jobs launched from a thread pool."""

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tantivy4java_spark import maintenance as M
from tantivy4java_spark import manifest
from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import IndexBuilder, build_index
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher
from tantivy4java_spark.streaming import add_documents

N = 240
CFG = IndexConfig(fields=[FieldConfig("content", "text"),
                          FieldConfig("lang", "string"),
                          FieldConfig("tags", "string"),
                          FieldConfig("props", "json"),
                          FieldConfig("ip", "ip")],
                  id_cols=["doc_id", "lang"], content_col="content",
                  shard_bits=5, block_size=16)
SCHEMA = ("doc_id long, content string, lang string, tags array<string>, "
          "props string, ip string")
# sort keys that make each table's row order canonical
KEYS = {"postings": ["field", "term", "shard", "block_id"],
        "termstats": ["field", "term"],
        "docs": ["doc_id"],
        "positions": ["field", "term", "doc_id"]}


def _rows() -> pd.DataFrame:
    pdf = generate_pandas(0, N, min_tokens=8, max_tokens=30)
    # caller-owned ids with gaps, so no id equals its row number
    pdf["doc_id"] = np.arange(N, dtype=np.int64) * 3 + 7
    pdf["tags"] = [[f"t{i % 5}", f"t{i % 7}"][: 1 + i % 2] for i in range(N)]
    pdf["props"] = [json.dumps({"k": f"v{i % 4}", "n": i % 3,
                                "note": f"alpha beta{i % 6}"})
                    for i in range(N)]
    pdf["ip"] = [f"10.{i % 3}.0.{i % 250}" for i in range(N)]
    return pdf[["doc_id", "content", "lang", "tags", "props", "ip"]]


def _build(spark, pdf, d, segments):
    build_index(spark, spark.createDataFrame(pdf, SCHEMA), CFG, d,
                doc_id_col="doc_id", num_segments=segments)


def _table(seg_dir, name) -> pd.DataFrame:
    # Arrow sorts the json terms ("<path>\x00<token>") by their full
    # bytes; a pandas multi-key sort hashes them cut at the NUL
    return pq.read_table(os.path.join(seg_dir, name)).sort_by(
        [(k, "ascending") for k in KEYS[name]]).to_pandas()


def _assert_full_blocks(postings: pd.DataFrame):
    """Each (field, term, shard) posting list (rows sorted by KEYS) is cut
    into blocks of block_size docs numbered from 0; only its last block may
    be short."""
    key = [postings[c].to_numpy() for c in ("field", "term", "shard")]
    starts = np.ones(len(postings), dtype=bool)
    starts[1:] = np.logical_or.reduce([v[1:] != v[:-1] for v in key])
    last = np.append(starts[1:], True)
    bid = postings["block_id"].to_numpy()
    n = postings["count"].to_numpy()
    assert (bid[starts] == 0).all()
    assert (bid[1:][~starts[1:]] == bid[:-1][~starts[1:]] + 1).all()
    assert (n[~last] == CFG.block_size).all()
    assert ((n >= 1) & (n <= CFG.block_size)).all()


def _assert_same_segment(got_dir, want_dir):
    for name in KEYS:
        got, want = _table(got_dir, name), _table(want_dir, name)
        assert list(got.columns) == list(want.columns), name
        assert len(got) == len(want) > 0, name
        pd.testing.assert_frame_equal(got, want, obj=name)
    _assert_full_blocks(_table(got_dir, "postings"))


def _adds(spark, d):
    return [a for a in manifest.read_actions(spark, d)
            if a.get("action") == "add"]


@pytest.fixture(scope="module")
def compacted(spark, tmp_path_factory):
    """A 3-segment index after deletes and apply_deletes, and a fresh
    one-segment build of its surviving rows with the same ids."""
    root = tmp_path_factory.mktemp("rewrite")
    pdf = _rows()
    d = str(root / "compacted")
    _build(spark, pdf, d, 3)
    assert M.delete_by_query(spark, d, Q.Term("lang", "java")) > 0
    assert M.delete_by_query(spark, d, Q.Term("content", "import")) > 0
    dead = set(IndexSearcher(spark, d)._local_deletes_ids().tolist())
    removed = M.apply_deletes(spark, d)
    fresh = str(root / "fresh")
    _build(spark, pdf[~pdf["doc_id"].isin(dead)], fresh, 1)
    return d, fresh, dead, removed


def test_apply_deletes_equals_a_fresh_build_of_the_survivors(spark,
                                                             compacted):
    d, fresh, dead, removed = compacted
    assert removed == len(dead)
    dirs = IndexSearcher(spark, d)._stats["segment_dirs"]
    assert len(dirs) == 1
    _assert_same_segment(os.path.join(d, dirs[0]),
                         os.path.join(fresh, "segments", "seg=00000"))
    s, f = IndexSearcher(spark, d), IndexSearcher(spark, fresh)
    assert s.num_docs == f.num_docs == N - len(dead)
    assert s._stats["fields"] == f._stats["fields"]
    for q in (Q.Term("content", "return"), Q.Term("tags", "t3"),
              Q.Phrase("content", ["import", "return"], 1)):
        assert [tuple(r) for r in s.search(q, limit=20).collect()] \
            == [tuple(r) for r in f.search(q, limit=20).collect()]


def test_compacted_add_carries_full_stats(spark, compacted):
    d, fresh, _, _ = compacted
    add = _adds(spark, d)[-1]
    want = _adds(spark, fresh)[-1]
    assert add["compacted"] is True
    for key in ("num_docs", "doc_lo", "doc_hi", "field_tokens"):
        assert add[key] == want[key], key
    assert set(add["field_tokens"]) == {"content", "lang", "tags", "props"}


def test_merge_level_equals_a_fresh_build_of_its_inputs(spark, tmp_path):
    pdf = _rows()
    d = str(tmp_path / "hier")
    _build(spark, pdf, d, 4)
    flat = IndexSearcher(spark, d)
    q = Q.Boolean(should=[Q.Term("content", "import"),
                          Q.Term("tags", "t1")])
    want_hits = [tuple(r) for r in flat.search(q, limit=30).collect()]

    b = IndexBuilder(spark, CFG, d)
    b._append_manifest(b.merge_hierarchical(list(range(4)), fanin=2))
    levels = [a for a in manifest.read_actions(spark, d)
              if a.get("action") == "merge_level"]
    assert [(a["level"], a["inputs"]) for a in levels] == [(0, 2), (0, 2)]
    width = -(-int(pdf["doc_id"].max() + 1) // 4)  # the build's seg width
    for g in range(2):
        lo, hi = 2 * g * width, 2 * (g + 1) * width
        fresh = str(tmp_path / f"fresh{g}")
        _build(spark, pdf[(pdf["doc_id"] >= lo) & (pdf["doc_id"] < hi)],
               fresh, 1)
        _assert_same_segment(
            os.path.join(d, "segments", f"merged_L0_{g:04d}"),
            os.path.join(fresh, "segments", "seg=00000"))
    s = IndexSearcher(spark, d)
    assert s._stats["segment_dirs"] == [
        f"segments/merged_L0_{g:04d}" for g in range(2)]
    assert [tuple(r) for r in s.search(q, limit=30).collect()] == want_hits


@pytest.fixture(scope="module")
def three_segments(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("legacy") / "base")
    _build(spark, _rows(), d, 3)
    return d


def _copy(base, tmp_path, name):
    d = str(tmp_path / name)
    shutil.copytree(base, d)
    return d


def test_legacy_stats_fail_at_open(spark, three_segments, tmp_path):
    """A stats.json without format_version 2 (the layout with root tables)
    is refused by the searcher and by every writer that commits."""
    d = _copy(three_segments, tmp_path, "legacy_stats")
    path = os.path.join(d, "stats.json")
    with open(path) as fh:
        stats = json.load(fh)
    del stats["format_version"]
    with open(path, "w") as fh:
        json.dump(stats, fh)
    with pytest.raises(ValueError, match="format_version 1, not 2"):
        IndexSearcher(spark, d)
    extra = _rows().head(5).assign(doc_id=np.arange(5) + 10_000)
    with pytest.raises(ValueError, match="format_version 1, not 2"):
        add_documents(spark, CFG, d, spark.createDataFrame(extra, SCHEMA))
    with pytest.raises(ValueError, match="format_version 1, not 2"):
        M.garbage_collect(spark, d)
    with open(path) as fh:
        assert json.load(fh) == stats  # the refused commit wrote nothing


def test_segment_tables_read_without_jobs(spark, three_segments,
                                          spark_jobs):
    s = IndexSearcher(spark, three_segments)
    with spark_jobs() as jobs:
        posting_cols = s.postings().columns
        position_cols = s.positions().columns
    assert jobs == []
    assert "block_max_score" not in posting_cols
    assert posting_cols == spark.read.parquet(
        *[os.path.join(three_segments, p)
          for p in s._table_dirs("postings")]).columns
    assert position_cols == ["field", "term", "doc_id", "norm_id", "pos_bin"]


def test_legacy_block_max_score_column_reads_the_same(spark, three_segments,
                                                      tmp_path, monkeypatch):
    """One segment's postings carry the retired block_max_score column (as
    an older writer left it): the dirs' schemas disagree, Spark infers, and
    both query paths return the hits of the untouched index."""
    d = _copy(three_segments, tmp_path, "bms")
    qs = [Q.Term("content", "import"),
          Q.Boolean(must=[Q.Term("content", "return"),
                          Q.Term("lang", "python")]),
          Q.Phrase("content", ["import", "return"], 1)]
    want = [[tuple(r) for r in IndexSearcher(spark, d).search(
        q, limit=15).collect()] for q in qs]
    pdir = os.path.join(d, "segments", "seg=00001", "postings")
    for name in os.listdir(pdir):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(pdir, name)
        t = pq.read_table(path)
        t = t.append_column("block_max_score",
                            pa.array([0.0] * t.num_rows, pa.float64()))
        key = b"org.apache.spark.sql.parquet.row.metadata"
        spark_schema = json.loads(t.schema.metadata[key])
        spark_schema["fields"].append({"name": "block_max_score",
                                       "type": "double", "nullable": True,
                                       "metadata": {}})
        t = t.replace_schema_metadata(
            {key: json.dumps(spark_schema).encode()})
        pq.write_table(t, path)
        os.remove(os.path.join(pdir, f".{name}.crc"))  # Hadoop's checksum

    local = IndexSearcher(spark, d)
    assert local._footer_schema(local._table_dirs("postings")) is None
    assert [[tuple(r) for r in local.search(q, limit=15).collect()]
            for q in qs] == want
    assert local.last_metrics.get("local_path") == 1
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    cluster = IndexSearcher(spark, d)
    assert [[tuple(r) for r in cluster.search(q, limit=15).collect()]
            for q in qs] == want
    assert "local_path" not in cluster.last_metrics


def test_spark_jobs_counts_pool_thread_jobs(spark, spark_jobs):
    sc = spark.sparkContext
    with spark_jobs() as jobs:
        with ThreadPoolExecutor(max_workers=1) as ex:
            ex.submit(lambda: sc.parallelize([1, 2, 3]).count()).result()
    assert len(jobs) == 1
    with spark_jobs() as jobs:
        pass
    assert jobs == []
