"""Object-store-capable index roots (reference: mixed s3://, azure://,
file:// split URLs, merge_impl.rs:70-294).

In this sandbox the non-posix scheme available to Hadoop is ``file://`` —
any other scheme (s3a://, abfs://) takes the IDENTICAL code path in fsio
(Hadoop FileSystem via the JVM), so an E2E pass over a file:// root proves
the scheme-routing layer end to end: manifest append/read, stats.json,
segment probes, tombstones, apply-deletes swap.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from tantivy4java_spark import fsio
from tantivy4java_spark import maintenance as M
from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import build_index
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher


def test_fsio_roundtrip_scheme_path(spark, tmp_path):
    root = f"file://{tmp_path}/meta"
    p = fsio.join(root, "a", "b.txt")
    assert p == f"file://{tmp_path}/meta/a/b.txt"
    assert not fsio.exists(spark, p)
    fsio.makedirs(spark, fsio.join(root, "a"))
    fsio.write_text(spark, p, "hello\n")
    fsio.append_text(spark, p, "world\n")
    assert fsio.read_text(spark, p) == "hello\nworld\n"
    assert fsio.exists(spark, p)
    assert fsio.listdir(spark, fsio.join(root, "a")) == ["b.txt"]
    assert fsio.isdir_nonempty(spark, fsio.join(root, "a"))
    fsio.rename(spark, p, fsio.join(root, "a", "c.txt"))
    assert fsio.read_text(spark, fsio.join(root, "a", "c.txt")) == "hello\nworld\n"
    fsio.delete(spark, fsio.join(root, "a"))
    assert not fsio.exists(spark, fsio.join(root, "a"))
    assert fsio.relpath(fsio.join(root, "x", "y"), root) == "x/y"


def test_build_search_delete_on_scheme_root(spark, tmp_path):
    """Full lifecycle against a scheme'd (non-posix-code-path) index root."""
    pdf = generate_pandas(0, 150, min_tokens=15, max_tokens=40)
    pdf["doc_id"] = range(150)
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("lang", "string")],
                      id_cols=["doc_id", "lang"], content_col="content")
    idx = f"file://{tmp_path}/remote_idx"
    stats = build_index(spark, spark.createDataFrame(pdf), cfg, idx,
                        doc_id_col="doc_id", num_segments=2)
    assert stats.num_docs == 150
    # metadata actually landed under the scheme'd root
    local = str(tmp_path / "remote_idx")
    assert os.path.exists(os.path.join(local, "stats.json"))
    # versioned manifest: one numbered action file per action
    acts = [f for f in os.listdir(os.path.join(local, "_manifest"))
            if f.endswith(".json")]
    assert len(acts) >= 4  # protocol, metadata, adds, commit

    s = IndexSearcher(spark, idx)
    hits = s.search(Q.Term("content", "import"), limit=10).collect()
    assert hits
    # posix comparison build must give identical results
    idx2 = str(tmp_path / "local_idx")
    build_index(spark, spark.createDataFrame(pdf), cfg, idx2,
                doc_id_col="doc_id", num_segments=2)
    s2 = IndexSearcher(spark, idx2)
    hits2 = s2.search(Q.Term("content", "import"), limit=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in hits] == \
        [(r["doc_id"], round(r["score"], 9)) for r in hits2]

    # tombstone + physical delete lifecycle through the scheme'd root
    victim = hits[0]["doc_id"]
    n = M.delete_by_query(spark, idx, Q.Range("doc_id", victim, victim))
    assert n == 1
    s3 = IndexSearcher(spark, idx)
    assert victim not in {r["doc_id"]
                          for r in s3.search(Q.Term("content", "import"),
                                             limit=200).collect()}
    assert M.apply_deletes(spark, idx) == 1
    s4 = IndexSearcher(spark, idx)
    assert s4.num_docs == 149
    assert victim not in {r["doc_id"]
                          for r in s4.search(Q.Term("content", "import"),
                                             limit=200).collect()}


def test_termstats_are_sorted_and_df_sums_segments(spark, tmp_path):
    """Each segment's termstats files are sorted by (field, term), so df
    lookups stay row-group pruned, and a term's df is the sum of its
    segments' dfs on the driver path and on a URI root alike."""
    pdf = generate_pandas(0, 400, min_tokens=30, max_tokens=120)
    pdf["doc_id"] = range(400)
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("lang", "string")],
                      id_cols=["doc_id", "lang"], content_col="content")
    idx = str(tmp_path / "sorted_termstats")
    build_index(spark, spark.createDataFrame(pdf), cfg, idx,
                doc_id_col="doc_id", num_segments=3, shuffle_partitions=16)
    import pyarrow.parquet as pq
    seg_df = {}
    for seg in ("seg=00000", "seg=00001", "seg=00002"):
        ts_dir = os.path.join(idx, "segments", seg, "termstats")
        for f in os.listdir(ts_dir):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(ts_dir, f))
            keys = list(zip(t["field"].to_pylist(), t["term"].to_pylist()))
            assert keys == sorted(keys), f"{seg}/{f} is not sorted"
            for k, n in zip(keys, t["df"].to_pylist()):
                seg_df[(seg, k)] = n
    key = ("content", "import")
    parts = [n for (_, k), n in seg_df.items() if k == key]
    assert len(parts) == 3, "import should occur in every segment"
    want = sum("import" in c.split() for c in pdf["content"])
    assert sum(parts) == want
    for root in (idx, f"file://{idx}"):
        s = IndexSearcher(spark, root)
        assert s.term_df(*key) == want
        assert s.terms().filter((F.col("field") == key[0])
                                & (F.col("term") == key[1])) \
            .collect()[0]["df"] == want
