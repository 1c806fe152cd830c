"""Job-free deletes: delete_by_query on the driver fast path.

On a POSIX root within LOCAL_TOPK_MAX_ROWS, delete_by_query takes its match
set from the driver evaluator and writes its tombstones as one pyarrow
Parquet file, with no Spark job.  These tests pin that it tombstones
exactly what the Spark path tombstones, that both writers' files are read
back together by every reader, that a failed write leaves ``deletes/`` as it
was, and that the manifest records the path each delete took.
"""

import datetime
import decimal
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from tantivy4java_spark import maintenance as M
from tantivy4java_spark import manifest
from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import DELETES_DIR, build_index
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher

N = 300


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    pdf = generate_pandas(0, N, seed=11, min_tokens=15, max_tokens=60)
    pdf["doc_id"] = range(N)
    pdf["stars"] = [(i * 7) % 50 for i in range(N)]
    d = str(tmp_path_factory.mktemp("dd") / "idx")
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("lang", "string")],
                      id_cols=["doc_id", "lang", "stars"],
                      content_col="content", shard_bits=5)
    build_index(spark, spark.createDataFrame(pdf), cfg, d,
                doc_id_col="doc_id", num_segments=2)
    return d


@pytest.fixture()
def copy_of(base, tmp_path):
    def copy(name: str) -> str:
        d = str(tmp_path / name)
        shutil.copytree(base, d)
        return d
    return copy


def _tombstones(index_dir: str) -> set:
    path = os.path.join(index_dir, DELETES_DIR)
    if not os.path.isdir(path):
        return set()
    return set(pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist())


def _last_delete(spark, index_dir: str) -> dict:
    return [a for a in manifest.read_actions(spark, index_dir)
            if a["action"] == "delete"][-1]


def _delete_files(index_dir: str) -> list:
    return sorted(os.listdir(os.path.join(index_dir, DELETES_DIR)))


QUERIES = {
    "text_term": Q.Term("content", "import"),
    "string_term": Q.Term("lang", "python"),
    "bool_should_must_not": Q.Boolean(
        should=[Q.Term("content", "shuffle"), Q.Term("content", "merge")],
        must_not=[Q.Term("lang", "java")]),
    "phrase": Q.Phrase("content", ["public", "void"]),
    "fast_field_range": Q.Range("stars", 10, 20),
    "match_all": Q.MatchAll(),
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_driver_delete_matches_spark_path(spark, copy_of, monkeypatch, name):
    """Same count and the same tombstoned ids on both paths, on top of an
    earlier delete whose docs must not be counted twice."""
    drv, spk = copy_of("drv"), copy_of("spk")
    earlier = Q.Range("doc_id", 0, 40)
    assert M.delete_by_query(spark, drv, earlier) == 41
    assert M.delete_by_query(spark, spk, earlier) == 41

    q = QUERIES[name]
    n_drv = M.delete_by_query(spark, drv, q)
    with monkeypatch.context() as m:
        m.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
        n_spk = M.delete_by_query(spark, spk, q)
    assert n_drv == n_spk > 0
    assert _tombstones(drv) == _tombstones(spk)
    assert _last_delete(spark, drv)["path"] == "driver"
    assert _last_delete(spark, spk)["path"] == "spark"
    for d in (drv, spk):
        assert _last_delete(spark, d)["num_docs"] == n_drv
        assert IndexSearcher(spark, d).count(q) == 0


def test_deletes_run_zero_spark_jobs(spark, copy_of, spark_jobs):
    d = copy_of("jobs")
    ops = [lambda: M.delete_by_query(spark, d, Q.Term("content", "import")),
           lambda: M.delete_by_term(spark, d, "lang", "python"),
           lambda: M.delete_all(spark, d)]
    for op in ops:
        with spark_jobs() as jobs:
            assert op() > 0
        assert jobs == []
        assert _last_delete(spark, d)["path"] == "driver"
    s = IndexSearcher(spark, d)
    with spark_jobs() as jobs:  # docs schema and tombstones: no inference
        s.docs().schema
    assert jobs == []
    assert s.count(Q.MatchAll()) == 0


def test_redelete_returns_zero_and_adds_no_file(spark, copy_of):
    d = copy_of("again")
    q = Q.Term("lang", "python")
    assert M.delete_by_query(spark, d, q) > 0
    files = _delete_files(d)
    assert len([f for f in files if f.endswith(".parquet")]) == 1
    assert M.delete_by_query(spark, d, q) == 0
    assert _delete_files(d) == files
    assert _last_delete(spark, d)["num_docs"] == 0


def test_failed_write_leaves_deletes_unchanged(spark, copy_of, monkeypatch):
    """A write that fails before os.replace leaves no file in deletes/, no
    temp beside it and no manifest line, with or without a deletes/ dir."""
    d = copy_of("fail")

    def broken_write(table, where, *a, **k):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 partial")
        raise OSError("disk full")

    def state():
        dels = os.path.join(d, DELETES_DIR)
        return (sorted(os.listdir(d)),
                sorted(os.listdir(dels)) if os.path.isdir(dels) else None,
                len(manifest.read_actions(spark, d)))

    q = Q.Term("content", "import")
    for prior in (None, Q.Term("lang", "java")):
        if prior is not None:
            assert M.delete_by_query(spark, d, prior) > 0
        before = state()
        with monkeypatch.context() as m:
            m.setattr(M.pq, "write_table", broken_write)
            with pytest.raises(OSError, match="disk full"):
                M.delete_by_query(spark, d, q)
        assert state() == before
        assert IndexSearcher(spark, d).count(q) > 0


def test_deletes_dir_without_a_visible_file_means_no_deletes(spark, copy_of):
    """A deletes/ dir with no visible file yet (a Spark append holding only
    _temporary/, or the dir the driver writer made before its move) holds
    no deletes: the fast path stays on and records no read error, and the
    Spark path reads it as empty too."""
    d = copy_of("nofile")
    q = Q.Term("content", "import")
    n = IndexSearcher(spark, d).count(q)
    dels = os.path.join(d, DELETES_DIR)
    os.makedirs(os.path.join(dels, "_temporary", "0"))
    for _ in ("_temporary/ only", "empty dir"):
        s = IndexSearcher(spark, d)
        assert s.count(q) == n
        assert s.last_metrics.get("local_path") == 1
        assert "fallback_reason" not in s.last_metrics
        assert s.score_query(q).count() == n
        shutil.rmtree(os.path.join(dels, "_temporary"), ignore_errors=True)


def test_both_writers_read_back_together(spark, tmp_path, monkeypatch):
    """Tombstones from the pyarrow writer and from Spark (index_changes'
    upsert) share one deletes/ dir; the driver reader, the cluster path and
    apply_deletes all honour every one of them."""
    from tantivy4java_spark.streaming import index_changes
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("key", "string")],
                      id_cols=["key"], content_col="content")
    d, snap = str(tmp_path / "mixed"), str(tmp_path / "snap")
    v1 = pd.DataFrame({"key": [f"k{i}" for i in range(30)],
                       "content": [f"alpha word{i % 4} body" for i in
                                   range(30)]})
    index_changes(spark, cfg, d, spark.createDataFrame(v1), snap, ["key"])
    s0 = IndexSearcher(spark, d)
    ids = {r["doc_id"]: r["key"] for r in
           s0.docs().select("doc_id", "key").collect()}
    by_key = {k: i for i, k in ids.items()}

    assert M.delete_by_query(spark, d, Q.Term("content", "word1")) == 8
    assert _last_delete(spark, d)["path"] == "driver"
    driver_dead = {by_key[f"k{i}"] for i in range(1, 30, 4)}
    v2 = v1.copy()
    v2.loc[[0, 2], "content"] = "bravo changed"  # Spark tombstones k0, k2
    index_changes(spark, cfg, d, spark.createDataFrame(v2), snap, ["key"])
    spark_dead = {by_key["k0"], by_key["k2"]}
    files = _delete_files(d)
    assert any(f.endswith("-driver.parquet") for f in files)
    assert any(f.startswith("part-") and not f.endswith("-driver.parquet")
               for f in files)
    dead = driver_dead | spark_dead

    s = IndexSearcher(spark, d)
    assert set(s._local_deletes_ids().tolist()) == dead
    alpha = Q.Term("content", "alpha")
    live = set(ids) - dead
    assert {r["doc_id"] for r in s.search(alpha, limit=100).collect()} == live
    with monkeypatch.context() as m:
        m.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
        sc = IndexSearcher(spark, d)
        got = {r["doc_id"] for r in sc.search(alpha, limit=100).collect()}
        assert "local_path" not in sc.last_metrics
    assert got == live
    assert {r["doc_id"] for r in s.docs().select("doc_id").collect()} \
        == live | {r["doc_id"] for r in s.score_query(
            Q.Term("content", "bravo")).collect()}

    assert M.apply_deletes(spark, d) == len(dead)
    after = IndexSearcher(spark, d)
    assert after.num_docs == 30 - len(dead) + 2  # the two re-added versions
    assert after.count(alpha) == len(live)


def test_manifest_records_the_delete_path(spark, copy_of, monkeypatch):
    d = copy_of("paths")
    M.delete_by_query(spark, d, Q.Term("lang", "go"))
    act = _last_delete(spark, d)
    assert act["path"] == "driver" and "fallback_reason" not in act

    def unreadable(self, dirs):
        raise OSError("unreadable")

    with monkeypatch.context() as m:
        m.setattr(IndexSearcher, "_local_dataset", unreadable)
        n = M.delete_by_query(spark, d, Q.Term("content", "import"))
    act = _last_delete(spark, d)
    assert n > 0 and act["num_docs"] == n
    assert act["path"] == "spark"
    assert act["fallback_reason"] == "read_error:OSError"

    uri = "file://" + d  # URI root: the Spark path, no driver read tried
    n = M.delete_by_query(spark, uri, Q.Term("content", "shuffle"))
    act = _last_delete(spark, d)
    assert n > 0 and act["num_docs"] == n
    assert act["path"] == "spark" and act["fallback_reason"] == "non_posix"
    assert IndexSearcher(spark, d).count(Q.Term("content", "shuffle")) == 0


def test_docs_schema_is_the_inferred_schema(spark, tmp_path, spark_jobs):
    """The docs schema read from the footer equals what spark.read.parquet
    infers, over the column types a doc store holds, at no Spark job."""
    rows = [(i, f"alpha beta{i % 3}", i % 2 == 0, float(i) / 3, i % 5,
             decimal.Decimal(f"{i}.25"), datetime.date(2024, 1, 1 + i),
             datetime.datetime(2024, 1, 1, i, 30)) for i in range(12)]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("ratio", T.DoubleType()),
        T.StructField("small", T.IntegerType()),
        T.StructField("price", T.DecimalType(10, 2)),
        T.StructField("day", T.DateType()),
        T.StructField("at", T.TimestampType())])
    d = str(tmp_path / "typed")
    build_index(spark, spark.createDataFrame(rows, schema),
                IndexConfig(fields=[FieldConfig("content", "text")],
                            id_cols=["doc_id", "flag", "ratio", "small",
                                     "price", "day", "at"],
                            content_col="content"),
                d, doc_id_col="doc_id")
    M.delete_by_query(spark, d, Q.Term("content", "beta1"))
    s = IndexSearcher(spark, d)
    with spark_jobs() as jobs:
        docs_schema = s._table("docs").schema
        dels_schema = s._deletes().schema
    assert jobs == []
    assert docs_schema == spark.read.parquet(
        *[os.path.join(d, p) for p in s._table_dirs("docs")]).schema
    assert dels_schema == spark.read.parquet(
        os.path.join(d, DELETES_DIR)).schema
    assert s.docs().count() == 8
