"""Driver-side top-k fast path (_local_topk).

Below LOCAL_TOPK_MAX_ROWS candidate postings rows, search() decodes and
ranks the match set on the driver (pyarrow + numpy) with ZERO Spark jobs —
the latency analog of the reference's in-process search
(core/Searcher.java) — while the cluster WAND paths stay canonical above
the cap.  These tests pin exact result identity between the local path and
the full (prune=False) Spark scoring path across query shapes, deletes,
offsets, and boost wrappers, plus every fallback gate.
"""

import pytest

from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import build_index
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher

N = 350


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    pdf = generate_pandas(0, N, seed=7, min_tokens=15, max_tokens=60)
    pdf["doc_id"] = range(N)
    d = str(tmp_path_factory.mktemp("lt") / "idx")
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("lang", "string")],
                      id_cols=["doc_id", "lang"], content_col="content",
                      shard_bits=5)
    build_index(spark, spark.createDataFrame(pdf), cfg, d,
                doc_id_col="doc_id", num_segments=2)
    return d


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


SHAPES = [
    Q.Term("content", "import"),
    Q.Term("content", "shuffle"),
    Q.Boolean(must=[Q.Term("content", "import"),
                    Q.Term("content", "return")]),
    Q.Boolean(should=[Q.Term("content", "shuffle"),
                      Q.Term("content", "import"),
                      Q.Term("content", "merge")]),
    Q.Boolean(must=[Q.Term("content", "import"),
                    Q.Term("lang", "python")]),
    # full node coverage of the local evaluator
    Q.TermSet("content", ["import", "merge", "shuffle"]),
    Q.Wildcard("content", "mer*"),
    Q.Regex("content", "im.*rt"),
    Q.Fuzzy("content", "merg", 1),
    Q.DisMax([Q.Term("content", "import"), Q.Term("content", "merge")],
             tie_breaker=0.3),
    Q.ConstScore(Q.Term("content", "import"), 2.0),
    Q.Boolean(must=[Q.Term("content", "import")],
              must_not=[Q.Term("content", "merge")]),
    Q.Boolean(should=[Q.Term("content", "import"),
                      Q.Term("content", "merge"),
                      Q.Term("content", "shuffle")],
              minimum_should_match=2),
    Q.Boolean(must_not=[Q.Term("content", "import")]),  # pure negative
    Q.MatchAll(),
    Q.Boolean(must=[Q.Term("content", "import")],
              should=[Q.Term("content", "merge")]),  # optional should ctx
    Q.Phrase("content", ["public", "void"]),        # 21 matching docs
    Q.Phrase("content", ["public", "void"], slop=2),
    Q.Boolean(must=[Q.Phrase("content", ["public", "void"]),
                    Q.Term("content", "import")]),  # 13 matching docs
]


@pytest.mark.parametrize("qi", range(len(SHAPES)))
@pytest.mark.parametrize("k", [3, 25])
def test_local_matches_full_scoring(spark, idx, qi, k):
    q = SHAPES[qi]
    s = IndexSearcher(spark, idx)
    local = _rows(s.search(q, limit=k))
    assert s.last_metrics.get("local_path") == 1
    full = _rows(s.search(q, limit=k, prune=False))
    assert local == full


def test_local_offset_matches_cluster(spark, idx):
    q = Q.Term("content", "import")
    s = IndexSearcher(spark, idx)
    local = _rows(s.search(q, limit=5, offset=4))
    assert s.last_metrics.get("local_path") == 1
    base = _rows(s.search(q, limit=9, prune=False))
    assert local == base[4:9]


def test_local_boost_scaled(spark, idx):
    s = IndexSearcher(spark, idx)
    plain = [(r["doc_id"], r["score"]) for r in
             s.search(Q.Term("content", "merge"), limit=10).collect()]
    boosted = [(r["doc_id"], r["score"]) for r in
               s.search(Q.Boost(Q.Term("content", "merge"), 2.5),
                        limit=10).collect()]
    assert s.last_metrics.get("local_path") == 1
    assert [d for d, _ in boosted] == [d for d, _ in plain]
    for (_, sb), (_, sp) in zip(boosted, plain):
        assert sb == pytest.approx(2.5 * sp, rel=1e-12)


def test_local_respects_deletes(spark, idx, tmp_path):
    import shutil
    from tantivy4java_spark import maintenance as M
    d2 = str(tmp_path / "idx2")
    shutil.copytree(idx, d2)
    q = Q.Term("content", "import")
    s0 = IndexSearcher(spark, d2)
    before = [d for d, _ in _rows(s0.search(q, limit=N))]
    victim = before[0]  # the current top hit — its removal must reshuffle
    M.delete_by_query(spark, d2, Q.Range("doc_id", victim, victim))
    s = IndexSearcher(spark, d2)
    after = _rows(s.search(q, limit=N))
    assert s.last_metrics.get("local_path") == 1
    assert victim not in {d for d, _ in after}
    assert {d for d, _ in after} == set(before) - {victim}


def test_zero_df_term_shapes(spark, idx):
    s = IndexSearcher(spark, idx)
    # absent term alone -> empty
    assert _rows(s.search(Q.Term("content", "zzzmissing"), limit=5)) == []
    # MUST with an absent term empties the whole intersection
    q = Q.Boolean(must=[Q.Term("content", "import"),
                        Q.Term("content", "zzzmissing")])
    assert _rows(s.search(q, limit=5)) == []
    # SHOULD just drops the absent clause
    q = Q.Boolean(should=[Q.Term("content", "import"),
                          Q.Term("content", "zzzmissing")])
    got = _rows(s.search(q, limit=5))
    want = _rows(s.search(Q.Term("content", "import"), limit=5))
    assert got == want


def test_non_posix_root_falls_back(spark, idx, monkeypatch):
    from tantivy4java_spark import searcher as S
    monkeypatch.setattr(S.fsio, "has_scheme", lambda p: True)
    s = IndexSearcher(spark, idx)
    got = _rows(s.search(Q.Term("content", "import"), limit=5))
    assert "local_path" not in s.last_metrics
    assert len(got) == 5


def test_cap_falls_back_to_wand(spark, idx, monkeypatch):
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s = IndexSearcher(spark, idx)
    got = _rows(s.search(Q.Term("content", "import"), limit=5))
    assert "local_path" not in s.last_metrics
    assert s.last_metrics.get("shards_total", -1) >= 0
    s2 = IndexSearcher(spark, idx)
    assert got == _rows(s2.search(Q.Term("content", "import"), limit=5))


def test_spark_jobs_fixture_counts_a_job(spark, spark_jobs):
    """Positive control: the old empty frame (createDataFrame) runs a job."""
    from tantivy4java_spark.searcher import _SCORED_SCHEMA
    with spark_jobs() as jobs:
        spark.createDataFrame([], _SCORED_SCHEMA).collect()
    assert len(jobs) >= 1


def _assert_local_ops_run_zero_jobs(s, spark_jobs):
    from tantivy4java_spark import aggs as A
    ops = {
        "hit": lambda: s.search(Q.Term("content", "shuffle"), limit=5),
        "zero_hit": lambda: s.search(Q.Term("content", "zzzmissing"),
                                     limit=5),
        "order_by_field": lambda: s.search(Q.Term("content", "import"),
                                           limit=5, order_by_field="lang"),
        "terms_agg": lambda: A.aggregate(
            s, Q.Term("content", "import"),
            {"by_lang": A.Terms("lang", size=10)})["by_lang"],
        "explain_missing_term": lambda: s.explain(
            Q.Term("content", "zzzmissing"), 0),
        "explain_missing_phrase": lambda: s.explain(
            Q.Phrase("content", ["public", "zzzmissing"]), 0),
    }
    hits = ("hit", "order_by_field", "terms_agg")
    for name, op in ops.items():
        for _ in range(2):  # first use and the memoized repeat
            with spark_jobs() as jobs:
                rows = op().collect()
            assert jobs == [], name
        assert (len(rows) == 0) == (name not in hits), name
        if not name.startswith("explain"):
            assert s.last_metrics.get("local_path") == 1, name


def test_local_runs_zero_spark_jobs(spark, idx, spark_jobs):
    """The point of the fast path: the whole search(...).collect() round
    trip runs NO Spark job, for hits, zero hits, field order, a local terms
    aggregation and the explain of missing terms."""
    _assert_local_ops_run_zero_jobs(IndexSearcher(spark, idx), spark_jobs)


def test_local_runs_zero_spark_jobs_with_appended_segments(
        spark, idx, tmp_path, spark_jobs):
    """The same on an index that grew by appends: the bulk and appended
    segments' docs dirs carry one footer schema, so no table read infers
    one."""
    import shutil
    from tantivy4java_spark.streaming import add_documents
    d = str(tmp_path / "appended")
    shutil.copytree(idx, d)
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("lang", "string")],
                      id_cols=["doc_id", "lang"], content_col="content",
                      shard_bits=5)
    for start in (N, N + 40):
        extra = generate_pandas(start, 40, seed=start, min_tokens=15,
                                max_tokens=60)
        add_documents(spark, cfg, d, spark.createDataFrame(extra))
    s = IndexSearcher(spark, d)
    assert len(s._stats["segment_dirs"]) == 4
    assert s._footer_schema(s._table_dirs("docs")) is not None
    _assert_local_ops_run_zero_jobs(s, spark_jobs)


@pytest.mark.parametrize("reason", ["non_posix", "budget_exceeded",
                                    "unsupported"])
def test_fallback_reason_recorded_and_warned_once(spark, idx, monkeypatch,
                                                  caplog, reason):
    """Each way the driver fast path declines a query is recorded in
    last_metrics["fallback_reason"], with one warning per searcher and
    reason, and the Spark path answers."""
    import logging
    from tantivy4java_spark import searcher as S
    q = Q.Term("content", "import")
    if reason == "non_posix":
        monkeypatch.setattr(S.fsio, "has_scheme", lambda p: True)
        want = "non_posix"
    elif reason == "budget_exceeded":
        monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 5)
        # a term's estimate is its df, all over the budget of 5
        want = "budget_exceeded:" \
            f"{IndexSearcher(spark, idx).term_df('content', 'import')}"
    else:
        q = Q.MoreLikeThis(doc_id=3, field="content", min_doc_freq=1,
                           min_term_freq=1)
        want = "unsupported:MoreLikeThis"
    s = IndexSearcher(spark, idx)
    with caplog.at_level(logging.WARNING, logger="tantivy4java_spark"):
        for _ in range(2):
            rows = s.search(q, limit=5).collect()
            assert "local_path" not in s.last_metrics
            assert s.last_metrics.get("fallback_reason") == want
    warned = [r for r in caplog.records if want in r.getMessage()]
    assert len(warned) == 1
    assert len(rows) == 5


def test_local_order_by_decimal_field(spark, tmp_path):
    """Field order over a decimal column on the driver fast path (the
    result frame once truncated decimals to int and failed the schema)."""
    import decimal
    from pyspark.sql import types as T
    rows = [(i, "alpha " + ("gamma" if i % 2 else "delta"),
             decimal.Decimal(f"{(i * 37) % 11}.{i:02d}")) for i in range(30)]
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.StringType()),
        T.StructField("price", T.DecimalType(10, 2))]))
    d = str(tmp_path / "idx")
    build_index(spark, df, IndexConfig(fields=[FieldConfig("content", "text")],
                                       id_cols=["doc_id", "price"],
                                       content_col="content"),
                d, doc_id_col="doc_id")
    s = IndexSearcher(spark, d)
    q = Q.Term("content", "gamma")
    local = s.search(q, limit=5, order_by_field="price", ascending=True)
    assert s.last_metrics.get("local_path") == 1
    full = s.search(q, limit=5, order_by_field="price", ascending=True,
                    prune=False)
    assert [(f.name, f.dataType) for f in local.schema] \
        == [(f.name, f.dataType) for f in full.schema]
    assert local.collect() == full.collect()


def test_empty_frames_keep_the_old_schema(spark, idx):
    """The job-free empty frames have the names, types and nullability of
    the createDataFrame([], ...) frames they replace, and are built once."""
    from tantivy4java_spark.searcher import _SCORED_SCHEMA
    old_scored = spark.createDataFrame([], _SCORED_SCHEMA).schema
    old_explain = spark.createDataFrame(
        [], "kind string, field string, term string, doc_id long, tf long, "
            "norm_id int, quantized_len double, df long, num_docs double, "
            "distance int, score double").schema
    s = IndexSearcher(spark, idx)
    assert s._empty_scored().schema == old_scored
    assert s._empty_scored() is s._empty_scored()
    zero = s.search(Q.Term("content", "zzzmissing"), limit=5)
    assert zero.schema == old_scored
    assert s.explain(Q.Term("content", "zzzmissing"), 0).schema == old_explain
    assert s.explain(Q.Fuzzy("content", "zzzzzzzz", 1), 0).schema \
        == old_explain


def test_live_searcher_stays_local_after_apply_deletes(spark, idx, tmp_path):
    """apply_deletes compacts away the files a live searcher pinned; the
    searcher reopens on the new commit instead of leaving the fast path."""
    import shutil
    from tantivy4java_spark import maintenance as M
    d2 = str(tmp_path / "idx2")
    shutil.copytree(idx, d2)
    q = Q.Term("content", "import")
    s = IndexSearcher(spark, d2)
    before = _rows(s.search(q, limit=N))
    assert s.last_metrics.get("local_path") == 1
    victim = before[0][0]
    M.delete_by_query(spark, d2, Q.Range("doc_id", victim, victim))
    assert M.apply_deletes(spark, d2) == 1
    got = _rows(s.search(q, limit=N))
    assert s.last_metrics.get("local_path") == 1
    assert "fallback_reason" not in s.last_metrics
    fresh = IndexSearcher(spark, d2)
    assert got == _rows(fresh.search(q, limit=N))
    assert victim not in {d for d, _ in got}


def test_read_error_recorded_and_warned_once(spark, idx, monkeypatch,
                                             caplog):
    """A failed driver-side read is not silent: the reason lands in
    last_metrics and one warning is logged per searcher and reason."""
    import logging
    s = IndexSearcher(spark, idx)

    def denied(dirs):
        raise PermissionError("denied")

    monkeypatch.setattr(s, "_local_dataset", denied)
    with caplog.at_level(logging.WARNING, logger="tantivy4java_spark"):
        for _ in range(2):
            got = _rows(s.search(Q.Term("content", "merge"), limit=5))
            assert "local_path" not in s.last_metrics
            assert s.last_metrics.get("fallback_reason") \
                == "read_error:PermissionError"
    warned = [r for r in caplog.records
              if "read_error:PermissionError" in r.getMessage()]
    assert len(warned) == 1
    assert got == _rows(IndexSearcher(spark, idx).search(
        Q.Term("content", "merge"), limit=5))


def test_local_json_phrase_matches_cluster(spark, tmp_path_factory,
                                           monkeypatch):
    """Json dot-path phrase on the local path.  Regression: pandas
    object-dtype hash kernels (groupby.nunique) truncate strings at NUL —
    the json path separator — which collapsed every per-path term into one
    group and returned 0 rows where Spark found matches."""
    import pandas as pd
    import json as _json
    pdf = generate_pandas(0, 200, seed=11, min_tokens=15, max_tokens=40)
    pdf["doc_id"] = range(200)
    pdf["jdoc"] = [_json.dumps({"body": t}) for t in pdf["content"]]
    d = str(tmp_path_factory.mktemp("ljp") / "idx")
    cfg = IndexConfig(fields=[FieldConfig("jdoc", "json")],
                      id_cols=["doc_id"])
    build_index(spark, spark.createDataFrame(pdf[["doc_id", "jdoc"]]),
                cfg, d, doc_id_col="doc_id")
    s = IndexSearcher(spark, d)
    q = Q.Phrase("jdoc.body", ["public", "void"])
    local = _rows(s.search(q, limit=50))
    assert s.last_metrics.get("local_path") == 1
    assert len(local) > 0  # the truncation bug returned 0 rows
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s2 = IndexSearcher(spark, d)
    assert local == _rows(s2.search(q, limit=50))


@pytest.fixture(scope="module")
def typed_idx(spark, tmp_path_factory):
    """Typed fields index (i64, date, ip, text) for the range/exists/
    typed-term local evaluators."""
    import datetime as dtm
    import pandas as pd
    pdf = generate_pandas(0, 250, seed=23, min_tokens=10, max_tokens=30)
    pdf["doc_id"] = range(250)
    pdf["n"] = [i * 7 % 400 for i in range(250)]
    base = dtm.datetime(2024, 3, 1, tzinfo=dtm.timezone.utc)
    pdf["ts"] = [base + dtm.timedelta(hours=3 * i) for i in range(250)]
    pdf["ip"] = [f"10.{i % 4}.0.{i % 200}" for i in range(250)]
    # a nullable typed column for exists
    pdf["opt"] = [float(i) if i % 3 else None for i in range(250)]
    d = str(tmp_path_factory.mktemp("typed") / "idx")
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("n", "i64", fast=True),
                              FieldConfig("ts", "date", fast=True),
                              FieldConfig("ip", "ip", fast=True),
                              FieldConfig("opt", "f64", fast=True)],
                      id_cols=["doc_id"], content_col="content")
    build_index(spark, spark.createDataFrame(pdf), cfg, d,
                doc_id_col="doc_id", num_segments=2)
    return d


TYPED_SHAPES = [
    Q.Range("n", lower=50, upper=200),
    Q.Range("n", lower=50, upper=200, include_lower=False,
            include_upper=False),
    Q.Range("n", lower=300, upper=None),
    Q.Range("ts", lower="2024-03-05T00:00:00Z", upper="2024-03-12T00:00:00Z"),
    Q.Range("ip", lower="10.1.0.0", upper="10.2.255.255"),
    Q.Term("n", 49),
    Q.Term("ip", "10.2.0.18"),
    Q.Exists("opt"),
    Q.Exists("content"),
    Q.Boolean(must=[Q.Term("content", "import"),
                    Q.Range("n", lower=0, upper=250)]),
]


@pytest.mark.parametrize("qi", range(len(TYPED_SHAPES)))
def test_local_typed_matches_cluster(spark, typed_idx, qi, monkeypatch):
    """Range / exists / typed-term / ip local evaluators: exact identity
    with the cluster scoring path, and the local path actually engages."""
    q = TYPED_SHAPES[qi]
    s = IndexSearcher(spark, typed_idx)
    local = _rows(s.search(q, limit=300))
    assert s.last_metrics.get("local_path") == 1
    assert len(local) > 0
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s2 = IndexSearcher(spark, typed_idx)
    assert local == _rows(s2.search(q, limit=300))


def test_local_json_term_range_exists_match_cluster(spark, tmp_path_factory,
                                                    monkeypatch):
    """Json dot-path term / numeric range / exists on the local path."""
    import json as _json
    pdf = generate_pandas(0, 150, seed=31, min_tokens=10, max_tokens=30)
    pdf["doc_id"] = range(150)
    pdf["jdoc"] = [_json.dumps({"body": t, "meta": {"n": i % 40}})
                   if i % 5 else _json.dumps({"body": t})
                   for i, t in enumerate(pdf["content"])]
    d = str(tmp_path_factory.mktemp("ljt") / "idx")
    cfg = IndexConfig(fields=[FieldConfig("jdoc", "json")],
                      id_cols=["doc_id"])
    build_index(spark, spark.createDataFrame(pdf[["doc_id", "jdoc"]]),
                cfg, d, doc_id_col="doc_id")
    shapes = [Q.Term("jdoc.body", "import"),
              Q.Term("jdoc.body", "public void"),  # multi-token AND
              Q.Range("jdoc.meta.n", lower=5, upper=20),
              Q.Exists("jdoc.meta.n"),
              Q.Exists("jdoc.body")]
    s = IndexSearcher(spark, d)
    got = []
    for q in shapes:
        rows = _rows(s.search(q, limit=200))
        assert s.last_metrics.get("local_path") == 1, q
        assert len(rows) > 0, q
        got.append(rows)
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s2 = IndexSearcher(spark, d)
    for q, rows in zip(shapes, got):
        assert rows == _rows(s2.search(q, limit=200)), q


def test_local_sort_by_field_matches_cluster(spark, typed_idx, monkeypatch):
    """order_by_field + offset on the local path: same rows, same order,
    same columns as the cluster join+sort."""
    def rows(s, asc, off):
        df = s.search(Q.Term("content", "import"), limit=7,
                      order_by_field="n", ascending=asc, offset=off)
        return [(r["doc_id"], round(r["score"], 9), r["n"])
                for r in df.collect()]

    s = IndexSearcher(spark, typed_idx)
    got = [rows(s, asc, off) for asc in (True, False) for off in (0, 3)]
    assert s.last_metrics.get("local_path") == 1
    assert all(len(g) > 0 for g in got)
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s2 = IndexSearcher(spark, typed_idx)
    want = [rows(s2, asc, off) for asc in (True, False) for off in (0, 3)]
    assert got == want


def test_local_aggregate_matches_cluster(spark, typed_idx, monkeypatch):
    """Driver-side aggregation fast path (metrics + terms buckets): exact
    row/schema identity with the cluster lowering, including empty-match
    and all-null metric semantics."""
    from tantivy4java_spark import aggs as A

    def run(s):
        res = A.aggregate(s, Q.Term("content", "import"), {
            "by_lang_top": A.Terms("n", size=5,
                                   sub={"s": A.Sum("opt"),
                                        "st": A.Stats("n")}),
            "stats": A.Stats("n"),
            "card": A.Cardinality("n", exact=True),
            "empty_sum": A.Sum("opt"),
        })
        out = {}
        for k, df in res.items():
            out[k] = (df.schema, [tuple(r) for r in df.collect()])
        # empty match set: one metric row with count 0 / null sum
        res2 = A.aggregate(s, Q.Term("content", "zzz_nonexistent_zzz"),
                           {"m": A.Stats("n")})
        out["empty"] = (res2["m"].schema,
                        [tuple(r) for r in res2["m"].collect()])
        return out

    s = IndexSearcher(spark, typed_idx)
    got = run(s)
    assert s.last_metrics.get("local_agg") == 1
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s2 = IndexSearcher(spark, typed_idx)
    want = run(s2)
    # (zero-df queries legitimately stay local even at budget 0, so only
    # the result identity is asserted for the forced-cluster searcher)
    for k in want:
        assert got[k][0] == want[k][0], f"{k}: schema"
        assert got[k][1] == want[k][1], f"{k}: rows"


def test_count_local_matches_cluster(spark, idx, monkeypatch):
    s = IndexSearcher(spark, idx)
    queries = [Q.Term("content", "import"),
               Q.Phrase("content", ["public", "void"]),
               Q.Boolean(must_not=[Q.Term("content", "import")])]
    local_counts = [s.count(q) for q in queries]
    assert s.last_metrics.get("local_path") == 1
    assert all(c > 0 for c in local_counts)  # non-trivial equality
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s2 = IndexSearcher(spark, idx)
    assert local_counts == [s2.count(q) for q in queries]


def test_local_bucket_aggs_match_cluster(spark, typed_idx, monkeypatch):
    """Histogram / RangeAgg / fixed-interval-UTC DateHistogram on the
    driver-side aggregation fast path: exact schema + row identity with the
    cluster lowering across offsets, hard_bounds, min_doc_count filtering,
    extended_bounds empty-bucket fill, nullable metric columns, and the
    first-match-wins range cascade."""
    from tantivy4java_spark import aggs as A

    AGGS = {
        "h_plain": A.Histogram("n", interval=50.0),
        "h_mdc": A.Histogram("n", interval=50.0, offset=7.0,
                             min_doc_count=2,
                             sub={"s": A.Sum("opt"), "st": A.Stats("n")}),
        "h_hard": A.Histogram("n", interval=50.0, hard_bounds=(60, 310)),
        "h_fill": A.Histogram("n", interval=50.0, min_doc_count=0,
                              extended_bounds=(-100, 600),
                              sub={"mx": A.Max("opt")}),
        "h_nullable": A.Histogram("opt", interval=25.0),
        "d_day": A.DateHistogram("ts", fixed_interval="1d",
                                 sub={"c": A.Count("doc_id")}),
        "d_12h": A.DateHistogram("ts", fixed_interval="12h",
                                 min_doc_count=3),
        "d_off": A.DateHistogram("ts", fixed_interval="1d", offset="+6h"),
        "r_basic": A.RangeAgg("n", ranges=[("low", None, 100.0),
                                           ("mid", 100.0, 300.0),
                                           ("high", 300.0, None)],
                              sub={"s": A.Sum("n")}),
        "r_overlap": A.RangeAgg("n", ranges=[("a", 0.0, 200.0),
                                             ("b", 100.0, 400.0)]),
    }

    def run(s):
        out = {}
        for k, agg in AGGS.items():
            res = A.aggregate(s, Q.Term("content", "import"), {k: agg})[k]
            out[k] = (res.schema, [tuple(r) for r in res.collect()])
        return out

    s = IndexSearcher(spark, typed_idx)
    got = run(s)
    assert s.last_metrics.get("local_agg") == 1
    assert all(len(rows) > 0 for _, rows in got.values())
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s2 = IndexSearcher(spark, typed_idx)
    want = run(s2)
    for k in AGGS:
        assert got[k][0] == want[k][0], f"{k}: schema"
        assert got[k][1] == want[k][1], f"{k}: rows"


def test_local_bucket_agg_fallback_gates(spark, typed_idx):
    """Shapes the local aggregation path must NOT take (they keep the
    tested cluster lowering) while still answering correctly."""
    from tantivy4java_spark import aggs as A

    s = IndexSearcher(spark, typed_idx)
    # calendar interval and non-UTC tz: cluster-only
    for agg in [A.DateHistogram("ts", fixed_interval=None,
                                calendar_interval="1w"),
                A.DateHistogram("ts", fixed_interval="1d",
                                time_zone="America/New_York"),
                A.DateHistogram("ts", fixed_interval="1d", min_doc_count=0)]:
        s.last_metrics.pop("local_agg", None)
        rows = A.aggregate(s, Q.Term("content", "import"),
                           {"d": agg})["d"].collect()
        assert s.last_metrics.get("local_agg") != 1
        assert len(rows) > 0
    # nested bucket sub-aggregation: cluster-only
    s.last_metrics.pop("local_agg", None)
    nested = A.Histogram("n", interval=100.0, min_doc_count=1,
                         sub={"inner": A.Terms("n", size=2)})
    rows = A.aggregate(s, Q.Term("content", "import"),
                       {"h": nested})["h"].collect()
    assert s.last_metrics.get("local_agg") != 1
    assert len(rows) > 0


def test_local_histogram_fill_guard(spark, typed_idx):
    """The local fill honors MAX_BUCKETS exactly like the cluster path:
    a degenerate interval raises TooManyBucketsError, never a driver OOM."""
    from tantivy4java_spark import aggs as A

    s = IndexSearcher(spark, typed_idx)
    agg = A.Histogram("n", interval=0.001, min_doc_count=0,
                      extended_bounds=(0, 1000))
    with pytest.raises(A.TooManyBucketsError):
        A.aggregate(s, Q.Term("content", "import"), {"h": agg})


def test_local_agg_fuzz_two_paths(spark, typed_idx, monkeypatch):
    """Random aggregation requests through BOTH the driver-side fast path
    and the forced-cluster lowering: schema + row identity on every shape.
    Mirrors the query-tree fuzz sweep's two-path design (test_fuzz)."""
    import random

    from tantivy4java_spark import aggs as A

    rng = random.Random(20260817)
    METRIC_FIELDS = ["n", "opt", "doc_id"]
    QUERIES = [Q.Term("content", "import"), Q.Term("content", "public"),
               Q.Range("n", lower=30, upper=350), Q.MatchAll()]

    def rand_metric():
        cls = rng.choice([A.Sum, A.Avg, A.Min, A.Max, A.Count, A.Stats])
        return cls(rng.choice(METRIC_FIELDS))

    def rand_sub():
        return ({f"m{i}": rand_metric() for i in range(rng.randint(1, 2))}
                if rng.random() < 0.5 else {})

    def rand_agg():
        r = rng.random()
        if r < 0.2:
            return rand_metric()
        if r < 0.4:
            interval = rng.choice([10.0, 25.0, 50.0, 130.0])
            kw = dict(interval=interval, offset=rng.choice([0.0, 3.0, -7.0]),
                      min_doc_count=rng.choice([0, 0, 1, 2]), sub=rand_sub())
            if rng.random() < 0.3:
                kw["hard_bounds"] = (rng.uniform(-50, 100),
                                     rng.uniform(150, 450))
            if kw["min_doc_count"] == 0 and rng.random() < 0.5:
                kw["extended_bounds"] = (rng.uniform(-300, 0),
                                         rng.uniform(400, 900))
            return A.Histogram(rng.choice(["n", "opt"]), **kw)
        if r < 0.6:
            return A.DateHistogram(
                "ts", fixed_interval=rng.choice(["6h", "12h", "1d", "3d"]),
                offset=rng.choice(["0s", "+6h", "-2h"]),
                min_doc_count=rng.choice([1, 1, 3]), sub=rand_sub())
        if r < 0.8:
            cuts = sorted(rng.sample(range(0, 400, 10), rng.randint(2, 4)))
            ranges = [("lo", None, float(cuts[0]))]
            ranges += [(f"r{i}", float(a), float(b))
                       for i, (a, b) in enumerate(zip(cuts, cuts[1:]))]
            ranges.append(("hi", float(cuts[-1]), None))
            if rng.random() < 0.3:  # overlap: first-match-wins cascade
                ranges.insert(1, ("overlap", float(cuts[0]) - 5.0,
                                  float(cuts[0]) + 45.0))
            return A.RangeAgg("n", ranges=ranges, sub=rand_sub())
        return A.Terms(rng.choice(["n", "opt"]), size=rng.randint(1, 8),
                       sub=rand_sub())

    cases = []
    for i in range(40):
        q = rng.choice(QUERIES)
        aggs = {f"a{j}": rand_agg() for j in range(rng.randint(1, 3))}
        cases.append((q, aggs))

    def run(s):
        outs = []
        for q, aggs in cases:
            res = A.aggregate(s, q, aggs)
            outs.append({k: (df.schema, [tuple(r) for r in df.collect()])
                         for k, df in res.items()})
        return outs

    s = IndexSearcher(spark, typed_idx)
    got = run(s)
    assert s.last_metrics.get("local_agg") == 1
    monkeypatch.setattr(IndexSearcher, "LOCAL_TOPK_MAX_ROWS", 0)
    s2 = IndexSearcher(spark, typed_idx)
    want = run(s2)
    for i, ((q, aggs), g, w) in enumerate(zip(cases, got, want)):
        for k in aggs:
            assert g[k][0] == w[k][0], f"case {i} {k} ({aggs[k]}): schema"
            assert g[k][1] == w[k][1], f"case {i} {k} ({aggs[k]}): rows"


def test_local_metric_float32_widens_like_spark(spark):
    """Spark widens float32 sums/averages to double; the local metric
    kernel must too (float32 accumulation visibly diverges: mean of
    333x[.1,.2,.7,1e7,.3,.4] differs in the 9th digit)."""
    import numpy as np
    import pandas as pd

    from tantivy4java_spark import aggs as A

    import math

    pdf = pd.DataFrame({"x": np.float32([0.1, 0.2, 0.7, 1e7, 0.3, 0.4] * 333)})
    df = spark.createDataFrame(pdf)
    for agg in [A.Sum("x"), A.Avg("x"), A.Min("x"), A.Max("x"),
                A.Stats("x")]:
        want = [tuple(r) for r in A.apply_agg(df, agg, "m").collect()][0]
        got = tuple(v for _, v in A._local_metric_vals(pdf["x"], agg, "m"))
        # double summation order differs between Spark's per-partition
        # partials and numpy's pairwise sum — a few ulps (rel ~1e-15) is
        # inherent; the float32-accumulation bug this test pins diverged
        # at rel ~5e-8, far past this tolerance
        for g, w in zip(got, want):
            assert math.isclose(float(g), float(w), rel_tol=1e-12), \
                (type(agg).__name__, g, w)
