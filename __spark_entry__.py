"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: build the inverted index over sf0.001 documents,
run a parsed boolean BM25 query, join hits back to the doc store.

`queries()` / `oracle_sql()` — one entry per implemented operator from
SURVEY.md §2 (+ the training-pipeline operators).  Search queries run through
the REAL engine (tokenize -> posting blocks -> block-max-pruned BM25 top-k);
oracles recompute the identical semantics in pure DuckDB SQL, including the
quantized-fieldnorm BM25 (the 256-entry table is inlined into the SQL).
Scores are computed in float64 with identical operation order on both sides
and rounded to 6 decimals.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tantivy4java_spark import aggs as A
from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import build_index
from tantivy4java_spark.fieldnorm import FIELDNORM_TABLE
from tantivy4java_spark.parser import parse_query
from tantivy4java_spark.pipeline import dedup as D
from tantivy4java_spark.pipeline import multimodal as MM
from tantivy4java_spark.pipeline import similarity as S
from tantivy4java_spark.pipeline import text as TX
from tantivy4java_spark.schema import FieldConfig, IndexConfig, documents_config
from tantivy4java_spark.scoring import B, K1
from tantivy4java_spark.searcher import IndexSearcher

# ---------------------------------------------------------------------------
# index cache (one build per sf_dir per process; reused across queries)
# ---------------------------------------------------------------------------
_SEARCHERS: dict = {}


def _cache_root() -> str:
    """Ephemeral index-cache root.  tmpfs when available: this sandbox's
    disk is write-through at ~15-35 MB/s under co-tenant load, and these
    indexes are throwaway per-process caches."""
    env = os.environ.get("SPARK_GRAFT_WORKDIR")
    if env:
        return env
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) \
        else tempfile.gettempdir()


def _searcher(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    key = os.path.abspath(sf_dir)
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    import tantivy4java_spark
    tag = hashlib.md5(
        f"{key}:{tantivy4java_spark.__version__}:8".encode()).hexdigest()[:10]
    idx_dir = os.path.join(_cache_root(), f"t4s_docs_index_{tag}")
    if not os.path.exists(os.path.join(idx_dir, "stats.json")):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        build_index(spark, docs, documents_config(), idx_dir,
                    doc_id_col="doc_id", num_segments=2)
    _SEARCHERS[key] = IndexSearcher(spark, idx_dir)
    return _SEARCHERS[key]


def _events_searcher(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Index over the events table: keyword + JSON (props) + fast fields."""
    key = "events:" + os.path.abspath(sf_dir)
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    import tantivy4java_spark
    tag = hashlib.md5(
        f"{key}:{tantivy4java_spark.__version__}:8".encode()).hexdigest()[:10]
    idx_dir = os.path.join(_cache_root(), f"t4s_events_index_{tag}")
    if not os.path.exists(os.path.join(idx_dir, "stats.json")):
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        cfg = IndexConfig(
            fields=[FieldConfig("event_type", "string"),
                    FieldConfig("props", "json"),
                    FieldConfig("value", "f64", fast=True),
                    FieldConfig("user_id", "i64", fast=True),
                    FieldConfig("ts", "date", fast=True)],
            id_cols=["event_id", "event_type", "user_id", "value"],
        )
        build_index(spark, ev, cfg, idx_dir, doc_id_col="event_id")
    _SEARCHERS[key] = IndexSearcher(spark, idx_dir)
    return _SEARCHERS[key]


def _jdocs_searcher(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Index with a JSON field derived from documents (jdoc.body = text):
    exercises phrase-over-dot-path (q26) — per-path token positions in the
    positions table (reference JsonFieldQueryTest.java, README.md:111-179)."""
    key = "jdocs:" + os.path.abspath(sf_dir)
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    import tantivy4java_spark
    tag = hashlib.md5(
        f"{key}:{tantivy4java_spark.__version__}:8".encode()).hexdigest()[:10]
    idx_dir = os.path.join(_cache_root(), f"t4s_jdocs_index_{tag}")
    if not os.path.exists(os.path.join(idx_dir, "stats.json")):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        jd = docs.select(
            "doc_id",
            F.to_json(F.struct(F.col("text").alias("body"))).alias("jdoc"))
        cfg = IndexConfig(fields=[FieldConfig("jdoc", "json")],
                          id_cols=["doc_id"])
        build_index(spark, jd, cfg, idx_dir, doc_id_col="doc_id")
    _SEARCHERS[key] = IndexSearcher(spark, idx_dir)
    return _SEARCHERS[key]


def _enriched_searcher(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Index over events with DERIVED typed columns: an IP fast field
    (full-IPv6 hex32 column, §1.2) and a multi-value keyword array
    (position-gap-2 tag semantics) — exercises O5/array surface in the
    driver with deterministic, SQL-reconstructible values."""
    key = "enriched:" + os.path.abspath(sf_dir)
    if key in _SEARCHERS:
        return _SEARCHERS[key]
    import tantivy4java_spark
    tag = hashlib.md5(
        f"{key}:{tantivy4java_spark.__version__}:8".encode()).hexdigest()[:10]
    idx_dir = os.path.join(_cache_root(), f"t4s_enriched_index_{tag}")
    if not os.path.exists(os.path.join(idx_dir, "stats.json")):
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        enr = ev.select(
            F.col("event_id").alias("doc_id"),
            F.concat(F.lit("10."), (F.col("user_id") % 4).cast("string"),
                     F.lit(".0."), (F.col("user_id") % 250).cast("string")
                     ).alias("client_ip"),
            F.array(F.col("event_type"),
                    F.concat(F.lit("u"), (F.col("user_id") % 7).cast("string"))
                    ).alias("tags"))
        cfg = IndexConfig(fields=[FieldConfig("client_ip", "ip"),
                                  FieldConfig("tags", "string")],
                          id_cols=["doc_id"])
        build_index(spark, enr, cfg, idx_dir, doc_id_col="doc_id")
    _SEARCHERS[key] = IndexSearcher(spark, idx_dir)
    return _SEARCHERS[key]


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _topk(spark, sf_dir, q, k=10) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return s.search(q, limit=k).select(
        "doc_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: parse -> BM25 top-10 ->
    retrieve stored fields from the doc store."""
    sf_dir = "/root/testdata/sf0.001"
    s = _searcher(spark, sf_dir)
    q = parse_query("text:merge AND lang:en", ["text"])
    hits = s.search(q, limit=10)
    src = _docs(spark, sf_dir)
    return s.retrieve(hits, src, fields=["lang", "source", "n_chars"]) \
        .select("doc_id", F.round("score", 6).alias("score"),
                "lang", "source", "n_chars")


# ---------------------------------------------------------------------------
# DuckDB oracle SQL generators (identical math, identical op order)
# ---------------------------------------------------------------------------
_FN_VALS = ",".join(str(int(v)) for v in FIELDNORM_TABLE)
_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_IDFW = K1 + 1.0  # 2.2


def _base_ctes() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} t FROM documents),
lens AS (SELECT doc_id, len(t) l FROM toks),
qlens AS (SELECT doc_id,
    list_aggregate(list_filter([{_FN_VALS}], v -> v <= l), 'max') ql FROM lens),
stats AS (SELECT sum(l)::DOUBLE / count(*) avgdl, count(*)::DOUBLE n FROM lens)"""


def _term_cte(alias: str, term: str) -> str:
    tf = f"len(list_filter(t, x -> x = '{term}'))"
    return f""",
tf_{alias} AS (SELECT doc_id, {tf} tf FROM toks WHERE {tf} > 0),
s_{alias} AS (SELECT f.doc_id,
    (ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * {_IDFW}) * f.tf /
    (f.tf + {K1} * ({1.0 - B} + {B} * q.ql / s.avgdl)) raw
  FROM tf_{alias} f,
       (SELECT count(*)::DOUBLE df FROM tf_{alias}) d, stats s, qlens q
  WHERE q.doc_id = f.doc_id)"""


def _keyword_cte(alias: str, field: str, value: str) -> str:
    # raw/keyword field: tf=1, quantized len=1, avgdl=1.0
    return f""",
k_{alias} AS (SELECT doc_id FROM documents WHERE {field} = '{value}'),
s_{alias} AS (SELECT doc_id,
    (ln(1.0 + ((SELECT count(*)::DOUBLE FROM documents) - d.df + 0.5)
        / (d.df + 0.5)) * {_IDFW})
    * 1.0 / (1.0 + {K1} * ({1.0 - B} + {B} * 1.0 / 1.0)) raw
  FROM k_{alias}, (SELECT count(*)::DOUBLE df FROM k_{alias}) d)"""


def _topk_sql(raw_expr: str, from_clause: str, k: int = 10,
              where: str = "") -> str:
    return f"""
SELECT doc_id, round({raw_expr}, 6) AS score
FROM {from_clause} {where}
ORDER BY {raw_expr} DESC, doc_id ASC LIMIT {k}"""


def _single_term_sql(term: str, k: int = 10) -> str:
    return _base_ctes() + _term_cte("a", term) + \
        _topk_sql("raw", "s_a", k)


def _and2_sql(cte_a: str, cte_b: str, k: int = 10) -> str:
    return _base_ctes() + cte_a + cte_b + f"""
SELECT a.doc_id AS doc_id, round(a.raw + b.raw, 6) AS score
FROM s_a a JOIN s_b b ON a.doc_id = b.doc_id
ORDER BY (a.raw + b.raw) DESC, a.doc_id ASC LIMIT {k}"""


def _or2_sql(cte_a: str, cte_b: str, k: int = 10, not_where: str = "") -> str:
    total = "(COALESCE(a.raw, 0.0) + COALESCE(b.raw, 0.0))"
    return _base_ctes() + cte_a + cte_b + f"""
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, round({total}, 6) AS score
FROM s_a a FULL OUTER JOIN s_b b ON a.doc_id = b.doc_id
{not_where}
ORDER BY {total} DESC, COALESCE(a.doc_id, b.doc_id) ASC LIMIT {k}"""


# ---------------------------------------------------------------------------
# the operator inventory
# ---------------------------------------------------------------------------
def _last_green_round() -> dict[str, int]:
    """Per-query last round with a fully green driver row (rows/schema/hash),
    from the checked-in CORRECTNESS_r*.json files.  Drives the MECHANICAL
    window rotation (round-4 verdict item 3): the harness records only the
    first 50 dict entries, so entries are ordered least-recently-verified
    first — never-verified and longest-parked operators rotate back into the
    window automatically, no hand-chosen tail."""
    import glob
    import json as _json
    import re as _re
    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = _re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = _json.load(fh)
        except (OSError, ValueError):
            continue
        for key, row in data.items():
            if isinstance(row, dict) and row.get("hash_match") is True:
                out[key] = max(out.get(key, 0), rnd)
    return out


def _rotate(q: dict) -> dict:
    """Stable sort by (last-green round asc, definition order): stale/never
    verified entries first, freshest-verified parked past position 50."""
    green = _last_green_round()
    keys = list(q)
    order = sorted(range(len(keys)), key=lambda i: (green.get(keys[i], 0), i))
    return {keys[i]: q[keys[i]] for i in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # Definition order below is canonical/thematic; the returned dict is
    # reordered by _rotate() so the 50-row harness window always covers the
    # least-recently-verified operators first.
    from tantivy4java_spark.pipeline import sampling as SM
    q["t05_hash_split"] = lambda sp, sf: (
        SM.hash_split(_docs(sp, sf), "doc_id",
                      {"train": 0.75, "val": 0.125, "test": 0.125})
        .groupBy("split").agg(F.count(F.lit(1)).alias("doc_count")))
    q["t06_stratified_sample"] = lambda sp, sf: (
        SM.stratified_hash_sample(_docs(sp, sf), ["lang"], "doc_id", 0.25)
        .select("doc_id", "lang"))
    q["m01_media_features"] = lambda sp, sf: (
        MM.extract_features(MM.synthesize_media_df(sp, n=48))
        .select("media_id", "kind", "sha256", "n_bytes"))
    q["m02_frame_plan"] = lambda sp, sf: (
        MM.frame_sample_plan(MM.synthesize_media_df(sp, n=48), every_ms=500)
        .groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames")))
    q["t03_fingerprint"] = lambda sp, sf: (
        TX.fingerprint(_docs(sp, sf), "text").select("doc_id", "fp"))
    q["t04_lang_id"] = lambda sp, sf: (
        TX.lang_id(_docs(sp, sf), "text").select("doc_id", "lang_pred"))
    # 4-term phrase with slop: cumulative total-moves budget (round-3 verdict
    # item 1) — "column merge big hash" only matches via a skipped token, so
    # slop<2 yields zero hits and slop=2 finds the skip-gram docs
    q["q31_phrase4_slop2"] = lambda sp, sf: _topk(
        sp, sf, Q.Phrase("text", ["column", "merge", "big", "hash"], slop=2))

    # ---- search algebra (SURVEY §2.2) over the real index -----------------
    q["q01_term"] = lambda sp, sf: _topk(sp, sf, Q.Term("text", "merge"))
    # high-df term, deep top-k (folds the former q19_topk100 probe)
    q["q02_term_highdf"] = lambda sp, sf: _topk(
        sp, sf, Q.Term("text", "the"), k=100)
    q["q03_bool_and"] = lambda sp, sf: _topk(
        sp, sf, Q.Boolean(must=[Q.Term("text", "merge"), Q.Term("text", "join")]))
    q["q05_or_not"] = lambda sp, sf: _topk(
        sp, sf, Q.Boolean(should=[Q.Term("text", "spark"), Q.Term("text", "vector")],
                          must_not=[Q.Term("lang", "zh")]))
    q["q07_phrase"] = lambda sp, sf: _topk(
        sp, sf, Q.Phrase("text", ["batch", "stream"], slop=0))
    q["q08_termset"] = lambda sp, sf: (
        _searcher(sp, sf).score_query(Q.TermSet("source", ["src1", "src2"]))
        .select("doc_id", F.col("score").cast("double").alias("score")))
    q["q09_range"] = lambda sp, sf: (
        _searcher(sp, sf).score_query(
            Q.Range("n_chars", 200, 400, True, False))
        .select("doc_id", F.col("score").cast("double").alias("score")))
    q["q10_wildcard"] = lambda sp, sf: (
        _searcher(sp, sf).score_query(Q.Wildcard("text", "me*"))
        .select("doc_id", F.col("score").cast("double").alias("score")))
    q["q11_regex"] = lambda sp, sf: (
        _searcher(sp, sf).score_query(Q.Regex("text", "v.ctor"))
        .select("doc_id", F.col("score").cast("double").alias("score")))
    q["q12_fuzzy"] = lambda sp, sf: _topk(
        sp, sf, Q.Fuzzy("text", "merge", distance=1), k=20)
    q["q13_msm2"] = lambda sp, sf: _topk(
        sp, sf, Q.Boolean(should=[Q.Term("text", "spark"),
                                  Q.Term("text", "vector"),
                                  Q.Term("text", "window")],
                          minimum_should_match=2), k=10)
    q["q14_boost"] = lambda sp, sf: _topk(
        sp, sf, Q.Boolean(should=[Q.Boost(Q.Term("text", "merge"), 2.0),
                                  Q.Term("text", "join")]))
    q["q15_dismax"] = lambda sp, sf: _topk(
        sp, sf, Q.DisMax([Q.Term("text", "spark"), Q.Term("text", "merge")],
                         tie_breaker=0.3))
    q["q16_parser"] = lambda sp, sf: _topk(
        sp, sf, parse_query("text:merge AND lang:en", ["text"]))
    q["q17_matchall_count"] = lambda sp, sf: (
        _searcher(sp, sf).score_query(Q.MatchAll())
        .agg(F.count(F.lit(1)).alias("n")))
    q["q18_exists"] = lambda sp, sf: (
        _searcher(sp, sf).score_query(Q.Exists("n_chars"))
        .agg(F.count(F.lit(1)).alias("n")))
    def _q23(sp, sf):
        s = _searcher(sp, sf)
        s.set_doc_source(_docs(sp, sf))  # one-row seed lookup, no shard decode
        q = Q.MoreLikeThis(doc_id=0, field="text", min_doc_freq=5,
                           min_term_freq=2, max_query_terms=5)
        return s.search(q, limit=10).select(
            "doc_id", F.round("score", 6).alias("score"))
    q["q23_mlt"] = _q23
    # sort-by-field + offset (R2 — parity-plus: the reference exposes but
    # its native layer ignores these params; ours implements them)
    def _q25(sp, sf):
        s = _searcher(sp, sf)
        hits = s.search(Q.Term("text", "merge"), limit=10,
                        order_by_field="n_chars", ascending=False, offset=5)
        return hits.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    q["q25_sort_offset"] = _q25
    # phrase over a json dot-path (positions per path — q26)
    def _q26(sp, sf):
        s = _jdocs_searcher(sp, sf)
        hits = s.search(Q.Phrase("jdoc.body",
                                 ["batch", "stream", "merge"], slop=0),
                        limit=10)
        return hits.select("doc_id", F.round("score", 6).alias("score"))
    q["q26_json_phrase"] = _q26
    # delete_by_query (S6): tombstones hide docs from every later search
    def _q28(sp, sf):
        import shutil
        from tantivy4java_spark import maintenance as M
        docs = _docs(sp, sf).filter(F.col("doc_id") < 1000)
        idx = os.path.join(tempfile.mkdtemp(prefix="t4s_del_"), "idx")
        cfg = IndexConfig(fields=[FieldConfig("text", "text"),
                                  FieldConfig("lang", "string")],
                          id_cols=["doc_id"])
        build_index(sp, docs, cfg, idx, doc_id_col="doc_id")
        M.delete_by_query(sp, idx, Q.Term("lang", "de"))
        return (IndexSearcher(sp, idx)
                .score_query(Q.Term("text", "merge")).select("doc_id"))
    q["q28_delete_by_query"] = _q28
    # multi-value keyword array membership (tag semantics, §1.2 arrays)
    q["q29_array_term"] = lambda sp, sf: (
        _enriched_searcher(sp, sf)
        .score_query(Q.Term("tags", "u3")).select("doc_id"))
    # IP range over the hex32 fast column (lexicographic == numeric order)
    q["q30_ip_range"] = lambda sp, sf: (
        _enriched_searcher(sp, sf)
        .score_query(Q.Range("client_ip", "10.2.0.0", "10.2.0.120"))
        .select("doc_id"))
    # JSON dot-path queries (Q11) over the events.props JSON column
    q["q20_json_term"] = lambda sp, sf: (
        _events_searcher(sp, sf).score_query(Q.Term("props.k", 87))
        .select("doc_id", F.round("score", 6).alias("score")))
    # typed DATE range through the query-string parser (microsecond bounds)
    def _q24(sp, sf):
        sp.conf.set("spark.sql.session.timeZone", "UTC")
        qq = parse_query(
            "ts:[2024-01-03T00:00:00Z TO 2024-01-05T12:30:00.123456Z}", [])
        return (_events_searcher(sp, sf).score_query(qq)
                .select("doc_id", F.col("score").cast("double").alias("score")))
    q["q24_date_range"] = _q24

    # ---- aggregations (SURVEY §2.3) ---------------------------------------
    q["a01_terms_sub"] = lambda sp, sf: A.apply_agg(
        _events(sp, sf), A.Terms("event_type", size=5,
                                 sub={"avg_value": A.Avg("value")})
    ).select("event_type", "doc_count", F.round("avg_value", 6).alias("avg_value"))
    q["a02_multi_terms"] = lambda sp, sf: A.apply_agg(
        _events(sp, sf), A.MultiTerms(["event_type", "user_id"], size=10)
    ).select("event_type", "user_id", "doc_count")
    q["a03_histogram"] = lambda sp, sf: A.apply_agg(
        _events(sp, sf), A.Histogram("value", interval=10.0)
    ).select("key", "doc_count")
    # calendar_interval + time_zone tail (DateHistogramAggregation.java:92-165):
    # month buckets aligned to America/New_York wall-clock, keys as UTC instants
    def _a04b(sp, sf):
        sp.conf.set("spark.sql.session.timeZone", "UTC")
        return A.apply_agg(
            _events(sp, sf),
            A.DateHistogram("ts", fixed_interval=None, calendar_interval="1M",
                            time_zone="America/New_York")) \
            .select(F.date_format("key", "yyyy-MM-dd HH:mm").alias("key"),
                    "doc_count")
    q["a04b_date_histogram_calendar_tz"] = _a04b
    q["a05_range_agg"] = lambda sp, sf: A.apply_agg(
        _events(sp, sf), A.RangeAgg("value", [("low", None, 20.0),
                                              ("mid", 20.0, 60.0),
                                              ("high", 60.0, None)],
                                    sub={"avg_v": A.Avg("value")})
    ).select("key", "doc_count", F.round("avg_v", 6).alias("avg_v"))
    q["a06_stats"] = lambda sp, sf: A.apply_agg(
        _events(sp, sf), A.Stats("value"), "v"
    ).select("v_count", F.round("v_sum", 4).alias("v_sum"),
             F.round("v_avg", 6).alias("v_avg"),
             F.round("v_min", 6).alias("v_min"),
             F.round("v_max", 6).alias("v_max"))
    q["a07_cardinality"] = lambda sp, sf: A.apply_agg(
        _events(sp, sf), A.Cardinality("user_id", exact=True), "c")
    q["a08_agg_over_query"] = lambda sp, sf: (
        A.aggregate(_searcher(sp, sf), Q.Term("text", "merge"),
                    {"by_lang": A.Terms("lang", size=10)})["by_lang"]
        .select("lang", "doc_count"))
    # nested bucket sub-aggregation (DateHistogramAggregationTest.java:569):
    # per-day buckets, each with its top-3 event_type terms
    def _a09(sp, sf):
        sp.conf.set("spark.sql.session.timeZone", "UTC")
        return A.apply_agg(_events(sp, sf), A.DateHistogram(
            "ts", "1d", sub={"types": A.Terms("event_type", size=3)})) \
            .select(F.date_format("key", "yyyy-MM-dd").alias("day"),
                    "doc_count", "types_event_type", "types_doc_count")
    q["a09_nested_buckets"] = _a09

    # ES-compatible aggregation JSON DSL — the reference's wire format
    # (aggregation/*.java toAggregationJson, SplitSearcher.aggregate):
    # the raw spec string parses to the same dataclasses and runs through
    # aggregate(); a reference user's JSON requests run unchanged
    def _a10(sp, sf):
        spec = ('{"by_type": {"terms": {"field": "event_type", "size": 5}, '
                '"aggs": {"s": {"stats": {"field": "value"}}}}}')
        out = A.aggregate(_events_searcher(sp, sf), Q.MatchAll(),
                          spec)["by_type"]
        return out.select("event_type", "doc_count", "s_count",
                          F.round("s_sum", 4).alias("s_sum"),
                          F.round("s_avg", 6).alias("s_avg"),
                          F.round("s_min", 6).alias("s_min"),
                          F.round("s_max", 6).alias("s_max"))
    q["a10_agg_json_dsl"] = _a10

    # ---- dedup -------------------------------------------------------------
    def _docs_with_copies(sp, sf):
        d = _docs(sp, sf).select(F.col("doc_id").alias("id"), "text")
        copies = (_docs(sp, sf).filter(F.col("doc_id") < 5)
                  .select((F.col("doc_id") + F.lit(100000)).alias("id"), "text"))
        return d.unionByName(copies)

    q["d01_exact_dedup"] = lambda sp, sf: (
        D.exact_dedup(_docs_with_copies(sp, sf), "text", "id").select("id"))
    q["d02_minhash_lsh"] = lambda sp, sf: D.minhash_dedup_pairs(
        _docs_with_copies(sp, sf), "text", "id",
        num_hashes=16, bands=8, threshold=0.999)
    # copies of docs <5 guarantee true near-dup pairs at the real 0.2
    # threshold (natural sf0.01 text has none: best cross-doc jaccard <0.05)
    def _d03(sp, sf):
        base = (_docs(sp, sf).filter(F.col("doc_id") < 80)
                .select(F.col("doc_id").alias("id"), "text"))
        copies = (_docs(sp, sf).filter(F.col("doc_id") < 5)
                  .select((F.col("doc_id") + F.lit(100000)).alias("id"),
                          "text"))
        return D.ngram_jaccard_pairs(base.unionByName(copies), "text", "id",
                                     k=3, threshold=0.2)
    q["d03_ngram_jaccard"] = _d03
    q["d04_simhash"] = lambda sp, sf: D.simhash_dup_pairs(
        _docs_with_copies(sp, sf), "text", "id", max_hamming=3)
    # bucketer=8: the LSH-bucketed candidate path (the scale design — never
    # a cross join); at threshold 0.9999 duplicates are (near-)identical
    # vectors, which land in the same hyperplane bucket by construction.
    q["d05_embedding_neardup"] = lambda sp, sf: D.embedding_neardup_pairs(
        _emb(sp, sf).unionByName(
            _emb(sp, sf).filter(F.col("vec_id") < 3)
            .select((F.col("vec_id") + 100000).alias("vec_id"),
                    "embedding", "label")),
        "embedding", "vec_id", threshold=0.9999, bucketer=8)

    # two copy tiers -> transitive families: doc i<3 yields the triangle
    # {i, i+100000, i+200000}; i in 3..4 yields the pair {i, i+100000};
    # dedup_components must label every member with the minimum id.
    def _docs_two_copy_tiers(sp, sf):
        d = _docs(sp, sf).select(F.col("doc_id").alias("id"), "text")
        c1 = (_docs(sp, sf).filter(F.col("doc_id") < 5)
              .select((F.col("doc_id") + F.lit(100000)).alias("id"), "text"))
        c2 = (_docs(sp, sf).filter(F.col("doc_id") < 3)
              .select((F.col("doc_id") + F.lit(200000)).alias("id"), "text"))
        return d.unionByName(c1).unionByName(c2)

    def _tier_pairs(sp, sf):
        return D.minhash_dedup_pairs(_docs_two_copy_tiers(sp, sf), "text",
                                     "id", num_hashes=16, bands=8,
                                     threshold=0.999)

    q["d06_dedup_components"] = lambda sp, sf: D.dedup_components(
        _tier_pairs(sp, sf))
    q["d07_dedup_keep"] = lambda sp, sf: D.dedup_keep_representatives(
        _docs_two_copy_tiers(sp, sf), _tier_pairs(sp, sf), "id").select("id")

    # ---- similarity search --------------------------------------------------
    def _qvec(sp, sf):
        return [float(x) for x in
                _emb(sp, sf).filter(F.col("vec_id") == 0)
                .collect()[0]["embedding"]]

    q["s01_ann_brute_force"] = lambda sp, sf: S.brute_force_topk(
        _emb(sp, sf), "embedding", "vec_id", _qvec(sp, sf), k=10)
    q["s02_knn_join"] = lambda sp, sf: S.knn_join(
        _emb(sp, sf).filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), "embedding"),
        _emb(sp, sf), "embedding", "qid", "vec_id", k=3)
    q["s03_ann_lsh"] = lambda sp, sf: S.lsh_ann_topk(
        _emb(sp, sf), "embedding", "vec_id", _qvec(sp, sf), k=10,
        nbits=4, multiprobe=1)
    # large-by-large LSH kNN join (both sides bucketed; bucket-id shuffle
    # only) — the scale path when neither side broadcasts
    q["s04_knn_join_lsh"] = lambda sp, sf: S.knn_join_lsh(
        _emb(sp, sf).filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), "embedding"),
        _emb(sp, sf), "embedding", "qid", "vec_id", k=3,
        nbits=4, multiprobe=1)

    # ---- text analysis ------------------------------------------------------
    q["t01_token_counts"] = lambda sp, sf: (
        TX.bpe_ish_token_count(TX.token_count(_docs(sp, sf), "text"), "text")
        .select("doc_id", "n_tokens", "n_bpe"))
    q["t02_quality"] = lambda sp, sf: (
        TX.quality_score(_docs(sp, sf), "text").select("doc_id", "quality"))
    _SIG_COLS = ["dup_line_frac", "dup_2gram_frac", "mean_word_len",
                 "symbol_word_ratio", "bullet_line_frac",
                 "ellipsis_line_frac"]
    q["t07_repetition_signals"] = lambda sp, sf: (
        TX.repetition_signals(_docs(sp, sf), "text")
        .select("doc_id", *_SIG_COLS))
    q["t08_gopher_filter"] = lambda sp, sf: (
        TX.gopher_quality_filter(_docs(sp, sf), "text")
        .select("doc_id", F.col("keep").cast("boolean").alias("keep")))

    q["q27_ip_cidr"] = lambda sp, sf: (
        _enriched_searcher(sp, sf)
        .score_query(Q.Term("client_ip", "10.2.0.0/16")).select("doc_id"))
    q["q21_json_range"] = lambda sp, sf: (
        _events_searcher(sp, sf).score_query(
            Q.Range("props.k", 10, 20, True, True))
        .select("doc_id", F.col("score").cast("double").alias("score")))
    q["q22_json_exists"] = lambda sp, sf: (
        _events_searcher(sp, sf).score_query(Q.Exists("props.k"))
        .agg(F.count(F.lit(1)).alias("n")))
    def _a04(sp, sf):
        sp.conf.set("spark.sql.session.timeZone", "UTC")  # match DuckDB naive ts
        return A.apply_agg(_events(sp, sf), A.DateHistogram("ts", "1d")) \
            .select(F.date_format("key", "yyyy-MM-dd").alias("day"), "doc_count")
    q["a04_date_histogram"] = _a04

    return _rotate(q)


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["q01_term"] = _single_term_sql("merge")
    o["q02_term_highdf"] = _single_term_sql("the", k=100)
    o["q03_bool_and"] = _and2_sql(_term_cte("a", "merge"), _term_cte("b", "join"))
    o["q05_or_not"] = _or2_sql(
        _term_cte("a", "spark"), _term_cte("b", "vector"),
        not_where=("WHERE COALESCE(a.doc_id, b.doc_id) NOT IN "
                   "(SELECT doc_id FROM documents WHERE lang = 'zh')"))

    # phrase "batch stream" slop 0: positional adjacency, combined idf
    o["q07_phrase"] = _base_ctes() + _term_cte("a", "batch") + \
        _term_cte("b", "stream") + f""",
pos1 AS (SELECT doc_id, list_filter(range(1, len(t)+1), i -> t[i] = 'batch') ps FROM toks),
pos2 AS (SELECT doc_id, list_filter(range(1, len(t)+1), i -> t[i] = 'stream') ps FROM toks),
ptf AS (SELECT p1.doc_id,
          len(list_filter(p1.ps, p -> list_contains(p2.ps, p + 1))) tf
        FROM pos1 p1 JOIN pos2 p2 ON p1.doc_id = p2.doc_id),
pdf AS (SELECT count(*)::DOUBLE dfa FROM tf_a),
pdf2 AS (SELECT count(*)::DOUBLE dfb FROM tf_b),
ph AS (SELECT f.doc_id,
    ((ln(1.0 + (s.n - d.dfa + 0.5) / (d.dfa + 0.5)) * {_IDFW})
     + (ln(1.0 + (s.n - d2.dfb + 0.5) / (d2.dfb + 0.5)) * {_IDFW})) * f.tf /
    (f.tf + {K1} * ({1.0 - B} + {B} * q.ql / s.avgdl)) raw
  FROM ptf f, pdf d, pdf2 d2, stats s, qlens q
  WHERE q.doc_id = f.doc_id AND f.tf > 0)
SELECT doc_id, round(raw, 6) AS score FROM ph
ORDER BY raw DESC, doc_id ASC LIMIT 10"""

    # q26: phrase over a json dot-path.  jdoc.body IS the text column (the
    # json index stores per-path positions identical to the text stream:
    # single string value under one path), so the oracle is the text-side
    # positional-adjacency BM25 with three summed idfs.
    o["q26_json_phrase"] = _base_ctes() + _term_cte("a", "batch") + \
        _term_cte("b", "stream") + _term_cte("c", "merge") + f""",
jp1 AS (SELECT doc_id, list_filter(range(1, len(t)+1), i -> t[i] = 'batch') ps FROM toks),
jp2 AS (SELECT doc_id, list_filter(range(1, len(t)+1), i -> t[i] = 'stream') ps FROM toks),
jp3 AS (SELECT doc_id, list_filter(range(1, len(t)+1), i -> t[i] = 'merge') ps FROM toks),
jptf AS (SELECT p1.doc_id,
          len(list_filter(p1.ps, p -> list_contains(p2.ps, p + 1)
                                  AND list_contains(p3.ps, p + 2))) tf
        FROM jp1 p1 JOIN jp2 p2 ON p1.doc_id = p2.doc_id
                    JOIN jp3 p3 ON p1.doc_id = p3.doc_id),
jdf1 AS (SELECT count(*)::DOUBLE df FROM tf_a),
jdf2 AS (SELECT count(*)::DOUBLE df FROM tf_b),
jdf3 AS (SELECT count(*)::DOUBLE df FROM tf_c),
jph AS (SELECT f.doc_id,
    ((ln(1.0 + (s.n - d1.df + 0.5) / (d1.df + 0.5)) * {_IDFW})
     + (ln(1.0 + (s.n - d2.df + 0.5) / (d2.df + 0.5)) * {_IDFW})
     + (ln(1.0 + (s.n - d3.df + 0.5) / (d3.df + 0.5)) * {_IDFW})) * f.tf /
    (f.tf + {K1} * ({1.0 - B} + {B} * q.ql / s.avgdl)) raw
  FROM jptf f, jdf1 d1, jdf2 d2, jdf3 d3, stats s, qlens q
  WHERE q.doc_id = f.doc_id AND f.tf > 0)
SELECT doc_id, round(raw, 6) AS score FROM jph
ORDER BY raw DESC, doc_id ASC LIMIT 10"""

    o["q08_termset"] = ("SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents "
                        "WHERE source IN ('src1', 'src2')")
    o["q09_range"] = ("SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents "
                      "WHERE n_chars >= 200 AND n_chars < 400")
    o["q10_wildcard"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} t FROM documents)
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM toks
WHERE len(list_filter(t, x -> x LIKE 'me%')) > 0"""
    o["q11_regex"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} t FROM documents)
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM toks
WHERE len(list_filter(t, x -> regexp_full_match(x, 'v.ctor'))) > 0"""

    # fuzzy: expand vocabulary by levenshtein<=1, sum per-term BM25
    o["q12_fuzzy"] = _base_ctes() + f""",
vocab AS (SELECT DISTINCT unnest(t) term FROM toks),
exp AS (SELECT term FROM vocab
        WHERE abs(length(term) - 5) <= 1 AND levenshtein(term, 'merge') <= 1),
hits AS (SELECT DISTINCT x.doc_id, x.term, len(list_filter(k.t, y -> y = x.term)) tf
         FROM (SELECT doc_id, unnest(t) term FROM toks) x
         JOIN toks k ON k.doc_id = x.doc_id
         JOIN exp e ON e.term = x.term),
dfs AS (SELECT term, count(*)::DOUBLE df FROM hits GROUP BY term),
scored AS (SELECT h.doc_id,
    sum((ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * {_IDFW}) * h.tf /
        (h.tf + {K1} * ({1.0 - B} + {B} * q.ql / s.avgdl))) raw
  FROM hits h, dfs d, stats s, qlens q
  WHERE d.term = h.term AND q.doc_id = h.doc_id GROUP BY h.doc_id)
SELECT doc_id, round(raw, 6) AS score FROM scored
ORDER BY raw DESC, doc_id ASC LIMIT 20"""

    # minimum_should_match=2 over three terms
    msum = ("(COALESCE(a.raw, 0.0) + COALESCE(b.raw, 0.0) + COALESCE(c.raw, 0.0))")
    nmatch = ("(CASE WHEN a.raw IS NOT NULL THEN 1 ELSE 0 END + "
              "CASE WHEN b.raw IS NOT NULL THEN 1 ELSE 0 END + "
              "CASE WHEN c.raw IS NOT NULL THEN 1 ELSE 0 END)")
    o["q13_msm2"] = _base_ctes() + _term_cte("a", "spark") + \
        _term_cte("b", "vector") + _term_cte("c", "window") + f"""
SELECT COALESCE(a.doc_id, b.doc_id, c.doc_id) AS doc_id,
       round({msum}, 6) AS score
FROM s_a a
FULL OUTER JOIN s_b b ON a.doc_id = b.doc_id
FULL OUTER JOIN s_c c ON COALESCE(a.doc_id, b.doc_id) = c.doc_id
WHERE {nmatch} >= 2
ORDER BY {msum} DESC, COALESCE(a.doc_id, b.doc_id, c.doc_id) ASC LIMIT 10"""

    boost_total = "(COALESCE(a.raw * 2.0, 0.0) + COALESCE(b.raw, 0.0))"
    o["q14_boost"] = _base_ctes() + _term_cte("a", "merge") + \
        _term_cte("b", "join") + f"""
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, round({boost_total}, 6) AS score
FROM s_a a FULL OUTER JOIN s_b b ON a.doc_id = b.doc_id
ORDER BY {boost_total} DESC, COALESCE(a.doc_id, b.doc_id) ASC LIMIT 10"""

    dm = ("(greatest(COALESCE(a.raw, 0.0), COALESCE(b.raw, 0.0)) + 0.3 * "
          "((COALESCE(a.raw, 0.0) + COALESCE(b.raw, 0.0)) - "
          "greatest(COALESCE(a.raw, 0.0), COALESCE(b.raw, 0.0))))")
    o["q15_dismax"] = _base_ctes() + _term_cte("a", "spark") + \
        _term_cte("b", "merge") + f"""
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, round({dm}, 6) AS score
FROM s_a a FULL OUTER JOIN s_b b ON a.doc_id = b.doc_id
ORDER BY {dm} DESC, COALESCE(a.doc_id, b.doc_id) ASC LIMIT 10"""

    o["q16_parser"] = _and2_sql(_term_cte("a", "merge"),
                                _keyword_cte("b", "lang", "en"))
    # MoreLikeThis: deterministic expansion (tf>=2 in doc 0, df>=5, top-5
    # terms by idf_weight*tf with ties broken by term DESC — exactly the
    # engine's picked.sort(reverse=True)), then a BM25 should-union top-10.
    o["q23_mlt"] = _base_ctes() + f""",
flat AS (SELECT doc_id, unnest(t) term FROM toks),
tf0 AS (SELECT term, count(*)::BIGINT tf FROM flat WHERE doc_id = 0
        GROUP BY term HAVING count(*) >= 2),
dfs AS (SELECT f.term, count(DISTINCT f.doc_id)::DOUBLE df
        FROM flat f JOIN tf0 ON tf0.term = f.term GROUP BY f.term),
picked AS (SELECT d.term, d.df,
             ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * {_IDFW} * t.tf AS sc
           FROM dfs d JOIN tf0 t ON t.term = d.term, stats s
           WHERE d.df >= 5
           ORDER BY sc DESC, d.term DESC LIMIT 5),
hits AS (SELECT f.doc_id, f.term, count(*)::BIGINT tf
         FROM flat f JOIN picked p ON p.term = f.term
         GROUP BY f.doc_id, f.term),
scored AS (SELECT h.doc_id,
    sum((ln(1.0 + (s.n - p.df + 0.5) / (p.df + 0.5)) * {_IDFW}) * h.tf /
        (h.tf + {K1} * ({1.0 - B} + {B} * q.ql / s.avgdl))) raw
  FROM hits h JOIN picked p ON p.term = h.term, stats s, qlens q
  WHERE q.doc_id = h.doc_id GROUP BY h.doc_id)
SELECT doc_id, round(raw, 6) AS score FROM scored
ORDER BY raw DESC, doc_id ASC LIMIT 10"""

    o["q25_sort_offset"] = f"""
WITH toks AS (SELECT doc_id, n_chars, {_TOKS} t FROM documents),
m AS (SELECT doc_id, n_chars FROM toks WHERE list_contains(t, 'merge'))
SELECT doc_id, n_chars::BIGINT AS n_chars FROM m
ORDER BY n_chars DESC, doc_id ASC LIMIT 10 OFFSET 5"""

    o["q17_matchall_count"] = "SELECT count(*) AS n FROM documents"
    o["q18_exists"] = "SELECT count(*) AS n FROM documents WHERE n_chars IS NOT NULL"

    # q31: 4-term phrase, slop=2, CUMULATIVE total-moves budget.  tf counts
    # anchors p0 with ANY in-order assignment (p1,p2,p3) whose summed excess
    # (p1-p0-1)+(p2-p0-2)+(p3-p0-3) <= slop — greedy minimal-next in the
    # engine finds a match iff one exists, so the counts agree exactly.
    _pw = ["column", "merge", "big", "hash"]
    _pos4 = ",\n".join(
        f"pp{i} AS (SELECT doc_id, list_filter(range(1, len(t)+1), "
        f"i -> t[i] = '{w}') ps FROM toks)" for i, w in enumerate(_pw))
    _tf4 = """len(list_filter(p0.ps, a ->
      len(list_filter(p1.ps, b -> b > a AND
        len(list_filter(p2.ps, c -> c > b AND
          len(list_filter(p3.ps, d -> d > c AND
            (b-a-1)+(c-a-2)+(d-a-3) <= 2)) > 0)) > 0)) > 0))"""
    o["q31_phrase4_slop2"] = _base_ctes() + "".join(
        _term_cte(al, w) for al, w in zip("abcd", _pw)) + f""",
{_pos4},
p4tf AS (SELECT p0.doc_id, {_tf4} tf
         FROM pp0 p0 JOIN pp1 p1 ON p1.doc_id = p0.doc_id
                     JOIN pp2 p2 ON p2.doc_id = p0.doc_id
                     JOIN pp3 p3 ON p3.doc_id = p0.doc_id),
p4df AS (SELECT (SELECT count(*)::DOUBLE FROM tf_a) dfa,
                (SELECT count(*)::DOUBLE FROM tf_b) dfb,
                (SELECT count(*)::DOUBLE FROM tf_c) dfc,
                (SELECT count(*)::DOUBLE FROM tf_d) dfd),
p4 AS (SELECT f.doc_id,
    ((ln(1.0 + (s.n - d.dfa + 0.5) / (d.dfa + 0.5)) * {_IDFW})
     + (ln(1.0 + (s.n - d.dfb + 0.5) / (d.dfb + 0.5)) * {_IDFW})
     + (ln(1.0 + (s.n - d.dfc + 0.5) / (d.dfc + 0.5)) * {_IDFW})
     + (ln(1.0 + (s.n - d.dfd + 0.5) / (d.dfd + 0.5)) * {_IDFW})) * f.tf /
    (f.tf + {K1} * ({1.0 - B} + {B} * q.ql / s.avgdl)) raw
  FROM p4tf f, p4df d, stats s, qlens q
  WHERE q.doc_id = f.doc_id AND f.tf > 0)
SELECT doc_id, round(raw, 6) AS score FROM p4
ORDER BY raw DESC, doc_id ASC LIMIT 10"""

    # JSON path queries over events.props ('{"k": <int>}' shape).
    # BM25 with one (path,token) pair per doc: tf=1, quantized len=1, avgdl =
    # total_pairs/num_docs = 1.0 exactly.
    _k = "regexp_extract(props, '\"k\": (-?\\d+)', 1)"
    o["q20_json_term"] = f"""
WITH m AS (SELECT event_id AS doc_id FROM events WHERE {_k} = '87'),
d AS (SELECT count(*)::DOUBLE df FROM m),
n AS (SELECT count(*)::DOUBLE n FROM events)
SELECT m.doc_id,
       round((ln(1.0 + (n.n - d.df + 0.5) / (d.df + 0.5)) * {_IDFW})
             * 1.0 / (1.0 + {K1} * ({1.0 - B} + {B} * 1.0 / 1.0)), 6) AS score
FROM m, d, n"""
    o["q21_json_range"] = f"""
SELECT event_id AS doc_id, CAST(1.0 AS DOUBLE) AS score FROM events
WHERE try_cast({_k} AS DOUBLE) BETWEEN 10 AND 20"""
    o["q22_json_exists"] = f"SELECT count(*) AS n FROM events WHERE {_k} <> ''"
    o["q24_date_range"] = """
SELECT event_id AS doc_id, CAST(1.0 AS DOUBLE) AS score FROM events
WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
  AND ts <  TIMESTAMP '2024-01-05 12:30:00.123456'"""

    # ---- aggregations -------------------------------------------------------
    o["a01_terms_sub"] = """
SELECT event_type, count(*) AS doc_count, round(avg(value), 6) AS avg_value
FROM events GROUP BY event_type
ORDER BY doc_count DESC, event_type ASC LIMIT 5"""
    o["a02_multi_terms"] = """
SELECT event_type, user_id, count(*) AS doc_count
FROM events GROUP BY event_type, user_id
ORDER BY doc_count DESC, event_type ASC, user_id ASC LIMIT 10"""
    o["a03_histogram"] = """
SELECT floor(value / 10.0) * 10.0 AS key, count(*) AS doc_count
FROM events GROUP BY 1 ORDER BY 1"""
    o["a04_date_histogram"] = """
SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
       count(*) AS doc_count
FROM events GROUP BY 1 ORDER BY 1"""
    # q27: CIDR 10.2.0.0/16 over the derived ip column = user_id % 4 == 2
    o["q27_ip_cidr"] = """
SELECT event_id AS doc_id FROM events WHERE user_id % 4 = 2"""
    # q28: tombstoned lang='de' docs stay invisible to the term search
    o["q28_delete_by_query"] = f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS} t FROM documents
              WHERE doc_id < 1000)
SELECT doc_id FROM toks
WHERE list_contains(t, 'merge') AND lang <> 'de'"""
    # q29: multi-value keyword array membership (derived tag u<user_id%7>)
    o["q29_array_term"] = """
SELECT event_id AS doc_id FROM events WHERE user_id % 7 = 3"""
    # q30: derived ip is 10.(u%4).0.(u%250); [10.2.0.0, 10.2.0.120] covers
    # exactly u%4=2 and u%250<=120
    o["q30_ip_range"] = """
SELECT event_id AS doc_id FROM events
WHERE user_id % 4 = 2 AND user_id % 250 <= 120"""

    # ES time_zone semantics: truncate in NY wall-clock, key = bucket start
    # as a UTC instant.  timezone('UTC', ts) pins the naive parquet ts to a
    # UTC instant regardless of the DuckDB session TimeZone.
    o["a04b_date_histogram_calendar_tz"] = """
SELECT strftime(timezone('UTC', timezone('America/New_York',
         date_trunc('month',
           timezone('America/New_York', timezone('UTC', ts))))),
         '%Y-%m-%d %H:%M') AS key,
       count(*) AS doc_count
FROM events GROUP BY 1 ORDER BY 1"""
    o["a05_range_agg"] = """
SELECT k AS key, count(*) AS doc_count, round(avg(value), 6) AS avg_v
FROM (SELECT CASE WHEN value < 20.0 THEN 'low'
                  WHEN value >= 20.0 AND value < 60.0 THEN 'mid'
                  ELSE 'high' END k, value FROM events)
GROUP BY k ORDER BY k"""
    o["a06_stats"] = """
SELECT count(value) AS v_count, round(sum(value), 4) AS v_sum,
       round(avg(value), 6) AS v_avg, round(min(value), 6) AS v_min,
       round(max(value), 6) AS v_max
FROM events"""
    o["a07_cardinality"] = "SELECT count(DISTINCT user_id) AS c FROM events"
    o["a08_agg_over_query"] = f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS} t FROM documents),
m AS (SELECT doc_id, lang FROM toks WHERE list_contains(t, 'merge'))
SELECT lang, count(*) AS doc_count FROM m
GROUP BY lang ORDER BY doc_count DESC, lang ASC LIMIT 10"""
    o["a09_nested_buckets"] = """
WITH g AS (SELECT time_bucket(INTERVAL '1 day', ts) k, event_type,
                  count(*) c
           FROM events GROUP BY 1, 2),
w AS (SELECT k, event_type, c,
             sum(c) OVER (PARTITION BY k) AS doc_count,
             row_number() OVER (PARTITION BY k
                                ORDER BY c DESC, event_type ASC) rn
      FROM g)
SELECT strftime(k, '%Y-%m-%d') AS day, doc_count::BIGINT AS doc_count,
       event_type AS types_event_type, c::BIGINT AS types_doc_count
FROM w WHERE rn <= 3 ORDER BY day, types_event_type"""
    o["a10_agg_json_dsl"] = """
SELECT event_type, count(*) AS doc_count,
       count(value) AS s_count, round(sum(value), 4) AS s_sum,
       round(avg(value), 6) AS s_avg, round(min(value), 6) AS s_min,
       round(max(value), 6) AS s_max
FROM events GROUP BY event_type
ORDER BY doc_count DESC, event_type ASC LIMIT 5"""

    # ---- dedup --------------------------------------------------------------
    _union = ("SELECT doc_id AS id, text FROM documents UNION ALL "
              "SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id < 5")
    o["d01_exact_dedup"] = f"""
WITH u AS ({_union})
SELECT min(id) AS id FROM u GROUP BY text"""

    _sh = ("list_distinct(list_transform(range(1, len(t) - 1), "
           "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))")
    _wtoks = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
    o["d02_minhash_lsh"] = f"""
WITH u AS ({_union}),
toks AS (SELECT id, {_wtoks} t FROM u),
sh AS (SELECT id, {_sh} s FROM toks WHERE len(t) >= 3)
SELECT a.id AS id_a, b.id AS id_b,
       round(len(list_intersect(a.s, b.s))::DOUBLE /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE len(list_intersect(a.s, b.s))::DOUBLE /
      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.999"""

    o["d03_ngram_jaccard"] = f"""
WITH u AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 80
           UNION ALL
           SELECT doc_id + 100000 AS id, text FROM documents
           WHERE doc_id < 5),
toks AS (SELECT id, {_wtoks} t FROM u),
sh AS (SELECT id, {_sh} s FROM toks WHERE len(t) >= 3),
pairs AS (SELECT a.id id_a, b.id id_b,
                 len(list_intersect(a.s, b.s))::DOUBLE /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
          FROM sh a JOIN sh b ON a.id < b.id)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.2"""

    # d06/d07: the pair graph (exact-jaccard replay of the minhash pairs, as
    # in d02) feeds a recursive CTE that propagates the minimum reachable id
    # — the SQL definition of connected components.
    _union2 = (
        "SELECT doc_id AS id, text FROM documents UNION ALL "
        "SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id < 5 "
        "UNION ALL "
        "SELECT doc_id + 200000 AS id, text FROM documents WHERE doc_id < 3")
    _cc_ctes = f"""
WITH RECURSIVE u AS ({_union2}),
toks AS (SELECT id, {_wtoks} t FROM u),
sh AS (SELECT id, {_sh} s FROM toks WHERE len(t) >= 3),
pairs AS (SELECT a.id id_a, b.id id_b FROM sh a JOIN sh b ON a.id < b.id
          WHERE len(list_intersect(a.s, b.s))::DOUBLE /
                (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= 0.999),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (SELECT src, src FROM edges
                   UNION
                   SELECT e.dst, r.lbl
                   FROM reach r JOIN edges e ON e.src = r.id),
comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)"""
    o["d06_dedup_components"] = _cc_ctes + """
SELECT id, component FROM comp"""
    o["d07_dedup_keep"] = _cc_ctes + """
SELECT u.id FROM u
WHERE u.id NOT IN (SELECT id FROM comp WHERE id <> component)"""

    # d04: SimHash is md5-derived -> DuckDB replays the exact bit votes.
    # bit j of token = bit (j%16) of the 16-bit chunk at hex chars
    # [4*(j//16)+1 .. +4] of substr(md5(tok),1,16) — identical on both sides.
    def _dig(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h,{i},1))-1)"
    chunk_exprs = ", ".join(
        f"({_dig(4 * k + 1)}*4096 + {_dig(4 * k + 2)}*256 + "
        f"{_dig(4 * k + 3)}*16 + {_dig(4 * k + 4)}) AS c{k}"
        for k in range(4))
    vote_exprs = ", ".join(
        f"sum(((c{j // 16} >> {j % 16}) & 1)*2 - 1) AS v{j}" for j in range(64))
    h_terms = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(63))
    h_expr = (f"({h_terms} + CASE WHEN v63 > 0 THEN "
              f"(-9223372036854775807 - 1) ELSE 0 END)::BIGINT")
    o["d04_simhash"] = f"""
WITH u AS ({_union}),
toks AS (SELECT id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                       x -> x <> '')) tok FROM u),
hx AS (SELECT id, substr(md5(tok), 1, 16) h FROM toks),
ch AS (SELECT id, {chunk_exprs} FROM hx),
v AS (SELECT id, {vote_exprs} FROM ch GROUP BY id),
sig AS (SELECT u.id, COALESCE({h_expr}, 0) h
        FROM (SELECT DISTINCT id FROM u) u LEFT JOIN v ON v.id = u.id)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.h, b.h))::BIGINT AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.h, b.h)) <= 3"""

    # s03: the hyperplanes are deterministic (splitmix64, dim=64 fixed in
    # the embeddings table) — inline them as DOUBLE[] literals and replay
    # the bucket + multiprobe + exact-rerank pipeline in SQL.
    from tantivy4java_spark.pipeline.similarity import _hyperplanes
    H = _hyperplanes(64, 4, seed=42)
    def _hlit(j: int) -> str:
        return "[" + ",".join(repr(float(x)) for x in H[j]) + "]::DOUBLE[]"
    def _bkt(vexpr: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vexpr}, {_hlit(j)}) > 0 "
            f"THEN {1 << j} ELSE 0 END)" for j in range(4))
    _cosq = ("list_dot_product(e.v, q.v) / "
             "(sqrt(list_dot_product(e.v, e.v)) * "
             "sqrt(list_dot_product(q.v, q.v)))")
    o["s03_ann_lsh"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] v, {_bkt("embedding::DOUBLE[]")} b
           FROM embeddings WHERE vec_id = 0),
allowed AS (SELECT b FROM q
            UNION SELECT xor(b, 1) FROM q UNION SELECT xor(b, 2) FROM q
            UNION SELECT xor(b, 4) FROM q UNION SELECT xor(b, 8) FROM q),
eb AS (SELECT vec_id, embedding::DOUBLE[] v,
              {_bkt("embedding::DOUBLE[]")} b FROM embeddings)
SELECT e.vec_id, round({_cosq}, 6) AS cosine
FROM eb e, q WHERE e.b IN (SELECT b FROM allowed)
ORDER BY {_cosq} DESC, e.vec_id ASC LIMIT 10"""

    # t05/t06: hash-bucket sampling — u = first-8-hex of md5 / 2^32, exact
    # double parity on both engines (same 32-bit int, same division)
    _u = ("(('0x' || substr(md5({key}), 1, 8))::UBIGINT / 4294967296.0)")
    o["t05_hash_split"] = f"""
WITH u AS (SELECT {_u.format(key="'split:' || doc_id::VARCHAR")} u
           FROM documents)
SELECT CASE WHEN u < 0.75 THEN 'train'
            WHEN u < 0.875 THEN 'val' ELSE 'test' END AS split,
       count(*) AS doc_count
FROM u GROUP BY 1"""
    o["t06_stratified_sample"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_u.format(key="'strata:' || lang || chr(31) || doc_id::VARCHAR")}
      < 0.25"""

    # s04: replay the two-sided bucket join — left probes its bucket plus
    # every 1-bit flip; candidates dedupe, exact cosine re-rank, per-left
    # top-k (rounded cosine orders the window, matching the Spark plan)
    _cosr = ("round(list_dot_product(l.v, r.v) / "
             "(sqrt(list_dot_product(l.v, l.v)) * "
             "sqrt(list_dot_product(r.v, r.v))), 6)")
    o["s04_knn_join_lsh"] = f"""
WITH l0 AS (SELECT vec_id qid, embedding::DOUBLE[] v,
                   {_bkt("embedding::DOUBLE[]")} b0
            FROM embeddings WHERE vec_id < 5),
l AS (SELECT qid, v, xor(b0, f) b
      FROM l0, (VALUES (0),(1),(2),(4),(8)) fl(f)),
r AS (SELECT vec_id rid, embedding::DOUBLE[] v,
             {_bkt("embedding::DOUBLE[]")} b FROM embeddings),
cand AS (SELECT DISTINCT l.qid, r.rid, {_cosr} cosine
         FROM l JOIN r ON l.b = r.b),
rk AS (SELECT qid, rid, cosine,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY cosine DESC, rid ASC) rn
       FROM cand)
SELECT qid, rid AS vec_id, cosine, rn AS rank FROM rk WHERE rn <= 3"""

    # m01/m02: the synthetic media payload is an md5 chain over media_id —
    # reconstructible in SQL, so sha256/n_bytes and the frame plan get full
    # oracles.
    _payload = ("array_to_string(list_transform(range(0, 2 + (i % 5)), "
                "j -> md5(i::VARCHAR || ':' || j::VARCHAR)), '')")
    o["m01_media_features"] = f"""
WITH m AS (SELECT i,
       CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END kind,
       {_payload} payload
     FROM range(48) t(i))
SELECT i::BIGINT AS media_id, kind, sha256(payload) AS sha256,
       length(payload)::BIGINT AS n_bytes
FROM m"""
    o["m02_frame_plan"] = """
SELECT i::BIGINT AS media_id, (((1000 + i * 17 - 1) // 500) + 1)::BIGINT AS n_frames
FROM range(48) t(i) WHERE i % 3 = 2"""

    o["d05_embedding_neardup"] = """
WITH u AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings UNION ALL
           SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 3)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
       AS cosine
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9999"""

    _q = ("(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)")
    o["s01_ann_brute_force"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.v) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
              sqrt(list_dot_product(q.v, q.v))), 6) AS cosine
FROM embeddings e, q
ORDER BY list_dot_product(e.embedding::DOUBLE[], q.v) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.v, q.v))) DESC, e.vec_id ASC LIMIT 10"""

    o["s02_knn_join"] = """
WITH l AS (SELECT vec_id AS qid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 5),
r AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
j AS (SELECT l.qid, r.vec_id,
        round(list_dot_product(l.v, r.v) /
              (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6)
        AS cosine
      FROM l, r),
rk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) rn FROM j)
SELECT qid, vec_id, cosine, rn AS rank FROM rk WHERE rn <= 3"""

    # ---- text analysis ------------------------------------------------------
    o["t01_token_counts"] = (
        f"SELECT doc_id, {TX.sql_token_count('text')} AS n_tokens, "
        f"{TX.sql_bpe_count('text')} AS n_bpe FROM documents")
    o["t02_quality"] = (
        f"SELECT doc_id, {TX.sql_quality('text')} AS quality FROM documents")
    o["t03_fingerprint"] = (
        f"SELECT doc_id, {TX.sql_fingerprint('text')} AS fp FROM documents")
    o["t07_repetition_signals"] = (
        f"SELECT doc_id, {TX.sql_repetition_signals('text')} FROM documents")
    _t = TX.GOPHER_THRESHOLDS
    o["t08_gopher_filter"] = f"""
WITH s AS (SELECT doc_id, {TX.sql_repetition_signals('text')} FROM documents)
SELECT doc_id,
       (dup_line_frac <= {_t['dup_line_frac_max']}
        AND dup_2gram_frac <= {_t['dup_2gram_frac_max']}
        AND mean_word_len >= {_t['mean_word_len_min']}
        AND mean_word_len <= {_t['mean_word_len_max']}
        AND symbol_word_ratio <= {_t['symbol_word_ratio_max']}
        AND bullet_line_frac <= {_t['bullet_line_frac_max']}
        AND ellipsis_line_frac <= {_t['ellipsis_line_frac_max']}) AS keep
FROM s"""

    hits = {lang: (f"len(list_intersect({_wtoks.replace('text', 'lower(text)')}, "
                   f"[{','.join(repr(m) for m in TX.LANG_MARKERS[lang])}]))")
            for lang in sorted(TX.LANG_MARKERS)}
    langs = sorted(TX.LANG_MARKERS)  # priority order: first alpha wins ties
    case = "CASE "
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"{hits[lg]} >= {hits[other]}"
                             for other in langs[i + 1:])
        case += f"WHEN {conds} THEN '{lg}' "
    case += f"ELSE '{langs[-1]}' END"
    o["t04_lang_id"] = f"SELECT doc_id, {case} AS lang_pred FROM documents"

    return o
