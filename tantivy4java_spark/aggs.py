"""Aggregations — the Elasticsearch-compatible DSL (SURVEY.md §2.3 A1-A10).

Reference entry point: SplitSearcher.aggregate(query, aggs)
(split/SplitSearcher.java:304-357); each Java class emits ES JSON executed by
tantivy.  Here every aggregation is a thin declarative layer over ONE
`groupBy().agg()` pass on the matched-docs DataFrame — partial (map-side)
aggregation, AQE and whole-stage codegen come free from Catalyst.

Bucket aggs (terms / multi_terms / histogram / date_histogram / range) accept
nested sub-aggregations (README.md:1126-1146) — they fold into the same
single groupBy pass, never a second shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


class Agg:
    """Base; metric aggs expose exprs(), bucket aggs expose group + exprs."""


@dataclass
class Count(Agg):  # aggregation/CountAggregation.java
    field: str

    def exprs(self, prefix: str) -> List[Column]:
        return [F.count(F.col(self.field)).alias(prefix)]


@dataclass
class Sum(Agg):  # SumAggregation.java
    field: str

    def exprs(self, prefix: str) -> List[Column]:
        return [F.sum(F.col(self.field)).alias(prefix)]


@dataclass
class Avg(Agg):  # AverageAggregation.java
    field: str

    def exprs(self, prefix: str) -> List[Column]:
        return [F.avg(F.col(self.field)).alias(prefix)]


@dataclass
class Min(Agg):
    field: str

    def exprs(self, prefix: str) -> List[Column]:
        return [F.min(F.col(self.field)).alias(prefix)]


@dataclass
class Max(Agg):
    field: str

    def exprs(self, prefix: str) -> List[Column]:
        return [F.max(F.col(self.field)).alias(prefix)]


@dataclass
class Stats(Agg):  # StatsAggregation.java:60-66 -> {count,sum,avg,min,max}
    field: str

    def exprs(self, prefix: str) -> List[Column]:
        c = F.col(self.field)
        return [
            F.count(c).alias(f"{prefix}_count"),
            F.sum(c).alias(f"{prefix}_sum"),
            F.avg(c).alias(f"{prefix}_avg"),
            F.min(c).alias(f"{prefix}_min"),
            F.max(c).alias(f"{prefix}_max"),
        ]


@dataclass
class Cardinality(Agg):
    """CardinalityAggregation.java:27-60 — approx distinct.  exact=True swaps
    in count_distinct when a deterministic answer is required (oracles)."""
    field: str
    exact: bool = False

    def exprs(self, prefix: str) -> List[Column]:
        c = F.col(self.field)
        e = F.count_distinct(c) if self.exact else F.approx_count_distinct(c)
        return [e.alias(prefix)]


_METRICS = (Count, Sum, Avg, Min, Max, Stats, Cardinality)
# bucket agg classes (defined below); filled in after the definitions
_BUCKETS: tuple = ()


@dataclass
class Terms(Agg):
    """TermsAggregation.java:26-110 — top-`size` buckets by doc count.
    shard_size is Spark's map-side partial agg (free)."""
    field: str
    size: int = 10
    sub: Dict[str, Agg] = dc_field(default_factory=dict)

    def group_cols(self) -> List[Column]:
        return [F.col(self.field)]


@dataclass
class MultiTerms(Agg):  # MultiTermsAggregation.java:52-74
    fields: Sequence[str]
    size: int = 10
    sub: Dict[str, Agg] = dc_field(default_factory=dict)

    def group_cols(self) -> List[Column]:
        return [F.col(f) for f in self.fields]


@dataclass
class Histogram(Agg):
    """HistogramAggregation.java — bucket key = floor((v-offset)/interval)*interval+offset.
    hard_bounds drops buckets outside [lo, hi]; extended_bounds (with
    min_doc_count=0) emits empty buckets across [lo, hi]."""
    field: str
    interval: float
    offset: float = 0.0
    min_doc_count: int = 0
    hard_bounds: Optional[Tuple[float, float]] = None
    extended_bounds: Optional[Tuple[float, float]] = None
    sub: Dict[str, Agg] = dc_field(default_factory=dict)

    def key_col(self) -> Column:
        v = F.col(self.field).cast("double")
        return (F.floor((v - F.lit(self.offset)) / F.lit(self.interval))
                * F.lit(self.interval) + F.lit(self.offset))


@dataclass
class DateHistogram(Agg):
    """DateHistogramAggregation.java:92-165 — fixed_interval buckets plus the
    parameter tail: calendar_interval ('1M','1q','1y','1w' and 'd/h/m/s'
    units), offset ('+1h', '-30m'), time_zone (IANA name; buckets align to
    local wall-clock, keys stay UTC instants), min_doc_count,
    extended_bounds / hard_bounds (ISO strings or datetimes).

    min_doc_count defaults to 1 (only non-empty buckets — the round-2
    behavior); 0 emits empty buckets across the data span, widened by
    extended_bounds."""
    field: str
    fixed_interval: Optional[str] = "1d"
    sub: Dict[str, Agg] = dc_field(default_factory=dict)
    calendar_interval: Optional[str] = None
    offset: str = "0s"
    time_zone: str = "UTC"
    min_doc_count: int = 1
    extended_bounds: Optional[Tuple] = None
    hard_bounds: Optional[Tuple] = None
    # setFormat (DateHistogramAggregation.java:135-139): Java
    # DateTimeFormatter pattern; adds a key_as_string column rendering each
    # bucket key's wall-clock in the aggregation's time_zone
    format: Optional[str] = None

    _UNITS = {"d": 86400, "h": 3600, "m": 60, "s": 1}
    # ES calendar units; '1M' (month) vs '1m' (minute) is case-sensitive
    _CAL = {"1y": "year", "1q": "quarter", "1M": "month", "1w": "week",
            "1d": "day", "1h": "hour", "1m": "minute", "1s": "second"}

    def seconds(self) -> int:
        import re
        m = re.fullmatch(r"(\d+)([dhms])", self.fixed_interval or "")
        if not m:
            raise ValueError(f"bad fixed_interval {self.fixed_interval}")
        return int(m.group(1)) * self._UNITS[m.group(2)]

    def offset_seconds(self) -> int:
        import re
        m = re.fullmatch(r"([+-]?\d+)([dhms])", self.offset)
        if not m:
            raise ValueError(f"bad offset {self.offset}")
        return int(m.group(1)) * self._UNITS[m.group(2)]

    def trunc_unit(self) -> str:
        if self.calendar_interval not in self._CAL:
            raise ValueError(
                f"bad calendar_interval {self.calendar_interval}; "
                f"one of {sorted(self._CAL)}")
        return self._CAL[self.calendar_interval]

    def sequence_step(self) -> str:
        """SQL interval literal matching one bucket (for empty-bucket fill)."""
        if self.calendar_interval is not None:
            return f"interval 1 {self.trunc_unit()}"
        return f"interval {self.seconds()} second"

    def key_col(self) -> Column:
        off = self.offset_seconds()
        col = F.col(self.field)
        # bucket in LOCAL wall-clock when a time_zone is given, then convert
        # the bucket start back to a UTC instant (ES time_zone semantics)
        local = col if self.time_zone == "UTC" \
            else F.from_utc_timestamp(col, self.time_zone)
        epoch = F.unix_timestamp(local) - F.lit(off)
        if self.calendar_interval is not None:
            k = F.date_trunc(self.trunc_unit(), F.timestamp_seconds(epoch))
            k = F.timestamp_seconds(F.unix_timestamp(k) + F.lit(off))
        else:
            secs = self.seconds()
            k = F.timestamp_seconds(
                F.floor(epoch / F.lit(secs)) * F.lit(secs) + F.lit(off))
        return k if self.time_zone == "UTC" \
            else F.to_utc_timestamp(k, self.time_zone)

    def key_str_col(self, spark, key: Column) -> Column:
        """Render the bucket-key instant as wall-clock in this agg's
        time_zone, independent of the session time zone: date_format reads
        the session zone S, so shift the instant by (offset(zone) -
        offset(S)) first (to_utc_timestamp undoes S, from_utc_timestamp
        applies the target zone)."""
        sess = spark.conf.get("spark.sql.session.timeZone")
        shifted = F.from_utc_timestamp(F.to_utc_timestamp(key, sess),
                                       self.time_zone)
        return F.date_format(shifted, self.format)


@dataclass
class RangeAgg(Agg):
    """RangeAggregation.java:69-142 — [from, to) buckets (ES semantics)."""
    field: str
    ranges: Sequence[Tuple[str, Optional[float], Optional[float]]]  # (key, from, to)
    sub: Dict[str, Agg] = dc_field(default_factory=dict)

    def key_col(self) -> Column:
        v = F.col(self.field).cast("double")
        expr = F.lit(None).cast("string")
        for key, lo, hi in reversed(list(self.ranges)):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (v >= F.lit(lo))
            if hi is not None:
                cond = cond & (v < F.lit(hi))
            expr = F.when(cond, F.lit(key)).otherwise(expr)
        return expr


_BUCKETS = (Terms, MultiTerms, Histogram, DateHistogram, RangeAgg)

# ES guards runaway bucket cardinality with search.max_buckets (default
# 65536); mirrored here as the cap on (a) generated empty-bucket fills and
# (b) the eager multi-aggregation driver collect.  A 1s-interval
# date_histogram over years of data would otherwise stream millions of
# bucket rows to the driver.
MAX_BUCKETS = 65536


class TooManyBucketsError(ValueError):
    """Raised when an aggregation would produce more than MAX_BUCKETS bucket
    rows in a driver-materialized context (empty-bucket fill, or the eager
    multi-aggregation collect).  Use a coarser interval, or run the
    aggregation alone — the single-aggregation path returns a LAZY DataFrame
    the caller can aggregate/write cluster-side without a driver collect."""


# lower bound, in seconds, of one calendar step — used only to bound the
# fill-sequence length before generating it (an over-estimate of the bucket
# count is fine: it can only reject slightly earlier)
_CAL_MIN_SECONDS = {"year": 365 * 86400, "quarter": 89 * 86400,
                    "month": 28 * 86400, "week": 7 * 86400,
                    "day": 86400, "hour": 3600, "minute": 60, "second": 1}


def _ts_lit(b) -> Column:
    """Timestamp literal from an ISO string / datetime bound (UTC-anchored,
    same rule as range-query bounds)."""
    import datetime as _dtm
    if isinstance(b, str):
        from tantivy4java_spark.parser import parse_iso_datetime
        dt = parse_iso_datetime(b)
        if dt is None:
            raise ValueError(f"not an ISO datetime bound: {b!r}")
        b = dt
    if isinstance(b, _dtm.datetime) and b.tzinfo is None:
        b = b.replace(tzinfo=_dtm.timezone.utc)
    return F.lit(b)


def _snap_bucket_key(spark, agg: "DateHistogram", bound) -> "object":
    """Bucket key containing `bound` — the exact key_col() logic applied to
    the bound (so extended_bounds endpoints align with real bucket starts)."""
    return spark.range(1).select(_ts_lit(bound).alias(agg.field)) \
        .select(agg.key_col().alias("k")).collect()[0]["k"]


def _fill_date_buckets(out: DataFrame, agg: "DateHistogram") -> DataFrame:
    """min_doc_count=0: emit empty buckets across the data span (widened by
    extended_bounds).  The span endpoints are two scalar values — collecting
    them is O(1); the bucket keys themselves are generated via one
    `sequence` + explode, then outer-joined with the counted buckets (an
    empty bucket keeps null metric columns, doc_count 0 — ES shape).

    The fill sequence steps in LOCAL wall-clock when a time_zone is set —
    the real keys from key_col() are local-aligned UTC instants, which are
    NOT a fixed UTC stride across DST transitions.  The join is FULL outer
    so a counted bucket can never be discarded by a fill-key mismatch."""
    spark = out.sparkSession
    row = out.agg(F.min("key").alias("lo"), F.max("key").alias("hi")) \
        .collect()[0]
    lo, hi = row["lo"], row["hi"]
    if agg.extended_bounds is not None:
        elo = _snap_bucket_key(spark, agg, agg.extended_bounds[0])
        ehi = _snap_bucket_key(spark, agg, agg.extended_bounds[1])
        lo = min([x for x in (lo, elo) if x is not None], default=None)
        hi = max([x for x in (hi, ehi) if x is not None], default=None)
    if lo is None:
        return out
    span = (hi - lo).total_seconds()
    unit_s = (_CAL_MIN_SECONDS[agg.trunc_unit()]
              if agg.calendar_interval is not None else agg.seconds())
    if span / unit_s + 1 > MAX_BUCKETS:
        raise TooManyBucketsError(
            f"date_histogram empty-bucket fill would generate ~"
            f"{int(span / unit_s) + 1} buckets (> {MAX_BUCKETS}); use a "
            f"coarser interval or min_doc_count>=1")
    step = F.expr(agg.sequence_step())
    if agg.time_zone == "UTC":
        seq = F.sequence(F.lit(lo), F.lit(hi), step)
    else:
        # same transform as key_col(): shift to local wall-clock, stride
        # there, convert each bucket start back to its UTC instant
        tz = agg.time_zone
        seq = F.transform(
            F.sequence(F.from_utc_timestamp(F.lit(lo), tz),
                       F.from_utc_timestamp(F.lit(hi), tz), step),
            lambda x: F.to_utc_timestamp(x, tz))
    # distinct: on a spring-forward gap a NONEXISTENT local wall-clock time
    # (e.g. 02:00 on the DST day for sub-daily strides) maps to the same
    # UTC instant as the next bucket — without dedup the full join would
    # fan the counted bucket out into duplicate rows
    keys = spark.range(1).select(F.explode(seq).alias("key")).distinct()
    return keys.join(out, "key", "full").na.fill({"doc_count": 0})


def _snap_numeric(agg: "Histogram", v: float) -> float:
    """Bucket key containing bound `v`.  The tiny epsilon favors the upper
    bucket when the division lands one ulp below an exact boundary (e.g.
    1.2/0.1 = 11.999...8) — bounds are user-supplied bucket edges far more
    often than values one-billionth below one."""
    import math as _m
    return _m.floor((v - agg.offset) / agg.interval + 1e-9) * agg.interval \
        + agg.offset


def _fill_numeric_buckets(out: DataFrame, agg: "Histogram") -> DataFrame:
    """Histogram analog of _fill_date_buckets over extended_bounds.

    The fill join is on an INTEGER bucket index, not the double key:
    generated keys (lo + i*interval) and grouped keys
    (floor((v-offset)/interval)*interval + offset) can differ in the last
    ulp for non-integral intervals, and a double-equality join would drop
    real counted buckets.  Where a counted bucket exists its own key wins
    (hash-exact vs the grouped output)."""
    spark = out.sparkSession
    row = out.agg(F.min("key").alias("lo"), F.max("key").alias("hi")) \
        .collect()[0]
    lo_b, hi_b = agg.extended_bounds
    lo = min(x for x in [row["lo"], _snap_numeric(agg, float(lo_b))]
             if x is not None)
    hi = max(x for x in [row["hi"], _snap_numeric(agg, float(hi_b))]
             if x is not None)
    n = int(round((hi - lo) / agg.interval)) + 1
    if n > MAX_BUCKETS:
        raise TooManyBucketsError(
            f"histogram empty-bucket fill would generate {n} buckets "
            f"(> {MAX_BUCKETS}); use a coarser interval or min_doc_count>=1")
    bidx = F.round((F.col("key") - F.lit(lo)) / F.lit(agg.interval)) \
        .cast("long")
    counted = out.withColumn("_bidx", bidx)
    keys = spark.range(n).select(F.col("id").cast("long").alias("_bidx"))
    return (keys.join(counted, "_bidx", "full")
            .withColumn("key", F.coalesce(
                F.col("key"),
                F.lit(lo) + F.col("_bidx") * F.lit(agg.interval)))
            .drop("_bidx")
            .na.fill({"doc_count": 0}))


def _split_sub(sub: Dict[str, Agg]):
    """Partition a sub-aggregation dict into (metrics, nested-bucket).
    The reference nests bucket aggs one level deep (addSubAggregation with a
    TermsAggregation, DateHistogramAggregationTest.java:569,629); mirrored
    here: at most ONE bucket sub-agg, itself metrics-only."""
    buckets = {n: a for n, a in sub.items() if isinstance(a, _BUCKETS)}
    metrics = {n: a for n, a in sub.items() if not isinstance(a, _BUCKETS)}
    for name, agg in metrics.items():
        if not isinstance(agg, _METRICS):
            raise TypeError(f"unknown sub-aggregation type for {name!r}")
    if len(buckets) > 1:
        raise TypeError("at most one bucket sub-aggregation per bucket")
    if buckets:
        if metrics:
            raise TypeError(
                "metric siblings next to a bucket sub-aggregation are not "
                "supported (nest the metrics INSIDE the bucket sub-agg)")
        (bname, bagg), = buckets.items()
        if any(isinstance(a, _BUCKETS) for a in bagg.sub.values()):
            raise TypeError("bucket sub-aggregations nest one level deep")
        return {}, (bname, bagg)
    return metrics, None


def _sub_exprs(sub: Dict[str, Agg]) -> List[Column]:
    out: List[Column] = [F.count(F.lit(1)).alias("doc_count")]
    metrics, nested = _split_sub(sub)
    if nested is not None:
        raise TypeError("bucket sub-aggregation reached the metric-only "
                        "path (internal)")
    for name, agg in metrics.items():
        out.extend(agg.exprs(name))
    return out


def _inner_bucket_cols(name: str, agg: Agg):
    """(group-by columns, output key column names) for a nested bucket,
    prefixed with the sub-agg name so outer and inner keys never collide."""
    if isinstance(agg, Terms):
        return [F.col(agg.field).alias(f"{name}_{agg.field}")], \
            [f"{name}_{agg.field}"]
    if isinstance(agg, MultiTerms):
        cols = [F.col(f).alias(f"{name}_{f}") for f in agg.fields]
        return cols, [f"{name}_{f}" for f in agg.fields]
    if isinstance(agg, (Histogram, DateHistogram)):
        # only key_col() is applied to an INNER histogram — its bucket-shape
        # options (min_doc_count filtering, hard/extended bounds) have no
        # nested implementation; refuse loudly rather than silently ignore
        default_mdc = 0 if isinstance(agg, Histogram) else 1
        if agg.min_doc_count != default_mdc:
            raise ValueError(
                f"nested bucket sub-aggregation {name!r}: min_doc_count is "
                f"not supported on an inner histogram")
        if agg.hard_bounds is not None or agg.extended_bounds is not None:
            raise ValueError(
                f"nested bucket sub-aggregation {name!r}: hard_bounds / "
                f"extended_bounds are not supported on an inner histogram")
        if getattr(agg, "format", None) is not None:
            raise ValueError(
                f"nested bucket sub-aggregation {name!r}: format is not "
                f"supported on an inner date_histogram")
        return [agg.key_col().alias(f"{name}_key")], [f"{name}_key"]
    if isinstance(agg, RangeAgg):
        return [agg.key_col().alias(f"{name}_key")], [f"{name}_key"]
    raise TypeError(f"unsupported nested bucket {type(agg).__name__}")


def _nested_bucket_agg(df: DataFrame, outer_cols: List[Column],
                       outer_names: List[str], nested) -> DataFrame:
    """ONE groupBy on (outer keys x inner keys) — a single shuffle keyed by
    the combined bucket key (bounded cardinality, no skew amplification) —
    then a window over the tiny bucket-row table for the per-outer-bucket
    inner cut and the outer doc_count.  Output is flat rows:
    (outer keys..., doc_count, <name>_<innerkey>..., <name>_doc_count,
    inner metric columns) — the DataFrame-native shape of the reference's
    nested JSON buckets."""
    name, inner = nested
    in_cols, in_names = _inner_bucket_cols(name, inner)
    inner_metrics = [c for mname, m in inner.sub.items()
                     for c in m.exprs(mname)] if inner.sub else []
    for m in (inner.sub or {}).values():
        if not isinstance(m, _METRICS):
            raise TypeError("bucket sub-aggregations nest one level deep")
    grouped = (df.groupBy(*outer_cols, *in_cols)
               .agg(F.count(F.lit(1)).alias(f"{name}_doc_count"),
                    *inner_metrics))
    w = Window.partitionBy(*outer_names)
    # outer doc_count BEFORE any inner cut or null-key drop (the cut drops
    # ROWS, not docs): docs outside every inner range / with a null inner
    # key still belong to the outer bucket (ES semantics), so their
    # null-key group is summed here and only its ROW is dropped after
    grouped = grouped.withColumn(
        "doc_count", F.sum(f"{name}_doc_count").over(w))
    for n in in_names:  # multi_terms: every key component must be present
        grouped = grouped.filter(F.col(n).isNotNull())
    if isinstance(inner, (Terms, MultiTerms)):
        rn = F.row_number().over(
            w.orderBy(F.desc(f"{name}_doc_count"),
                      *[F.asc(k) for k in in_names]))
        grouped = grouped.withColumn("_rn", rn) \
            .filter(F.col("_rn") <= inner.size).drop("_rn")
    front = [*outer_names, "doc_count", *in_names, f"{name}_doc_count"]
    rest = [c for c in grouped.columns if c not in front]
    return grouped.select(*front, *rest), in_names


def apply_agg(df: DataFrame, agg: Agg, name: str = "value") -> DataFrame:
    """Run one aggregation over an (already query-matched) DataFrame.

    Metric -> single row; bucket -> one row per bucket, ordered like the
    reference (terms: doc_count desc; histogram/date_histogram: key asc)."""
    if isinstance(agg, _METRICS):
        return df.agg(*agg.exprs(name))
    if isinstance(agg, (Terms, MultiTerms)):
        keys = [agg.field] if isinstance(agg, Terms) else list(agg.fields)
        # ES terms buckets exclude docs missing the field (no null bucket —
        # it could otherwise displace real buckets from the size cut)
        for k in keys:
            df = df.filter(F.col(k).isNotNull())
        _, nested = _split_sub(agg.sub)
        if nested is not None:
            out, in_names = _nested_bucket_agg(df, agg.group_cols(), keys,
                                               nested)
            # top-size OUTER buckets (dense_rank: every inner row of a
            # bucket shares (doc_count, keys), so ranks are per-bucket)
            rank = F.dense_rank().over(
                Window.orderBy(F.desc("doc_count"),
                               *[F.asc(k) for k in keys]))
            return (out.withColumn("_r", rank)
                    .filter(F.col("_r") <= agg.size).drop("_r")
                    .orderBy(F.desc("doc_count"), *[F.asc(k) for k in keys],
                             *[F.asc(k) for k in in_names]))
        grouped = df.groupBy(*agg.group_cols()).agg(*_sub_exprs(agg.sub))
        # deterministic bucket cut: count desc, then every key asc
        return (grouped.orderBy(F.desc("doc_count"),
                                *[F.asc(k) for k in keys])
                .limit(agg.size))
    if isinstance(agg, Histogram):
        kc = agg.key_col()
        if agg.hard_bounds is not None:
            # snap bound endpoints to bucket keys: a bound falling
            # mid-bucket must keep the boundary bucket (its key is the
            # canonical bucket start, which sits below/above the raw bound)
            lo, hi = [_snap_numeric(agg, float(b)) for b in agg.hard_bounds]
            kc_f = agg.key_col()
            df = df.filter((kc_f >= F.lit(float(lo)))
                           & (kc_f <= F.lit(float(hi))))
        _, nested = _split_sub(agg.sub)
        if nested is not None:
            if agg.min_doc_count == 0 and agg.extended_bounds is not None:
                raise ValueError("empty-bucket fill (extended_bounds with "
                                 "min_doc_count=0) is not supported with a "
                                 "nested bucket sub-aggregation")
            out, in_names = _nested_bucket_agg(
                df.filter(kc.isNotNull()), [kc.alias("key")],
                ["key"], nested)  # null-field docs ignored, as non-nested
            if agg.min_doc_count > 0:
                out = out.filter(F.col("doc_count") >= agg.min_doc_count)
            return out.orderBy("key", *in_names)
        # ES histograms ignore docs missing the field: drop the null-key
        # group (also keeps the full-join fill from resurrecting it)
        out = df.groupBy(kc.alias("key")).agg(*_sub_exprs(agg.sub)) \
            .filter(F.col("key").isNotNull())
        if agg.min_doc_count > 0:
            out = out.filter(F.col("doc_count") >= agg.min_doc_count)
        elif agg.extended_bounds is not None:
            out = _fill_numeric_buckets(out, agg)
        return out.orderBy("key")
    if isinstance(agg, DateHistogram):
        kc = agg.key_col()
        if agg.hard_bounds is not None:
            # snap to bucket keys (same rule as the numeric branch): the
            # bucket containing a mid-bucket bound is kept
            lo, hi = [F.lit(_snap_bucket_key(df.sparkSession, agg, b))
                      for b in agg.hard_bounds]
            kc_f = agg.key_col()
            df = df.filter((kc_f >= lo) & (kc_f <= hi))
        _, nested = _split_sub(agg.sub)
        if nested is not None:
            if agg.min_doc_count == 0:
                raise ValueError("empty-bucket fill (min_doc_count=0) is "
                                 "not supported with a nested bucket "
                                 "sub-aggregation")
            out, in_names = _nested_bucket_agg(
                df.filter(kc.isNotNull()), [kc.alias("key")],
                ["key"], nested)  # null-field docs ignored, as non-nested
            if agg.min_doc_count > 1:
                out = out.filter(F.col("doc_count") >= agg.min_doc_count)
            if agg.format is not None:
                out = out.withColumn("key_as_string", agg.key_str_col(
                    df.sparkSession, F.col("key")))
            return out.orderBy("key", *in_names)
        out = df.groupBy(kc.alias("key")).agg(*_sub_exprs(agg.sub)) \
            .filter(F.col("key").isNotNull())
        if agg.min_doc_count == 0:
            out = _fill_date_buckets(out, agg)
        elif agg.min_doc_count > 1:
            out = out.filter(F.col("doc_count") >= agg.min_doc_count)
        if agg.format is not None:
            # after the fill so synthesized empty buckets get strings too
            out = out.withColumn("key_as_string", agg.key_str_col(
                df.sparkSession, F.col("key")))
        return out.orderBy("key")
    if isinstance(agg, RangeAgg):
        key = agg.key_col().alias("key")
        _, nested = _split_sub(agg.sub)
        if nested is not None:
            out, in_names = _nested_bucket_agg(
                df.filter(agg.key_col().isNotNull()), [key], ["key"], nested)
            return out.orderBy("key", *in_names)
        return (df.filter(agg.key_col().isNotNull())
                .groupBy(key).agg(*_sub_exprs(agg.sub)).orderBy("key"))
    raise TypeError(f"unknown aggregation {type(agg).__name__}")


# dtypes the driver-side aggregation path handles with exact Spark parity;
# timestamps/dates (tz literal round-trips), decimals and arrays fall back
_LOCAL_AGG_KEY_DTYPES = {"bigint", "int", "smallint", "tinyint", "double",
                         "float", "string", "boolean"}
_LOCAL_AGG_NUM_DTYPES = {"bigint", "int", "smallint", "tinyint", "double",
                         "float"}


def _local_metric_vals(s, agg: Agg, prefix: str):
    """One metric over a pandas column, mirroring the Spark exprs() null
    semantics: aggregates over zero non-null values yield null (pandas'
    sum-of-empty-is-0 does NOT match Spark)."""
    nn = s.dropna()
    if str(nn.dtype) == "float32" and isinstance(agg, (Sum, Avg, Stats)):
        # Spark widens float sums/averages to double; pandas would
        # accumulate in float32 and diverge (min/max/count are exact)
        nn = nn.astype("float64")
    n = len(nn)
    if isinstance(agg, Count):
        return [(prefix, n)]
    if isinstance(agg, Sum):
        return [(prefix, nn.sum() if n else None)]
    if isinstance(agg, Avg):
        return [(prefix, nn.mean() if n else None)]
    if isinstance(agg, Min):
        return [(prefix, nn.min() if n else None)]
    if isinstance(agg, Max):
        return [(prefix, nn.max() if n else None)]
    if isinstance(agg, Stats):
        return [(f"{prefix}_count", n),
                (f"{prefix}_sum", nn.sum() if n else None),
                (f"{prefix}_avg", nn.mean() if n else None),
                (f"{prefix}_min", nn.min() if n else None),
                (f"{prefix}_max", nn.max() if n else None)]
    if isinstance(agg, Cardinality):
        # python set — NUL-safe, unlike pandas nunique (hash truncation)
        return [(prefix, len(set(nn.tolist())))]
    raise TypeError(type(agg).__name__)


def _local_agg_plan(searcher, aggs: Dict[str, Agg], source) -> Optional[dict]:
    """Validate that every requested aggregation is locally computable with
    exact parity; return {name: (keys, size, metrics)} or None to fall back.
    keys == [] means a metric-only aggregation."""
    if source is not None:
        return None
    dts = dict(searcher.docs().dtypes)

    def _metric_ok(m: Agg) -> bool:
        if isinstance(m, Cardinality) and not m.exact:
            return False  # approx_count_distinct is an HLL sketch
        if not isinstance(m, _METRICS):
            return False
        dt = dts.get(m.field)
        if isinstance(m, (Sum, Avg, Stats)):
            return dt in _LOCAL_AGG_NUM_DTYPES
        return dt in _LOCAL_AGG_KEY_DTYPES

    def _subs_ok(agg: Agg):
        metrics, nested = _split_sub(agg.sub)
        if nested is not None:
            return None
        if not all(_metric_ok(m) for m in metrics.values()):
            return None
        return metrics

    plan = {}
    for name, agg in aggs.items():
        if isinstance(agg, _METRICS):
            if not _metric_ok(agg):
                return None
            plan[name] = ("metric", [], 0, {name: agg})
        elif isinstance(agg, (Terms, MultiTerms)):
            keys = [agg.field] if isinstance(agg, Terms) else list(agg.fields)
            if any(dts.get(k) not in _LOCAL_AGG_KEY_DTYPES for k in keys):
                return None
            metrics = _subs_ok(agg)
            if metrics is None:
                return None
            plan[name] = ("terms", keys, int(agg.size), metrics)
        elif isinstance(agg, Histogram):
            if dts.get(agg.field) not in _LOCAL_AGG_NUM_DTYPES:
                return None
            metrics = _subs_ok(agg)
            if metrics is None:
                return None
            plan[name] = ("hist", [agg.field], 0, metrics)
        elif isinstance(agg, DateHistogram):
            # local scope: fixed_interval in UTC without bounds and without
            # empty-bucket fill; calendar strides / time zones / bound
            # snapping keep their carefully-tested cluster lowering
            if (dts.get(agg.field) != "timestamp"
                    or agg.calendar_interval is not None
                    or agg.time_zone != "UTC"
                    or agg.hard_bounds is not None
                    or agg.min_doc_count < 1
                    or agg.format is not None):
                return None
            try:
                agg.seconds(), agg.offset_seconds()
            except ValueError:
                return None  # bad interval: cluster path raises it
            metrics = _subs_ok(agg)
            if metrics is None:
                return None
            plan[name] = ("date", [agg.field], 0, metrics)
        elif isinstance(agg, RangeAgg):
            if dts.get(agg.field) not in _LOCAL_AGG_NUM_DTYPES:
                return None
            if any("\x00" in k for k, _, _ in agg.ranges):
                return None  # NUL label: unsafe in a VALUES literal
            metrics = _subs_ok(agg)
            if metrics is None:
                return None
            plan[name] = ("range", [agg.field], 0, metrics)
        else:
            return None
    return plan


def _local_agg_schema(searcher, name: str, agg: Agg):
    """Output schema of ``agg`` from the zero-row cluster plan, memoized
    per searcher: Catalyst analysis of the same plan costs ~90 ms."""
    key = (name, repr(agg))
    if key not in searcher._agg_schemas:
        if isinstance(agg, Histogram) and agg.min_doc_count == 0 \
                and agg.extended_bounds is not None:
            # schema is identical with/without the empty-bucket fill, but
            # apply_agg's fill path collects span endpoints — a Spark job
            # even on a zero-row probe; derive the schema without it
            import dataclasses
            agg = dataclasses.replace(agg, min_doc_count=1,
                                      extended_bounds=None)
        searcher._agg_schemas[key] = apply_agg(
            searcher.docs().limit(0), agg, name).schema  # plan-time, no job
    return searcher._agg_schemas[key]


def _local_aggregate(searcher, query, aggs: Dict[str, Agg],
                     source) -> Optional[Dict[str, DataFrame]]:
    """Driver-side aggregation fast path (metrics, terms/multi_terms,
    histogram, range, and fixed-interval-UTC date_histogram, each with
    metric sub-aggs): when the query's match set evaluates locally, the
    matched doc rows are read via pyarrow and aggregated in pandas —
    zero Spark jobs, same output schema BY CONSTRUCTION (taken from the
    zero-row cluster plan), same bucket order and null semantics.  Guards
    fall back to the cluster path on: float columns containing true NaN
    (pandas conflates NaN with null; Spark does not), NUL bytes in string
    keys (pandas groupby hash truncation), unsupported dtypes/aggs."""
    import numpy as np
    import pandas as pd

    plan = _local_agg_plan(searcher, aggs, source)
    if plan is None:
        return None
    matched = searcher._local_search_pdf(query)
    if matched is None:
        return None
    fields = sorted({f for _, keys, _, metrics in plan.values()
                     for f in list(keys) + [m.field for m in metrics.values()]})
    import pyarrow as pa
    import pyarrow.compute as pc
    # dedupe: a metric over doc_id itself would otherwise request the
    # column twice and pyarrow raises (silent fallback to the slow path)
    tbl = searcher._local_table(
        "docs", None, ["doc_id"] + [f for f in fields if f != "doc_id"])
    if tbl is None:
        return None
    for f in fields:
        if pa.types.is_floating(tbl.schema.field(f).type):
            col = tbl[f].drop_null()
            if len(col) and pc.any(pc.is_nan(col)).as_py():
                return None  # true NaN: Spark groups/sums it, pandas skips
    pdf = tbl.to_pandas()
    for f in fields:
        if pdf[f].dtype == object and len(pdf):
            vals = pdf[f].dropna()
            if len(vals) and vals.map(
                    lambda v: isinstance(v, str) and "\x00" in v).any():
                return None  # NUL in keys: pandas hash kernels truncate
    base = matched[["doc_id"]].merge(pdf, on="doc_id", how="inner")
    out: Dict[str, DataFrame] = {}
    def _key_grouped_recs(sub: pd.DataFrame, karr, metrics) -> List[dict]:
        """Group `sub` rows by the parallel key array; one rec per bucket."""
        recs = []
        for kv, g in sub.groupby(pd.Series(karr, index=sub.index),
                                 sort=False):
            rec = {"key": kv, "doc_count": len(g)}
            for mname, m in metrics.items():
                rec.update(_local_metric_vals(g[m.field], m, mname))
            recs.append(rec)
        return recs

    for name, agg in aggs.items():
        kind, keys, size, metrics = plan[name]
        schema = _local_agg_schema(searcher, name, agg)
        recs: List[dict] = []
        if kind == "metric":
            recs.append(dict(_local_metric_vals(base[agg.field], agg, name)))
        elif kind == "terms":
            grouped = base.groupby(keys, sort=False, dropna=True)
            for kv, g in grouped:
                kv = kv if isinstance(kv, tuple) else (kv,)
                rec = dict(zip(keys, kv))
                rec["doc_count"] = len(g)
                for mname, m in metrics.items():
                    rec.update(_local_metric_vals(g[m.field], m, mname))
                recs.append(rec)
            recs.sort(key=lambda r: tuple(r[k] for k in keys))
            recs.sort(key=lambda r: -r["doc_count"])  # stable: count desc,
            recs = recs[:size]                        # then keys asc
        elif kind == "hist":
            # same float64 expression shape as Histogram.key_col():
            #   floor((v - offset) / interval) * interval + offset
            v = base[agg.field].astype("float64")
            varr = v.to_numpy()
            karr = (np.floor((varr - agg.offset) / agg.interval)
                    * agg.interval + agg.offset)
            mask = v.notna().to_numpy()
            if agg.hard_bounds is not None:
                lo_s, hi_s = [_snap_numeric(agg, float(b))
                              for b in agg.hard_bounds]
                mask &= (karr >= lo_s) & (karr <= hi_s)
            recs = _key_grouped_recs(base[mask], karr[mask], metrics)
            if agg.min_doc_count > 0:
                recs = [r for r in recs
                        if r["doc_count"] >= agg.min_doc_count]
            elif agg.extended_bounds is not None:
                # integer-index fill, mirroring _fill_numeric_buckets:
                # counted buckets keep their own (grouped) key; generated
                # keys are lo + i*interval; metrics stay null, count 0
                lo_b, hi_b = agg.extended_bounds
                kmin = min([r["key"] for r in recs]
                           + [_snap_numeric(agg, float(lo_b))])
                kmax = max([r["key"] for r in recs]
                           + [_snap_numeric(agg, float(hi_b))])
                n = int(round((kmax - kmin) / agg.interval)) + 1
                if n > MAX_BUCKETS:
                    raise TooManyBucketsError(
                        f"histogram empty-bucket fill would generate {n} "
                        f"buckets (> {MAX_BUCKETS}); use a coarser interval "
                        f"or min_doc_count>=1")
                by_idx = {int(round((r["key"] - kmin) / agg.interval)): r
                          for r in recs}
                recs = [by_idx.get(i, {"key": kmin + i * agg.interval,
                                       "doc_count": 0})
                        for i in range(n)]
            recs.sort(key=lambda r: r["key"])
        elif kind == "date":
            import datetime as _dtm
            vals = base[agg.field]
            mask = vals.notna().to_numpy()
            us = vals.to_numpy().astype("datetime64[us]").astype("int64")
            if mask.any() and (us[mask] < 0).any():
                return None  # pre-1970: integer-division rounding differs
            secs, off = agg.seconds(), agg.offset_seconds()
            # key_col(): floor((unix_seconds - off) / secs) * secs + off;
            # unix_timestamp truncates to whole seconds (floorDiv on µs)
            es = us // 1_000_000
            karr = (np.floor((es - off) / secs) * secs + off).astype("int64")
            recs = _key_grouped_recs(base[mask], karr[mask], metrics)
            if agg.min_doc_count > 1:
                recs = [r for r in recs
                        if r["doc_count"] >= agg.min_doc_count]
            for r in recs:
                r["key"] = _dtm.datetime.fromtimestamp(
                    int(r["key"]), _dtm.timezone.utc)
            recs.sort(key=lambda r: r["key"])
        elif kind == "range":
            # first matching range wins (RangeAgg.key_col cascade order);
            # [from, to) bounds compared in float64, same as the cast chain
            v = base[agg.field].astype("float64")
            varr = v.to_numpy()
            unset = v.notna().to_numpy()
            lab = np.full(len(varr), None, dtype=object)
            for kname, lo, hi in agg.ranges:
                c = unset.copy()
                if lo is not None:
                    c &= varr >= float(lo)
                if hi is not None:
                    c &= varr < float(hi)
                lab[c] = kname
                unset &= ~c
            mask = np.array([x is not None for x in lab], dtype=bool)
            recs = _key_grouped_recs(base[mask], lab[mask], metrics)
            recs.sort(key=lambda r: r["key"])

        if len(recs) > MAX_BUCKETS:
            # mirror the cluster paths exactly: the eager multi-agg collect
            # raises past the cap, the single-agg path stays lazy (so fall
            # back to it — the cluster frame never collects to the driver)
            if len(aggs) > 1:
                raise TooManyBucketsError(
                    f"aggregation {name!r} produced more than {MAX_BUCKETS} "
                    f"bucket rows; use a coarser interval, or run it as a "
                    f"single aggregation (the single-agg path returns a lazy "
                    f"DataFrame that never collects to the driver)")
            return None

        def _null(v):  # pandas spells a missing metric NaN; Spark, null
            return None if v is None or (np.isscalar(v) and pd.isna(v)) \
                else v

        rows = [tuple(_null(r.get(f.name)) for f in schema.fields)
                for r in recs]
        out[name] = searcher._frame(rows, schema)
    searcher.last_metrics["local_agg"] = 1
    return out


def aggregate(searcher, query, aggs: Dict[str, Agg],
              source: Optional[DataFrame] = None) -> Dict[str, DataFrame]:
    """SplitSearcher.aggregate analog: run the query, aggregate over matches
    (multiple aggregations per request, MultipleAggregationsPanicTest.java:123).

    Docs-table fast-field columns are used directly; pass ``source`` to
    aggregate over arbitrary source columns (joined on doc_id).

    With several aggregations the request is EAGER, like the reference's:
    the matched-docs join is persisted, every aggregation runs over the
    cached block (the query — the expensive part at 100-TB scale —
    evaluates once), the tiny bucket/metric results are materialized, and
    the block is unpersisted before returning.  (Returning lazy frames over
    a persisted base would leak the cached block: Spark's CacheManager
    holds it strongly until an explicit unpersist.)

    ``aggs`` may also be the reference's ES-compatible aggregation JSON
    (string or dict — the exact toAggregationJson() wire format); it is
    parsed via aggs_json.parse_aggregations.
    """
    if isinstance(aggs, str) or (
            isinstance(aggs, dict) and aggs
            and all(isinstance(v, dict) for v in aggs.values())):
        from tantivy4java_spark.aggs_json import parse_aggregations
        aggs = parse_aggregations(aggs)
    local = _local_aggregate(searcher, query, aggs, source)
    if local is not None:
        return local
    matched = searcher.score_query(query).select("doc_id")
    base = searcher.docs().join(matched, "doc_id")
    if source is not None:
        base = base.join(source, "doc_id")
    if len(aggs) <= 1:
        return {name: apply_agg(base, agg, name)
                for name, agg in aggs.items()}
    base = base.persist()
    try:
        out = {}
        for name, agg in aggs.items():
            df = apply_agg(base, agg, name)
            # bounded driver materialization: never pull more than
            # MAX_BUCKETS bucket rows onto the driver (ES search.max_buckets
            # analog).  limit(cap+1) keeps the probe itself cluster-bounded.
            rows = df.limit(MAX_BUCKETS + 1).collect()
            if len(rows) > MAX_BUCKETS:
                raise TooManyBucketsError(
                    f"aggregation {name!r} produced more than {MAX_BUCKETS} "
                    f"bucket rows; use a coarser interval, or run it as a "
                    f"single aggregation (the single-agg path returns a lazy "
                    f"DataFrame that never collects to the driver)")
            out[name] = searcher._frame([tuple(r) for r in rows], df.schema)
        return out
    finally:
        base.unpersist()
