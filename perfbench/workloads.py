"""The three workloads: ``ingest``, ``query_local`` and ``query_remote``.

Each runs in its own process (see run.py) against one Spark session, in
three phases: set-up (corpus, index, warm-up pass), a timed phase of at
least ``--seconds`` seconds, and untimed output checks.  Every operation
of the timed phase is recorded with its latency; a failed output check
counts the operation as failed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import hostdiag

# run-size presets; "tiny" is the smoke-test size.  A full query_local run
# times at least 10 rounds of 16 queries, so its 90th percentile has 16
# samples above it; a full ingest run times one bulk build and 2 cycles.
SIZES = {
    "full": {"query_docs": 5000, "min_rounds": 10, "ingest_base": 500,
             "ingest_bulk": 2000, "ingest_append": 400, "ingest_cycles": 2},
    "tiny": {"query_docs": 400, "min_rounds": 1, "ingest_base": 300,
             "ingest_bulk": 300, "ingest_append": 50, "ingest_cycles": 1},
}
SOURCE_COLS = ("repo", "path", "commit", "lang", "content")
SCORE_REL_TOL = 1e-9


class CheckFailed(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool = True
    info: dict = field(default_factory=dict)


@dataclass
class Result:
    """What one workload run measured; run.py turns it into metrics."""
    setup_s: float = 0.0
    timed_s: float = 0.0
    ops: List[Op] = field(default_factory=list)
    failures: List[str] = field(default_factory=list)
    extra: Dict[str, float] = field(default_factory=dict)
    notes: List[str] = field(default_factory=list)
    # failed checks that belong to no timed operation
    orphan_failures: int = 0

    def fail(self, op: Optional[Op], msg: str) -> None:
        if op is None:
            self.orphan_failures += 1
        else:
            op.ok = False
        self.failures.append(msg)


# -- shared helpers -------------------------------------------------------
def write_corpus(path: str, start: int, count: int, seed: int):
    """Seeded code-corpus rows [start, start+count) as one Parquet file;
    returns (pandas frame, UTF-8 bytes of the indexed source columns)."""
    from tantivy4java_spark.corpus import generate_pandas
    pdf = generate_pandas(start, count, seed=seed)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path)
    nbytes = sum(pc.sum(pc.binary_length(table[c])).as_py() or 0
                 for c in SOURCE_COLS)
    return pdf, nbytes


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def quantile(values: List[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Timed:
    """Brackets the timed phase: records the set-up time, host samples and
    JVM GC time around it, and switches the tracer's phase."""

    def __init__(self, ctx, res: Result):
        self.ctx, self.res = ctx, res

    def __enter__(self):
        ctx = self.ctx
        self.res.extra["host.calib_ms"] = hostdiag.calibrate()
        self.gc0 = ctx.jvm_gc_s()
        if ctx.tracer is not None:
            ctx.tracer.phase = "timed"
        ctx.mark("calibration")
        self.cpu0 = hostdiag.cpu_times()
        self.t0 = time.time()
        self.res.setup_s = self.t0 - ctx.t_start
        self.res.extra["timed_start"] = self.t0
        return self

    def elapsed(self) -> float:
        return time.time() - self.t0

    def __exit__(self, *exc):
        ctx = self.ctx
        self.res.timed_s = time.time() - self.t0
        for k, v in hostdiag.cpu_shares(self.cpu0, hostdiag.cpu_times()).items():
            self.res.extra[f"host.{k}"] = v
        self.res.extra["spark.jvm_gc_s"] = ctx.jvm_gc_s() - self.gc0
        if ctx.tracer is not None:
            ctx.tracer.phase = "check"
            ctx.tracer.op = None
        return False


def op_id(ctx, name: str) -> None:
    if ctx.tracer is not None:
        ctx.tracer.op = name


# -- ingest ---------------------------------------------------------------
def _paths_hits(spark, index_dir: str, paths: List[str]) -> List[int]:
    """Fresh searcher; hit count of an exact ``path`` lookup per path."""
    from tantivy4java_spark import queries as Q
    from tantivy4java_spark.searcher import IndexSearcher
    s = IndexSearcher(spark, index_dir)
    return [len(s.search(Q.Term("path", p), limit=10).collect()) for p in paths]


def run_ingest(ctx) -> Result:
    """Bulk build, then append / delete cycles with reads.

    Set-up writes the seeded corpus: base rows, bulk rows and one batch
    per cycle, with disjoint doc indexes, so every appended doc has its own
    unique ``path``.  The untimed warm-up cycle appends the base rows into
    an empty directory, which creates the index the cycles run on, and
    deletes two of them.  The timed phase runs one bulk build into a fresh
    directory, then a fixed number of cycles on the base index (append,
    then delete), so the timed operations are the same on a fast or a slow
    host.  Every write is timed until a fresh searcher shows it."""
    from tantivy4java_spark import build, maintenance, streaming
    from tantivy4java_spark import queries as Q
    from tantivy4java_spark.schema import code_corpus_config
    from tantivy4java_spark.searcher import IndexSearcher

    spark, size = ctx.spark, ctx.size
    res = Result()
    cfg = code_corpus_config()
    wd = ctx.workdir

    def corpus(name: str, start: int, count: int):
        path = os.path.join(wd, name + ".parquet")
        pdf, nbytes = write_corpus(path, start, count, ctx.seed)
        return path, list(pdf["path"]), nbytes

    # base rows [0, n), bulk rows from 1e6, cycle k's batch from 2e6 + k*n
    base = corpus("base", 0, size["ingest_base"])
    n_bulk = size["ingest_bulk"]
    bulk_src, _, bulk_bytes = corpus("bulk", 1_000_000, n_bulk)
    n_app = size["ingest_append"]
    batches = [corpus(f"append{k:03d}", 2_000_000 + k * n_app, n_app)
               for k in range(size["ingest_cycles"])]
    ctx.mark("corpus")

    base_dir = os.path.join(wd, "index_base")

    def cycle(ops: List[Op], k: int, src: str, paths: List[str]) -> None:
        """Append ``src``, then delete two of its docs; each operation is
        added to ``ops`` before it runs."""

        def new_op(kind: str) -> Op:
            op_id(ctx, f"{kind}{k}")
            ops.append(Op(kind, 0.0, info={"cycle": k}))
            return ops[-1]

        op = new_op("append")
        t0 = time.perf_counter()
        streaming.add_documents(spark, cfg, base_dir, spark.read.parquet(src),
                                commit=True)
        probe = [paths[0], paths[len(paths) // 2], paths[-1]]
        hits = _paths_hits(spark, base_dir, probe)
        op.latency_s = time.perf_counter() - t0
        op.info["docs"] = len(paths)
        check(hits == [1, 1, 1], f"append {k}: paths {probe} hits {hits}")

        victims = [paths[1], paths[2]]
        op = new_op("delete")
        t0 = time.perf_counter()
        n = maintenance.delete_by_query(spark, base_dir, Q.Boolean(
            should=tuple(Q.Term("path", p) for p in victims)))
        hits = _paths_hits(spark, base_dir, victims)
        op.latency_s = time.perf_counter() - t0
        check(n == 2, f"delete {k}: tombstoned {n} docs, expected 2")
        check(hits == [0, 0], f"delete {k}: deleted paths still found {hits}")

    # untimed warm-up: the first append builds the base index the timed
    # cycles run on, and warms the segment-build and merge code the bulk
    # build shares; its delete warms delete_by_query
    op_id(ctx, "warmup")
    cycle([], -1, base[0], base[1])
    ctx.mark("warm-up")

    with Timed(ctx, res):
        op = Op("bulk_build", 0.0)
        res.ops.append(op)
        op_id(ctx, "bulk_build")
        bulk_dir = os.path.join(wd, "index_bulk")
        try:
            t0 = time.perf_counter()
            stats = build.build_index(spark, spark.read.parquet(bulk_src), cfg,
                                      bulk_dir, num_segments=4)
            n = IndexSearcher(spark, bulk_dir).num_docs
            op.latency_s = time.perf_counter() - t0
            op.info.update(docs=n_bulk, build_wall_s=stats.wall_sec,
                           segment_s=stats.segment_wall_sec,
                           merge_s=stats.merge_wall_sec)
            check(n == n_bulk, f"bulk build: num_docs {n} != {n_bulk} rows")
        except Exception as e:  # noqa: BLE001 - counted, run continues
            res.fail(op, f"bulk build: {type(e).__name__}: {e}")

        t_cycles = time.perf_counter()
        for k, (src, paths, _) in enumerate(batches):
            n_before = len(res.ops)
            try:
                cycle(res.ops, k, src, paths)
            except Exception as e:  # noqa: BLE001 - counted, run continues
                last = res.ops[-1] if len(res.ops) > n_before else None
                res.fail(last, f"cycle {k}: {type(e).__name__}: {e}")
        res.extra["ingest.cycle_phase_s"] = time.perf_counter() - t_cycles

    # untimed: size of the committed bulk index
    if os.path.isdir(bulk_dir):
        res.extra["index_bytes_per_source_byte"] = dir_bytes(bulk_dir) / bulk_bytes
    res.extra["ingest.source_bytes_per_doc"] = bulk_bytes / n_bulk
    return res


# -- query workloads --------------------------------------------------------
def _cache_key(root: str, docs: int) -> str:
    """Hash of the package source, the benchmark modules that build the
    cache (this one and querymix), the golden scorer and the corpus size: a
    cached query index is reused only by the same program on the same
    input."""
    import hashlib
    h = hashlib.sha256(f"docs={docs}".encode())
    here = os.path.dirname(os.path.abspath(__file__))
    for p in (__file__, os.path.join(here, "querymix.py"),
              os.path.join(root, "tests", "golden.py")):
        with open(p, "rb") as f:
            h.update(f.read())
    pkg = os.path.join(root, "tantivy4java_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


QUERY_CORPUS_SEED = 20251017  # the query corpus is fixed; --seed picks queries


def query_index(ctx):
    """The query workloads' index over a fixed corpus, and the candidate
    queries with their golden answers; built once per checkout and program
    version (see NOTES.md, "Set-up cost").  Returns (index dir, candidates)."""
    from tantivy4java_spark import build
    from tantivy4java_spark.schema import code_corpus_config
    from perfbench.querymix import draw_candidates
    docs = ctx.size["query_docs"]
    cache = os.path.join(ctx.cache_dir, f"query-{_cache_key(ctx.root, docs)}")
    if not os.path.isdir(cache):
        tmp = cache + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        corpus = os.path.join(tmp, "corpus.parquet")
        write_corpus(corpus, 0, docs, QUERY_CORPUS_SEED)
        t0 = time.perf_counter()
        build.build_index(ctx.spark, ctx.spark.read.parquet(corpus),
                          code_corpus_config(), os.path.join(tmp, "index"),
                          num_segments=4)
        t1 = time.perf_counter()
        golden, paths = _golden(corpus)
        with open(os.path.join(tmp, "queries.json"), "w") as f:
            json.dump(draw_candidates(golden, paths, QUERY_CORPUS_SEED), f)
        ctx.notes.append(f"query cache made in this run: index {t1 - t0:.1f} s "
                         f"({docs} docs), golden queries "
                         f"{time.perf_counter() - t1:.1f} s")
        try:
            os.rename(tmp, cache)
        except OSError:  # another run finished the same cache first
            shutil.rmtree(tmp)
    with open(os.path.join(cache, "queries.json")) as f:
        return os.path.join(cache, "index"), json.load(f)


def _golden(corpus_path: str):
    from tests.golden import GoldenIndex
    pdf = pq.read_table(corpus_path).to_pandas()
    pdf["doc_id"] = range(len(pdf))
    g = GoldenIndex(pdf, "doc_id", text_fields={"content": "default"},
                    keyword_fields=["repo", "path", "lang", "commit"])
    return g, pdf["path"].tolist()


def run_query(ctx, remote: bool) -> Result:
    """Closed loop, one client: parse -> search (or aggregate) -> collect.

    ``query_local`` opens the index at its POSIX path (driver fast path);
    ``query_remote`` opens it as a ``file://`` URI, which routes every
    query through Spark jobs, and pins the tables with ``preload()``."""
    from tantivy4java_spark import aggs, parser
    from tantivy4java_spark.searcher import IndexSearcher
    from perfbench.querymix import DEFAULT_FIELDS, QueryMix

    spark, size = ctx.spark, ctx.size
    res = Result()
    index, candidates = query_index(ctx)
    ctx.mark("query cache")
    mix = QueryMix(candidates, ctx.seed)
    root = ("file://" + os.path.abspath(index)) if remote else index

    s = IndexSearcher(spark, root)
    if remote:
        t0 = time.perf_counter()
        s.preload()
        res.extra["searcher.preload_s"] = time.perf_counter() - t0
    ctx.mark("open")

    def collect(df):
        if ctx.tracer is None:
            return df.collect()
        with ctx.tracer.span("searcher.collect"):
            return df.collect()

    outputs: Dict[int, list] = {}

    def run_one(spec, op: Op):
        s.last_metrics = {}
        t0 = time.perf_counter()
        q = parser.parse_query(spec.text, DEFAULT_FIELDS)
        if spec.agg:
            out = aggs.aggregate(s, q, {"by_lang": aggs.Terms("lang", size=10)})
            rows = [(r["lang"], int(r["doc_count"]))
                    for r in collect(out["by_lang"])]
        else:
            rows = [(int(r["doc_id"]), float(r["score"]))
                    for r in collect(s.search(q, limit=spec.limit))]
        op.latency_s = time.perf_counter() - t0
        lm = dict(s.last_metrics)
        op.info.update(cls=spec.cls, qid=spec.qid, hits=len(rows),
                       local=lm.get("local_path") == 1,
                       shards_total=lm.get("shards_total"),
                       shards_scored=lm.get("shards_scored"))
        if remote:
            check(not op.info["local"], f"{spec.text!r}: took the local path")
        else:
            check(op.info["local"], f"{spec.text!r}: left the local path "
                                    f"({lm})")
        prev = outputs.setdefault(spec.qid, rows)
        check(prev == rows, f"{spec.text!r}: result changed between runs")

    # warm-up: every distinct query once, untimed
    op_id(ctx, "warmup")
    for spec in mix.distinct:
        run_one(spec, Op("warmup", 0.0))
    ctx.mark("warm-up")

    with Timed(ctx, res) as tm:
        rounds = 0
        min_rounds = 1 if remote else size["min_rounds"]
        while rounds < min_rounds or tm.elapsed() < ctx.seconds:
            for spec in mix.schedule(1):
                op = Op("query", 0.0)
                res.ops.append(op)
                op_id(ctx, f"q{len(res.ops)}")
                try:
                    with ctx.span("bench.query"):
                        run_one(spec, op)
                except Exception as e:  # noqa: BLE001 - counted, run continues
                    res.fail(op, f"{spec.text!r}: {type(e).__name__}: {e}")
            rounds += 1

    # untimed: every distinct query against the golden scorer's answer
    id_to_path = {int(r["doc_id"]): r["path"]
                  for r in s.docs().select("doc_id", "path").collect()}
    for spec in mix.distinct:
        got = outputs.get(spec.qid)
        try:
            check(got is not None, f"{spec.text!r}: never answered")
            _check_golden(spec, got, id_to_path)
        except CheckFailed as e:
            ran = [op for op in res.ops if op.info.get("qid") == spec.qid]
            for op in ran:
                res.fail(op, str(e))
            if not ran:
                res.fail(None, str(e))
    if ctx.tracer is not None:
        res.extra["searcher.candidate_postings_per_hit"] = _postings_per_hit(
            IndexSearcher(spark, index), mix, res.ops)
    return res


def _query_terms(s, q) -> list:
    """(field, term) pairs a query reads postings for; wildcard and fuzzy
    expansions are not counted."""
    from tantivy4java_spark import queries as Q
    if isinstance(q, Q.Term):
        t = s.query_term(q.field, q.value)
        return [(q.field, t)] if t else []
    if isinstance(q, Q.Phrase):
        terms = [s.query_term(q.field, w) for w in q.words]
        return [(q.field, t) for t in terms if t]
    if isinstance(q, Q.Boolean):
        return [p for c in (*q.must, *q.should, *q.must_not)
                for p in _query_terms(s, c)]
    return []


def _postings_per_hit(s, mix, ops) -> Optional[float]:
    """Sum of the query terms' document frequencies over the hits returned,
    across the timed non-aggregation queries ("rows examined per result")."""
    from tantivy4java_spark import parser
    from perfbench.querymix import DEFAULT_FIELDS
    df_sum = {}
    for spec in mix.distinct:
        pairs = _query_terms(s, parser.parse_query(spec.text, DEFAULT_FIELDS))
        df_sum[spec.qid] = sum(s.term_dfs(pairs).values()) if pairs else 0
    timed = [op for op in ops if op.ok and op.info.get("cls") != "agg_terms"]
    hits = sum(op.info["hits"] for op in timed)
    return sum(df_sum[op.info["qid"]] for op in timed) / hits if hits else None


def _check_golden(spec, got, id_to_path) -> None:
    """``got`` against the golden answer stored with the query: terms-agg
    buckets, or hit count and top 10 (doc id mapped to ``path``, score)."""
    if spec.agg:
        buckets = sorted([lang, n] for lang, n in got)
        check(buckets == spec.golden,
              f"{spec.text!r}: terms agg {buckets} != golden {spec.golden}")
        return
    want = spec.golden
    check(len(got) == want["n"],
          f"{spec.text!r}: {len(got)} hits, golden {want['n']}")
    for rank, ((gd, gs), (wp, ws)) in enumerate(zip(got[:10], want["top10"])):
        check(id_to_path.get(gd) == wp,
              f"{spec.text!r}: rank {rank} doc {id_to_path.get(gd)} "
              f"!= golden {wp}")
        check(math.isclose(gs, ws, rel_tol=SCORE_REL_TOL, abs_tol=1e-12),
              f"{spec.text!r}: rank {rank} score {gs!r} != golden {ws!r}")


WORKLOADS = {
    "ingest": run_ingest,
    "query_local": lambda ctx: run_query(ctx, remote=False),
    "query_remote": lambda ctx: run_query(ctx, remote=True),
}

