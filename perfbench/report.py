"""Turns one workload run into the printed metrics.

End-to-end metrics (``--trace 0``) are the same four names on every
workload; what an "operation" is differs per workload (NOTES.md).  The
per-layer metrics (``--trace 1``) are computed from the recorded spans,
the Spark event log and the run's own records.  A per-layer metric whose
function was never reached on a workload is reported as -1 and listed as
unmeasured, never as 0.
"""

from __future__ import annotations

import json
import statistics
from typing import Dict, List, Optional, Tuple

from perfbench.querymix import CLASS_WEIGHTS
from perfbench.tracing import EventLog, Tracer, outermost, self_times
from perfbench.workloads import Op, Result, quantile

UNMEASURED = -1

E2E = {  # name -> unit
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "throughput_per_s": "1/s",
}

# the end-to-end metrics named in the benchmark notes, printed as a table
# on every run (n/a where a workload has no such operation)
NAMED = [
    ("setup_s", "s"), ("build_docs_per_s", "docs/s"),
    ("index_bytes_per_source_byte", "ratio"), ("append_visible_s", "s"),
    ("delete_visible_s", "s"), ("incremental_docs_per_s", "docs/s"),
    ("query_p50_ms", "ms"), ("query_p90_ms", "ms"), ("error_rate", "fraction"),
]

PER_LAYER = {  # name -> unit
    "build.wall_s": "s",
    "build.segment_s": "s",
    "build.merge_s": "s",
    "build.spark_jobs": "count",
    "build.driver_gap_s": "s",
    "build.executor_cpu_s_per_kdoc": "s/kdoc",
    "build.jvm_gc_s": "s",
    "build.shuffle_bytes_per_source_byte": "ratio",
    "build.written_bytes_per_source_byte": "ratio",
    "streaming.add_documents_s": "s",
    "streaming.append_segment_s": "s",
    "streaming.commit_s": "s",
    "streaming.spark_jobs": "count",
    "streaming.driver_gap_s": "s",
    "manifest.calls_per_build": "count",
    "manifest.s_per_build": "s",
    "manifest.calls_per_append": "count",
    "manifest.s_per_append": "s",
    "manifest.calls": "count",
    "manifest.s": "s",
    "fsio.calls_per_build": "count",
    "fsio.s_per_build": "s",
    "fsio.calls_per_append": "count",
    "fsio.s_per_append": "s",
    "fsio.calls": "count",
    "fsio.s": "s",
    "maintenance.delete_by_query_s": "s",
    "searcher.open_ms": "ms",
    "searcher.first_query_ms": "ms",
    "searcher.search_ms": "ms",
    "searcher.collect_ms": "ms",
    "searcher.spark_jobs_per_query": "count",
    "searcher.spark_tasks_per_query": "count",
    "searcher.executor_cpu_ms_per_query": "ms",
    "searcher.shards_scored_frac": "fraction",
    "searcher.local_path_frac": "fraction",
    "searcher.preload_s": "s",
    "searcher.hit_p50_ms": "ms",
    "searcher.zero_hit_p50_ms": "ms",
    **{f"searcher.{c}_p50_ms": "ms" for c in CLASS_WEIGHTS},
    "searcher.candidate_postings_per_hit": "ratio",
    "parser.parse_query_us": "us",
    "aggs.aggregate_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.jvm_gc_s": "s",
    "host.busy_pct": "%",
    "host.steal_pct": "%",
    "host.calib_ms": "ms",
    "host.peak_rss_mb": "MB",
    **{f"e2e.{n}": u for n, u in NAMED if n != "setup_s"},
    **{f"trace.{n}": u for n, u in E2E.items()},
    "trace.spans": "count",
}


def _median(values) -> Optional[float]:
    values = list(values)
    return statistics.median(values) if values else None


def _counts(res: Result) -> Tuple[int, int]:
    attempted = len(res.ops) + res.orphan_failures
    failed = sum(not op.ok for op in res.ops) + res.orphan_failures
    return attempted, failed


def _latencies(res: Result, kind: Optional[str] = None) -> List[float]:
    return [op.latency_s for op in res.ops
            if op.latency_s > 0 and (kind is None or op.kind == kind)]


def _cycle_latencies(res: Result) -> List[float]:
    """Ingest: wall time of each whole cycle (append until visible, then
    delete until gone); a cycle cut short by an error is left out."""
    cycles: Dict[int, List[Op]] = {}
    for op in res.ops:
        if "cycle" in op.info:
            cycles.setdefault(op.info["cycle"], []).append(op)
    return [sum(op.latency_s for op in ops) for ops in cycles.values()
            if len(ops) == 2 and all(op.latency_s > 0 for op in ops)]


def e2e_values(workload: str, res: Result) -> Dict[str, float]:
    ok = [op for op in res.ops if op.ok]
    if workload == "ingest":
        lat = _cycle_latencies(res)
        work = sum(op.info.get("docs", 0) for op in ok)
    else:
        lat = _latencies(res)
        work = len(ok)
    return {
        "setup_s": res.setup_s,
        "op_p50_ms": quantile(lat, 0.5) * 1e3 if lat else 0.0,
        "op_p90_ms": quantile(lat, 0.9) * 1e3 if lat else 0.0,
        "throughput_per_s": work / res.timed_s if res.timed_s > 0 else 0.0,
    }


def named_values(workload: str, res: Result) -> Dict[str, Tuple[Optional[float], str]]:
    """The named end-to-end metrics; value None where not applicable."""
    attempted, failed = _counts(res)
    bulk = [op for op in res.ops if op.kind == "bulk_build" and op.ok]
    app = [op for op in res.ops if op.kind == "append"]
    dele = _latencies(res, "delete")
    q = _latencies(res, "query")
    phase = res.extra.get("ingest.cycle_phase_s")
    out = {
        "setup_s": (res.setup_s, ""),
        "build_docs_per_s": (_median(op.info["docs"] / op.info["build_wall_s"]
                                     for op in bulk), f"n={len(bulk)}"),
        "index_bytes_per_source_byte": (
            res.extra.get("index_bytes_per_source_byte"), ""),
        "append_visible_s": (_median(op.latency_s for op in app if op.latency_s),
                             f"n={len(app)}"),
        "delete_visible_s": (_median(dele), f"n={len(dele)}"),
        "incremental_docs_per_s": (
            sum(op.info.get("docs", 0) for op in app if op.ok) / phase
            if phase else None, ""),
        "query_p50_ms": (quantile(q, 0.5) * 1e3 if q else None, f"n={len(q)}"),
        "query_p90_ms": (quantile(q, 0.9) * 1e3 if q else None, f"n={len(q)}"),
        "error_rate": (failed / attempted if attempted else None,
                       f"{failed}/{attempted}"),
    }
    if workload == "ingest":
        for k in ("query_p50_ms", "query_p90_ms"):
            out[k] = (None, out[k][1])
    return out


def _table(workload: str, res: Result) -> List[str]:
    units = dict(NAMED)
    lines = [f"workload {workload}: setup {res.setup_s:.2f} s, timed "
             f"{res.timed_s:.2f} s, {len(res.ops)} operations"]
    for name, (value, note) in named_values(workload, res).items():
        shown = "n/a" if value is None else f"{value:.6g}"
        lines.append(f"  {name:30s} {shown:>12s} {units[name]:9s} {note}")
    x = res.extra
    lines.append(f"host: busy {x.get('host.busy_pct', -1):.1f} %, steal "
                 f"{x.get('host.steal_pct', -1):.1f} % over the timed phase; "
                 f"calibration {x.get('host.calib_ms', -1):.2f} ms; peak RSS "
                 f"{x.get('host.peak_rss_mb', -1):.0f} MB")
    return lines


def _result(res: Result, metrics: dict, workload: str) -> dict:
    attempted, failed = _counts(res)
    return {"correct": failed == 0 and not res.failures,
            "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics, "table": _table(workload, res),
            "notes": list(res.notes), "failures": list(res.failures)}


def end_to_end(workload: str, res: Result) -> dict:
    vals = e2e_values(workload, res)
    return _result(res, {n: {"value": vals[n], "unit": u}
                         for n, u in E2E.items()}, workload)


# -- per-layer ------------------------------------------------------------
class _Spans:
    def __init__(self, tracer: Tracer):
        self.all = tracer.spans
        self.by_id = {r["id"]: r for r in self.all}
        self.timed = [r for r in self.all if r["phase"] == "timed"]
        self.self_s = self_times(self.all)

    def named(self, names, timed=True) -> List[dict]:
        return outermost(self.timed if timed else self.all, names)

    def ancestors(self, r) -> List[dict]:
        out = []
        p = self.by_id.get(r["parent"])
        while p is not None:
            out.append(p)
            p = self.by_id.get(p["parent"])
        return out

    def within(self, root: dict, prefix: str) -> List[dict]:
        """Outermost spans named ``prefix*`` inside ``root``'s subtree."""
        found = []
        for r in self.all:
            if not r["name"].startswith(prefix):
                continue
            anc = self.ancestors(r)
            if root in anc and not any(a["name"].startswith(prefix)
                                       for a in anc[:anc.index(root)]):
                found.append(r)
        return found


def _dur(r) -> float:
    return r["end"] - r["start"]


def per_layer(workload: str, res: Result, tracer: Tracer,
              events: EventLog) -> dict:
    sp = _Spans(tracer)
    m: Dict[str, Optional[float]] = {}

    def win(spans):
        return events.attribute([(r["start"], r["end"]) for r in spans])

    # build: the timed bulk builds
    builds = sp.named("build.build_index")
    bulk_ops = [op for op in res.ops if op.kind == "bulk_build" and op.ok]
    per_doc = res.extra.get("ingest.source_bytes_per_doc")
    if builds and bulk_ops:
        att = [win([b]) for b in builds]
        docs = statistics.median(op.info["docs"] for op in bulk_ops)
        src = per_doc * docs
        m["build.wall_s"] = _median(_dur(b) for b in builds)
        m["build.segment_s"] = _median(op.info["segment_s"] for op in bulk_ops)
        m["build.merge_s"] = _median(op.info["merge_s"] for op in bulk_ops)
        m["build.spark_jobs"] = _median(a["jobs"] for a in att)
        m["build.driver_gap_s"] = _median(a["driver_gap_s"] for a in att)
        m["build.executor_cpu_s_per_kdoc"] = _median(
            a["cpu_s"] / (docs / 1e3) for a in att)
        m["build.jvm_gc_s"] = _median(a["gc_s"] for a in att)
        m["build.shuffle_bytes_per_source_byte"] = _median(
            a["shuffle_bytes"] / src for a in att)
        m["build.written_bytes_per_source_byte"] = _median(
            a["output_bytes"] / src for a in att)

    # streaming: the timed appends
    adds = sp.named("streaming.add_documents")
    if adds:
        seg = {a["id"]: sum(_dur(r) for r in sp.within(a, "streaming.append_segment"))
               for a in adds}
        att = [win([a]) for a in adds]
        m["streaming.add_documents_s"] = _median(_dur(a) for a in adds)
        m["streaming.append_segment_s"] = _median(seg.values())
        m["streaming.commit_s"] = _median(_dur(a) - seg[a["id"]] for a in adds)
        m["streaming.spark_jobs"] = _median(a["jobs"] for a in att)
        m["streaming.driver_gap_s"] = _median(a["driver_gap_s"] for a in att)

    # manifest / fsio, per build, per append and over the timed phase
    for layer in ("manifest", "fsio"):
        for label, roots in (("build", builds), ("append", adds)):
            if roots:
                inner = [sp.within(r, layer + ".") for r in roots]
                m[f"{layer}.calls_per_{label}"] = _median(len(x) for x in inner)
                m[f"{layer}.s_per_{label}"] = _median(
                    sum(_dur(r) for r in x) for x in inner)
        # timed-phase totals; 0 is a measurement when the layer ran at all
        if any(n.startswith(layer + ".") for n in tracer.calls):
            spans = sp.named([n for n in tracer.calls
                              if n.startswith(layer + ".")])
            m[f"{layer}.calls"] = len(spans)
            m[f"{layer}.s"] = sum(_dur(r) for r in spans)

    # maintenance
    dels = sp.named("maintenance.delete_by_query")
    if dels:
        m["maintenance.delete_by_query_s"] = _median(_dur(r) for r in dels)

    # searcher
    # the query workloads open their searcher during set-up
    opens = sp.named("searcher.open") or sp.named("searcher.open", timed=False)
    if opens:
        m["searcher.open_ms"] = _median(_dur(r) * 1e3 for r in opens)
    firsts = _first_queries(sp)
    if firsts:
        m["searcher.first_query_ms"] = _median(d * 1e3 for d in firsts)
    for name, key in (("searcher.search", "searcher.search_ms"),
                      ("searcher.collect", "searcher.collect_ms"),
                      ("aggs.aggregate", "aggs.aggregate_ms")):
        spans = sp.named(name)
        if spans:
            m[key] = _median(_dur(r) * 1e3 for r in spans)
    parses = sp.named("parser.parse_query")
    if parses:
        m["parser.parse_query_us"] = _median(_dur(r) * 1e6 for r in parses)

    queries = [op for op in res.ops if op.kind == "query"]
    qspans = sp.named("bench.query")
    if queries and qspans:
        att = win(qspans)
        n = len(qspans)
        m["searcher.spark_jobs_per_query"] = att["jobs"] / n
        m["searcher.spark_tasks_per_query"] = att["tasks"] / n
        m["searcher.executor_cpu_ms_per_query"] = att["cpu_s"] * 1e3 / n
    if queries:
        fr = [op.info["shards_scored"] / op.info["shards_total"] for op in queries
              if (op.info.get("shards_total") or 0) > 0
              and (op.info.get("shards_scored") or -1) >= 0]
        m["searcher.shards_scored_frac"] = _median(fr)
        m["searcher.local_path_frac"] = (
            sum(op.info["local"] for op in queries if "local" in op.info)
            / len(queries))
        ms = [(op, op.latency_s * 1e3) for op in queries if op.latency_s > 0]
        m["searcher.hit_p50_ms"] = _median(t for op, t in ms if op.info["hits"])
        m["searcher.zero_hit_p50_ms"] = _median(
            t for op, t in ms if not op.info["hits"])
        for c in CLASS_WEIGHTS:
            m[f"searcher.{c}_p50_ms"] = _median(
                t for op, t in ms if op.info["cls"] == c)
    m["searcher.preload_s"] = res.extra.get("searcher.preload_s")
    m["searcher.candidate_postings_per_hit"] = res.extra.get(
        "searcher.candidate_postings_per_hit")

    # engine and host over the whole timed phase
    t0 = res.extra["timed_start"]
    att = events.attribute([(t0, t0 + res.timed_s)])
    m["spark.jobs"] = att["jobs"]
    m["spark.tasks"] = att["tasks"]
    m["spark.failed_tasks"] = att["failed_tasks"]
    for k in ("spark.jvm_gc_s", "host.busy_pct", "host.steal_pct",
              "host.calib_ms", "host.peak_rss_mb"):
        m[k] = res.extra.get(k)

    for name, (value, _) in named_values(workload, res).items():
        if name != "setup_s":
            m[f"e2e.{name}"] = value
    for name, value in e2e_values(workload, res).items():
        m[f"trace.{name}"] = value
    m["trace.spans"] = len(tracer.spans)

    metrics, unmeasured = {}, []
    for name, unit in PER_LAYER.items():
        value = m.get(name)
        if value is None:
            unmeasured.append(name)
            value = UNMEASURED
        metrics[name] = {"value": value, "unit": unit}
    out = _result(res, metrics, workload)
    out["notes"].append(f"unmeasured on {workload} (reported as -1, the "
                        f"function or operation is not reached): "
                        + (", ".join(unmeasured) or "none"))
    out["self_time_s"] = _layer_self_times(sp)
    return out


def overhead(metrics: dict, untraced_path: str) -> str:
    """Tracing overhead: the traced run's end-to-end values against the
    latest untraced run of the same workload, seed and size."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)
    except FileNotFoundError:
        return ("tracing overhead: no untraced run of this workload, seed "
                "and size to compare with; run it with --trace 0 first")
    parts = []
    for name in E2E:
        t, u = metrics[f"trace.{name}"]["value"], base[name]["value"]
        parts.append(f"{name} {t:.4g} vs {u:.4g} ({(t - u) / u:+.1%})")
    return "tracing overhead (traced vs untraced): " + ", ".join(parts)


def _first_queries(sp: _Spans) -> List[float]:
    """Duration of the first search on each searcher the benchmark opens
    itself (searchers opened inside maintenance calls are skipped)."""
    opens = sorted((r for r in sp.all if r["name"] == "searcher.open"
                    and not sp.ancestors(r)), key=lambda r: r["start"])
    searches = sorted((r for r in sp.all if r["name"] == "searcher.search"
                       and not any(a["name"].startswith("maintenance.")
                                   for a in sp.ancestors(r))),
                      key=lambda r: r["start"])
    out = []
    for i, o in enumerate(opens):
        nxt = opens[i + 1]["start"] if i + 1 < len(opens) else float("inf")
        first = next((s for s in searches if o["end"] <= s["start"] < nxt), None)
        if first is not None:
            out.append(_dur(first))
    return out


def _layer_self_times(sp: _Spans) -> Dict[str, float]:
    """Timed-phase self time per module (first part of the span name)."""
    out: Dict[str, float] = {}
    for r in sp.timed:
        layer = r["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + sp.self_s[r["id"]]
    return out
