"""Index build: segments -> hierarchical merge -> a commit that lists them.

Mirrors the reference's build lifecycle (SURVEY.md §3.3) Spark-first:

  reference                                  here
  ---------------------------------------   ----------------------------------
  IndexWriter N threads -> N segments        N doc-range segments written by
  (native/src/index.rs:177)                  one shared pass, one job per table
  writer.commit() -> opstamp                 manifest "add" line per segment
  commit -> meta.json (native/src/index.rs)  stats.json lists the committed
                                             segment dirs; corpus stats folded
                                             from the add actions, on the
                                             driver (no Spark job)
  IndexWriter.merge (core/IndexWriter.java)  the segment writer again, fed the
                                             segment dirs (decoded postings):
                                             hierarchical merge levels and
                                             apply_deletes' compaction
  txlog Add actions w/ stats                 _manifest/<n>.json versioned
  (native/src/txlog/actions.rs:182-241)      actions enabling zero-recompute
                                             resume and lock-free appends

Physical layout under ``index_dir`` (every table lives in the segment dirs;
there is no root table):
  segments/seg=NNNNN/postings/   field, term, shard, block_id, first_doc,
               last_doc, count, docs_bin, tfs_bin, norms_bin, max_tf,
               min_norm_id; segment doc ranges are disjoint and files are
               clustered by (field, term, shard, doc_id), so the union is
               the merged doc-ordered stream.  max_tf and min_norm_id give
               each block's BM25 bound for a query's own weights
               (scoring.block_max_score).
  segments/<seg>/positions/   field, term, doc_id, norm_id, pos_bin
               (delta-varint positions)
  segments/<seg>/termstats/   field, term, df, total_tf of the segment,
               sorted by (field, term) in each file; the searcher sums df
               over the segments
  segments/<seg>/docs/   doc_id, <id_cols>, content_sha256, len_<f>,
               norm_<f>, fast columns; sorted by doc_id in each file
  (a hierarchical merge level writes segments/merged_L<level>_<g>/)
  stats.json   format_version 2, segment_dirs (the committed segment dirs),
               num_docs, per-field num_docs / total_tokens / avgdl
  deletes/     tombstoned doc_ids, until apply_deletes compacts them away
  _manifest/<n>.json   one versioned action file per commit (txlog shape;
               legacy single manifest.jsonl indexes stay readable)

Scale notes (the design target is ~10^12 files on a multi-executor cluster):
- posting shards are doc_id ranges (``doc_id >> shard_bits``): skewed terms
  ("import", "return") split across shards, every groupBy key is bounded by
  the shard width -> no hot reducer; shards are doc-ordered so merged posting
  lists are concatenations, never re-sorts.
- segments are doc-range slices committed independently -> an interrupted
  build resumes from the manifest without recomputing finished segments.
- a commit reads and writes only metadata, so its cost does not grow with
  the index; the price is that df lookups read one termstats dir per
  segment until a merge folds segments together.
- the only shuffles are a segment-writer pass's (a batch build, a merge
  level, a compaction): the postings and positions repartitions by
  (_seg, field, term[, shard]) and the termstats groupBy, each shared by
  every segment of the pass; all scale horizontally with executors.
- tokenization defaults to the pure-Catalyst expression (whole-stage codegen,
  zero Python); the pandas-UDF path is kept for golden parity tests.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tantivy4java_spark import codec
from tantivy4java_spark import fsio
from tantivy4java_spark.analysis import sql_tokenize_expr, tokenize_udf
from tantivy4java_spark.fieldnorm import fieldnorm_to_id
from tantivy4java_spark.schema import FieldConfig, IndexConfig

# the encode's block rows: the postings table plus its ``_seg`` partition
_BLOCKS_SCHEMA = T.StructType([
    T.StructField("_seg", T.LongType()),
    T.StructField("field", T.StringType()),
    T.StructField("term", T.StringType()),
    T.StructField("shard", T.LongType()),
    T.StructField("block_id", T.LongType()),
    T.StructField("first_doc", T.LongType()),
    T.StructField("last_doc", T.LongType()),
    T.StructField("count", T.LongType()),
    T.StructField("docs_bin", T.BinaryType()),
    T.StructField("tfs_bin", T.BinaryType()),
    T.StructField("norms_bin", T.BinaryType()),
    T.StructField("max_tf", T.LongType()),
    T.StructField("min_norm_id", T.LongType()),
])


def assign_doc_ids(df: DataFrame, order_cols: Optional[List[str]] = None,
                   doc_id_col: Optional[str] = None) -> DataFrame:
    """Deterministic doc_id assignment.

    - ``doc_id_col``: pass through an existing unique integer column.
    - ``order_cols``: global sort + row_number (exact, used at test scale and
      for golden rank-identity; one shuffle).
    - neither: scalable two-pass zipWithIndex — per-partition counts collected
      (tiny), then offset + local ordinal as one JVM projection.  Deterministic
      for a fixed input file layout (doc_id = file-order position), which is
      the 10^12-scale mode.
    """
    if doc_id_col:
        return df.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    if order_cols:
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn("doc_id", F.row_number().over(w).cast("long") - 1)
    return _zip_index_ids(df)[0]


def partition_row_ids():
    """(partition index, row number within the partition) as JVM
    expressions.  Both number the rows of the partition being computed, not
    of the task computing it: a cached frame first built inside a coalesced
    or union task (the segment writer's tokenize cache) still gets its own
    partition's numbers, where Python's TaskContext.partitionId() would give
    the task's index and hand two partitions the same ids."""
    pid = F.spark_partition_id().cast("long")
    return pid, F.monotonically_increasing_id() - F.shiftleft(pid, 33)


def _zip_index_ids(df: DataFrame):
    """zipWithIndex doc_ids; returns (df_with_ids, total_rows).  The total
    falls out of the per-partition counts — callers that need it (segment
    width derivation) skip a second full pass over the input."""
    part_counts = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid").count().collect()
    )
    counts = {r["_pid"]: r["count"] for r in part_counts}
    offsets = []
    acc = 0
    for pid in range(df.rdd.getNumPartitions()):
        offsets.append(F.lit(acc).cast("long"))
        acc += counts.get(pid, 0)
    pid, row = partition_row_ids()
    return df.withColumn(
        "doc_id", F.element_at(F.array(*offsets), (pid + 1).cast("int")) + row
    ), acc


def _norm_id_expr(len_col):
    """Pure-JVM fieldnorm quantization: the 256-entry table is strictly
    increasing, so id == count(entries <= len) - 1 (len >= 0 always holds
    for token counts).  Bit-identical to fieldnorm_to_id (pinned by
    tests); removes the ArrowEvalPython stage from the docs frame of every
    build (guide SS4.1: built-ins over UDFs)."""
    from tantivy4java_spark.fieldnorm import FIELDNORM_TABLE
    arr = F.lit([int(v) for v in FIELDNORM_TABLE])
    ln = F.coalesce(len_col, F.lit(0))
    return (F.size(F.filter(arr, lambda v: v <= ln)) - F.lit(1)).cast("int")


_PDT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("field", T.StringType()),
    T.StructField("term", T.StringType()),
    T.StructField("tf", T.LongType()),
    T.StructField("norm_id", T.LongType()),
    T.StructField("pos_bin", T.BinaryType()),
])

_TOK_REGEX = {"default": r"[^\W_]+", "simple": r"[^\W_]+", "whitespace": r"\S+"}

JSON_PATH_SEP = "\x00"  # term key = "<dot.path>\x00<token>" (Q11 analog)


def _json_agg_fn(field: str, tokenizer: str, limit: int):
    """mapInPandas for JSON fields: schema-less dot-path flattening
    (reference: core/JsonObjectOptions.java, README.md:111-179).

    Each (path, value) pair becomes terms "<path>\\x00<token>": strings run
    through the field tokenizer, numbers/bools become exact tokens.  Token
    POSITIONS are tracked per dot-path (JsonFieldQueryTest.java: phrase
    queries inside json fields): tokens of one string value are consecutive;
    separate values under the same path (array elements, repeated keys)
    advance by 2 — the same gap the multi-value text convention uses, so a
    phrase can never match across a value boundary at slop 0.  JSON
    parsing is per-row (stdlib C json) — documented as the one per-row step;
    everything downstream is vectorized.
    """
    import json as _json
    import re as _re
    rex = _re.compile(_TOK_REGEX.get(tokenizer, _TOK_REGEX["default"]))

    def flatten(prefix, obj, out):
        """Append (path, [tokens-of-one-value]) groups in document order."""
        if isinstance(obj, dict):
            for k, v in obj.items():
                flatten(f"{prefix}.{k}" if prefix else str(k), v, out)
        elif isinstance(obj, (list, tuple)):
            for v in obj:
                flatten(prefix, v, out)
        elif isinstance(obj, bool):
            out.append((prefix, ["true" if obj else "false"]))
        elif isinstance(obj, (int, float)):
            out.append((prefix, [_json_num_token(obj)]))
        elif obj is None:
            pass
        else:
            toks = [t.lower() for t in rex.findall(str(obj))
                    if len(t.lower().encode("utf-8")) <= limit]
            if toks:
                out.append((prefix, toks))

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "field": [], "term": [], "tf": [],
                    "norm_id": [], "pos_bin": []}
            for did, raw in zip(pdf["doc_id"].to_numpy(dtype=np.int64),
                                pdf[field]):
                if raw is None:
                    continue
                try:
                    obj = raw if isinstance(raw, dict) else _json.loads(raw)
                except (ValueError, TypeError):
                    continue
                groups: list = []
                flatten("", obj, groups)
                if not groups:
                    continue
                pos_map: dict = {}   # term -> [positions]
                counters: dict = {}  # path -> next position
                ntok = 0
                for p, toks in groups:
                    start = counters.get(p, 0)
                    for j, t in enumerate(toks):
                        pos_map.setdefault(
                            f"{p}{JSON_PATH_SEP}{t}", []).append(start + j)
                    counters[p] = start + len(toks) + 1  # +2 value gap
                    ntok += len(toks)
                norm = int(fieldnorm_to_id([ntok])[0])
                for term, plist in pos_map.items():
                    rows["doc_id"].append(int(did))
                    rows["field"].append(field)
                    rows["term"].append(term)
                    rows["tf"].append(len(plist))
                    rows["norm_id"].append(norm)
                    rows["pos_bin"].append(codec.encode_positions(
                        np.asarray(plist, dtype=np.int64)))
            yield pd.DataFrame(rows).astype(
                {"doc_id": "int64", "tf": "int64", "norm_id": "int64"})

    return run


def json_query_token(value) -> str:
    """Typed query value -> the token the JSON indexer produced."""
    toks = json_query_tokens(value)
    return toks[0] if toks else ""


def json_query_tokens(value) -> list:
    """Typed query value -> ALL tokens the JSON indexer produced for it.
    A multi-token string value ('user_0' -> ['user', '0']) must match as an
    intersection under the path, mirroring the reference parser's full-text
    lowering of json term values."""
    if isinstance(value, bool):
        return ["true" if value else "false"]
    if isinstance(value, (int, float)):
        return [_json_num_token(value)]
    from tantivy4java_spark.analysis import tokenize_text
    return [t for t, _ in tokenize_text(str(value), "default")]


def _json_num_token(v) -> str:
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def _tokenize_agg_fn(field: str, tokenizer: str, limit: int):
    """mapInArrow: (doc_id, <field>) -> per-(doc, term) rows with tf,
    fieldnorm id, and delta-varint positions — all inside ONE narrow pass.

    Replaces explode -> shuffle -> groupBy(doc,term) -> collect_list: token
    aggregation is per-document, so it never needs a shuffle.  C-level regex
    via pandas .str, numpy factorize/sort for grouping; output batches are
    assembled as Arrow arrays directly — the pos_bin column reuses the one
    varint buffer zero-copy via group offsets (groups are contiguous in the
    sorted slot order), so no per-group Python byte slicing and no pandas
    frame on the way out.  Token semantics match analysis.py bit-for-bit
    (positions assigned pre-drop, >limit-byte tokens dropped)."""
    lowercase = True
    if tokenizer in _TOK_REGEX:
        rex = _TOK_REGEX[tokenizer]
    else:
        from tantivy4java_spark.analysis import custom_tokenizer
        cfg_c = custom_tokenizer(tokenizer)
        if cfg_c is None:
            raise ValueError(f"unknown tokenizer: {tokenizer}")
        rex, lowercase = cfg_c["match"], cfg_c["lowercase"]

    # Arrow-native tokenize fast path: valid for the default/simple
    # tokenizer on PURE-ASCII batches, where Python's [^\W_]+ and RE2's
    # [^0-9A-Za-z]+ splitter agree character-for-character (checked per
    # batch via chars == bytes, one C++ metadata pass).  Tokens then never
    # materialize as Python strings: RE2 split + dictionary_encode give
    # int32 codes + a small uniques dictionary directly.
    arrow_ok = tokenizer in ("default", "simple")

    def run(it):
        import pyarrow as pa
        import pyarrow.compute as pc
        for rb in it:
            if rb.num_rows == 0:
                continue
            n_rows = rb.num_rows
            names = rb.schema.names
            col = rb.column(names.index(field))
            doc_ids = rb.column(names.index("doc_id")) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            is_ascii = False
            if arrow_ok:
                nb = pc.sum(pc.binary_length(col)).as_py() or 0
                nc = pc.sum(pc.utf8_length(col)).as_py() or 0
                is_ascii = nb == nc
            if is_ascii:
                tl = pc.split_pattern_regex(
                    pc.fill_null(col, ""), "[^0-9A-Za-z]+")
                tl = tl.combine_chunks() if isinstance(tl, pa.ChunkedArray) else tl
                sizes = np.diff(tl.offsets.to_numpy(zero_copy_only=False))
                vals = tl.values
                # split keeps "" at value boundaries; findall drops them
                mask = pc.not_equal(vals, "")
                mask_np = mask.to_numpy(zero_copy_only=False)
                doc_rep = np.repeat(np.arange(n_rows), sizes)[mask_np]
                counts = np.bincount(doc_rep, minlength=n_rows)
                total = int(doc_rep.size)
                if total == 0:
                    continue
                offsets = np.zeros(n_rows, dtype=np.int64)
                np.cumsum(counts[:-1], out=offsets[1:])
                pos = np.arange(total, dtype=np.int64) - offsets[doc_rep]
                d = pc.dictionary_encode(pc.filter(vals, mask))
                codes = d.indices.to_numpy(zero_copy_only=False) \
                    .astype(np.int64)
                uniques = d.dictionary.to_numpy(zero_copy_only=False)
            else:
                texts = col.to_pandas().fillna("").astype(str)
                token_lists = texts.str.findall(rex)
                counts = token_lists.str.len().to_numpy(dtype=np.int64)
                total = int(counts.sum())
                if total == 0:
                    continue
                flat = np.concatenate(
                    [np.asarray(x, dtype=object) for x in token_lists])
                doc_rep = np.repeat(np.arange(n_rows), counts)
                offsets = np.zeros(n_rows, dtype=np.int64)
                np.cumsum(counts[:-1], out=offsets[1:])
                pos = np.arange(total, dtype=np.int64) - offsets[doc_rep]
                # factorize FIRST: lowercase + the byte-length filter then
                # touch only DISTINCT tokens (was: two full .str passes over
                # every token instance — the hottest part of the kernel)
                codes, uniques = pd.factorize(flat)
            uniq = pd.Series(uniques)
            if lowercase:
                # merge case variants: first-appearance code order is
                # preserved by composition, so codes match the old
                # factorize-after-lower numbering exactly
                lcodes, luniq = pd.factorize(uniq.str.lower().to_numpy())
                codes = lcodes[codes]
                uniq = pd.Series(luniq)
            uniques = uniq.to_numpy()
            # drop tokens > limit BYTES (positions keep their gaps)
            char_len = uniq.str.len().to_numpy()
            keep_u = char_len * 4 <= limit  # utf8 len <= 4*chars -> kept
            maybe = ~keep_u & (char_len <= limit)  # needs exact byte check
            if maybe.any():
                enc = uniq[maybe].str.encode("utf-8").str.len().to_numpy()
                keep_u[np.nonzero(maybe)[0][enc <= limit]] = True
            if not keep_u.all():
                keep = keep_u[codes]
                codes, doc_rep, pos = codes[keep], doc_rep[keep], pos[keep]
                kept_counts = np.bincount(doc_rep, minlength=n_rows)
            else:
                kept_counts = counts
            norms = fieldnorm_to_id(kept_counts)
            # positions ascend within every (doc, code) group already, so a
            # STABLE single-key sort equals the old lexsort((pos, codes,
            # doc_rep)) at ~half the cost
            order = np.argsort(doc_rep * np.int64(len(uniques)) + codes,
                               kind="stable")
            sd, sc, sp = doc_rep[order], codes[order], pos[order]
            change = np.ones(sd.size, dtype=bool)
            change[1:] = (sd[1:] != sd[:-1]) | (sc[1:] != sc[:-1])
            gstart = np.nonzero(change)[0]
            gend = np.append(gstart[1:], sd.size)
            tf = (gend - gstart).astype(np.int64)
            # delta-varint positions with resets at group starts
            gaps = np.empty(sd.size, dtype=np.uint64)
            gaps[1:] = (sp[1:] - sp[:-1]).astype(np.uint64)
            gaps[gstart] = sp[gstart].astype(np.uint64)
            pbuf, plens = codec.varint_encode_with_lengths(gaps)
            poffs = np.zeros(sd.size + 1, dtype=np.int64)
            np.cumsum(plens, out=poffs[1:])
            # groups are contiguous in slot order, so the per-group byte
            # ranges tile pbuf: one offsets gather makes the binary column
            # ZERO-COPY over the single varint buffer
            out_n = gstart.size
            bin_offs = poffs[np.append(gstart, sd.size)].astype(np.int32)
            pos_bin = pa.Array.from_buffers(
                pa.binary(), out_n,
                [None, pa.py_buffer(bin_offs.tobytes()),
                 pa.py_buffer(pbuf)])
            term_arr = pa.DictionaryArray.from_arrays(
                pa.array(sc[gstart].astype(np.int32)),
                pa.array(uniques)).cast(pa.string())
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids[sd[gstart]], type=pa.int64()),
                 pa.array([field] * out_n, type=pa.string()),
                 term_arr,
                 pa.array(tf, type=pa.int64()),
                 pa.array(norms[sd[gstart]].astype(np.int64),
                          type=pa.int64()),
                 pos_bin],
                names=["doc_id", "field", "term", "tf", "norm_id",
                       "pos_bin"])

    return run


def _group_change(pdf: pd.DataFrame) -> np.ndarray:
    """First-row-of-(_seg,field,term,shard)-group marker over a sorted
    frame (segment doc ranges are disjoint, so within one segment the key
    is equivalent to (field,term,shard))."""
    change = np.zeros(len(pdf), dtype=bool)
    change[:1] = True
    for c in ("_seg", "field", "term", "shard"):
        v = pdf[c].to_numpy()
        change[1:] |= v[1:] != v[:-1]
    return change


def _blocks_frame(pdf: pd.DataFrame, blocks: dict) -> pd.DataFrame:
    ri = blocks["row_index"]
    return pd.DataFrame({
        "_seg": pdf["_seg"].to_numpy()[ri].astype(np.int64),
        "field": pdf["field"].to_numpy()[ri],
        "term": pdf["term"].to_numpy()[ri],
        "shard": pdf["shard"].to_numpy()[ri].astype(np.int64),
        "block_id": blocks["block_id"],
        "first_doc": blocks["first_doc"],
        "last_doc": blocks["last_doc"],
        "count": blocks["count"].astype(np.int64),
        "docs_bin": blocks["docs_bin"],
        "tfs_bin": blocks["tfs_bin"],
        "norms_bin": blocks["norms_bin"],
        "max_tf": blocks["max_tf"],
        "min_norm_id": blocks["min_norm_id"],
    })


def _encode_blocks_fn(block_size: int):
    """mapInPandas: (_seg,field,term,shard,doc_id,tf,norm_id) -> block rows.

    Input partitions sorted by (_seg,field,term,shard,doc_id); fully
    vectorized — the only per-block Python is byte-buffer slicing (codec
    segmented path).
    """

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            blocks = codec.encode_blocks_segmented(
                _group_change(pdf), pdf["doc_id"].to_numpy(dtype=np.int64),
                pdf["tf"].to_numpy(dtype=np.int64),
                pdf["norm_id"].to_numpy(dtype=np.int64), block_size)
            yield _blocks_frame(pdf, blocks)

    return encode


def active_adds(actions: List[dict]) -> Dict[int, dict]:
    """The effective (non-rolled-back) segment adds: segment id -> its
    latest ``add`` action, in manifest order.

    A ``rollback`` action removes the segments it names from the active set
    (IndexWriter.rollback analog — uncommitted adds are discarded); a later
    ``add`` of the same id re-activates it (resume-after-rollback).  A
    ``compact`` action clears the whole set (apply_deletes folded every
    prior segment into the compacted segment added right after it)."""
    act: Dict[int, dict] = {}
    for a in actions:
        if a.get("action") == "add":
            act[a["segment"]] = a
        elif a.get("action") == "rollback":
            for s in a.get("segments", []):
                act.pop(s, None)
        elif a.get("action") == "compact":
            act.clear()
    return act


def active_segments(actions: List[dict]) -> List[int]:
    """Effective segment ids, in manifest order (see active_adds)."""
    return list(active_adds(actions))


# stats.json layout: version 2 lists the committed segment dirs, and every
# table is read from them.  Older indexes have root tables (the term
# dictionary, the docs and the block bounds, or the postings) that nothing
# reads now.
STATS_FORMAT_VERSION = 2

# the tombstone dir at the index root.  Its name must not start with "_" or
# ".": Spark treats such input paths as hidden and warns on every read.
DELETES_DIR = "deletes"


def read_stats(spark: SparkSession, index_dir: str) -> dict:
    """The committed stats.json of ``index_dir``.  Raises ValueError when it
    was written in an older layout: the searcher would read it wrongly, and
    a commit on top of it would leave its root tables stale."""
    stats = json.loads(fsio.read_text(spark, fsio.join(index_dir,
                                                       "stats.json")))
    version = stats.get("format_version", 1)
    if version != STATS_FORMAT_VERSION:
        raise ValueError(
            f"{index_dir}: stats.json has format_version {version}, not "
            f"{STATS_FORMAT_VERSION}; this index was written in an older "
            f"layout with root tables, which is no longer read or "
            f"committed to — rebuild the index")
    return stats


class _PhaseClock:
    """Chained phase timer: each phase runs from the end of the one before,
    so the phases of one run sum to its wall time by construction."""

    def __init__(self):
        self.start = self.t = time.time()
        self.phases: Dict[str, float] = {}

    def lap(self, name: str) -> None:
        now = time.time()
        self.phases[name] = self.phases.get(name, 0.0) + now - self.t
        self.t = now

    def extend(self, phases: Dict[str, float]) -> None:
        """Chain on the phases of a nested clock."""
        for name, sec in phases.items():
            self.phases[name] = self.phases.get(name, 0.0) + sec
            self.t += sec


@dataclass
class BuildStats:
    num_docs: int
    segments: int
    wall_sec: float
    docs_per_sec: float
    # phase accounting (scaling evidence: the segment phase is the
    # embarrassingly-parallel part; commit/merge is the short serial tail)
    segment_wall_sec: float = 0.0
    merge_wall_sec: float = 0.0
    # chained phase -> seconds (manifest, ids, seg-width, stats+cache,
    # write, rename, merge); the values sum to wall_sec
    phases: Dict[str, float] = dataclasses.field(default_factory=dict)


class IndexBuilder:
    def __init__(self, spark: SparkSession, config: IndexConfig, index_dir: str,
                 use_sql_tokenizer: bool = True, num_segments: int = 1,
                 shuffle_partitions: Optional[int] = None):
        self.spark = spark
        self.config = config
        self.index_dir = index_dir.rstrip("/")
        self.use_sql_tokenizer = use_sql_tokenizer
        self.num_segments = num_segments
        self.shuffle_partitions = shuffle_partitions

    # -- paths ------------------------------------------------------------
    # All metadata I/O goes through fsio so the index root can be any
    # Hadoop-supported URI (file://, s3a://, abfs://, gs://), matching the
    # reference's mixed-URL split handling (merge_impl.rs:70-294).
    def _p(self, *parts) -> str:
        return fsio.join(self.index_dir, *parts)

    @property
    def manifest_dir(self) -> str:
        return self._p("_manifest")

    def _manifest_actions(self) -> List[dict]:
        from tantivy4java_spark import manifest
        return manifest.read_actions(self.spark, self.index_dir)

    def _append_manifest(self, action: dict) -> None:
        # one versioned _manifest/<n>.json per action (txlog shape,
        # native/src/txlog/actions.rs:25-37) — multi-writer safe
        from tantivy4java_spark import manifest
        manifest.append_action(self.spark, self.index_dir, action)

    def _write_initial_manifest(self, mode: Optional[str] = None) -> None:
        """First two manifest lines: protocol + field metadata.  Streaming
        and batch builds both need the metadata action — the searcher reads
        field types / shard_bits / block_size from it."""
        proto = {"action": "protocol", "version": 1,
                 "engine": "tantivy4java_spark"}
        if mode:
            proto["mode"] = mode
        self._append_manifest(proto)
        self._append_manifest({
            "action": "metadata",
            "fields": [{"name": f.name, "type": f.type, "tokenizer": f.tokenizer,
                        "index_option": f.index_option} for f in self.config.fields],
            "shard_bits": self.config.shard_bits,
            "block_size": self.config.block_size,
        })

    # -- tokenization -----------------------------------------------------
    @staticmethod
    def _is_array(df: DataFrame, name: str) -> bool:
        return isinstance(df.schema[name].dataType, T.ArrayType)

    def _text_col(self, fc: FieldConfig, df: DataFrame):
        """Text source column as ONE string, multi-value aware.

        ARRAY columns (multi-valued fields — reference arrays handled at
        parquet_companion/indexing.rs:1178,1544 and BATCH_PROTOCOL.md:58-66)
        join elements with an over-token-limit separator word: the separator
        is position-assigned by the tokenizer and then dropped by the length
        filter, so element boundaries advance positions by 2 (the tantivy
        multi-value position-gap) with ZERO per-element Python.  Documented
        deviation from the reference's array->JSON flattening: slop-0
        phrases never match across element boundaries here."""
        if self._is_array(df, fc.name):
            sep = "z" * (fc.token_limit + 1)
            return F.concat_ws(f" {sep} ", F.col(fc.name))
        return F.col(fc.name).cast("string")

    def _tokens_expr(self, fc: FieldConfig, df: DataFrame):
        col = self._text_col(fc, df)
        if self.use_sql_tokenizer:
            return sql_tokenize_expr(col, fc.tokenizer, fc.token_limit)
        return tokenize_udf(fc.tokenizer, fc.token_limit)(col)

    def _token_len_expr(self, fc: FieldConfig, df: DataFrame):
        """Kept-token COUNT for the docs-table length column: for the
        built-in lowercasing tokenizers this skips the per-token
        struct/position machinery of sql_tokenize_expr and just counts
        non-empty tokens whose lowercased utf8 length fits the limit —
        identical to size(sql_tokenize_expr(...)) (positions do not affect
        the count; the limit filter matches octet_length(lower(t)))."""
        if self.use_sql_tokenizer and fc.tokenizer in ("default", "simple",
                                                       "whitespace"):
            pat = r"[^\p{L}\p{Nd}]+" if fc.tokenizer != "whitespace"                 else r"\s+"
            col = self._text_col(fc, df).cast("string")
            lim = F.lit(fc.token_limit)
            n = F.size(F.filter(
                F.split(col, pat),
                lambda t: (t != F.lit(""))
                & (F.octet_length(F.lower(t)) <= lim)))
            return F.coalesce(n, F.lit(0))
        return F.size(self._tokens_expr(fc, df))

    # -- segment build ----------------------------------------------------
    def _docs_frame(self, seg_df: DataFrame) -> DataFrame:
        """docs-table projection: ids + sha256 + per-field token
        lengths/norms (lengths via the JVM tokenizer expr — bit-identical
        to the pandas path, asserted in tests).  Narrow, not persisted."""
        cfg = self.config
        sel = [F.col("doc_id")] + [F.col(c) for c in cfg.id_cols if c != "doc_id"]
        if cfg.content_col:
            sel.append(F.sha2(F.col(cfg.content_col).cast("string"), 256).alias("content_sha256"))
        for fc in cfg.text_fields:
            if fc.type == "string" and self._is_array(seg_df, fc.name):
                # multi-valued keyword: length 1 when present (keyword
                # scoring model stays avgdl=1 / norm=1)
                sel.append(F.when(F.size(F.col(fc.name)) > 0, 1)
                           .otherwise(0).alias(f"len_{fc.name}"))
            else:
                sel.append(self._token_len_expr(fc, seg_df)
                           .alias(f"len_{fc.name}"))
        included = {"doc_id"} | {c for c in cfg.id_cols} | \
            ({"content_sha256"} if cfg.content_col else set())
        for fc in cfg.fields:
            if fc.type == "ip":  # numeric fast column for CIDR/range rewrites
                from tantivy4java_spark.iptypes import ip_num_col
                sel.append(ip_num_col(F.col(fc.name).cast("string"))
                           .alias(f"_ipnum_{fc.name}"))
            elif (not fc.tokenized and fc.type not in ("string", "json")
                    and fc.name not in included):
                sel.append(F.col(fc.name))
        docs = seg_df.select(*sel)
        for fc in cfg.text_fields:
            docs = docs.withColumn(f"norm_{fc.name}",
                                   _norm_id_expr(F.col(f"len_{fc.name}")))
        return docs

    def _pdt_frame(self, seg_df: DataFrame) -> DataFrame:
        """Posting source rows (doc_id, field, term, tf, norm_id, pos_bin,
        shard): tokenized fields aggregate per-doc inside ONE narrow
        mapInPandas pass (no explode shuffle); raw/string fields are a plain
        select.  Narrow, not persisted."""
        cfg = self.config
        token_frames = []
        for fc in cfg.fields:
            if fc.type == "text":
                fn = _tokenize_agg_fn(fc.name, fc.tokenizer, fc.token_limit)
                token_frames.append(
                    seg_df.select("doc_id",
                                  self._text_col(fc, seg_df).alias(fc.name))
                    .mapInArrow(fn, _PDT_SCHEMA))
            elif fc.type == "string" and self._is_array(seg_df, fc.name):
                # multi-valued keyword: one term per element, tf = element
                # multiplicity (explode -> groupBy keyed (doc, term))
                token_frames.append(
                    seg_df.select("doc_id", F.explode(fc.name).alias("_v"))
                    .filter(F.col("_v").isNotNull() & (F.col("_v") != F.lit("")))
                    .groupBy("doc_id", "_v")
                    .agg(F.count(F.lit(1)).cast("long").alias("tf"))
                    .select("doc_id", F.lit(fc.name).alias("field"),
                            F.col("_v").alias("term"), "tf",
                            F.lit(1).cast("long").alias("norm_id"),
                            F.lit(None).cast("binary").alias("pos_bin")))
            elif fc.type == "string":  # raw/keyword: whole value, tf=1, len=1
                val = F.col(fc.name).cast("string")
                token_frames.append(
                    seg_df.filter(val.isNotNull() & (val != F.lit("")))
                    .select("doc_id", F.lit(fc.name).alias("field"),
                            val.alias("term"), F.lit(1).cast("long").alias("tf"),
                            F.lit(1).cast("long").alias("norm_id"),
                            F.lit(None).cast("binary").alias("pos_bin")))
            elif fc.type == "json":  # dot-path flattened terms (Q11)
                fn = _json_agg_fn(fc.name, fc.tokenizer, fc.token_limit)
                token_frames.append(
                    seg_df.select("doc_id", fc.name).mapInPandas(fn, _PDT_SCHEMA))
            elif fc.type == "ip":  # exact term + numeric fast column (§1.2)
                val = F.col(fc.name).cast("string")
                token_frames.append(
                    seg_df.filter(val.isNotNull() & (val != F.lit("")))
                    .select("doc_id", F.lit(fc.name).alias("field"),
                            val.alias("term"), F.lit(1).cast("long").alias("tf"),
                            F.lit(1).cast("long").alias("norm_id"),
                            F.lit(None).cast("binary").alias("pos_bin")))
        per_doc_term = token_frames[0]
        for tf_ in token_frames[1:]:
            per_doc_term = per_doc_term.unionByName(tf_)
        return per_doc_term.withColumn(
            "shard", F.shiftright(F.col("doc_id"), cfg.shard_bits).cast("long"))

    def _key_repartition(self, df: DataFrame, *cols):
        """Repartition by key, scale-adaptively sized: an explicit user
        shuffle_partitions wins; otherwise the partition COUNT is left to
        AQE (repartition without numPartitions starts at
        spark.sql.shuffle.partitions and adaptive coalescing right-sizes
        the output to the advisory partition bytes) — guide §2.2/§6: tiny
        segments stop producing 32 near-empty sort/encode tasks and files,
        large builds still fan out to the configured width."""
        if self.shuffle_partitions:
            return df.repartition(self.shuffle_partitions, *cols)
        return df.repartition(*cols)

    def _stat_exprs(self) -> list:
        return ([F.count(F.lit(1)).alias("_n"),
                 F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi")]
                + [F.sum(F.col(f"len_{fc.name}")).alias(f"_tok_{fc.name}")
                   for fc in self.config.text_fields])

    def _action_from_stats(self, seg_id: int, srow, json_tokens: dict,
                           t0: float) -> dict:
        """The manifest ``add`` action of one written segment: its docs
        stats row ``srow`` (None: no docs) and the token totals of its json
        fields, which have no docs length column."""
        num_docs = int(srow["_n"]) if srow is not None else 0
        field_tokens = {fc.name: int((srow[f"_tok_{fc.name}"]
                                      if srow is not None else 0) or 0)
                        for fc in self.config.text_fields}
        for fc in self.config.fields:
            if fc.type == "json":
                field_tokens[fc.name] = int(json_tokens.get(fc.name) or 0)
        lo = srow["_lo"] if srow is not None else None
        hi = srow["_hi"] if srow is not None else None
        return {
            "action": "add",
            "segment": seg_id,
            "num_docs": num_docs,
            "doc_lo": int(lo) if lo is not None else None,
            "doc_hi": int(hi) if hi is not None else None,
            "field_tokens": field_tokens,
            "wall_sec": round(time.time() - t0, 3),
        }

    # -- the segment writer: sources, then table writes ---------------------
    def _write_segments(self, src: DataFrame, seg_col, pending: List[int]
                        ) -> Tuple[List[dict], Dict[str, float]]:
        """Write the tables of every segment in ``pending`` from the
        documents ``src``; ``seg_col`` gives each row's segment id (a
        doc-range function of doc_id for bulk builds, a literal for a
        streaming append).  Bulk builds, the kill test, streaming appends
        and add_documents all write here; see _write_tables."""
        return self._write_tables(
            self._docs_frame(src).withColumn("_seg", seg_col),
            self._pdt_frame(src).withColumn("_seg", seg_col), None,
            {sid: self._p("segments", f"seg={sid:05d}") for sid in pending})

    def _read_tables(self, paths: List[str]) -> List[DataFrame]:
        """One Spark read per table dir, all with one schema: the Spark
        schema in the dirs' Parquet footers on a POSIX root, else one
        inference over every dir (never one inference job per dir)."""
        schema = None
        if not fsio.has_scheme(self.index_dir):
            import pyarrow.dataset as pads
            schema = fsio.footer_schema(
                [(p, pads.dataset(p, format="parquet")) for p in paths])
        if schema is None:
            schema = self.spark.read.parquet(*paths).schema
        return [self.spark.read.schema(schema).parquet(p) for p in paths]

    def _segment_dir_sources(self, dir_segs: Dict[str, int],
                             deletes: Optional[DataFrame] = None
                             ) -> Tuple[DataFrame, DataFrame,
                                        Optional[DataFrame]]:
        """The writer's sources read back from existing segment dirs (merges
        and apply_deletes): each dir's docs, postings and positions rows,
        tagged with the literal ``_seg`` that ``dir_segs`` gives the dir.
        Postings are decoded to per-doc-term rows with shard recomputed from
        doc_id, and the rows of doc_ids in ``deletes`` are dropped.  Returns
        (docs, per-doc-term, positions); positions is None when no field is
        position-indexed."""
        from tantivy4java_spark.searcher import _DECODED_SCHEMA, _decode_blocks

        # each union is coalesced to cluster width: a scan per dir leaves a
        # partition per small file, and the decode runs a Python pass per
        # partition (1.6x slower uncoalesced on 8 dirs of a 20k-doc index,
        # 4 cores)
        def read(table):
            paths = [fsio.join(d, table) for d in dir_segs]
            return reduce(DataFrame.unionByName, [
                df.withColumn("_seg", F.lit(seg).cast("long"))
                for df, seg in zip(self._read_tables(paths),
                                   dir_segs.values())]).coalesce(
                self.spark.sparkContext.defaultParallelism)

        def live(df):
            if deletes is None:
                return df
            return df.join(deletes, "doc_id", "left_anti")

        pdt = (read("postings")
               .select("_seg", "field", "term", "first_doc", "count",
                       "docs_bin", "tfs_bin", "norms_bin")
               .mapInPandas(_decode_blocks, T.StructType(
                   _DECODED_SCHEMA.fields
                   + [T.StructField("_seg", T.LongType())]))
               .withColumn("shard", F.shiftright(
                   "doc_id", self.config.shard_bits).cast("long")))
        positions = None
        if any(fc.has_positions for fc in self.config.fields):
            positions = live(read("positions"))
        return live(read("docs")), live(pdt), positions

    def _write_tables(self, docs: DataFrame, pdt: DataFrame,
                      positions: Optional[DataFrame], out_dirs: Dict[int, str]
                      ) -> Tuple[List[dict], Dict[str, float]]:
        """The table writes of the one segment writer, from ``_seg``-tagged
        sources: ``docs`` rows, per-doc-term rows ``pdt`` (field, term,
        shard, doc_id, tf, norm_id) and ``positions`` rows, which None takes
        from the pos_bin column of ``pdt`` (document sources).  Segment
        ``s`` is written to ``out_dirs[s]``.

        The docs/per-doc-term frames are cached, per-segment stats are ONE
        groupBy("_seg") job (the per-doc-term cache's job sums the json
        fields' tokens), and each output table is ONE write job partitioned
        by ``_seg``, renamed afterwards into <out dir>/<table>.  Segment
        docs files are sorted by doc_id and termstats files by (field,
        term), for the readers that look rows up in them.  A segment with
        no rows in a table gets that table written empty, with the schema
        of the frame its writer uses, so every segment table stays
        readable.

        Returns the manifest ``add`` actions (``out_dirs`` order) and the
        chained phase times.  Nothing reaches the manifest here: the caller
        appends the actions once every write of the call has finished, so a
        failure mid-call commits none of its segments."""
        clock = _PhaseClock()
        cfg = self.config
        dp = self.spark.sparkContext.defaultParallelism
        gd = docs.persist()
        # the pdt frame is a union (5-way for documents -> 5 x dp
        # partitions); every write job rescans the whole cache, so cache at
        # cluster width (coalesce is narrow: one task computes the tokenize
        # branch partition plus its 4 cheap sibling branches) — 3 write
        # jobs x 160 cache-scan tasks was the measured write-phase bottleneck
        gpdt = pdt.coalesce(dp).persist()
        # Materialize both caches at full cluster width, one job each,
        # BEFORE the writers fan out: writers racing to build the tokenize
        # cache measured 46% slower at 8 cores (200k docs) — concurrent
        # first-use serializes on the block manager's per-partition load
        # locks while the blocked tasks hold task slots.  The stats agg
        # doubles as the docs-cache builder, and the json token sums (a json
        # field has no docs length column) as the per-doc-term cache
        # builder; the two jobs are independent.
        json_fields = [fc.name for fc in cfg.fields if fc.type == "json"]

        def cache_pdt() -> list:
            if not json_fields:  # an always-false filter would scan nothing
                gpdt.count()
                return []
            return (gpdt.filter(F.col("field").isin(json_fields))
                    .groupBy("_seg", "field")
                    .agg(F.sum("tf").alias("_tok")).collect())

        with ThreadPoolExecutor(max_workers=2) as ex:
            f_stats = ex.submit(
                lambda: gd.groupBy("_seg").agg(*self._stat_exprs()).collect())
            f_json = ex.submit(cache_pdt)
            stat_rows = f_stats.result()
            json_rows = f_json.result()
        stats_by_seg = {int(r["_seg"]): r for r in stat_rows}
        json_by_seg: Dict[int, dict] = {}
        for r in json_rows:
            json_by_seg.setdefault(int(r["_seg"]), {})[r["field"]] = r["_tok"]
        clock.lap("stats+cache")

        # ONE write job per table across all pending segments (not one per
        # table per segment: small concurrent jobs thrashed the scheduler and
        # let AQE coalesce tiny per-segment shuffles into 1-task Python
        # encodes).  File contents per segment are unchanged: the encode
        # group key gains _seg, and segment doc ranges are disjoint.
        # Docs files: one per 100k docs of the largest segment.  Each
        # coalesced task writes one file into every segment it holds rows
        # of, so a segment gets at most that many files, each sorted by
        # doc_id (a coalesce is narrow: no shuffle, no extra job).
        n_docs_out = max([1] + [math.ceil(int(r["_n"]) / 100_000)
                                for r in stat_rows])
        tables = {
            # block-encoded postings (skew-proof: keyed by field,term,shard)
            "postings": self._key_repartition(
                gpdt.select("_seg", "field", "term", "shard", "doc_id", "tf",
                            F.col("norm_id").cast("long").alias("norm_id")),
                "_seg", "field", "term", "shard")
            .sortWithinPartitions("_seg", "field", "term", "shard", "doc_id")
            .mapInPandas(_encode_blocks_fn(cfg.block_size), _BLOCKS_SCHEMA),
            # per-segment term stats: the searcher sums df over segments
            "termstats": gpdt.groupBy("_seg", "field", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"),
                 F.sum("tf").cast("long").alias("total_tf"))
            .sortWithinPartitions("_seg", "field", "term"),
            "docs": gd.coalesce(n_docs_out)
            .sortWithinPartitions("_seg", "doc_id"),
        }
        pos_fields = [fc.name for fc in cfg.fields if fc.has_positions]
        if pos_fields:
            # delta-varint positions of position-indexed fields (json fields
            # too: per-dot-path positions for phrase-over-path)
            if positions is None:
                positions = gpdt.filter(F.col("field").isin(pos_fields))
            tables["positions"] = self._key_repartition(
                positions.select("_seg", "field", "term", "doc_id",
                                 "norm_id", "pos_bin"),
                "_seg", "field", "term") \
                .sortWithinPartitions("_seg", "field", "term", "doc_id")

        first_dir = next(iter(out_dirs.values()))
        tmp = self._p("segments", "_tmp_" + first_dir.rsplit("/", 1)[-1])
        fsio.delete(self.spark, tmp)

        def write(name):
            (tables[name].write.mode("overwrite").partitionBy("_seg")
             .parquet(fsio.join(tmp, name)))

        with ThreadPoolExecutor(max_workers=len(tables)) as ex:
            list(ex.map(write, tables))
        gpdt.unpersist()
        gd.unpersist()
        clock.lap("write")

        # rename tmp/<table>/_seg=<sid> -> <out dir>/<table>
        actions = []
        for sid, seg_dir in out_dirs.items():
            fsio.makedirs(self.spark, seg_dir)
            for name, frame in tables.items():
                src_dir = fsio.join(tmp, name, f"_seg={sid}")
                dst_dir = fsio.join(seg_dir, name)
                fsio.delete(self.spark, dst_dir)
                if fsio.exists(self.spark, src_dir):
                    fsio.rename(self.spark, src_dir, dst_dir)
                else:  # no rows: an empty table that still has its schema
                    self.spark.createDataFrame(
                        [], frame.drop("_seg").schema).write.parquet(dst_dir)
            actions.append(self._action_from_stats(
                sid, stats_by_seg.get(sid), json_by_seg.get(sid, {}),
                clock.start))
        fsio.delete(self.spark, tmp)
        clock.lap("rename")
        return actions, clock.phases

    # -- merge / finalize ---------------------------------------------------
    def _segment_ok(self, seg_dir: str) -> bool:
        """Cheap validity probe (footer read) — no Spark job per segment.

        Non-posix roots: Spark's own footer read (driver-side schema
        resolution) replaces the pyarrow probe."""
        pdir = fsio.join(seg_dir, "postings")
        if fsio.has_scheme(seg_dir):
            try:
                if not fsio.isdir_nonempty(self.spark, pdir):
                    return False
                self.spark.read.parquet(pdir).schema  # footer read, no job
                return True
            except Exception:
                return False
        import pyarrow.parquet as pq
        try:
            files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            for f in files:
                pq.ParquetFile(os.path.join(pdir, f)).schema_arrow
            return bool(files)
        except Exception:
            return False

    def _seg_dir(self, seg_id: int) -> str:
        return self._p("segments", f"seg={seg_id:05d}")

    def _committed_dirs(self) -> set:
        """The segment dirs the current commit lists (none before the first
        commit).  Refuses an index in an older layout (read_stats): a commit
        on top of it would leave its root tables stale."""
        if not fsio.exists(self.spark, self._p("stats.json")):
            return set()
        return set(read_stats(self.spark, self.index_dir)["segment_dirs"])

    def merge_hierarchical(self, segment_ids: List[int], fanin: int = 8) -> dict:
        """Multi-level merge: fold segments `fanin` at a time into
        intermediate segments, repeat, then commit the dirs left.
        Each level is ONE segment-writer pass: group g's input dirs are
        read back with ``_seg = g`` and its output, re-blocked like a fresh
        build of those docs, is written to segments/merged_L<level>_<g> —
        a name no segment id takes, so a later add cannot reuse it.  Every
        group logs a ``merge_level`` action.  At 10^12-file scale this
        bounds every merge job's input count (reference: process-based
        parallel merge, CLAUDE.md:163; split merge README.md:712-800)."""
        self._committed_dirs()  # refuse an older layout before any level
        level = 0
        ok = [s for s in segment_ids if self._segment_ok(self._seg_dir(s))]
        dirs = [self._seg_dir(s) for s in ok]
        while len(dirs) > fanin:
            groups = [dirs[i:i + fanin] for i in range(0, len(dirs), fanin)]
            merged = {g: self._p("segments", f"merged_L{level}_{g:04d}")
                      for g, group in enumerate(groups) if len(group) > 1}
            self._write_tables(*self._segment_dir_sources(
                {d: g for g in merged for d in groups[g]}), merged)
            for g, out in merged.items():
                self._append_manifest({"action": "merge_level", "level": level,
                                       "inputs": len(groups[g]), "out": out})
            dirs = [merged.get(g, group[0]) for g, group in enumerate(groups)]
            level += 1
        return self._commit(dirs, ok)

    def _merge(self, segment_ids: List[int]) -> dict:
        """Commit the given segments as the searchable index (S7/S9 analog).

        Resilient like the reference's mergeSplits (merge_impl.rs:88-101):
        a segment directory that fails validation is skipped and recorded as
        a merge_skip manifest action.  Segments the current commit already
        lists were validated when it was made and are not read again, so
        the commit's cost does not grow with the index.
        """
        committed = self._committed_dirs()
        ok_segments, skipped = [], []
        for sid in segment_ids:
            seg_dir = self._seg_dir(sid)
            if fsio.relpath(seg_dir, self.index_dir) in committed \
                    or self._segment_ok(seg_dir):
                ok_segments.append(sid)
            else:
                skipped.append(sid)
                self._append_manifest({"action": "merge_skip", "segment": sid,
                                       "reason": "failed footer validation"})
        action = self._commit([self._seg_dir(s) for s in ok_segments],
                              ok_segments)
        action["segments"] = ok_segments
        action["skipped"] = skipped
        return action

    def _commit(self, seg_dirs: List[str], segment_ids: List[int]) -> dict:
        """Publish ``seg_dirs`` as the searchable index: stats.json lists
        them (``segment_dirs``) with the corpus stats, and nothing else is
        written (Tantivy's meta.json, native/src/index.rs:289).  The stats
        are folded from the manifest ``add`` actions of ``segment_ids``,
        the segments whose docs the dirs hold: num_docs and each field's
        token total, so avgdl.  Driver only: no Spark job, and no table
        that spans the index is rewritten; the searcher sums df over the
        segment termstats and computes block bounds per query.  Callers
        check the layout of the commit they replace (_committed_dirs)."""
        t0 = time.time()
        adds = active_adds(self._manifest_actions())
        num_docs, tokens = 0, {}
        for sid in segment_ids:
            num_docs += int(adds[sid]["num_docs"])
            for name, n in adds[sid]["field_tokens"].items():
                tokens[name] = tokens.get(name, 0) + int(n)
        stats = {
            "format_version": STATS_FORMAT_VERSION,
            "num_docs": num_docs,
            "fields": {name: {"num_docs": num_docs, "total_tokens": tot,
                              "avgdl": (float(tot) / num_docs)
                              if num_docs else 0.0}
                       for name, tot in tokens.items()},
            "segment_dirs": [fsio.relpath(d, self.index_dir)
                             for d in seg_dirs],
        }
        fsio.write_text(self.spark, self._p("stats.json"),
                        json.dumps(stats, indent=2, sort_keys=True))
        return {"action": "commit",
                "num_docs": num_docs, "wall_sec": round(time.time() - t0, 3)}

    # -- public API ---------------------------------------------------------
    def build(self, df: DataFrame, order_cols: Optional[List[str]] = None,
              doc_id_col: Optional[str] = None,
              fail_after_segments: Optional[int] = None) -> BuildStats:
        """Full build with resume: segments already in the manifest are
        skipped.  ``fail_after_segments=k`` (kill test) writes only the
        first k pending segments, commits their adds, then raises."""
        clock = _PhaseClock()
        fsio.makedirs(self.spark, self.index_dir)
        acts = self._manifest_actions()
        if any(a.get("action") == "compact" for a in acts):
            # after apply_deletes the active set is the compacted segment
            # only; a resume here would treat 0..n-1 as pending, rebuild
            # them from the input, and drop the compacted segment at the
            # final merge — resurrecting deleted docs.  Incremental adds
            # go through streaming.add_documents instead.
            raise ValueError(
                "build() resume is not supported on an index that has been "
                "compacted by apply_deletes; use streaming.add_documents "
                "for incremental appends or build into a fresh directory")
        done = set(active_segments(acts))
        # zipWithIndex doc_ids are file-layout positions: deterministic only
        # while the input file listing is unchanged.  Fingerprint the sorted
        # listing in the manifest and refuse to resume against a different
        # one — a silently shifted listing would hand resumed segments
        # different doc_ids than the committed ones (reference analog: the
        # txlog pins the source snapshot a build was started from).
        import hashlib
        files = sorted(df.inputFiles())
        fp = hashlib.sha256("\n".join(files).encode("utf-8")).hexdigest() \
            if files else None
        if not acts:
            self._write_initial_manifest()
            if fp is not None:
                self._append_manifest({"action": "input_fingerprint",
                                       "sha256": fp, "n_files": len(files)})
        else:
            rec = [a for a in acts if a.get("action") == "input_fingerprint"]
            if rec and fp is not None and rec[-1]["sha256"] != fp:
                raise ValueError(
                    "refusing to resume: the input file listing changed "
                    f"since this build started ({rec[-1]['n_files']} files "
                    f"then, {len(files)} now / different set) — doc_id "
                    "assignment would not match the committed segments; "
                    "build into a fresh index directory instead")
        clock.lap("manifest")

        total = None
        if doc_id_col is None and order_cols is None:
            # the zipWithIndex path scans the input twice; cache it first.
            # Row total falls out of the per-partition counts — no extra
            # max(doc_id) pass.
            df = df.persist()
            with_ids, total = _zip_index_ids(df)
        else:
            with_ids = assign_doc_ids(df, order_cols=order_cols,
                                      doc_id_col=doc_id_col)
        # a narrow input (e.g. one modest parquet file -> 1-2 scan splits)
        # would run the tokenize pass on a fraction of the cluster; widen to
        # cluster width AFTER doc_id assignment (ids are position/column
        # derived, so the round-robin shuffle cannot change them).  No-op at
        # scale, where scan splits >= parallelism (guide §2.5 input skew).
        dp = self.spark.sparkContext.defaultParallelism
        if with_ids.rdd.getNumPartitions() < dp:
            with_ids = with_ids.repartition(dp)
        with_ids = with_ids.persist()
        clock.lap("ids")
        nseg = max(1, self.num_segments)
        if nseg > 1:
            # doc-range segments: deterministic, independently committable
            if total is None:
                m = with_ids.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
                total = int(m) + 1 if m is not None else 0
            seg_width = max(1, math.ceil(total / nseg))
        else:
            seg_width = None
        clock.lap("seg-width")

        pending = [sid for sid in range(nseg) if sid not in done]
        fail = (fail_after_segments is not None
                and len(pending) >= fail_after_segments)
        if fail:
            pending = pending[:fail_after_segments]
        if pending:
            src, seg_col = with_ids, F.lit(0).cast("long")
            if seg_width is not None:
                seg_col = F.expr(f"doc_id div {seg_width}")
                if len(pending) < nseg:
                    src = with_ids.filter(seg_col.isin(pending))
            actions, seg_phases = self._write_segments(src, seg_col, pending)
            clock.extend(seg_phases)
            for action in actions:
                self._append_manifest(action)
            clock.lap("rename")
        if fail:
            with_ids.unpersist()
            df.unpersist()
            raise RuntimeError(f"injected failure after {len(pending)} "
                               f"segments (kill test)")

        merge_action = self._merge(list(range(nseg)))
        self._append_manifest(merge_action)
        with_ids.unpersist()
        df.unpersist()
        clock.lap("merge")
        wall = clock.t - clock.start
        n = merge_action["num_docs"]
        return BuildStats(num_docs=n, segments=nseg, wall_sec=wall,
                          docs_per_sec=n / wall if wall > 0 else 0.0,
                          segment_wall_sec=wall - clock.phases["merge"],
                          merge_wall_sec=clock.phases["merge"],
                          phases=clock.phases)


def build_index(spark: SparkSession, df: DataFrame, config: IndexConfig,
                index_dir: str, **kw) -> BuildStats:
    order_cols = kw.pop("order_cols", None)
    doc_id_col = kw.pop("doc_id_col", None)
    fail_after = kw.pop("fail_after_segments", None)
    builder = IndexBuilder(spark, config, index_dir, **kw)
    return builder.build(df, order_cols=order_cols, doc_id_col=doc_id_col,
                         fail_after_segments=fail_after)
