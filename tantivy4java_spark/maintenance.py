"""Index maintenance: deletes, delete-application at merge, GC.

Reference surface (SURVEY.md §2.1 S6): IndexWriter.deleteDocuments(field,val),
deleteDocumentsByQuery(q), deleteAllDocuments(), garbageCollectFiles()
(core/IndexWriter.java:143-202).  Tantivy deletes are tombstones that
segments carry until a merge physically removes them — mirrored here:

- delete_* append doc_ids to the ``deletes`` parquet dir + a manifest line;
  the searcher anti-joins them at query time.  On a POSIX root the match
  set and the file come from the driver (pyarrow), with no Spark job.
- apply_deletes() folds the committed segments into one through the
  build's segment writer, dropping tombstoned docs, and commits it
  (the "merge preserving deletes" semantics of S7).
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from tantivy4java_spark import fsio
from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import DELETES_DIR


def _append_manifest(spark: SparkSession, index_dir: str, action: dict) -> None:
    from tantivy4java_spark import manifest
    manifest.append_action(spark, index_dir, action)


def delete_by_query(spark: SparkSession, index_dir: str, query: Q.Query) -> int:
    """Tombstone every doc matching the query; returns the count (opstamp
    analog: the manifest line records it, with the path the delete took).

    On a POSIX root the match set comes from the driver fast path, the
    evaluator ``IndexSearcher.count`` uses, and its doc_ids land in
    ``deletes/`` as one pyarrow file: no Spark job.  Where that path
    declines (URI root, candidates past ``LOCAL_TOPK_MAX_ROWS``, an
    unsupported node, a read error) the scoring plan runs once on Spark.
    Both count only live docs, so a re-delete returns 0."""
    from tantivy4java_spark.searcher import IndexSearcher
    s = IndexSearcher(spark, index_dir)
    q = Q.normalize(query)
    action = {"action": "delete", "query": repr(query), "path": "driver"}
    local = s._local_search_pdf(q)
    if local is not None:
        ids = np.unique(local["doc_id"].to_numpy(np.int64))
        n = len(ids)
        if n:
            _write_tombstones(index_dir, ids)
    else:
        action["path"] = "spark"
        if "fallback_reason" in s.last_metrics:
            action["fallback_reason"] = s.last_metrics["fallback_reason"]
        matched = s.score_query(q).select("doc_id").distinct().persist()
        try:  # the count fills the cache the write reads: one scoring pass
            n = matched.count()
            if n:
                matched.write.mode("append").parquet(
                    fsio.join(index_dir, DELETES_DIR))
        finally:
            matched.unpersist()
    _append_manifest(spark, index_dir, dict(action, num_docs=int(n)))
    return int(n)


def _write_tombstones(index_dir: str, ids: np.ndarray) -> None:
    """Append ``ids`` to a POSIX root's tombstone dir as one Parquet file.
    It is written beside the dir and moved in with os.replace, so readers
    never see a partial file; a temp a crash leaves ends in ``__new``,
    which garbage_collect removes."""
    name = f"part-{uuid.uuid4().hex}-driver.parquet"
    tmp = os.path.join(index_dir, f"{DELETES_DIR}-{name}__new")
    try:
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), tmp)
        del_dir = os.path.join(index_dir, DELETES_DIR)
        os.makedirs(del_dir, exist_ok=True)
        os.replace(tmp, os.path.join(del_dir, name))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def delete_by_term(spark: SparkSession, index_dir: str,
                   field: str, value) -> int:
    """IndexWriter.deleteDocuments(field, value) analog."""
    return delete_by_query(spark, index_dir, Q.Term(field, value))


def delete_all(spark: SparkSession, index_dir: str) -> int:
    return delete_by_query(spark, index_dir, Q.MatchAll())


def garbage_collect(spark: SparkSession, index_dir: str) -> list:
    """garbageCollectFiles analog (core/IndexWriter.java:202): delete index
    subdirectories no live reader references — temp ``*__new`` leftovers
    from interrupted swaps, rolled-back segment dirs, and segment dirs that
    stats.json no longer lists (e.g. superseded by apply_deletes or by a
    later hierarchical merge level).  Committed and active segment dirs
    stay.  Returns the deleted paths.
    """
    from tantivy4java_spark.build import active_segments, read_stats
    referenced = set(read_stats(spark, index_dir)["segment_dirs"])
    from tantivy4java_spark import manifest
    actions = manifest.read_actions(spark, index_dir)
    active = {f"segments/seg={sid:05d}" for sid in active_segments(actions)}
    deleted = []
    for name in fsio.listdir(spark, index_dir):
        if name.endswith("__new"):
            deleted.append(fsio.join(index_dir, name))
    seg_root = fsio.join(index_dir, "segments")
    if fsio.exists(spark, seg_root):
        for name in fsio.listdir(spark, seg_root):
            rel = f"segments/{name}"
            if rel in referenced or rel in active:
                continue
            deleted.append(fsio.join(seg_root, name))
    for path in deleted:
        fsio.delete(spark, path)
    if deleted:
        _append_manifest(spark, index_dir,
                         {"action": "gc", "removed": len(deleted)})
    return deleted


def rollback(spark: SparkSession, index_dir: str) -> list:
    """Discard uncommitted segment adds (IndexWriter.rollback analog,
    core/IndexWriter.java:133): every segment added since the last ``commit``
    manifest action is removed from the effective set (a ``rollback`` action
    names them) and its directory is deleted.  Returns the rolled-back
    segment ids.

    Documented deviation: delete_by_query tombstones in this engine apply
    immediately (searcher-side anti-join) and are NOT transactional, so they
    are not unwound by rollback."""
    from tantivy4java_spark import manifest
    actions = manifest.read_actions(spark, index_dir)
    if not actions:
        return []
    tail = actions[manifest.last_commit_index(actions) + 1:]
    already = {s for a in tail if a.get("action") == "rollback"
               for s in a.get("segments", [])}
    rolled = []
    for a in tail:
        if a.get("action") == "add" and a["segment"] not in already \
                and a["segment"] not in rolled:
            rolled.append(a["segment"])
    if not rolled:
        return []
    for sid in rolled:
        fsio.delete(spark, fsio.join(index_dir, "segments", f"seg={sid:05d}"))
    _append_manifest(spark, index_dir,
                     {"action": "rollback", "segments": rolled})
    return rolled


def _config_from_meta(meta: dict):
    """Reconstruct the IndexConfig the merge needs from the manifest's
    metadata action (the persisted schema — SchemaBuilder round trip)."""
    from tantivy4java_spark.schema import FieldConfig, IndexConfig
    fields = [FieldConfig(f["name"], f.get("type", "text"),
                          f.get("tokenizer", "default"),
                          f.get("index_option", "position"))
              for f in meta.get("fields", [])]
    return IndexConfig(fields=fields,
                       shard_bits=meta.get("shard_bits", 16),
                       block_size=meta.get("block_size", 128))


def apply_deletes(spark: SparkSession, index_dir: str) -> int:
    """Physically remove tombstoned docs (merge-with-deletes, S7) by
    COMPACTION: the segment writer folds every committed segment dir
    (stats.json) into ONE new segment, reading their docs, postings and
    positions back without the tombstoned docs and writing them with the
    table writes of a bulk build.  A ``compact`` manifest action clears the
    prior adds, the compacted ``add`` carries the writer's stats, and the
    normal commit then lists the compacted segment alone.  Incremental adds
    after apply_deletes keep working because the manifest's active set
    matches what's on disk.  Returns the number of docs removed."""
    from tantivy4java_spark.build import IndexBuilder
    from tantivy4java_spark.searcher import IndexSearcher

    del_dir = fsio.join(index_dir, DELETES_DIR)
    if not fsio.isdir_nonempty(spark, del_dir):
        return 0
    from tantivy4java_spark import manifest as _mf
    pending = _mf.uncommitted_adds(_mf.read_actions(spark, index_dir))
    if pending:
        # the compaction folds the COMMITTED searcher view (stats.json) and
        # deletes every other segment dir — running it now would silently
        # destroy segments added with add_documents(commit=False) since the
        # last commit (data loss, not rollback)
        raise ValueError(
            f"apply_deletes would destroy uncommitted segment adds "
            f"{pending}; commit them first (add_documents(commit=True) / "
            f"StreamingIndexWriter.refresh()) or rollback()")
    s = IndexSearcher(spark, index_dir)
    builder = IndexBuilder(spark, _config_from_meta(s._meta), index_dir)
    acts = builder._manifest_actions()
    used = [a["segment"] for a in acts if a.get("action") == "add"]
    sid = (max(used) + 1) if used else 0
    seg_name = f"seg={sid:05d}"
    old_seg_names = {n for n in fsio.listdir(spark, builder._p("segments"))
                     if n != seg_name}

    seg_dirs = [fsio.join(index_dir, d) for d in s._stats["segment_dirs"]]
    sources = builder._segment_dir_sources(dict.fromkeys(seg_dirs, sid),
                                           s._deletes())
    (add,), _ = builder._write_tables(
        *sources, {sid: builder._p("segments", seg_name)})
    num_docs = add["num_docs"]

    # manifest: clear prior adds, register the compacted segment, commit
    _append_manifest(spark, index_dir, {"action": "compact",
                                        "folded": sorted(used)})
    _append_manifest(spark, index_dir, dict(add, compacted=True))
    builder._append_manifest(builder._merge([sid]))

    # cleanup: tombstones and the superseded segment dirs (the fresh stats
    # references only the compacted segment)
    fsio.delete(spark, del_dir)
    for name in old_seg_names:
        fsio.delete(spark, fsio.join(index_dir, "segments", name))
    n_del = s.num_docs - num_docs
    _append_manifest(spark, index_dir, {"action": "apply_deletes",
                                        "removed": int(n_del),
                                        "num_docs": int(num_docs)})
    return int(n_del)
