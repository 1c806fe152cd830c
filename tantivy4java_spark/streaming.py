"""Incremental indexing via Structured Streaming.

Reference analog (SURVEY.md §2.1 S16, §2.5): the txlog's versioned Add
actions give incremental micro-batch append semantics; `getChangesSince`
reads deltas.  Spark-first translation: a streaming source ->
``foreachBatch`` -> one immutable index segment per micro-batch + a manifest
Add line; a ``refresh()`` (= commit) lists all segments as the queryable
index.  Exactly-once per batch comes from the streaming
checkpoint (batch id replays are idempotent: segment dirs are keyed by batch
id and overwritten atomically).

Doc ids are ``(segment_id << SEG_SHIFT) | row_in_batch`` — disjoint,
monotone per segment, so merge stays a concatenation (DocAddress analog,
SURVEY.md §1.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tantivy4java_spark.build import (IndexBuilder, active_segments,
                                      partition_row_ids)
from tantivy4java_spark.schema import IndexConfig

SEG_SHIFT = 40  # up to 2^40 docs per micro-batch segment


def append_segment(builder: IndexBuilder, batch_df: DataFrame,
                   seg_id: int) -> dict:
    """Index `batch_df` as one new segment with ids in the segment's own
    (seg_id << SEG_SHIFT) space; returns the manifest Add action.  Shared by
    the streaming sink and the batch `add_documents` path (S2/S3 analog:
    IndexWriter.addDocument/addJson — incremental inserts become segments).
    The segment goes through the build's one segment writer.

    If the batch already carries a ``doc_id`` column the caller owns the id
    space (the build_index ``doc_id_col`` contract): ids are used as-is and
    must stay unique across the whole index — appending a second internal
    doc_id would make the column ambiguous in every downstream select."""
    seg_col = F.lit(seg_id).cast("long")
    if "doc_id" in batch_df.columns:
        # deterministic ids: no persist needed (re-evaluation is stable)
        actions, _ = builder._write_segments(
            batch_df.withColumn("doc_id", F.col("doc_id").cast("long")),
            seg_col, [seg_id])
        return actions[0]
    # ids are (seg_id << SEG_SHIFT) | (partition << 24) | row-in-partition.
    # MUST pin one evaluation: they depend on the physical partition layout,
    # and the segment writer reads this frame in several jobs (docs table,
    # tokenize cache, stats).  An unpersisted frame can re-evaluate under a
    # different layout, silently giving the SAME row DIFFERENT ids across
    # tables.
    pid, row = partition_row_ids()
    with_ids = batch_df.withColumn(
        "doc_id", F.lit(seg_id << SEG_SHIFT) + F.shiftleft(pid, 24) + row
    ).persist()
    try:
        actions, _ = builder._write_segments(with_ids, seg_col, [seg_id])
        return actions[0]
    finally:
        with_ids.unpersist()


def add_documents(spark: SparkSession, config: IndexConfig, index_dir: str,
                  df: DataFrame, commit: bool = True) -> dict:
    """Append documents to an existing index and (optionally) re-commit.

    IndexWriter.addDocument / addJson analog for bulk appends: the rows
    become a fresh segment; commit=True commits every active segment, so
    the update is visible to searchers (reload-to-see-commits)."""
    builder = IndexBuilder(spark, config, index_dir)
    acts = builder._manifest_actions()
    if not acts:
        # fresh dir: protocol + metadata first, so the searcher gets field
        # types/shard_bits even for an index born through incremental adds
        builder._write_initial_manifest()
    # ids are never reused, even after rollback (opstamp-like monotonicity)
    used = [a["segment"] for a in acts if a.get("action") == "add"]
    seg_id = (max(used) + 1) if used else 0
    action = append_segment(builder, df, seg_id)
    builder._append_manifest(action)
    if commit:
        segs = sorted(set(active_segments(builder._manifest_actions())))
        builder._append_manifest(builder._merge(segs))
    return action


def changes_since(spark: SparkSession, df: DataFrame, snapshot_dir: str,
                  key_cols, content_cols=None):
    """Source-table delta (getChangesSince analog,
    iceberg/IcebergTableReader.java:543): rows whose (key, content-hash)
    pair is absent from the recorded snapshot — i.e. new rows AND rows whose
    content changed since the last index pass.

    Returns (changed_df, record_snapshot) — call record_snapshot() AFTER the
    changed rows are durably indexed, to advance the snapshot (txlog-version
    semantics: the snapshot only moves on success).

    Scale shape: the snapshot is a slim (key..., _rh) parquet table; the
    delta is ONE anti-join shuffled on (key, hash) — no full-row comparison
    and no driver materialization.
    """
    from tantivy4java_spark import fsio
    key_cols = list(key_cols)
    content_cols = content_cols or [c for c in df.columns
                                    if c not in key_cols]
    h = F.sha2(F.concat_ws(
        "\x00", *[F.col(c).cast("string") for c in content_cols]), 256)
    cur = df.withColumn("_rh", h)
    if fsio.exists(spark, snapshot_dir):
        prev = spark.read.parquet(snapshot_dir).select(*key_cols, "_rh")
        changed = cur.join(prev, [*key_cols, "_rh"], "left_anti")
    else:
        changed = cur

    def record_snapshot() -> None:
        tmp = snapshot_dir.rstrip("/") + "__new"
        cur.select(*key_cols, "_rh").write.mode("overwrite").parquet(tmp)
        fsio.delete(spark, snapshot_dir)
        fsio.rename(spark, tmp, snapshot_dir)

    return changed.drop("_rh"), record_snapshot


def _tombstone_prior_versions(spark: SparkSession, index_dir: str,
                              changed: DataFrame, key_cols,
                              refuse_on_reuse: bool = True) -> tuple:
    """Tombstone the docs whose keys appear in `changed` (they are about to
    be re-indexed as a new segment): ONE distributed semi-join of the docs
    table against the changed key set -> doc_ids appended to ``deletes/``.
    No per-key driver queries — the delta can be millions of rows.

    Returns ``(n_tombstoned, n_reused)``.  ``n_reused`` counts prior doc_ids
    that ALSO appear in the delta's own ``doc_id`` column (caller-owned id
    space re-using the same id for the new version).  Deletes are a global
    doc_id anti-join, so a reused id can't be tombstoned without also hiding
    its replacement: with ``refuse_on_reuse`` the call raises BEFORE writing
    any tombstone (state unchanged); otherwise the caller must physically
    compact (apply_deletes) before appending the delta."""
    from tantivy4java_spark import fsio, manifest
    from tantivy4java_spark.build import DELETES_DIR
    from tantivy4java_spark.searcher import IndexSearcher
    if not fsio.exists(spark, fsio.join(index_dir, "stats.json")):
        return 0, 0  # never committed: nothing searchable to supersede
    s = IndexSearcher(spark, index_dir)
    docs = s._table("docs")
    missing = [k for k in key_cols if k not in docs.columns]
    if missing:
        raise ValueError(
            f"index_changes(on_update='tombstone') needs the key columns as "
            f"fast fields in the docs table; missing {missing}. Re-build "
            f"with those fields stored, or pass on_update='append'")
    prior = (docs.join(changed.select(*key_cols).distinct(),
                       list(key_cols), "left_semi")
             .select("doc_id").distinct()
             .persist())  # reused by up to three actions below: one job each
    try:
        n_reused = 0
        if "doc_id" in changed.columns:
            delta_ids = (changed.select(F.col("doc_id").cast("long")
                                        .alias("doc_id")).distinct())
            n_reused = prior.join(delta_ids, "doc_id", "left_semi").count()
            if n_reused and refuse_on_reuse:
                raise ValueError(
                    f"index_changes(on_update='tombstone'): {n_reused} "
                    f"changed key(s) re-use a doc_id already in the index. "
                    f"Global tombstones would hide the NEW version too. Use "
                    f"on_update='upsert_rewrite' (tombstone + physical "
                    f"compaction, correct but rewrites the index), assign "
                    f"fresh doc_ids per version, or drop the doc_id column "
                    f"to let the index own the id space")
            if n_reused:
                # upsert_rewrite will run apply_deletes next: surface its
                # uncommitted-adds refusal NOW, before any tombstone lands —
                # raising after the write would leave the changed keys with
                # zero visible versions (the very state this path prevents)
                pending = manifest.uncommitted_adds(
                    manifest.read_actions(spark, index_dir))
                if pending:
                    raise ValueError(
                        f"upsert_rewrite needs a physical compaction, which "
                        f"would destroy uncommitted segment adds {pending}; "
                        f"commit them first (add_documents(commit=True)) or "
                        f"rollback()")
        n = prior.count()
        if n:
            prior.write.mode("append").parquet(
                fsio.join(index_dir, DELETES_DIR))
            manifest.append_action(spark, index_dir, {
                "action": "delete", "num_docs": int(n),
                "query": f"prior-versions-of-changed-keys{list(key_cols)}"})
        return int(n), int(n_reused)
    finally:
        prior.unpersist()


def index_changes(spark: SparkSession, config: IndexConfig, index_dir: str,
                  df: DataFrame, snapshot_dir: str, key_cols,
                  commit: bool = True, on_update: str = "tombstone") -> dict:
    """Incremental source-table indexing: compute the delta vs the recorded
    snapshot, tombstone the superseded versions of changed keys, append the
    delta as a segment, advance the snapshot.  Running it twice on an
    unchanged table is a no-op.

    on_update='tombstone' (default): prior versions of changed keys are
    delete-tombstoned before the delta segment lands, so queries see exactly
    one (the latest) version of each key — upsert semantics, matching the
    reference's update flow (updates = delete + re-add).  Refuses (before
    touching state) when the delta carries a doc_id column that RE-USES a
    prior doc_id: global tombstones can't supersede a reused id without
    hiding the new version too.
    on_update='upsert_rewrite': like tombstone, but when reused doc_ids are
    detected the index is physically compacted (apply_deletes) before the
    delta lands — correct for caller-owned stable ids, at the cost of a
    rewrite pass; without reuse it degrades to plain tombstoning.
    Preconditions (uncommitted adds) are checked BEFORE any tombstone is
    written, so a refusal leaves the index untouched.  A hard crash between
    the compaction and the delta append can still lose the old versions of
    the changed keys (the delta itself is replayable from the source table:
    the snapshot only advances after success).
    on_update='append': round-2 behavior — the delta only appends; use for
    genuinely append-only sources where the key never recurs."""
    changed, record = changes_since(spark, df, snapshot_dir, key_cols)
    changed = changed.persist()
    try:
        n = changed.count()
        if n == 0:
            return {"action": "noop", "num_docs": 0}
        if on_update in ("tombstone", "upsert_rewrite"):
            _, n_reused = _tombstone_prior_versions(
                spark, index_dir, changed, list(key_cols),
                refuse_on_reuse=(on_update == "tombstone"))
            if n_reused:
                # reused ids are now tombstoned; fold the tombstones into a
                # physical compaction so the re-added versions stay visible
                from tantivy4java_spark.maintenance import apply_deletes
                apply_deletes(spark, index_dir)
        elif on_update != "append":
            raise ValueError(f"on_update must be 'tombstone', "
                             f"'upsert_rewrite' or 'append', "
                             f"got {on_update!r}")
        action = add_documents(spark, config, index_dir, changed,
                               commit=commit)
        record()
        return action
    finally:
        changed.unpersist()


class StreamingIndexWriter:
    """foreachBatch sink: every micro-batch becomes one index segment."""

    def __init__(self, spark: SparkSession, config: IndexConfig,
                 index_dir: str, seg_id_base: int = 0):
        self.spark = spark
        self.config = config
        self.index_dir = index_dir
        self.seg_id_base = seg_id_base
        self.builder = IndexBuilder(spark, config, index_dir)

    # -- batch hook ---------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        seg_id = self.seg_id_base + int(batch_id)
        done = set(active_segments(self.builder._manifest_actions()))
        if seg_id in done:  # replay after checkpoint recovery: already durable
            return
        if not self.builder._manifest_actions():
            # protocol + METADATA: without the metadata action the searcher
            # falls back to type 'text' / shard_bits 16 for every field, so
            # string/ip query values would be tokenized+lowercased instead of
            # raw-matched on a streaming-only index.
            self.builder._write_initial_manifest(mode="streaming")
        action = append_segment(self.builder, batch_df, seg_id)
        action["streaming_batch_id"] = int(batch_id)
        self.builder._append_manifest(action)

    # -- lifecycle ----------------------------------------------------------
    def start(self, stream_df: DataFrame, checkpoint_dir: str,
              trigger_available_now: bool = True, **trigger_kw):
        writer = (stream_df.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint_dir))
        if trigger_available_now and not trigger_kw:
            writer = writer.trigger(availableNow=True)
        elif trigger_kw:
            writer = writer.trigger(**trigger_kw)
        return writer.start()

    def refresh(self) -> dict:
        """Commit: list all streamed segments as the queryable index
        (reload-to-see-commits semantics, native/src/index.rs:289)."""
        segs = sorted(set(active_segments(self.builder._manifest_actions())))
        action = self.builder._merge(segs)
        self.builder._append_manifest(action)
        return action
