"""Near-real-time incremental indexing: the package's one segment store.

The reference's NRT model (SURVEY.md §2.8): flushed-but-uncommitted segments
become visible to new searchers via DirectoryReader.OpenIfChanged /
SearcherManager.MaybeRefresh (src/Lucene.Net/Search/SearcherManager.cs,
Index/StandardDirectoryReader.cs); ControlledRealTimeReopenThread bounds the
visibility latency. Lucene has NO watermarks/event-time windows — the
streaming surface is exactly "append docs, refresh searcher".

Spark mapping: `IncrementalIndexer.process_batch` flushes one DataFrame as
one segment — parquet postings + doclens under ``segments/seg_<id>/`` —
and then lists it in ``segments.json``, whose atomic rename is the commit
(segments_N). It is usable as a Structured Streaming foreachBatch sink
(micro-batch == flush; checkpointLocation == commit point; trigger interval
== ControlledRealTimeReopenThread's targetMaxStaleSec). `maybe_merge` is
the tiered merge, `refresh()` returns a searcher over all committed
segments — MaybeRefresh. The bulk `index.segments.SegmentedIndexWriter`
writes its doc-range segments through this same store.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucenenet_spark.analysis.analyzers import StandardAnalyzer
from lucenenet_spark.index.builder import InvertedIndex, build_index
from lucenenet_spark.search.searcher import IndexSearcher


def read_json(path: str, default):
    """The JSON document at `path`, or `default` when it does not exist."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def write_json_atomic(path: str, obj) -> None:
    """Replace `path` with `obj` as JSON in one rename: a reader sees the old
    document or the new one, never a torn write (segments_N commit)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def segment_key(batch_id: int) -> str:
    return f"seg_{batch_id:08d}"


def sum_rows(rows: list[dict]) -> dict:
    """Collection totals over manifest rows: docs (maxDoc), the indexed
    fields in first-seen order, and per-field sumTotalTermFreq."""
    fields: list[str] = []
    by_field: dict[str, int] = {}
    for v in rows:
        fields += [f for f in v["fields"] if f not in fields]
        for f, s in v["sum_ttf_by_field"].items():
            by_field[f] = by_field.get(f, 0) + int(s)
    return {
        "docs": sum(v["docs"] for v in rows),
        "fields": fields,
        "sum_ttf_by_field": by_field,
    }


class IncrementalIndexer:
    """Append-only NRT index: each process_batch() call flushes one segment.

    Use directly (unit tests / manual micro-batching) or as a foreachBatch
    sink:

        indexer = IncrementalIndexer(out_dir)
        (stream.writeStream
              .foreachBatch(indexer.process_batch)
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True)
              .start())
    """

    def __init__(self, out_dir: str, analyzer: StandardAnalyzer | None = None,
                 text_col: str = "text", id_col: str = "doc_id"):
        self.out_dir = out_dir
        self.analyzer = analyzer or StandardAnalyzer()
        self.text_col = text_col
        self.id_col = id_col
        os.makedirs(out_dir, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.out_dir, "segments.json")

    def _load_manifest(self) -> dict[str, dict]:
        return read_json(self._manifest_path, {})

    def _commit_manifest(self, m: dict[str, dict]) -> None:
        write_json_atomic(self._manifest_path, m)

    # ------------------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: flush the micro-batch as segment seg_<id>.

        Idempotent per batch_id (foreachBatch may replay a batch after
        failure): an already-committed segment id is skipped — this plus
        the streaming checkpoint gives exactly-once index contents.

        The batch is tokenized once: build_index caches the postings while
        collecting the collection stats, and both parquet writes read that
        cache, which is released before the manifest commit."""
        key = segment_key(batch_id)
        manifest = self._load_manifest()
        if manifest.get(key, {}).get("status") == "committed":
            return
        t0 = time.time()
        idx = build_index(
            batch_df, text_col=self.text_col, id_col=self.id_col, analyzer=self.analyzer,
        )
        seg_dir = os.path.join(self.out_dir, "segments", key)
        try:
            idx.postings.write.mode("overwrite").parquet(os.path.join(seg_dir, "postings"))
            idx.doclens.write.mode("overwrite").parquet(os.path.join(seg_dir, "doclens"))
        finally:
            idx.unpersist()
        manifest[key] = {
            "status": "committed",
            "docs": idx.max_doc,
            "fields": list(idx.fields),
            "sum_ttf_by_field": idx.sum_ttf_by_field,
            "wall_sec": round(time.time() - t0, 4),
        }
        self._commit_manifest(manifest)

    # ------------------------------------------------------------------
    def maybe_merge(self, spark: SparkSession, max_segments: int = 10, merge_factor: int = 5) -> bool:
        """TieredMergePolicy analogue (Index/TieredMergePolicy.cs:82-89):
        when more than `max_segments` segments are committed, merge the
        `merge_factor` SMALLEST ones (by doc count) into a single segment.
        The manifest swap is atomic; old segment dirs are removed only
        after the new manifest is durable (the reference's deletion-policy
        ordering). Returns True if a merge ran.

        Amortized like the reference: repeated small flushes cost
        O(N log N) total merge work, and each merge is one bounded Spark
        job (read k small parquets -> write one), never a global rebuild.
        """
        import shutil

        manifest = self._load_manifest()
        committed = [(k, v) for k, v in manifest.items() if v["status"] == "committed"]
        if len(committed) <= max_segments:
            return False
        # Deletion-policy seam (Index/IndexDeletionPolicy.cs): segments
        # pinned by a SnapshotDeletionPolicy are never merge victims —
        # merging deletes the victim dirs, which would invalidate a
        # pinned commit point. The pin set is read from the DURABLE
        # snapshots.json (PersistentSnapshotDeletionPolicy: pins survive
        # process death, so a writer opened in a fresh process without a
        # policy instance must still honor them). No snapshots file =
        # the historical KeepOnlyLastCommit behavior.
        protected = SnapshotDeletionPolicy.protected_keys_in(self.out_dir)
        committed = [(k, v) for k, v in committed if k not in protected]
        committed.sort(key=lambda kv: (kv[1]["docs"], kv[0]))
        victims = committed[:merge_factor]
        if len(victims) < 2:
            return False  # a 1-segment "merge" is a no-op rewrite
        seg_root = os.path.join(self.out_dir, "segments")
        # Merge ids must be monotonic across the manifest's whole history:
        # len(manifest) shrinks after a merge and regrows with new batches,
        # so it can regenerate a live key and overwrite a surviving merged
        # segment's parquet before the manifest swap (data loss). Derive the
        # id from max(existing merge ids) + 1 and refuse to reuse any live
        # key/directory (the reference's IndexFileDeleter never reuses a
        # segment name for the same reason).
        merge_ids = [
            int(k[len("seg_m"):]) for k in manifest if k.startswith("seg_m")
        ] + [
            int(mk[len("seg_m"):])
            for v in manifest.values()
            for mk in v.get("merged_from", [])
            if mk.startswith("seg_m")
        ]
        merged_key = f"seg_m{(max(merge_ids) + 1) if merge_ids else 0:08d}"
        assert merged_key not in manifest, f"merge key {merged_key} already live"
        merged_dir = os.path.join(seg_root, merged_key)
        postings = spark.read.parquet(
            *[os.path.join(seg_root, k, "postings") for k, _ in victims]
        )
        doclens = spark.read.parquet(
            *[os.path.join(seg_root, k, "doclens") for k, _ in victims]
        )
        postings.repartitionByRange(max(1, postings.rdd.getNumPartitions() // 2), "term").write.mode(
            "overwrite"
        ).parquet(os.path.join(merged_dir, "postings"))
        doclens.write.mode("overwrite").parquet(os.path.join(merged_dir, "doclens"))
        for k, _ in victims:
            del manifest[k]
        manifest[merged_key] = {
            "status": "committed",
            **sum_rows([v for _, v in victims]),
            "wall_sec": 0.0,
            "merged_from": [k for k, _ in victims],
        }
        self._commit_manifest(manifest)
        for k, _ in victims:
            shutil.rmtree(os.path.join(seg_root, k), ignore_errors=True)
        return True

    # ------------------------------------------------------------------
    def record(self) -> tuple[str, ...]:
        """SearcherLifetimeManager.Record: a token naming the committed
        segment set as of NOW (the reference records the searcher's
        IndexReader version; here the version IS the sorted committed-key
        tuple). Pass it to acquire() to search that point in time after
        later batches commit."""
        manifest = self._load_manifest()
        return tuple(sorted(k for k, v in manifest.items() if v["status"] == "committed"))

    def acquire(self, spark: SparkSession, token: tuple[str, ...]) -> IndexSearcher | None:
        """SearcherLifetimeManager.Acquire: a searcher pinned to the
        recorded segment set — query results are as-of the record() call
        even though newer segments have committed since. Raises KeyError
        when a recorded segment no longer exists (pruned by a merge) —
        the reference returns null from Acquire after the searcher ages
        out; the explicit error keeps silent staleness impossible."""
        manifest = self._load_manifest()
        missing = [k for k in token if manifest.get(k, {}).get("status") != "committed"]
        if missing:
            raise KeyError(f"recorded segments pruned or uncommitted: {missing}")
        return self.refresh(spark, keys=list(token))

    def refresh(self, spark: SparkSession, keys: list[str] | None = None) -> IndexSearcher | None:
        """SearcherManager.MaybeRefresh: a searcher over all committed
        segments (None if nothing committed yet; `keys` restricts to a
        pinned subset for acquire()). Stats are recomputed globally
        across the visible segments, so scores stay exact as the index
        grows — the property TermContext.Build gives the reference."""
        manifest = self._load_manifest()
        if keys is None:
            keys = sorted(k for k, v in manifest.items() if v["status"] == "committed")
        if not keys:
            return None
        seg_root = os.path.join(self.out_dir, "segments")
        postings = spark.read.parquet(*[os.path.join(seg_root, k, "postings") for k in keys])
        doclens = spark.read.parquet(*[os.path.join(seg_root, k, "doclens") for k in keys])
        term_stats = postings.groupBy("field", "term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
        )
        tot = sum_rows([manifest[k] for k in keys])
        by_field = tot["sum_ttf_by_field"]
        idx = InvertedIndex(
            postings=postings,
            doclens=doclens,
            term_stats=term_stats,
            max_doc=tot["docs"],
            sum_ttf=by_field.get(tot["fields"][0], 0),
            analyzer=self.analyzer,
            fields=tuple(tot["fields"]),
            sum_ttf_by_field=by_field,
        )
        return IndexSearcher(idx)


class SnapshotDeletionPolicy:
    """Snapshot / release / rollback over IncrementalIndexer commit points
    (Index/SnapshotDeletionPolicy.cs + PersistentSnapshotDeletionPolicy.cs;
    restore semantics per IndexWriter.Rollback / the class doc's backup
    use case).

    A *commit point* here is the committed segment key-set at a moment —
    exactly the token ``SearcherLifetimeManager.record()`` returns (the
    reference's IndexCommit is the segments_N file naming the live
    segment set). ``snapshot()`` pins the CURRENT commit point against
    deletion: ``IncrementalIndexer.maybe_merge`` refuses to victimize any
    segment a live snapshot references (merging deletes victim dirs,
    which would invalidate the pinned commit — the reference instead
    keeps the old commit's files via IndexFileDeleter ref-counts;
    refusing the merge is the shared-storage equivalent with the same
    observable guarantee: a pinned commit stays openable).
    ``release()`` unpins; ``rollback()`` resets the index to a pinned
    commit point, dropping every segment committed after it — manifest
    swap FIRST, dir removal after (IndexFileDeleter ordering: a crash
    mid-rollback never loses a durable commit, only leaks reclaimable
    dirs). Snapshots persist in ``snapshots.json`` beside the manifest
    (PersistentSnapshotDeletionPolicy: snapshots survive process death).
    """

    def __init__(self, indexer: IncrementalIndexer):
        self.indexer = indexer
        # merge protection needs no wiring: maybe_merge reads the durable
        # snapshots.json via protected_keys_in(), so pins hold even in a
        # process that never constructs a policy object

    @property
    def _path(self) -> str:
        return os.path.join(self.indexer.out_dir, "snapshots.json")

    def _load_state(self) -> dict:
        """{"next_gen": int, "snaps": {sid: [segment keys]}} — the
        counter persists so a released/rolled-back snapshot's id is
        NEVER recycled (the reference never reuses a commit generation;
        reuse would let a replica mistake a new revision for one it
        already synced)."""
        return read_json(self._path, {"next_gen": 0, "snaps": {}})

    def _load(self) -> dict[str, list[str]]:
        return self._load_state()["snaps"]

    def _commit(self, snaps: dict[str, list[str]]) -> None:
        state = self._load_state()
        state["snaps"] = snaps
        write_json_atomic(self._path, state)

    # ------------------------------------------------------------------
    def snapshot(self) -> str:
        """Pin the current commit point; returns the snapshot id
        (SnapshotDeletionPolicy.Snapshot -> IndexCommit)."""
        keys = self.indexer.record()
        if not keys:
            raise ValueError("no committed segments to snapshot "
                             "(reference throws on no commits yet)")
        state = self._load_state()
        sid = f"snap_{state['next_gen']:08d}"
        state["next_gen"] += 1
        state["snaps"][sid] = list(keys)
        write_json_atomic(self._path, state)
        return sid

    def get_snapshot(self, sid: str) -> tuple[str, ...]:
        """The pinned commit point's segment key-set (GetSnapshots)."""
        snaps = self._load()
        if sid not in snaps:
            raise KeyError(f"unknown or released snapshot: {sid}")
        return tuple(snaps[sid])

    def release(self, sid: str) -> None:
        """Unpin (SnapshotDeletionPolicy.Release): the commit point's
        segments become merge victims again."""
        snaps = self._load()
        if sid not in snaps:
            raise KeyError(f"unknown or released snapshot: {sid}")
        del snaps[sid]
        self._commit(snaps)

    def protected_keys(self) -> set[str]:
        """Union of every live snapshot's segment set — what maybe_merge
        must not delete (IndexFileDeleter.IncRef on snapshotted commits)."""
        return self.protected_keys_in(self.indexer.out_dir)

    @staticmethod
    def protected_keys_in(out_dir: str) -> set[str]:
        """Durable pin set for an index directory, readable WITHOUT a
        policy instance — maybe_merge consults this so pins persist
        across processes (the Persistent variant's whole point)."""
        state = read_json(os.path.join(out_dir, "snapshots.json"), {})
        return {k for keys in state.get("snaps", {}).values() for k in keys}

    # ------------------------------------------------------------------
    def rollback(self, sid: str) -> None:
        """Reset the index to the pinned commit point: segments committed
        after the snapshot are dropped from the manifest, then their dirs
        removed. Snapshots that reference a now-dropped segment (i.e.
        taken after the restore target) are released automatically —
        their commit points no longer exist."""
        import shutil

        keep = set(self.get_snapshot(sid))
        manifest = self.indexer._load_manifest()
        missing = [k for k in keep
                   if manifest.get(k, {}).get("status") != "committed"]
        if missing:
            raise KeyError(f"snapshot {sid} references pruned segments: {missing}")
        victims = [k for k in manifest if k not in keep]
        new_manifest = {k: v for k, v in manifest.items() if k in keep}
        self.indexer._commit_manifest(new_manifest)  # durable FIRST
        snaps = {s: ks for s, ks in self._load().items()
                 if set(ks) <= keep}
        self._commit(snaps)
        seg_root = os.path.join(self.indexer.out_dir, "segments")
        for k in victims:
            shutil.rmtree(os.path.join(seg_root, k), ignore_errors=True)


class LiveFieldValues:
    """Read-your-writes field lookup (Search/LiveFieldValues.cs): values
    written since the last searcher refresh are served from a driver-side
    overlay map; once a refresh makes them searchable, the overlay is
    pruned and lookups fall through to the index.

    The reference keeps {id -> value} for in-flight docs keyed by the
    searcher generation; here the generation is the IncrementalIndexer's
    committed-segment set, and `lookup_fn` is any function resolving an id
    against the current searcher (e.g. a stored-fields lookup). The
    overlay is driver-resident and bounded by the write rate between
    refreshes — the same memory contract as the reference."""

    def __init__(self, lookup_fn=None):
        self._pending: dict = {}
        self._lookup_fn = lookup_fn

    def add(self, doc_id, value) -> None:
        """Record a write that is not yet searchable (IndexWriter.Add +
        LiveFieldValues.Add in the reference update path)."""
        self._pending[doc_id] = value

    def delete(self, doc_id) -> None:
        """Record a delete: lookups return None until the refresh."""
        self._pending[doc_id] = None

    def refreshed(self) -> None:
        """Called after the searcher refresh that made pending writes
        visible (SearcherLifetimeManager hook order): drop the overlay."""
        self._pending.clear()

    def get(self, doc_id):
        """Current value: overlay first (read-your-writes), then the
        searcher-backed lookup."""
        if doc_id in self._pending:
            return self._pending[doc_id]
        if self._lookup_fn is not None:
            return self._lookup_fn(doc_id)
        return None

    def __len__(self) -> int:
        return len(self._pending)


def live_overlay(
    committed: DataFrame,
    pending: DataFrame,
    *,
    id_col: str = "doc_id",
    deleted_col: str = "deleted",
) -> DataFrame:
    """The whole-table view LiveFieldValues serves point-wise: pending
    writes win over the committed searcher state, pending deletes hide the
    row entirely (Search/LiveFieldValues.cs:109-128 — overlay hit returns
    the written value, a stored `null` marks a delete, miss falls through
    to the current searcher).

    ``pending`` carries the same value columns as ``committed`` plus a
    boolean ``deleted_col``. Shape: one left-anti join (committed rows not
    overwritten) + union of surviving pending rows. The overlay is the
    writes-since-last-refresh set — small by the same contract that bounds
    the reference's in-memory map — so AQE broadcasts the anti-join side;
    after `refreshed()` the overlay is empty and the view IS the committed
    table."""
    value_cols = [c for c in committed.columns]
    surviving = pending.filter(~F.col(deleted_col)).select(*value_cols)
    deleted_or_written = pending.select(id_col)
    return (
        committed.join(deleted_or_written, id_col, "left_anti")
        .unionByName(surviving)
    )
