"""Gate registry part 5p: SnapshotDeletionPolicy snapshot + rollback.

The engine indexes the corpus in two micro-batches (even doc_ids, then
odd), snapshots the commit point between them, verifies the pin (a
tiered-merge pass must refuse to prune the snapshotted segment), then
ROLLS BACK to the snapshot and serves a BM25 top-k — so the query answer
must equal a one-shot build over ONLY the even-doc_id half. The oracle is
the standard BM25 prelude with every `documents` reference swapped for
the even-half subset (df/avgdl/N all recomputed over the restored commit
point, the property a real reader-on-IndexCommit has).

Reference: Index/SnapshotDeletionPolicy.cs (Snapshot/Release pinning),
PersistentSnapshotDeletionPolicy.cs (snapshots.json durability),
IndexWriter rollback/restore-from-backup semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lucenenet_spark.plans.gate import (
    SQL_PRELUDE,
    _SQL_SCORED,
    _Q,
    _spark_score_q,
    _tsc,
    gate,
)
from lucenenet_spark.search.queries import TermQuery

# BM25 prelude over the restored commit point: only even doc_ids exist.
# Rewrite via a placeholder that cannot match itself: "FROM documents d"
# (the dl CTE) first so the alias survives, then the bare occurrences,
# then expand the placeholder — a direct chained replace would re-match
# the "FROM documents" INSIDE the first substitution and double-nest it.
_EVEN = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
_SQL_PRELUDE_EVEN = (
    SQL_PRELUDE.replace("FROM documents d", "FROM __EVEN__ d")
    .replace("FROM documents", "FROM __EVEN__ documents")
    .replace("__EVEN__", _EVEN)
)

_SNAP_ENGINE: dict[str, object] = {}


def get_engine_snapshot(spark, sf_dir):
    """Two-batch incremental build + snapshot + pinned-merge check +
    rollback; cached per sf_dir like the other gate engines."""
    import os as _os
    import tempfile

    from lucenenet_spark.search.searcher import IndexSearcher
    from lucenenet_spark.streaming.incremental import (
        IncrementalIndexer,
        SnapshotDeletionPolicy,
    )

    key = _os.path.abspath(sf_dir)
    if key not in _SNAP_ENGINE:
        docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        out = tempfile.mkdtemp(prefix="snap_gate_")
        ix = IncrementalIndexer(out)
        policy = SnapshotDeletionPolicy(ix)
        ix.process_batch(docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0), 0)
        snap = policy.snapshot()
        ix.process_batch(docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1), 1)
        # The pin in action: both segments are merge candidates, but
        # seg 0 is snapshotted, leaving <2 victims -> the merge must
        # refuse (a merge deletes victim dirs, which would break the
        # pinned commit point and the rollback below).
        merged = ix.maybe_merge(spark, max_segments=1, merge_factor=2)
        assert not merged, "tiered merge pruned a snapshotted segment"
        policy.rollback(snap)
        s = ix.refresh(spark)
        _SNAP_ENGINE[key] = IndexSearcher(s.index, mode="double")
    return _SNAP_ENGINE[key]


@gate(
    "snapshot_rollback_term",
    _SQL_PRELUDE_EVEN + "," + _SQL_SCORED + f"""
SELECT doc_id, {_Q} AS score_q FROM ({_tsc('vector')})
ORDER BY score_q DESC, doc_id ASC LIMIT 10
""",
)
def snapshot_rollback_term(spark, sf_dir):
    """Top-10 for TermQuery('vector') served from the ROLLED-BACK commit
    point: identical to a fresh build over the even-doc_id half because
    rollback restores the manifest to the snapshot's exact segment set
    and refresh recomputes df/avgdl over only what that commit names."""
    s = get_engine_snapshot(spark, sf_dir)
    scored = _spark_score_q(s.scored(TermQuery("vector")))
    return scored.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(10)


# ==========================================================================
# Replicator: publish revisions on the master, sync a replica
# incrementally, serve the query FROM THE REPLICA. Two publish/update
# cycles so the second sync is a genuine incremental diff (only the new
# segment copies); the replica's answer must equal the full-corpus batch
# oracle because the final revision names every segment and the replica
# recomputes stats globally from its own manifest.
# ==========================================================================
_REPLICA_ENGINE: dict[str, object] = {}


def get_engine_replica(spark, sf_dir):
    import os as _os
    import tempfile

    from lucenenet_spark.index.replicator import (
        LocalReplicator,
        ReplicationClient,
    )
    from lucenenet_spark.search.searcher import IndexSearcher
    from lucenenet_spark.streaming.incremental import IncrementalIndexer

    key = _os.path.abspath(sf_dir)
    if key not in _REPLICA_ENGINE:
        docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        master = IncrementalIndexer(tempfile.mkdtemp(prefix="repl_master_"))
        replicator = LocalReplicator(master)
        client = ReplicationClient(replicator, tempfile.mkdtemp(prefix="repl_replica_"))
        master.process_batch(docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0), 0)
        replicator.publish()
        synced1 = client.update_now()
        master.process_batch(docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1), 1)
        replicator.publish()
        synced2 = client.update_now()
        noop = client.update_now()
        # plain calls above: the syncs are load-bearing and must run
        # even under python -O (assert-stripped)
        assert synced1 and synced2 and not noop, "replication lifecycle broken"
        s = client.indexer().refresh(spark)
        _REPLICA_ENGINE[key] = IndexSearcher(s.index, mode="double")
    return _REPLICA_ENGINE[key]


@gate(
    "replica_term_query",
    SQL_PRELUDE + "," + _SQL_SCORED + f"""
SELECT doc_id, {_Q} AS score_q FROM ({_tsc('merge')})
ORDER BY score_q DESC, doc_id ASC LIMIT 10
""",
)
def replica_term_query(spark, sf_dir):
    """Top-10 for TermQuery('merge') answered BY THE REPLICA after two
    incremental revision syncs — equal to the one-shot batch oracle over
    the whole corpus (both segments replicated; df/avgdl recomputed from
    the replica's own manifest)."""
    s = get_engine_replica(spark, sf_dir)
    scored = _spark_score_q(s.scored(TermQuery("merge")))
    return scored.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(10)


# ==========================================================================
# Two-phase commit + crash/resume (SegmentedIndexWriter's segments.json
# manifest — IndexWriter.cs two-phase commit, segments_N atomic rename):
# the build "crashes" after 2 of 4 segments, RESUMES (committed segments
# skipped, their manifest rows byte-untouched), merges term-sharded, and the
# served top-k must equal the one-shot full-corpus oracle. Previously
# pytest-only (test_segments.py); this puts the resume path under the
# DuckDB gate like every other load-bearing path.
# ==========================================================================
_TPC_ENGINE: dict[str, object] = {}


def get_engine_tpc(spark, sf_dir):
    import os as _os
    import tempfile

    from lucenenet_spark.index.segments import SegmentedIndexWriter
    from lucenenet_spark.search.searcher import IndexSearcher

    key = _os.path.abspath(sf_dir)
    if key not in _TPC_ENGINE:
        docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        w = SegmentedIndexWriter(
            out_dir=tempfile.mkdtemp(prefix="tpc_gate_"), num_segments=4
        )
        lineage = w.build(docs, fail_after=2)  # simulated crash
        done = sorted(k for k, v in lineage.items() if v["status"] == "committed")
        complete_after_crash = w.is_complete()
        lineage2 = w.build(docs)  # resume
        untouched = all(lineage2[k]["wall_sec"] == lineage[k]["wall_sec"]
                        for k in done)
        if complete_after_crash or len(done) != 2 or not untouched or not w.is_complete():
            raise AssertionError("two-phase-commit resume contract violated")
        idx = w.merge(spark)
        _TPC_ENGINE[key] = IndexSearcher(idx, mode="double")
    return _TPC_ENGINE[key]


@gate(
    "two_phase_commit_resume",
    SQL_PRELUDE + "," + _SQL_SCORED + f"""
SELECT doc_id, {_Q} AS score_q FROM ({_tsc('spark')})
ORDER BY score_q DESC, doc_id ASC LIMIT 10
""",
)
def two_phase_commit_resume(spark, sf_dir):
    """Top-10 for TermQuery('spark') over an index built crash -> resume
    -> term-sharded merge: identical to the one-shot oracle because
    resume skips exactly the durable segments and the merge re-aggregates
    stats globally."""
    s = get_engine_tpc(spark, sf_dir)
    scored = _spark_score_q(s.scored(TermQuery("spark")))
    return scored.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(10)
