"""Index replication: revision publish + incremental replica sync.

Re-expresses the reference's Replicator module Spark-first
(src/Lucene.Net.Replicator/: IndexRevision.cs wraps an IndexCommit
pinned by a SnapshotDeletionPolicy; LocalReplicator.cs tracks the
current published revision and releases obsolete ones;
ReplicationClient.cs + IndexReplicationHandler.cs pull missing files,
verify, then atomically publish on the replica). The HTTP transport
(HttpReplicator.cs) is out of scope — the copy step is pluggable and
local-filesystem here; everything above it (revision manifests,
pinning, incremental diff, checksum verify, durable-first swap,
obsolete-file cleanup) is the reference protocol.

Why this shape scales: segments are immutable parquet directories, so a
replica sync is a pure *set diff* — copy only segment dirs the replica
lacks (the reference's SessionToken file diff), never rewrite existing
ones. A 100-TB index replicates incrementally at the cost of the new
segments only, and the replica serves searches through the same
IncrementalIndexer manifest machinery as the master.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

from lucenenet_spark.streaming.incremental import (
    IncrementalIndexer,
    SnapshotDeletionPolicy,
    read_json,
    write_json_atomic,
)


def _md5_file(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


@dataclass
class IndexRevision:
    """One publishable commit point (Replicator/IndexRevision.cs): the
    pinned snapshot id, its segment key-set, the per-segment manifest
    metadata, and a checksum manifest of every file the revision owns
    (RevisionFile name+size in the reference; +md5 here since parquet
    has no per-file CRC footer we track)."""

    id: str
    keys: tuple[str, ...]
    segments_meta: dict[str, dict]
    files: dict[str, tuple[int, str]] = field(default_factory=dict)  # relpath -> (size, md5)


class LocalReplicator:
    """Publication point (Replicator/LocalReplicator.cs): Publish() a new
    revision — pinning it via SnapshotDeletionPolicy so merges can't
    delete its files while replicas are mid-sync — and Release() the
    previous one once superseded (the reference releases an obsolete
    revision when no session holds it; single-client semantics here)."""

    def __init__(self, indexer: IncrementalIndexer,
                 policy: SnapshotDeletionPolicy | None = None):
        self.indexer = indexer
        self.policy = policy or SnapshotDeletionPolicy(indexer)
        self._current: IndexRevision | None = None

    def publish(self) -> IndexRevision:
        sid = self.policy.snapshot()
        keys = self.policy.get_snapshot(sid)
        manifest = self.indexer._load_manifest()
        seg_root = os.path.join(self.indexer.out_dir, "segments")
        files: dict[str, tuple[int, str]] = {}
        seg_digests: dict[str, list[str]] = {k: [] for k in keys}
        for k in keys:
            seg_dir = os.path.join(seg_root, k)
            for root, _dirs, names in os.walk(seg_dir):
                for n in sorted(names):
                    p = os.path.join(root, n)
                    rel = os.path.relpath(p, seg_root)
                    digest = _md5_file(p)
                    files[rel] = (os.path.getsize(p), digest)
                    seg_digests[k].append(f"{rel}:{digest}")
        # Per-segment content uid: a segment KEY can be recreated with
        # different bytes after a rollback + batch-id replay, so "same
        # key" is not "same segment" — the replica compares uids, not
        # key presence (the reference never reuses a segment name; our
        # streaming batch-id contract can, so the uid carries identity).
        segments_meta = {}
        for k in keys:
            uid = hashlib.md5("\n".join(sorted(seg_digests[k])).encode()).hexdigest()
            segments_meta[k] = {**manifest[k], "uid": uid}
        rev = IndexRevision(
            id=sid, keys=keys, segments_meta=segments_meta, files=files,
        )
        prev, self._current = self._current, rev
        if prev is not None:
            try:
                self.policy.release(prev.id)  # obsolete revision unpinned
            except KeyError:
                pass  # already auto-released (e.g. by a master rollback)
        return rev

    def current_revision(self) -> IndexRevision | None:
        """The latest published revision, or None when nothing valid is
        published — including after a master rollback invalidated the
        published commit point (its snapshot auto-released, its files
        possibly gone): the caller must publish() again rather than let
        a replica copy from a deleted segment dir."""
        rev = self._current
        if rev is None:
            return None
        try:
            self.policy.get_snapshot(rev.id)
        except KeyError:
            self._current = None
            return None
        return rev


class ReplicationClient:
    """Replica-side puller (Replicator/ReplicationClient.cs +
    IndexReplicationHandler.cs): UpdateNow() diffs the published
    revision against the replica's last-synced one, copies ONLY the
    missing segment dirs, verifies size+md5 per file, then publishes on
    the replica durable-first — segments.json swap BEFORE obsolete-dir
    cleanup, the same crash ordering the reference's handler enforces
    (copy to temp names, sync, then rename the commit). The replica is
    a plain IncrementalIndexer directory: ``searcher()`` serves from it
    with globally recomputed stats."""

    def __init__(self, replicator: LocalReplicator, replica_dir: str):
        self.replicator = replicator
        self.replica_dir = replica_dir
        os.makedirs(replica_dir, exist_ok=True)

    @property
    def _rev_path(self) -> str:
        return os.path.join(self.replica_dir, "revision.json")

    def _synced_revision(self) -> str | None:
        return read_json(self._rev_path, {}).get("id")

    def update_now(self) -> bool:
        """Sync to the currently published revision. Returns False when
        already current (the reference's no-op session), True after a
        copy. Raises ValueError on a checksum mismatch (torn source)."""
        rev = self.replicator.current_revision()
        if rev is None:
            raise ValueError("nothing published (or the published revision "
                             "was invalidated by a rollback — publish again)")
        if self._synced_revision() == rev.id:
            return False
        src_root = os.path.join(self.replicator.indexer.out_dir, "segments")
        dst_root = os.path.join(self.replica_dir, "segments")
        os.makedirs(dst_root, exist_ok=True)
        # a key counts as already-replicated only when its CONTENT uid
        # matches — a rollback + batch-id replay can recreate a key with
        # different bytes, and key-presence alone would serve stale data
        manifest_path = os.path.join(self.replica_dir, "segments.json")
        have_uids = {k: v.get("uid", "")
                     for k, v in read_json(manifest_path, {}).items()}
        have_dirs = set(os.listdir(dst_root))
        # bucket the file manifest by segment once (not per-segment scans)
        by_seg: dict[str, list[tuple[str, int, str]]] = {k: [] for k in rev.keys}
        for rel, (size, digest) in rev.files.items():
            seg = rel.split(os.sep, 1)[0]
            if seg in by_seg:
                by_seg[seg].append((rel, size, digest))
        for k in rev.keys:
            if k in have_dirs and have_uids.get(k) == rev.segments_meta[k]["uid"]:
                continue  # same content already replicated
            tmp = os.path.join(dst_root, f".{k}.copying")
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.copytree(os.path.join(src_root, k), tmp)
            for rel, size, digest in by_seg[k]:
                p = os.path.join(tmp, os.path.relpath(rel, k))
                if os.path.getsize(p) != size or _md5_file(p) != digest:
                    shutil.rmtree(tmp, ignore_errors=True)
                    raise ValueError(f"checksum mismatch replicating {rel}")
            final = os.path.join(dst_root, k)
            shutil.rmtree(final, ignore_errors=True)  # replaced recreated key
            os.replace(tmp, final)
        # durable-first publish on the replica: manifest naming exactly
        # the revision's keys, then the revision marker, then cleanup
        write_json_atomic(manifest_path, rev.segments_meta)
        write_json_atomic(self._rev_path, {"id": rev.id, "keys": list(rev.keys)})
        for k in set(os.listdir(dst_root)) - set(rev.keys):
            shutil.rmtree(os.path.join(dst_root, k), ignore_errors=True)
        return True

    def indexer(self) -> IncrementalIndexer:
        """The replica as a servable index (IndexReplicationHandler's
        reopened SearcherManager): same analyzer/columns as the master."""
        m = self.replicator.indexer
        return IncrementalIndexer(
            self.replica_dir, analyzer=m.analyzer,
            text_col=m.text_col, id_col=m.id_col,
        )
