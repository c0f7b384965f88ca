"""Segmented index construction: checkpoint-resumable, with per-segment
throughput metrics, and a term-sharded merge.

Mirrors the reference's segment architecture (SURVEY.md §3.1), where a bulk
build and an NRT flush write segments the same way and differ only in how
many they write and when they merge:
- a *segment* is an immutable mini-index built from a disjoint slice of the
  corpus (reference: DocumentsWriterPerThread flush -> SegmentInfo;
  src/Lucene.Net/Index/SegmentInfos.cs) — ours is a doc_id-range slice,
  flushed by `IncrementalIndexer.process_batch` as parquet under
  segments/seg_XXXXXXXX/;
- the indexer's ``segments.json`` plays segments_N + two-phase commit
  (IndexWriter.cs:2310-2798): a segment is visible iff its row with
  status='committed' exists, and the row is written only after the
  segment's parquet is fully flushed. Resume = skip committed segments
  (north_rule: "resumable from checkpoint with per-partition lineage");
- *merge* re-shards all segment postings by term (SegmentMerger.cs:89-148
  as a shuffle): because segments hold disjoint doc ranges, postings rows
  concatenate without conflict and term_stats re-aggregate with map-side
  partial sums — heavy (stopword-like) terms therefore never concentrate
  in a single reducer during the build, only during the final by-term
  sort where AQE handles residual skew.

Build metrics: docs, postings, bytes, wall sec, docs/sec, postings/sec —
the rec/s reporting shape of the reference benchmark framework
(Lucene.Net.Benchmark ByTask/Tasks/ReportTask.cs:56-57).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucenenet_spark.analysis.analyzers import StandardAnalyzer
from lucenenet_spark.index.builder import InvertedIndex
from lucenenet_spark.streaming.incremental import IncrementalIndexer, segment_key


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers only."""
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


@dataclass
class SegmentedIndexWriter:
    """Builds an index as N doc-range segments of an IncrementalIndexer."""

    out_dir: str
    num_segments: int = 8
    analyzer: StandardAnalyzer | None = None

    def _indexer(self, text_col: str = "text", id_col: str = "doc_id") -> IncrementalIndexer:
        return IncrementalIndexer(self.out_dir, self.analyzer, text_col, id_col)

    # ------------------------------------------------------------------
    def build(
        self,
        corpus: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        fail_after: int | None = None,
    ) -> dict[str, dict]:
        """Build all not-yet-committed segments; returns the manifest rows.

        `fail_after` stops after that many newly built segments (test hook
        for crash/resume).
        """
        ix = self._indexer(text_col, id_col)
        done = set(ix.record())
        n_docs = corpus.count()
        seg_size = (n_docs + self.num_segments - 1) // self.num_segments
        built = 0
        for seg in range(self.num_segments):
            if segment_key(seg) in done:
                continue  # checkpoint-resume: already durable
            lo, hi = seg * seg_size, min((seg + 1) * seg_size, n_docs)
            ix.process_batch(corpus.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi)), seg)
            built += 1
            if fail_after is not None and built >= fail_after:
                break
        return ix._load_manifest()

    def is_complete(self) -> bool:
        done = set(self._indexer().record())
        return all(segment_key(s) in done for s in range(self.num_segments))

    # ------------------------------------------------------------------
    def merge(self, spark: SparkSession, num_term_partitions: int = 8) -> InvertedIndex:
        """Term-sharded merge of all committed segments into the final index
        layout (SegmentMerger as one shuffle + re-aggregation)."""
        assert self.is_complete(), "cannot merge an incomplete build"
        idx = self._indexer().refresh(spark).index
        final_dir = os.path.join(self.out_dir, "index")
        idx.save(final_dir, num_term_partitions=num_term_partitions)
        return InvertedIndex.load(spark, final_dir, analyzer=idx.analyzer)

    def metrics(self) -> dict:
        """Aggregate build metrics (docs/sec, postings/sec, bytes): docs and
        wall time from the manifest, bytes and postings from the segment
        directories."""
        rows = self._indexer()._load_manifest()
        seg_root = os.path.join(self.out_dir, "segments")
        wall = sum(r["wall_sec"] for r in rows.values())
        docs = sum(r["docs"] for r in rows.values())
        postings = sum(_parquet_rows(os.path.join(seg_root, k, "postings")) for k in rows)
        return {
            "segments": len(rows),
            "docs": docs,
            "postings": postings,
            "bytes": sum(_dir_bytes(os.path.join(seg_root, k)) for k in rows),
            "wall_sec": round(wall, 4),
            "docs_per_sec": round(docs / wall, 2) if wall else None,
            "postings_per_sec": round(postings / wall, 2) if wall else None,
        }
