"""MultiPassIndexSplitter: shard an index into N parts.

Reference: Misc/Index/MultiPassIndexSplitter.cs — makes one pass per
output part over the source reader, "deleting" every document outside
the part (FakeDeleteIndexReader) and merging the survivors into a fresh
index, so each part's statistics reflect only its own documents. The
default assignment is round-robin (doc id mod numParts); seq mode cuts
contiguous id ranges.

Spark mapping: the part predicate filters postings/doclens directly
(one pushdown-able filter, no data movement), then stats rebuild with
the same aggregation pass ForceMergeDeletes uses. Each shard is a fully
self-consistent InvertedIndex — df/ttf/avgdl/maxDoc all local to the
shard, exactly what the reference's per-part merge produces.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lucenenet_spark.index.builder import InvertedIndex
from lucenenet_spark.index.deletes import expunge_deletes


def split_index(
    index: InvertedIndex, n_shards: int, shard: int, seq: bool = False
) -> InvertedIndex:
    """Part `shard` of an `n_shards`-way split (round-robin by default,
    contiguous ranges with seq=True)."""
    if not 0 <= shard < n_shards:
        raise ValueError(f"shard {shard} out of range for {n_shards}")
    if seq:
        width = (index.max_doc + n_shards - 1) // n_shards
        pred = (F.col("doc_id") >= shard * width) & (
            F.col("doc_id") < (shard + 1) * width
        )
    else:
        pred = (F.col("doc_id") % n_shards) == shard
    filtered = InvertedIndex(
        postings=index.postings.filter(pred),
        doclens=index.doclens.filter(pred),
        term_stats=index.term_stats,  # rebuilt below
        max_doc=index.max_doc,
        sum_ttf_by_field=index.sum_ttf_by_field,
        analyzer=index.analyzer,
        fields=index.fields,
        analyzers=index.analyzers,
    )
    return expunge_deletes(filtered)


def pk_split_index(index: InvertedIndex, pred) -> tuple[InvertedIndex, InvertedIndex]:
    """PKIndexSplitter (Misc/Index/PKIndexSplitter.cs:34-95): split into
    (docsPassing, docsFailing) by an arbitrary filter — the reference
    builds index1 from the docs the filter accepts and index2 from the
    rest, each a fully self-consistent index (DocumentFilteredAtomicIndexReader
    rebuilds liveDocs, then the writer's AddIndexes merge localizes all
    statistics).

    `pred` is a Column predicate over doc_id (the primary key); it is a
    pushdown-able filter on both postings and doclens, so each side's
    stats rebuild reads only its own partition-pruned rows — no data
    movement beyond the stats re-aggregation either side already needs."""

    def _part(p) -> InvertedIndex:
        return expunge_deletes(
            InvertedIndex(
                postings=index.postings.filter(p),
                doclens=index.doclens.filter(p),
                term_stats=index.term_stats,  # rebuilt by expunge
                max_doc=index.max_doc,
                sum_ttf_by_field=index.sum_ttf_by_field,
                analyzer=index.analyzer,
                fields=index.fields,
                analyzers=index.analyzers,
            )
        )

    return _part(pred), _part(~pred)
