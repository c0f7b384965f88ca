"""Deletes: IndexWriter.DeleteDocuments semantics as anti-joins.

Reference: deletes are buffered per-term/query and applied as a liveDocs
bitset (Index/BufferedUpdatesStream.cs:181; Codecs/Lucene40/
Lucene40LiveDocsFormat.cs); crucially, collection statistics (docFreq,
sumTotalTermFreq, maxDoc) still COUNT deleted docs until the segments are
merged away (IndexReader.DocFreq doc-comment: "does not take deleted
documents into account... until they are merged out").

Spark mapping:
- apply_deletes(index, docset): postings/doclens anti-joined against the
  deleted doc set, STATS UNCHANGED -> matches Lucene's pre-merge scoring
  (same idf/avgdl, deleted docs just stop matching).
- expunge_deletes(index): ForceMergeDeletes analogue — recompute
  term_stats/max_doc/sumTotalTermFreq from the surviving postings and
  doclens (`collection_totals`, shared with build_index) so stats reflect
  only live docs (what a full merge produces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucenenet_spark.index.builder import InvertedIndex, collection_totals


def apply_deletes(index: InvertedIndex, deleted: DataFrame) -> InvertedIndex:
    """Live-docs view: `deleted` is a DataFrame[doc_id]. Stats keep
    counting deleted docs (pre-merge Lucene semantics)."""
    dels = deleted.select("doc_id").distinct()
    return InvertedIndex(
        postings=index.postings.join(dels, "doc_id", "left_anti"),
        doclens=index.doclens.join(dels, "doc_id", "left_anti"),
        term_stats=index.term_stats,  # stats unchanged until merge
        max_doc=index.max_doc,
        sum_ttf_by_field=index.sum_ttf_by_field,
        analyzer=index.analyzer,
        fields=index.fields,
        analyzers=index.analyzers,
    )


def delete_by_term(index: InvertedIndex, term: str, field: str | None = None) -> InvertedIndex:
    """IndexWriter.DeleteDocuments(Term): drop every doc containing the
    term (the reference's update-by-term primitive)."""
    fld = field or index.default_field
    dels = (
        index.postings.filter((F.col("field") == fld) & (F.col("term") == term))
        .select("doc_id")
    )
    return apply_deletes(index, dels)


def expunge_deletes(index: InvertedIndex) -> InvertedIndex:
    """ForceMergeDeletes: rebuild stats from surviving postings/doclens
    (one count/sum aggregation pass — map-side combined, skew-free)."""
    term_stats = index.postings.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )
    max_doc, by_field = collection_totals(index.doclens)
    return InvertedIndex(
        postings=index.postings,
        doclens=index.doclens,
        term_stats=term_stats,
        max_doc=max_doc,
        sum_ttf_by_field=by_field,
        analyzer=index.analyzer,
        fields=index.fields,
        analyzers=index.analyzers,
    )
