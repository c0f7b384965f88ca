"""Inverted-index construction as a PySpark DataFrame pipeline.

The write path (reference trace: IndexWriter.AddDocument ->
DocumentsWriterPerThread -> FreqProxTermsWriter -> flush; SURVEY.md §3.1)
collapses into one corpus scan whose output is cached and read three ways:

    corpus --mapInArrow(tokenize + invert)--> inverted rows (cached):
        one row per (field, term, doc): tf, positions, dl, norm_byte
        one doc row per (doc, field):   term NULL, tf 0, dl, norm_byte
    inverted --term IS NOT NULL----> postings
    inverted --term IS NULL--------> doclens (doc_id, field, dl, norm_byte)
    doclens  --groupBy(field)------> maxDoc, sumTotalTermFreq (one collect)
    postings --groupBy(field, term)--> term_stats (df, ttf)

Like DocInverterPerField, the loop that inverts a field's tokens also
measures the field's length and its norm; nothing re-counts the corpus
or joins it back to the postings.

Scale design (10^12 docs):
- The inversion is complete within each Arrow batch (a document's tokens
  never cross a partition boundary), so postings and doclens need no
  shuffle at all.
- `term_stats` and the collection totals use only count/sum aggregates,
  so Spark's partial (map-side) aggregation absorbs heavy terms; we never
  `collect_list` an entire term's postings into one task (the skew trap
  the reference avoids with per-thread segment writers + merges).
- Norms (`norm_byte`) are denormalized into posting rows at build time:
  queries then score without a postings⋈doclens join (Lucene reads norms
  from a per-segment sidecar file — .nvd — which is the same denorm idea).
- The persisted postings table is range-partitioned and sorted by `term`, so
  a term lookup becomes parquet min/max pruning + predicate pushdown — the
  Spark analogue of the BlockTree term dictionary seek
  (reference: src/Lucene.Net/Codecs/BlockTreeTermsWriter.cs:57-64).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucenenet_spark.analysis.analyzers import StandardAnalyzer
from lucenenet_spark.index.smallfloat import byte315_to_float, encode_norm

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
        T.StructField("dl", T.IntegerType(), False),
        T.StructField("norm_byte", T.IntegerType(), False),
    ]
)


def _inverter_map(
    analyzers: dict[str, StandardAnalyzer], id_col: str, with_positions: bool,
    with_payloads: bool = False,
):
    """mapInArrow: corpus batches -> FULLY INVERTED posting rows, plus one
    doc row per (doc, field).

    The DWPT insight (reference Index/DocumentsWriterPerThread.cs): a
    document's tokens never cross a partition boundary, so the per-(doc,
    term) aggregation — tf, sorted positions, field length, quantized norm
    (NormsConsumerPerField.cs:56) — is complete within the Arrow batch.
    Neither postings nor doclens need a shuffle; only the (small-output)
    term_stats and per-field totals aggregations do.

    Doc rows carry `term` NULL, `tf` 0, NULL positions/payloads and the
    field's `dl`/`norm_byte`. Every input row yields one per field,
    token-free rows (NULL, empty or stopword-only text) included: dl=0 and
    the norm of length 0 (the missing-norms contract), so doclens, maxDoc
    and sumTotalTermFreq all come from this one pass.

    Multi-field: `analyzers` maps each indexed column to its analyzer
    (per-field analysis a la PerFieldAnalyzerWrapper). One corpus scan
    inverts every field — each field of each batch yields a RecordBatch
    tagged with a constant `field` column, so Term=(field, bytes) is a
    first-class row key (reference: src/Lucene.Net/Index/Term.cs:34;
    per-field norms per NormsConsumerPerField.cs:56).

    All batch work stays in C kernels: flat tokenize, stable lexsort by
    (row, term-code), boundary-diff tf counts, and the positions column is
    built as an Arrow ListArray directly from (offsets, flat values) —
    zero per-group Python objects (the naive list-of-lists construction
    was ~10x the cost of everything else combined).
    """
    import pyarrow as pa

    arrow_fields = [
        pa.field("field", pa.string()),
        pa.field("term", pa.string()),
        pa.field("doc_id", pa.int64()),
        pa.field("tf", pa.int32()),
    ]
    if with_positions:
        arrow_fields.append(pa.field("positions", pa.list_(pa.int32())))
    if with_payloads:
        # per-position payload values, parallel to positions
        # (Search/Payloads/; see analysis/payloads.py)
        arrow_fields.append(pa.field("payloads", pa.list_(pa.float32())))
    arrow_fields += [pa.field("dl", pa.int32()), pa.field("norm_byte", pa.int32())]
    out_schema = pa.schema(arrow_fields)
    list_types = [f.type for f in arrow_fields if f.name in ("positions", "payloads")]

    def invert(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            n_rows = batch.num_rows
            doc_ids = batch.column(batch.schema.get_field_index(id_col)).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            for fld, analyzer in analyzers.items():
                text_arr = batch.column(batch.schema.get_field_index(fld))
                routing = getattr(analyzer, "routing_col", None)
                if routing is not None:
                    # per-document-language dispatch (LanguageRoutedAnalyzer):
                    # the routing column rides along in the same batch, so
                    # routing costs no extra scan and no shuffle
                    lang_arr = batch.column(batch.schema.get_field_index(routing))
                    row_idx, terms, positions, field_lens = (
                        analyzer.tokenize_batch_routed(
                            text_arr.to_pandas(), lang_arr.to_pandas()
                        )
                    )
                    payloads = None
                    codes_np, uniques = pd.factorize(pd.Series(terms), sort=False)
                    codes = codes_np.astype(np.int64)
                    dictionary = pa.array(np.asarray(uniques, dtype=object), type=pa.string())
                elif analyzer.supports_arrow_fast_path:
                    row_idx, codes, dictionary, positions, field_lens = (
                        analyzer.tokenize_batch_arrow(text_arr)
                    )
                    payloads = None
                else:
                    res = analyzer.tokenize_batch(text_arr.to_pandas())
                    if len(res) == 5:
                        row_idx, terms, positions, field_lens, payloads = res
                    else:
                        row_idx, terms, positions, field_lens = res
                        payloads = None
                    codes_np, uniques = pd.factorize(pd.Series(terms), sort=False)
                    codes = codes_np.astype(np.int64)
                    dictionary = pa.array(np.asarray(uniques, dtype=object), type=pa.string())
                field_lens = np.asarray(field_lens, dtype=np.int32)
                norm_bytes = encode_norm(field_lens).astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.repeat(fld, n_rows),
                        pa.nulls(n_rows, pa.string()),
                        pa.array(doc_ids, type=pa.int64()),
                        pa.array(np.zeros(n_rows, dtype=np.int32), type=pa.int32()),
                        *[pa.nulls(n_rows, t) for t in list_types],
                        pa.array(field_lens, type=pa.int32()),
                        pa.array(norm_bytes, type=pa.int32()),
                    ],
                    schema=out_schema,
                )
                if len(codes) == 0:
                    continue
                # stable sort by (row, code); positions stay ascending per group
                order = np.lexsort((codes, row_idx))
                r_s, c_s, p_s = row_idx[order], codes[order], positions[order]
                boundary = np.flatnonzero(np.diff(r_s) | np.diff(c_s).astype(bool))
                starts = np.concatenate(([0], boundary + 1))
                counts = np.diff(np.concatenate((starts, [len(r_s)])))
                g_rows = r_s[starts]

                term_arr = dictionary.take(pa.array(c_s[starts], type=pa.int64()))
                if isinstance(term_arr, pa.ChunkedArray):
                    term_arr = term_arr.combine_chunks()
                cols = [
                    pa.repeat(fld, len(starts)),
                    term_arr,
                    pa.array(doc_ids[g_rows], type=pa.int64()),
                    pa.array(counts.astype(np.int32), type=pa.int32()),
                ]
                if with_positions:
                    offsets = np.concatenate((starts, [len(p_s)])).astype(np.int32)
                    cols.append(
                        pa.ListArray.from_arrays(
                            pa.array(offsets, type=pa.int32()),
                            pa.array(p_s.astype(np.int32), type=pa.int32()),
                        )
                    )
                if with_payloads:
                    if payloads is not None:
                        pl_s = np.asarray(payloads, dtype=np.float32)[order]
                    else:
                        pl_s = np.ones(len(r_s), dtype=np.float32)
                    pl_offsets = np.concatenate((starts, [len(pl_s)])).astype(np.int32)
                    cols.append(
                        pa.ListArray.from_arrays(
                            pa.array(pl_offsets, type=pa.int32()),
                            pa.array(pl_s, type=pa.float32()),
                        )
                    )
                cols += [
                    pa.array(field_lens[g_rows], type=pa.int32()),
                    pa.array(norm_bytes[g_rows], type=pa.int32()),
                ]
                yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return invert


@dataclass
class InvertedIndex:
    """A built index: three DataFrames + global collection statistics.

    Collection stats are GLOBAL (summed across all partitions before any
    scoring), which is what makes distributed BM25 exact — mirrors
    TermContext.Build accumulating df/ttf across segments
    (reference: src/Lucene.Net/Index/TermContext.cs:90,141-144)."""

    postings: DataFrame  # field, term, doc_id, tf, positions[], dl, norm_byte
    doclens: DataFrame  # doc_id, field, dl, norm_byte
    term_stats: DataFrame  # field, term, df, ttf
    max_doc: int
    sum_ttf_by_field: dict[str, int]  # per-field sumTotalTermFreq
    analyzer: StandardAnalyzer = field(default_factory=StandardAnalyzer)
    fields: tuple[str, ...] = ("text",)
    analyzers: dict[str, StandardAnalyzer] | None = None  # per-field override
    n_terms: int | None = None  # dictionary size; persisted by save(), else counted once
    # the cached inverter output postings and doclens are filtered from
    # (build_index only); cache()/unpersist() act on it instead of the views
    _inverted: DataFrame | None = field(default=None, init=False, repr=False, compare=False)

    def count_terms(self) -> int:
        """Dictionary row count, memoized ON THE INDEX so the many
        searchers a long-lived session opens over one index never repeat
        the full term_stats scan (r5 verdict: the per-searcher count()
        was per-instance overhead at scale); save()/load() persist it so
        a loaded index never runs the job at all."""
        if self.n_terms is None:
            self.n_terms = int(self.term_stats.count())
        return self.n_terms

    @property
    def default_field(self) -> str:
        return self.fields[0]

    def analyzer_for(self, fld: str) -> StandardAnalyzer:
        if self.analyzers and fld in self.analyzers:
            return self.analyzers[fld]
        return self.analyzer

    def _sttf(self, fld: str) -> int:
        """sumTotalTermFreq for one field (CollectionStatistics is
        per-field in the reference: IndexSearcher.cs:1129-1154)."""
        return int(self.sum_ttf_by_field.get(fld, 0))

    @property
    def sum_ttf(self) -> int:
        """The default field's sumTotalTermFreq."""
        return self._sttf(self.default_field)

    def avgdl_for(self, fld: str) -> float:
        """float32(sumTotalTermFreq(field) / (double) maxDoc) —
        BM25Similarity.cs AvgFieldLength; maxDoc is collection-global."""
        s = self._sttf(fld)
        if s <= 0:
            return 1.0
        return float(np.float32(s / float(self.max_doc)))

    def avgdl_double_for(self, fld: str) -> float:
        s = self._sttf(fld)
        if s <= 0:
            return 1.0
        return s / float(self.max_doc)

    @property
    def avgdl(self) -> float:
        return self.avgdl_for(self.default_field)

    @property
    def avgdl_double(self) -> float:
        return self.avgdl_double_for(self.default_field)

    def all_docs(self) -> DataFrame:
        """One row per doc (doclens has one row per (doc, field); the
        default field's slice covers every doc exactly once)."""
        return self.doclens.filter(F.col("field") == self.default_field).select("doc_id")

    def _tables(self) -> list[DataFrame]:
        """The relations cache()/unpersist() manage: a built index's one
        inverter output (postings and doclens are filters over it), else
        postings and doclens themselves; term_stats either way."""
        if self._inverted is not None:
            return [self._inverted, self.term_stats]
        return [self.postings, self.doclens, self.term_stats]

    def cache(self) -> "InvertedIndex":
        for df in self._tables():
            df.cache()
        return self

    def unpersist(self) -> "InvertedIndex":
        """Release the cached index tables (IndexReader.close analogue)."""
        for df in self._tables():
            df.unpersist()
        return self

    # ------------------------------------------------------------------
    def save(
        self,
        path: str,
        num_term_partitions: int = 8,
        bloom_filter_terms: bool = False,
        term_ndv: int = 1 << 20,
    ) -> None:
        """Persist as parquet laid out for query-time pruning.

        postings sorted by (term, doc_id) inside term-range partitions →
        parquet row-group min/max stats give term seek (BlockTree analogue);
        doc_id sort keeps posting lists sequential for merge-join scans.

        bloom_filter_terms=True additionally writes parquet bloom filters
        on the `term` column of postings and term_stats — the columnar
        analogue of the reference's BloomFilteringPostingsFormat
        (src/Lucene.Net.Codecs/Bloom/BloomFilteringPostingsFormat.cs):
        a point term seek skips whole row groups whose bloom filter
        rejects the term, before the min/max range check even runs. Size
        the filters with `term_ndv` ≈ distinct terms per file (at 100 TB,
        pass the real vocabulary estimate; over-sizing only costs bytes,
        under-sizing only costs false positives — never correctness).
        Note parquet-mr only materializes the bloom filter when the
        column chunk falls back from dictionary encoding (vocabulary >
        parquet.dictionary.page.size, 1 MB default) — exactly the
        web-scale regime where the seek aid matters; tiny-vocabulary
        files keep their dictionary, which already IS an exact filter."""

        def _bloom(writer):
            if bloom_filter_terms:
                writer = writer.option(
                    "parquet.bloom.filter.enabled#term", "true"
                ).option(
                    "parquet.bloom.filter.expected.ndv#term", str(term_ndv)
                )
            return writer

        _bloom(
            self.postings.repartitionByRange(num_term_partitions, "term")
            .sortWithinPartitions("term", "field", "doc_id")
            .write.mode("overwrite")
        ).parquet(os.path.join(path, "postings"))
        self.doclens.repartitionByRange(max(1, num_term_partitions // 2), "doc_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "doclens"))
        _bloom(
            self.term_stats.repartitionByRange(num_term_partitions, "term").sortWithinPartitions(
                "term", "field"
            ).write.mode("overwrite")
        ).parquet(os.path.join(path, "term_stats"))
        with open(os.path.join(path, "stats.json"), "w") as f:
            json.dump(
                {
                    "max_doc": self.max_doc,
                    "fields": list(self.fields),
                    "sum_ttf_by_field": self.sum_ttf_by_field,
                    # persisted so a loaded index's first query never runs
                    # a full dictionary count (searcher dict-vs-pushdown
                    # decision reads it)
                    "n_terms": self.count_terms(),
                },
                f,
            )

    @classmethod
    def load(cls, spark: SparkSession, path: str, analyzer: StandardAnalyzer | None = None):
        with open(os.path.join(path, "stats.json")) as f:
            stats = json.load(f)
        return cls(
            postings=spark.read.parquet(os.path.join(path, "postings")),
            doclens=spark.read.parquet(os.path.join(path, "doclens")),
            term_stats=spark.read.parquet(os.path.join(path, "term_stats")),
            max_doc=stats["max_doc"],
            sum_ttf_by_field={k: int(v) for k, v in stats["sum_ttf_by_field"].items()},
            analyzer=analyzer or StandardAnalyzer(),
            fields=tuple(stats.get("fields", ["text"])),
            n_terms=(
                int(stats["n_terms"]) if stats.get("n_terms") is not None else None
            ),
        )


def build_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: StandardAnalyzer | None = None,
    with_positions: bool = True,
    fields: list[str] | dict[str, StandardAnalyzer] | None = None,
) -> InvertedIndex:
    """Tokenize + invert a corpus DataFrame into an InvertedIndex.

    One mapInArrow pass (tokenize, vectorized) inverts EVERY indexed field
    in a single corpus scan and is cached. Its posting rows are
    `postings`; its doc rows (one per (doc, field), norms from the
    tokenizer) are `doclens`, so there is no corpus⋈postings join.
    term_stats re-aggregates postings with map-side partial count/sum
    (heavy terms never collect in one task); maxDoc and per-field
    sumTotalTermFreq come from one groupBy(field) collect over doclens —
    the build's only driver round-trip.

    `fields`: extra/alternative indexed columns — a list (all use
    `analyzer`) or a dict column->analyzer (PerFieldAnalyzerWrapper,
    reference Analysis/Analyzer.cs). Default: just `text_col`. The FIRST
    entry is the default search field. Per-field norms and sumTotalTermFreq
    follow BM25Similarity.cs:91-102 / NormsConsumerPerField.cs:56.

    `with_positions=False` mirrors IndexOptions.DOCS_AND_FREQS (drops the
    positions array; phrase queries then unavailable) — FieldInfo.cs:316-356.
    The inverter output is cached (MEMORY_AND_DISK) since every table
    derives from it; the caller releases it with `unpersist()`.
    """
    analyzer = analyzer or StandardAnalyzer()
    if fields is None:
        analyzers = {text_col: analyzer}
    elif isinstance(fields, dict):
        analyzers = dict(fields)
    else:
        analyzers = {f: analyzer for f in fields}
    field_names = list(analyzers)

    with_payloads = any(
        getattr(a, "emits_payloads", False) for a in analyzers.values()
    )
    # `term` is nullable here (doc rows); declared non-null, the optimizer
    # would fold the IS [NOT] NULL filters below to constants
    schema_fields = [
        T.StructField("term", T.StringType(), True) if f.name == "term" else f
        for f in POSTINGS_SCHEMA.fields
        if with_positions or f.name != "positions"
    ]
    if with_payloads:
        at = next(
            i for i, f in enumerate(schema_fields) if f.name == "dl"
        )
        schema_fields.insert(
            at, T.StructField("payloads", T.ArrayType(T.FloatType()), True)
        )
    schema = T.StructType(schema_fields)
    routing_cols = sorted(
        {getattr(a, "routing_col", None) for a in analyzers.values()}
        - {None} - set(field_names)
    )
    inverted = corpus.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.col(f).alias(f) for f in field_names],
        *[F.col(c).alias(c) for c in routing_cols],
    ).mapInArrow(
        _inverter_map(analyzers, "doc_id", with_positions, with_payloads), schema
    ).persist()
    postings = inverted.filter(F.col("term").isNotNull())
    doclens = inverted.filter(F.col("term").isNull()).select(
        "doc_id", "field", "dl", "norm_byte"
    )
    term_stats = postings.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )
    max_doc, by_field = collection_totals(doclens)
    idx = InvertedIndex(
        postings=postings,
        doclens=doclens,
        term_stats=term_stats,
        max_doc=max_doc,
        sum_ttf_by_field=by_field,
        analyzer=analyzer,
        fields=tuple(field_names),
        analyzers=analyzers if len(field_names) > 1 else None,
    )
    idx._inverted = inverted
    return idx


def collection_totals(doclens: DataFrame) -> tuple[int, dict[str, int]]:
    """(maxDoc, {field: sumTotalTermFreq}) from doclens in one groupBy
    (field) count/sum collect. Every doc has one doclens row per field,
    so a field's row count is maxDoc and the sum of its dl is its
    sumTotalTermFreq (token-free docs add 0)."""
    rows = doclens.groupBy("field").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sttf")
    ).collect()
    by_field = {r["field"]: int(r["sttf"] or 0) for r in rows}
    return max((int(r["n"]) for r in rows), default=0), by_field


def assign_doc_ids(df: DataFrame, order_col: str = "url", num_partitions: int | None = None) -> DataFrame:
    """Assign deterministic dense doc_ids = rank of `order_col` (0-based).

    Reference docIDs are arrival-order per segment + segment docBase
    (DocumentsWriterPerThread.cs:278; ReaderUtil.SubIndex); for
    cluster-size-invariant results ours is a pure function of the data:
    dense rank of a stable key.

    Scalable two-phase (no global window, no single-partition shuffle):
    range-partition + sort by the key, count rows per partition (tiny
    driver-side collect), then add each partition's cumulative offset to its
    local row index. repartitionByRange guarantees partition i holds keys
    strictly below partition i+1, so offset+local == global dense rank.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # PERSIST before the two jobs: repartitionByRange picks its range
    # boundaries by SAMPLING with a seed derived from the RDD id, so
    # recomputing the plan for the counts job and the id-assignment job can
    # yield DIFFERENT partition boundaries -> duplicate/missing doc_ids.
    # Materializing once pins the boundaries for both reads.
    parted = (
        df.repartitionByRange(n, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["cnt"] for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    schema = T.StructType(
        [f for f in parted.schema.fields if f.name != "_pid"]
        + [T.StructField("doc_id", T.LongType(), False)]
    )
    out_cols = [f.name for f in schema.fields]

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in batches:
            base = offsets.get(int(pdf["_pid"].iloc[0]), 0) if len(pdf) else 0
            pdf = pdf.copy()
            pdf["doc_id"] = np.arange(local, local + len(pdf), dtype=np.int64) + base
            local += len(pdf)
            yield pdf[out_cols]

    return parted.mapInPandas(add_ids, schema)


def decoded_doclen(norm_byte_col):
    """Approximate doc length back from the quantized norm byte:
    decode(b) = 1/f(b)^2 (BM25Similarity NORM_TABLE)."""
    table = byte315_to_float(np.arange(256, dtype=np.uint8)).astype(np.float64)
    with np.errstate(divide="ignore"):
        vals = (1.0 / (table * table)).tolist()
    arr = F.array(*[F.lit(float(v)) for v in vals])
    return F.element_at(arr, norm_byte_col + 1)


def add_indexes(*indexes: InvertedIndex) -> InvertedIndex:
    """IndexWriter.AddIndexes(Directory[]) analogue: concatenate indexes
    into one, rebasing doc ids by each prior index's docBase
    (reference: src/Lucene.Net/Index/IndexWriter.cs AddIndexes — segments
    are appended with docBase = sum of previous maxDocs;
    ReaderUtil.SubIndex). Collection statistics (df, ttf, sumTotalTermFreq,
    maxDoc) are re-aggregated from the unioned postings, so BM25 over the
    combined index equals a single build over the concatenated corpus.

    Pure DataFrame unions + one small max(doc_id) lookup per input — the
    unions are narrow (no shuffle); only the term_stats re-aggregation
    shuffles, with map-side partial sums."""
    from functools import reduce as _reduce

    assert indexes, "add_indexes needs at least one index"
    first = indexes[0]
    fields = first.fields
    for ix in indexes[1:]:
        if ix.fields != fields:
            raise ValueError(f"field mismatch: {ix.fields} != {fields}")
        if set(ix.postings.columns) != set(first.postings.columns):
            raise ValueError("postings schema mismatch between indexes")

    base = 0
    posts, dls = [], []
    for ix in indexes:
        hi_row = ix.doclens.agg(F.max("doc_id")).collect()[0][0]
        hi = int(hi_row) if hi_row is not None else -1
        shift = base
        posts.append(
            ix.postings.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
        )
        dls.append(
            ix.doclens.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
        )
        base += hi + 1

    postings = _reduce(lambda a, b: a.unionByName(b), posts)
    doclens = _reduce(lambda a, b: a.unionByName(b), dls)
    term_stats = (
        _reduce(lambda a, b: a.unionByName(b), [ix.term_stats for ix in indexes])
        .groupBy("field", "term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
    )
    max_doc = sum(ix.max_doc for ix in indexes)
    by_field: dict[str, int] = {}
    for ix in indexes:
        for k, v in ix.sum_ttf_by_field.items():
            by_field[k] = by_field.get(k, 0) + int(v)
    return InvertedIndex(
        postings=postings,
        doclens=doclens,
        term_stats=term_stats,
        max_doc=max_doc,
        sum_ttf_by_field=by_field,
        analyzer=first.analyzer,
        fields=fields,
        analyzers=first.analyzers,
    )
