"""spark-submit entrypoint: build (or resume) the inverted index.

Usage (multi-executor cluster — the north-rule deployment shape):

    zip -r lucenenet_spark.zip lucenenet_spark
    spark-submit --py-files lucenenet_spark.zip jobs/build_index_job.py \
        --input  s3://bucket/corpus/          \
        --output s3://bucket/index_v1/        \
        --text-col text --id-col doc_id       \
        --segments 64 [--assign-doc-ids url] [--pack-blocks]

Local smoke:

    python jobs/build_index_job.py --input /root/testdata/sf0.01/documents.parquet \
        --output /tmp/idx_out --segments 4

The job is checkpoint-resumable: rerunning with the same --output skips
segments already committed to the output's segments.json manifest
(SegmentedIndexWriter), then (re)runs the term-sharded merge. Metrics
(docs/sec, postings/sec, bytes) print as one JSON line; the per-segment
rows persist in segments.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="corpus parquet path")
    ap.add_argument("--output", required=True, help="index output dir")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--segments", type=int, default=16)
    ap.add_argument(
        "--assign-doc-ids",
        default=None,
        metavar="ORDER_COL",
        help="assign deterministic dense doc_ids as the rank of this column",
    )
    ap.add_argument("--pack-blocks", action="store_true", help="also write packed 128-doc blocks")
    ap.add_argument("--html-col", default=None, help="extract text from this html column first")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from lucenenet_spark.index.builder import assign_doc_ids
    from lucenenet_spark.index.segments import SegmentedIndexWriter

    spark = SparkSession.builder.appName("lucenenet-spark-index-build").getOrCreate()
    corpus = spark.read.parquet(args.input)
    if args.html_col:
        from lucenenet_spark.analysis.html import with_extracted_text

        corpus = with_extracted_text(corpus, html_col=args.html_col, out_col=args.text_col)
    if args.assign_doc_ids:
        corpus = assign_doc_ids(corpus, order_col=args.assign_doc_ids)

    writer = SegmentedIndexWriter(out_dir=args.output, num_segments=args.segments)
    writer.build(corpus, text_col=args.text_col, id_col=args.id_col)
    idx = writer.merge(spark)

    if args.pack_blocks:
        from lucenenet_spark.index.blocks import pack_postings

        _blocks = pack_postings(idx.postings).persist()
        _blocks.count()  # materialize before range sampling (gotcha)
        _blocks.repartitionByRange(8, "term").write.mode("overwrite").parquet(
            os.path.join(args.output, "blocks")
        )
        _blocks.unpersist()

    metrics = writer.metrics()
    metrics["index_dir"] = os.path.join(args.output, "index")
    metrics["max_doc"] = idx.max_doc
    metrics["sum_ttf"] = idx.sum_ttf
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
