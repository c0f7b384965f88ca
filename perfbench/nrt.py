"""Near-real-time ingest beside reads: micro-batches through
`IncrementalIndexer`, a merge check and a refresh after each, then the
batch's marker lookup and a few classic-syntax queries on the new reader."""

from __future__ import annotations

import os
import shutil
import statistics
import time

from gen import Corpus, marker_word, nrt_queries
from reference import BM25Reference, check_topk

K = 10
# tiered merge: more than MAX_SEGMENTS live segments merges the
# MERGE_FACTOR smallest, so the second batch merges
MAX_SEGMENTS = 1
MERGE_FACTOR = 2
QUERIES_PER_SHAPE = 1
ID_BASE = 1_000_000  # NRT doc ids never collide with the bulk corpus


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Ingest:
    def __init__(self, spark, tracer, out_dir: str, seed: int, vocab: int,
                 batches: int, batch_docs: int):
        from lucenenet_spark.streaming.incremental import IncrementalIndexer

        self.spark, self.tracer = spark, tracer
        self.out_dir = out_dir
        shutil.rmtree(out_dir, ignore_errors=True)
        self.indexer = IncrementalIndexer(out_dir)
        self.seed = seed
        self.corpus = Corpus(batches * batch_docs, vocab, seed, stream=1)
        texts = self.corpus.texts()
        for b in range(batches):
            # the first doc of each batch carries the batch's marker token
            texts[b * batch_docs] += " " + marker_word(b)
        self.texts = texts
        self.batch_docs = batch_docs
        self.batch_recs: list[dict] = []
        self.query_recs: list[dict] = []
        self.searcher = None
        self.attempted = 0
        self.failed = 0

    def _batch_df(self, b: int):
        lo = b * self.batch_docs
        rows = [(ID_BASE + i, self.texts[i]) for i in range(lo, lo + self.batch_docs)]
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def run_batch(self, b: int) -> None:
        tr, ix = self.tracer, self.indexer
        self.attempted += 1
        df = self._batch_df(b)
        rec = {"batch": b}
        before = _dir_bytes(os.path.join(self.out_dir, "segments"))
        try:
            with tr.span("nrt.batch"):
                t0 = time.perf_counter()
                rec["flush_op"] = op = tr.op("flush")
                with tr.span("streaming.incremental.process_batch", op):
                    ix.process_batch(df, b)
                t1 = time.perf_counter()
                rec["bytes"] = _dir_bytes(os.path.join(self.out_dir, "segments")) - before
                rec["merge_op"] = op = tr.op("merge")
                with tr.span("streaming.incremental.maybe_merge", op):
                    rec["merged"] = ix.maybe_merge(self.spark, MAX_SEGMENTS, MERGE_FACTOR)
                t2 = time.perf_counter()
                op = tr.op("refresh")
                with tr.span("streaming.incremental.refresh", op):
                    s = ix.refresh(self.spark)
                t3 = time.perf_counter()
                op = tr.op("marker")
                with tr.span("search.searcher.search_text", op):
                    hits = s.search_text(marker_word(b), K).collect()
                t4 = time.perf_counter()
        except Exception as e:
            self.failed += 1
            print(f"batch {b} failed: {e!r}", flush=True)
            return
        rec.update(flush_s=t1 - t0, merge_s=t2 - t1, refresh_s=t3 - t2, visible_s=t4 - t0,
                   marker_hits=[int(r["doc_id"]) for r in hits], max_doc=s.index.max_doc)
        self.batch_recs.append(rec)
        self.searcher = s
        for shape, qs, terms in nrt_queries(self.corpus, self.seed, b,
                                            (b + 1) * self.batch_docs, QUERIES_PER_SHAPE):
            self.run_query(b, shape, qs, terms)

    def run_query(self, b: int, shape: str, qs: str, terms) -> None:
        from lucenenet_spark.queryparser.parser import QueryParser

        tr, s = self.tracer, self.searcher
        self.attempted += 1
        op = tr.op("nq")
        rec = {"batch": b, "shape": shape, "query": qs, "terms": terms, "op": op}
        try:
            with tr.span("nrt.query", op):
                t0 = time.perf_counter()
                if tr.enabled:
                    # search_text's own composition, split for the trace
                    with tr.span("queryparser.parse", op):
                        q = QueryParser(analyzer=s.index.analyzer).parse(qs)
                    t1 = time.perf_counter()
                    with tr.span("search.searcher.plan", op):
                        df = s.search(q, K)
                    t2 = time.perf_counter()
                    with tr.span("search.searcher.exec", op):
                        rows = df.collect()
                    rec.update(parse_s=t1 - t0, plan_s=t2 - t1)
                else:
                    rows = s.search_text(qs, K).collect()
                t3 = time.perf_counter()
        except Exception as e:
            self.failed += 1
            print(f"query {qs!r} failed: {e!r}", flush=True)
            return
        rec.update(total_s=t3 - t0, exec_s=t3 - t2 if tr.enabled else None,
                   hits=[(int(r["doc_id"]), float(r["score"])) for r in rows])
        self.query_recs.append(rec)

    # ------------------------------------------------------------ checks
    def check(self) -> list[str]:
        """Markers, reader sizes, every query against the reference as of
        its batch, and postings conservation on the final reader."""
        errors = []
        bd = self.batch_docs
        for r in self.batch_recs:
            b = r["batch"]
            if r["marker_hits"] != [ID_BASE + b * bd]:
                errors.append(f"batch {b}: marker returned {r['marker_hits']}")
            if r["max_doc"] != (b + 1) * bd:
                errors.append(f"batch {b}: max_doc {r['max_doc']} != {(b + 1) * bd}")
        refs: dict[int, BM25Reference] = {}
        for r in self.query_recs:
            b = r["batch"]
            if b not in refs:
                refs[b] = BM25Reference(
                    (ID_BASE + i, self.texts[i]) for i in range((b + 1) * bd))
            ref, (x, y) = refs[b], (r["terms"] + (None,))[:2]
            want = {
                "term": lambda: ref.term_scores(x),
                "or": lambda: ref.bool_scores(should=(x, y)),
                "and": lambda: ref.bool_scores(must=(x, y)),
                "not": lambda: ref.bool_scores(must=(x,), must_not=(y,)),
                "phrase": lambda: ref.phrase_scores((x, y)),
            }[r["shape"]]()
            err = check_topk(r["hits"], want, K)
            if err:
                errors.append(f"batch {b} {r['query']!r}: {err}")
        if self.batch_recs and self.searcher is not None:
            last = self.batch_recs[-1]["batch"]
            ref = refs.get(last) or BM25Reference(
                (ID_BASE + i, self.texts[i]) for i in range((last + 1) * bd))
            live = self.searcher.index.postings.count()
            if live != ref.n_postings():
                errors.append(f"final reader holds {live} postings, reference {ref.n_postings()}")
        return errors

    def segment_bytes(self) -> int:
        return _dir_bytes(os.path.join(self.out_dir, "segments"))

    def close(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


def end_to_end(ing: Ingest) -> dict:
    br, qr = ing.batch_recs, ing.query_recs
    docs = len(br) * ing.batch_docs
    return {
        "flush_docs_per_s": ("docs/s", ing.batch_docs / statistics.median([r["flush_s"] for r in br])),
        "visible_p50_ms": ("ms", 1000.0 * statistics.median([r["visible_s"] for r in br])),
        "nrt_query_p50_ms": ("ms", 1000.0 * statistics.median([r["total_s"] for r in qr])),
        "segment_bytes_per_doc": ("bytes/doc", ing.segment_bytes() / docs),
    }


def per_layer(ing: Ingest, tracer) -> dict:
    br, qr = ing.batch_recs, ing.query_recs
    merges = [r for r in br if r["merged"]]
    fj = [tracer.jobs_tasks(r["flush_op"])[0] for r in br]
    qj = [tracer.jobs_tasks(r["op"])[0] for r in qr]
    return {
        "flush_s": ("s", statistics.median([r["flush_s"] for r in br])),
        "flush_jobs": ("jobs", statistics.mean(fj)),
        "merges": ("count", len(merges)),
        "merge_s": ("s", statistics.median([r["merge_s"] for r in merges]) if merges else 0.0),
        "merge_jobs": ("jobs", statistics.mean(
            tracer.jobs_tasks(r["merge_op"])[0] for r in merges) if merges else 0.0),
        "refresh_ms": ("ms", 1000.0 * statistics.median([r["refresh_s"] for r in br])),
        "segments_live": ("count", len(ing.indexer.record())),
        "bytes_written_per_flush": ("bytes", statistics.mean(r["bytes"] for r in br)),
        "parse_ms": ("ms", 1000.0 * statistics.median([r["parse_s"] for r in qr])),
        "search_plan_ms": ("ms", 1000.0 * statistics.median([r["plan_s"] for r in qr])),
        "search_exec_ms": ("ms", 1000.0 * statistics.median([r["exec_s"] for r in qr])),
        "nrt_jobs_per_query": ("jobs", statistics.mean(qj)),
    }
