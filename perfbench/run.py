#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_uniform --seed 1 --seconds 8 --trace 0

Runs one workload in one Spark session with one closed-loop client and
prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
and writes the run's spans to perfbench/.work/spans/. See README.md.
"""

from __future__ import annotations

import time

T_MAIN = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import session  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = {"serve_uniform": "uniform", "serve_sorted": "sorted"}
N_DOCS = 5_000
VOCAB = 30_000
STREAM_ROUNDS = 2_000  # far more than any run consumes
JIT_ROUNDS = 1
WARMUP_DOCS = 200
NRT_BATCHES = 2
NRT_BATCH_DOCS = 200


def process_age() -> float:
    """Seconds since this process started."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, AttributeError):
        return time.perf_counter() - T_MAIN


def phase(name: str) -> None:
    print(f"[{process_age():7.2f}s] {name}", file=sys.stderr, flush=True)


def load_corpus(layout: str, seed: int):
    """(corpus arrays, doc ids, texts, parquet dir); the parquet is cached
    per (layout, size, seed)."""
    import gen

    corpus = gen.Corpus(N_DOCS, VOCAB, seed)
    ids = gen.layout_doc_ids(corpus, layout)
    texts = corpus.texts()
    path = os.path.join(
        session.CACHE, f"corpus_{layout}_n{N_DOCS}_v{VOCAB}_s{seed}_g{gen.GEN_VERSION}")
    if not os.path.isdir(path):
        gen.write_corpus(path, ids, texts, files=session.cores())
    return corpus, ids, texts, path


def warm_up_writers(spark, docs, scratch: str) -> None:
    """Build, pack and flush a few docs once, so the JVM's first-use cost of
    those code paths lands in set-up rather than in the timed bulk build
    and the first timed flush."""
    from lucenenet_spark import BlockIndexSearcher, build_index
    from lucenenet_spark.streaming.incremental import IncrementalIndexer

    few = docs.limit(WARMUP_DOCS)
    idx = build_index(few)
    BlockIndexSearcher(idx).blocks.count()
    IncrementalIndexer(scratch).process_batch(few, 0)
    idx.unpersist()
    shutil.rmtree(scratch, ignore_errors=True)


def run(workload: str, seed: int, seconds: float, tracer_on: bool) -> dict:
    import gen
    import nrt
    import serve
    from reference import BM25Reference
    from tracing import Tracer

    layout = WORKLOADS[workload]
    spark = session.start_spark(session.cores())
    try:
        tracer = Tracer(spark, tracer_on)
        phase("spark started")
        t0 = time.perf_counter()
        corpus, ids, texts, path = load_corpus(layout, seed)
        gen_s = time.perf_counter() - t0
        docs = spark.read.parquet(path)
        n_read = docs.count()
        session.start_python_workers(spark, session.cores())
        warm_up_writers(spark, docs, os.path.join(session.WORK, f"warmup-{os.getpid()}"))
        setup_s = process_age() - gen_s
        phase("corpus read")

        built = serve.build_and_pack(docs, tracer)
        phase("built")
        ref = BM25Reference(zip(ids.tolist(), texts))
        stream_q = gen.serve_stream(corpus, seed, STREAM_ROUNDS)
        n = len(gen.SHAPES)
        rounds = [stream_q[i : i + n] for i in range(0, len(stream_q), n)]
        phase("reference")

        stream = serve.Stream(built["searcher"], tracer)
        t0 = time.perf_counter()
        warm = serve.warm_up(stream, rounds[0])
        setup_s += time.perf_counter() - t0
        # untimed rounds after set-up, so the timed stream does not start
        # on the JVM's first-use path
        for rnd in rounds[1 : 1 + JIT_ROUNDS]:
            for shape, terms in rnd:
                stream.run(shape, terms)
        n_warm = len(stream.records)
        phase("warm")

        # writes beside reads: one ingest batch after each cycle of query
        # rounds, so both sample the whole measured window
        ing = nrt.Ingest(spark, tracer, os.path.join(session.WORK, f"nrt-{os.getpid()}"),
                         seed, VOCAB, NRT_BATCHES, NRT_BATCH_DOCS)
        wall, batch = 0.0, 0
        for i in range(1 + JIT_ROUNDS, len(rounds) - gen.STRATA, gen.STRATA):
            wall += serve.run_cycle(stream, rounds[i : i + gen.STRATA])
            if batch < NRT_BATCHES:
                ing.run_batch(batch)
                batch += 1
            if wall >= seconds and batch == NRT_BATCHES:
                break
        else:
            raise RuntimeError("query stream exhausted before the run length")
        attempted = stream.attempted + ing.attempted
        failed = stream.failed + ing.failed
        phase("measured")

        # ------------------------------------------------------- checks
        errors = serve.check(stream.records, ref)
        blocks_docs = serve.block_n_docs(built["searcher"])
        if not (n_read == built["index"].max_doc == N_DOCS):
            errors.append(f"read {n_read} docs, index max_doc {built['index'].max_doc}")
        if not (built["postings"] == blocks_docs == ref.n_postings()):
            errors.append(f"postings {built['postings']}, block n_docs {blocks_docs}, "
                          f"reference {ref.n_postings()}")
        errors += ing.check()
        for e in errors[:20]:
            print("CHECK FAILED:", e, flush=True)
        phase("checked")

        timed = stream.records[n_warm:]
        metrics = {
            "setup_s": ("s", setup_s),
            "index_docs_per_s": ("docs/s", N_DOCS / (built["build_s"] + built["pack_s"])),
            **serve.end_to_end(timed, wall),
            **nrt.end_to_end(ing),
        }
        if tracer_on:
            tracer.drain()
            # the traced run's end-to-end figures go to the spans file only,
            # where they measure the tracing overhead
            e2e = {n: v for n, (_, v) in metrics.items()}
            metrics = layer_metrics(built, warm, timed, ing, tracer, texts)
            tracer.dump(os.path.join(session.WORK, "spans", f"{workload}-s{seed}.json"),
                        {"end_to_end": e2e})
        ing.close()
        return {"correct": not errors, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        session.stop_spark(spark)


def layer_metrics(built, warm, timed, ing, tracer, texts) -> dict:
    import pyarrow as pa

    import nrt
    import serve
    from lucenenet_spark import StandardAnalyzer

    with tracer.span("analysis.tokenize_batch_arrow"):
        t0 = time.perf_counter()
        out = StandardAnalyzer().tokenize_batch_arrow(pa.array(texts))
        n_tokens = len(out[1])
        an_s = time.perf_counter() - t0
    ph = warm["phrase"]
    m = {
        "analysis_tokens_per_s": ("tokens/s", n_tokens / an_s),
        "build_s": ("s", built["build_s"]),
        "postings_per_s": ("postings/s", built["postings"] / built["build_s"]),
        "pack_s": ("s", built["pack_s"]),
        "blocks": ("count", built["blocks"]),
        "postings_per_block": ("postings", built["postings"] / built["blocks"]),
        "nextword_build_s": ("s", ph["s"]),
        "nextword_jobs": ("jobs", tracer.jobs_tasks(ph["op"])[0]),
        "build_jobs": ("jobs", tracer.jobs_tasks(built["build_op"])[0]),
        "pack_jobs": ("jobs", tracer.jobs_tasks(built["pack_op"])[0]),
        **serve.per_layer(timed, tracer),
        **nrt.per_layer(ing, tracer),
    }
    for layer, s in tracer.self_times().items():
        m[f"self_s.{layer}"] = ("s", s)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    session.prepare_env()
    try:
        import lucenenet_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package under test: {e}", file=sys.stderr)
        return 2
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(os.path.join(session.WORK, "tmp"), ignore_errors=True)
    got = res["metrics"]
    catalog = PER_LAYER if args.trace else END_TO_END
    units = {c[0]: c[1] for c in catalog}
    wrong = sorted(n for n, (u, _) in got.items() if units.get(n) != u)
    if wrong:
        raise RuntimeError(f"metrics not in the catalog with that unit: {wrong}")
    # a cold/warm class with no query in this run reports 0 (its `queries` is 0)
    res["metrics"] = {
        c[0]: {"value": float(got[c[0]][1]) if c[0] in got else 0.0, "unit": c[1]}
        for c in catalog
    }
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
