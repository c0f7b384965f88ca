"""Bulk build + pack, reader warm-up, and the closed-loop top-k stream
through `BlockIndexSearcher`."""

from __future__ import annotations

import statistics
import time

from gen import SHAPES
from reference import check_topk

K = 10
LAYER = "search.block_searcher"


def build_and_pack(docs, tracer) -> dict:
    """build_index + block pack, both materialized and timed."""
    from lucenenet_spark import BlockIndexSearcher, build_index

    op = tracer.op("build")
    with tracer.span("index.builder.build_index", op):
        t0 = time.perf_counter()
        idx = build_index(docs)
        n_postings = idx.postings.count()
        build_s = time.perf_counter() - t0
    pack_op = tracer.op("pack")
    with tracer.span("index.blocks.pack", pack_op):
        t1 = time.perf_counter()
        bs = BlockIndexSearcher(idx)
        bs.blocks = bs.blocks.persist()
        n_blocks = bs.blocks.count()
        pack_s = time.perf_counter() - t1
    return {"index": idx, "searcher": bs, "postings": n_postings, "blocks": n_blocks,
            "build_s": build_s, "pack_s": pack_s, "build_op": op, "pack_op": pack_op}


def block_n_docs(bs) -> int:
    from pyspark.sql import functions as F

    return int(bs.blocks.agg(F.sum("n_docs")).collect()[0][0])


def plan(bs, shape: str, terms: tuple[str, ...]):
    if shape == "term":
        return bs.topk_term(terms[0], K)
    if shape == "or":
        return bs.topk_or({t: 1.0 for t in terms}, K)
    if shape == "and":
        return bs.topk_and(list(terms), K)
    return bs.topk_phrase(tuple(terms), K)


class Stream:
    """Runs queries one at a time and records, per query: shape, terms,
    cold/warm, plan and exec seconds, last_stats and the hits."""

    def __init__(self, bs, tracer):
        self.bs = bs
        self.tracer = tracer
        self.seen: set[str] = set()
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def run(self, shape: str, terms: tuple[str, ...], layer: str = LAYER) -> dict | None:
        tr = self.tracer
        self.attempted += 1
        op = tr.op("q")
        rec = {"shape": shape, "terms": terms, "op": op,
               "warm": all(t in self.seen for t in terms)}
        self.seen.update(terms)
        try:
            with tr.span(f"serve.{shape}", op):
                t0 = time.perf_counter()
                with tr.span(f"{layer}.plan", op):
                    df = plan(self.bs, shape, terms)
                t1 = time.perf_counter()
                with tr.span(f"{layer}.exec", op):
                    rows = df.collect()
                t2 = time.perf_counter()
        except Exception as e:  # counted, reported, never retried
            self.failed += 1
            print(f"query {shape} {terms} failed: {e!r}", flush=True)
            return None
        rec.update(plan_s=t1 - t0, exec_s=t2 - t1, stats=dict(self.bs.last_stats),
                   hits=[(int(r["doc_id"]), float(r["score"])) for r in rows])
        self.records.append(rec)
        return rec


def warm_up(stream: Stream, first_round) -> dict:
    """The first query of each shape, untimed by the stream metrics; the
    first phrase builds the searcher's next-word pair table."""
    out = {}
    for shape, terms in first_round:
        t0 = time.perf_counter()
        rec = stream.run(shape, terms, "index.nextword" if shape == "phrase" else LAYER)
        out[shape] = {"s": time.perf_counter() - t0, "op": rec["op"] if rec else None}
    return out


def run_cycle(stream: Stream, rounds) -> float:
    """One cycle of STRATA rounds (one query per shape each), so every
    cycle holds the same head/tail mix. Returns its wall seconds."""
    t0 = time.perf_counter()
    for rnd in rounds:
        for shape, terms in rnd:
            stream.run(shape, terms)
    return time.perf_counter() - t0


def check(records, ref) -> list[str]:
    """Every top-k against the independent reference."""
    errors = []
    for r in records:
        shape, terms = r["shape"], r["terms"]
        if shape == "term":
            want = ref.term_scores(terms[0])
        elif shape == "or":
            want = ref.bool_scores(should=terms)
        elif shape == "and":
            want = ref.bool_scores(must=terms)
        else:
            want = ref.phrase_scores(terms)
        err = check_topk(r["hits"], want, K)
        if err:
            errors.append(f"{shape} {terms}: {err}")
    return errors


def _ms(xs) -> float:
    return 1000.0 * statistics.median(xs)


def _p(xs, q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def end_to_end(records, wall: float) -> dict:
    lat = [r["plan_s"] + r["exec_s"] for r in records]
    out = {
        "query_qps": ("queries/s", len(records) / wall),
        "query_p50_ms": ("ms", _ms(lat)),
        "query_p95_ms": ("ms", 1000.0 * _p(lat, 0.95)),
    }
    for shape in SHAPES:
        xs = [r["plan_s"] + r["exec_s"] for r in records if r["shape"] == shape]
        out[f"{shape}_p50_ms"] = ("ms", _ms(xs))
    return out


def per_layer(records, tracer) -> dict:
    """Per shape and cold/warm: plan/exec medians, jobs and tasks per
    query, pruning counts from last_stats."""
    out = {}
    for shape in SHAPES:
        mine = [r for r in records if r["shape"] == shape]
        for temp in ("cold", "warm"):
            xs = [r for r in mine if r["warm"] == (temp == "warm")]
            p = f"{shape}.{temp}."
            out[p + "queries"] = ("count", len(xs))
            if not xs:
                continue
            jt = [tracer.jobs_tasks(r["op"]) for r in xs]
            out[p + "plan_ms"] = ("ms", _ms([r["plan_s"] for r in xs]))
            out[p + "exec_ms"] = ("ms", _ms([r["exec_s"] for r in xs]))
            out[p + "jobs_per_query"] = ("jobs", statistics.mean(j for j, _ in jt))
            out[p + "tasks_per_query"] = ("tasks", statistics.mean(t for _, t in jt))
        tot = sum(r["stats"].get("blocks_total", 0) for r in mine)
        scored = sum(r["stats"].get("blocks_scored", 0) for r in mine)
        n = max(1, len(mine))
        p = f"{shape}."
        out[p + "blocks_total"] = ("blocks", tot / n)
        out[p + "blocks_scored"] = ("blocks", scored / n)
        out[p + "blocks_scored_share"] = ("ratio", scored / tot if tot else 0.0)
        out[p + "seed_passes"] = ("count", sum("seed_blocks" in r["stats"] for r in mine) / n)
    return out
