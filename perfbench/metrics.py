"""The metric catalog: every metric the benchmark reports, with its unit,
better direction and (end-to-end only) regression bound.

`python3 perfbench/metrics.py` checks that BENCHMARK.json lists exactly
these metrics, with the same units, directions and bounds.
"""

from __future__ import annotations

import json
import os
import sys

from gen import SHAPES

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("index_docs_per_s", "docs/s", "higher", 0.25),
    ("query_qps", "queries/s", "higher", 0.25),
    ("query_p50_ms", "ms", "lower", 0.25),
    ("query_p95_ms", "ms", "lower", 0.25),
    ("term_p50_ms", "ms", "lower", 0.25),
    ("or_p50_ms", "ms", "lower", 0.25),
    ("and_p50_ms", "ms", "lower", 0.25),
    ("phrase_p50_ms", "ms", "lower", 0.25),
    ("flush_docs_per_s", "docs/s", "higher", 0.25),
    ("visible_p50_ms", "ms", "lower", 0.25),
    ("nrt_query_p50_ms", "ms", "lower", 0.25),
    ("segment_bytes_per_doc", "bytes/doc", "lower", 0.1),
]

LAYERS = ("analysis", "index.builder", "index.blocks", "index.nextword",
          "search.block_searcher", "search.searcher", "queryparser",
          "streaming.incremental")


def _per_layer() -> list[tuple[str, str, str]]:
    m = [
        ("analysis_tokens_per_s", "tokens/s", "higher"),
        ("build_s", "s", "lower"),
        ("build_jobs", "jobs", "lower"),
        ("postings_per_s", "postings/s", "higher"),
        ("pack_s", "s", "lower"),
        ("pack_jobs", "jobs", "lower"),
        ("blocks", "count", "lower"),
        ("postings_per_block", "postings", "higher"),
        ("nextword_build_s", "s", "lower"),
        ("nextword_jobs", "jobs", "lower"),
    ]
    for shape in SHAPES:
        for temp in ("cold", "warm"):
            p = f"{shape}.{temp}."
            m += [
                (p + "queries", "count", "higher"),
                (p + "plan_ms", "ms", "lower"),
                (p + "exec_ms", "ms", "lower"),
                (p + "jobs_per_query", "jobs", "lower"),
                (p + "tasks_per_query", "tasks", "lower"),
            ]
        m += [
            (f"{shape}.blocks_total", "blocks", "lower"),
            (f"{shape}.blocks_scored", "blocks", "lower"),
            (f"{shape}.blocks_scored_share", "ratio", "lower"),
            (f"{shape}.seed_passes", "count", "lower"),
        ]
    m += [
        ("flush_s", "s", "lower"),
        ("flush_jobs", "jobs", "lower"),
        ("merges", "count", "lower"),
        ("merge_s", "s", "lower"),
        ("merge_jobs", "jobs", "lower"),
        ("refresh_ms", "ms", "lower"),
        ("segments_live", "count", "lower"),
        ("bytes_written_per_flush", "bytes", "lower"),
        ("parse_ms", "ms", "lower"),
        ("search_plan_ms", "ms", "lower"),
        ("search_exec_ms", "ms", "lower"),
        ("nrt_jobs_per_query", "jobs", "lower"),
    ]
    # seconds of each layer's spans not covered by child spans; `serve` and
    # `nrt` are the benchmark's own loop around them
    m += [(f"self_s.{x}", "s", "lower") for x in LAYERS + ("serve", "nrt")]
    return m


PER_LAYER = _per_layer()


def bench_path() -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")


def catalog_json() -> dict:
    return {
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def main() -> int:
    with open(bench_path()) as f:
        bench = json.load(f)
    want = catalog_json()
    ok = all(bench[k] == v for k, v in want.items())
    print("BENCHMARK.json matches the catalog" if ok else "BENCHMARK.json differs from the catalog")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
