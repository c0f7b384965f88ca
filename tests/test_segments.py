"""Segmented build: crash/resume via the segments.json manifest, merge parity with direct build
(the CheckIndex-style invariants + two-phase-commit behavior)."""

import pytest

from lucenenet_spark import IndexSearcher, TermQuery, build_index
from lucenenet_spark.index.segments import SegmentedIndexWriter


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "segidx")


def _fingerprint(idx):
    stats = sorted((r["term"], r["df"], r["ttf"]) for r in idx.term_stats.collect())
    lens = sorted((r["doc_id"], r["dl"], r["norm_byte"]) for r in idx.doclens.collect())
    return stats, lens, idx.max_doc, idx.sum_ttf


def test_crash_resume_and_merge_parity(spark, corpus_df, out_dir):
    w = SegmentedIndexWriter(out_dir=out_dir, num_segments=4)

    # simulated crash after 2 segments
    lineage = w.build(corpus_df, fail_after=2)
    committed = [k for k, v in lineage.items() if v["status"] == "committed"]
    assert len(committed) == 2
    assert not w.is_complete()

    # resume: only remaining segments build; previously committed are skipped
    lineage2 = w.build(corpus_df)
    assert w.is_complete()
    for k in committed:
        assert lineage2[k]["wall_sec"] == lineage[k]["wall_sec"]  # untouched

    merged = w.merge(spark)
    direct = build_index(corpus_df)
    assert _fingerprint(merged) == _fingerprint(direct)

    # searches over the merged (disk) index match the in-memory index
    s1 = IndexSearcher(merged).search(TermQuery("w0001"), 10).collect()
    s2 = IndexSearcher(direct).search(TermQuery("w0001"), 10).collect()
    assert [(r["doc_id"], r["score"]) for r in s1] == [(r["doc_id"], r["score"]) for r in s2]


def test_metrics_emitted(spark, corpus_df, out_dir):
    w = SegmentedIndexWriter(out_dir=out_dir, num_segments=2)
    w.build(corpus_df)
    m = w.metrics()
    assert m["segments"] == 2
    assert m["docs"] == corpus_df.count()
    assert m["docs_per_sec"] > 0
    assert m["postings"] > 0 and m["bytes"] > 0


def _persisted_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_build_and_flush_release_cached_postings(spark, corpus_df, tmp_path):
    """Each segment flush caches its postings once for the stats collect
    and both parquet writes; the cache must be released afterwards."""
    from lucenenet_spark.streaming import IncrementalIndexer

    docs = corpus_df.filter("doc_id < 20")
    before = _persisted_rdds(spark)
    SegmentedIndexWriter(out_dir=str(tmp_path / "seg"), num_segments=2).build(docs)
    assert _persisted_rdds(spark) <= before

    before = _persisted_rdds(spark)
    IncrementalIndexer(str(tmp_path / "nrt")).process_batch(docs, 0)
    assert _persisted_rdds(spark) <= before
