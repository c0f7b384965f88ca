"""One inversion pass: doclens, maxDoc and per-field sumTotalTermFreq come
from the inverter's own output, token-free documents included (the
missing-norms contract: dl=0 and the norm of a zero-length field)."""

import pyarrow.parquet as pq
import pytest

from lucenenet_spark import build_index
from lucenenet_spark.analysis.analyzers import StandardAnalyzer
from lucenenet_spark.analysis.payloads import DelimitedPayloadAnalyzer
from lucenenet_spark.streaming import IncrementalIndexer

# SmallFloat.floatToByte315(1 / sqrt(0)) = floatToByte315(+inf)
ZERO_LENGTH_NORM = 255

# text: NULL, "" and stopword-only rows; hand-counted lengths (stop words
# are not counted, DocInverterPerField)
TEXTS = ["quick brown fox", None, "", "the and of", "fox fox jumps"]
TEXT_DL = [3, 0, 0, 0, 3]
STANDARD_TITLES = ["fox", "hello world", None, "the", ""]
# whitespace tokens, `term|payload`; no stop filter, so "   " is token-free
PAYLOAD_TITLES = ["fox|2.5", "hello world", None, "   ", ""]
TITLE_DL = [1, 2, 0, 0, 0]

VARIANTS = {
    "positions": (True, STANDARD_TITLES, StandardAnalyzer()),
    "no_positions": (False, STANDARD_TITLES, StandardAnalyzer()),
    "payloads": (True, PAYLOAD_TITLES, DelimitedPayloadAnalyzer()),
}


def _expected_doclens(fields_dl):
    return {
        (d, fld): dl for fld, dls in fields_dl.items() for d, dl in enumerate(dls)
    }


def _check_doclens(rows, expected):
    got = [(r["doc_id"], r["field"]) for r in rows]
    assert len(got) == len(set(got)), "one doclens row per (doc, field)"
    assert set(got) == set(expected)
    for r in rows:
        assert r["dl"] == expected[(r["doc_id"], r["field"])]
        if r["dl"] == 0:
            assert r["norm_byte"] == ZERO_LENGTH_NORM, r
        else:
            assert r["norm_byte"] != ZERO_LENGTH_NORM, r


@pytest.mark.parametrize("variant", sorted(VARIANTS))
def test_build_index_doc_rows_cover_token_free_docs(spark, variant):
    with_positions, titles, title_analyzer = VARIANTS[variant]
    df = spark.createDataFrame(
        [(d, t, ti) for d, (t, ti) in enumerate(zip(TEXTS, titles))],
        "doc_id long, text string, title string",
    )
    idx = build_index(
        df,
        fields={"text": StandardAnalyzer(), "title": title_analyzer},
        with_positions=with_positions,
    )
    try:
        _check_doclens(
            idx.doclens.collect(),
            _expected_doclens({"text": TEXT_DL, "title": TITLE_DL}),
        )
        assert idx.max_doc == len(TEXTS)
        assert idx.sum_ttf_by_field == {"text": sum(TEXT_DL), "title": sum(TITLE_DL)}
        assert idx.sum_ttf == sum(TEXT_DL)
        # doc rows never leak into postings
        assert idx.postings.filter("term IS NULL OR tf = 0").count() == 0
        assert ("positions" in idx.postings.columns) == with_positions
        assert ("payloads" in idx.postings.columns) == (variant == "payloads")
    finally:
        idx.unpersist()


@pytest.mark.parametrize(
    "texts,dls,analyzer",
    [
        (TEXTS, TEXT_DL, StandardAnalyzer()),
        (PAYLOAD_TITLES, TITLE_DL, DelimitedPayloadAnalyzer()),
    ],
    ids=["standard", "payloads"],
)
def test_process_batch_doc_rows_cover_token_free_docs(spark, tmp_path, texts, dls, analyzer):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    indexer = IncrementalIndexer(str(tmp_path / "nrt"), analyzer=analyzer)
    indexer.process_batch(df, 0)
    seg = tmp_path / "nrt" / "segments" / "seg_00000000"
    rows = pq.read_table(str(seg / "doclens")).to_pylist()
    _check_doclens(rows, _expected_doclens({"text": dls}))
    row = indexer._load_manifest()["seg_00000000"]
    assert row["docs"] == len(texts)
    assert row["sum_ttf_by_field"] == {"text": sum(dls)}
    idx = indexer.refresh(spark).index
    assert idx.max_doc == len(texts) and idx.sum_ttf == sum(dls)


def test_doclens_plan_has_no_join(spark, corpus_df):
    idx = build_index(corpus_df)
    try:
        plan = idx.doclens._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
    finally:
        idx.unpersist()


def test_cache_keeps_one_copy_of_the_inverter_output(spark, corpus_df):
    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    idx = build_index(corpus_df.filter("doc_id < 20")).cache()
    idx.postings.count()
    idx.doclens.count()
    # postings and doclens read the build's cache, not copies of their own
    assert not idx.postings._jdf.storageLevel().useMemory()
    assert not idx.doclens._jdf.storageLevel().useMemory()
    assert persisted() == before + 1
    idx.unpersist()
    assert persisted() == before
