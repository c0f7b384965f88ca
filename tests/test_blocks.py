"""Block codec roundtrip + block-max WAND rank identity
(BasePostingsFormatTestCase spirit: encode/decode equivalence; plus the
pruning-safety contract: top-k with pruning == top-k without)."""

import numpy as np
import pytest

from lucenenet_spark import BlockIndexSearcher, IndexSearcher, TermQuery, build_index
from lucenenet_spark.index.blocks import (
    pack_postings,
    unpack_blocks,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip():
    rng = np.random.default_rng(7)
    for arr in [
        np.array([], dtype=np.uint64),
        np.array([0], dtype=np.uint64),
        np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**53], dtype=np.uint64),
        rng.integers(0, 2**40, size=5000).astype(np.uint64),
    ]:
        enc = varint_encode(arr)
        dec = varint_decode(enc)
        assert np.array_equal(dec, arr)


@pytest.fixture(scope="module")
def packed(spark, corpus_df):
    # parity mode: emits the delta+varint `packed` stream the roundtrip and
    # compression tests decode (the default columnar mode leaves it NULL)
    idx = build_index(corpus_df).cache()
    blocks = pack_postings(idx.postings, mode="parity").cache()
    return idx, blocks


@pytest.fixture(scope="module")
def packed_columnar(packed):
    # the pure-JVM pack mode (the default columnar_py is the same python
    # kernels as parity minus the varint bytes)
    idx, _ = packed
    return idx, pack_postings(idx.postings, mode="columnar").cache()


def test_columnar_py_default_matches_parity(packed):
    """Default mode drops only the varint bytes: every other column is
    byte-identical to the parity pack."""
    idx, parity = packed
    default = pack_postings(idx.postings)
    keyed_p = {(r["field"], r["term"], r["block_id"]): r for r in parity.collect()}
    for r in default.collect():
        p = keyed_p[(r["field"], r["term"], r["block_id"])]
        assert r["packed"] is None and p["packed"] is not None
        for col in ("n_docs", "min_doc", "max_doc", "max_tf", "max_norm_byte",
                    "imp_tf", "imp_nb", "imp_cnt", "doc_offs", "tfs", "nbs", "poss"):
            assert r[col] == p[col]


def test_columnar_pack_matches_parity(packed, packed_columnar):
    """The JVM columnar pack (default) agrees with the Python parity pack
    on every block's metadata and columnar arrays; impact pairs carry
    exact counts (selection may break proxy ties differently)."""
    _, parity = packed
    _, columnar = packed_columnar
    keyed_p = {(r["field"], r["term"], r["block_id"]): r for r in parity.collect()}
    keyed_c = {(r["field"], r["term"], r["block_id"]): r for r in columnar.collect()}
    assert keyed_p.keys() == keyed_c.keys()
    for k, c in keyed_c.items():
        p = keyed_p[k]
        for col in ("n_docs", "min_doc", "max_doc", "max_tf", "max_norm_byte",
                    "doc_offs", "tfs", "nbs", "poss"):
            assert c[col] == p[col], (k, col)
        assert c["packed"] is None and p["packed"] is not None
        # impact counts are exact against the block's own (tf, nb) histogram
        from collections import Counter
        hist = Counter(zip(c["tfs"], c["nbs"]))
        assert len(c["imp_tf"]) <= 8
        for tf, nb, cnt in zip(c["imp_tf"], c["imp_nb"], c["imp_cnt"]):
            assert hist[(tf, nb)] == cnt, k


def test_pack_unpack_roundtrip(packed):
    idx, blocks = packed
    orig = {
        (r["term"], r["doc_id"]): (r["tf"], r["norm_byte"], tuple(r["positions"]))
        for r in idx.postings.collect()
    }
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["norm_byte"], tuple(r["positions"]))
        for r in unpack_blocks(blocks).collect()
    }
    assert got == orig


def test_block_metadata_bounds(packed_columnar):
    from lucenenet_spark.index.blocks import BLOCKS_PER_RANGE, RANGE_DOCS

    idx, blocks = packed_columnar
    rows = blocks.collect()
    per_term: dict[str, list] = {}
    for r in rows:
        assert r["n_docs"] <= 128
        assert r["min_doc"] <= r["max_doc"]
        # a block never crosses its coarse range
        assert r["min_doc"] // RANGE_DOCS == r["max_doc"] // RANGE_DOCS
        assert r["block_id"] // BLOCKS_PER_RANGE == r["min_doc"] // RANGE_DOCS
        per_term.setdefault(r["term"], []).append(r)
    for t, rs in per_term.items():
        rs.sort(key=lambda r: r["block_id"])
        # doc runs are consecutive and non-overlapping in block_id order
        for a, b in zip(rs, rs[1:]):
            assert a["max_doc"] < b["min_doc"]
        # Lucene-style utilization: only the last chunk of each range may
        # be partial
        for a, b in zip(rs, rs[1:]):
            same_range = a["block_id"] // BLOCKS_PER_RANGE == b["block_id"] // BLOCKS_PER_RANGE
            if same_range:
                assert a["n_docs"] == 128


def test_wand_rank_identity(packed_columnar):
    idx, blocks = packed_columnar
    plain = IndexSearcher(idx)
    bmw = BlockIndexSearcher(idx, blocks)
    for term in ["w0000", "w0001", "w0042", "fox", "w0300"]:
        exp = [
            (r["doc_id"], r["score"]) for r in plain.search(TermQuery(term), 10).collect()
        ]
        got = [(r["doc_id"], r["score"]) for r in bmw.topk_term(term, 10).collect()]
        assert got == exp, term
        assert bmw.last_stats["blocks_scored"] <= bmw.last_stats["blocks_total"]


def test_wand_prunes_on_length_skewed_corpus(spark):
    # 1500 docs all containing 'hot' once; doc length grows with doc_id, so
    # early blocks hold the short (high-scoring) docs and later blocks are
    # provably non-competitive — the textbook BMW case.
    docs = [(d, "hot " + " ".join(f"f{j:03d}" for j in range(5 + d // 3))) for d in range(1500)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df).cache()
    blocks = pack_postings(idx.postings).cache()
    plain = IndexSearcher(idx)
    bmw = BlockIndexSearcher(idx, blocks)
    exp = [(r["doc_id"], r["score"]) for r in plain.search(TermQuery("hot"), 10).collect()]
    got = [(r["doc_id"], r["score"]) for r in bmw.topk_term("hot", 10).collect()]
    assert got == exp
    st = bmw.last_stats
    assert st["blocks_total"] == 12  # 1500/128
    assert st["blocks_scored"] < st["blocks_total"] / 2, st  # real pruning


def test_compression_smaller_than_raw(packed):
    from pyspark.sql import functions as F

    idx, blocks = packed
    packed_bytes = blocks.select(F.sum(F.length("packed"))).collect()[0][0]
    n_postings = idx.postings.count()
    ttf = idx.sum_ttf
    # uncompressed footprint: doc_id 8B + tf 4B + norm 1B per posting,
    # 4B per position occurrence
    raw_bytes = n_postings * 13 + ttf * 4
    assert packed_bytes < raw_bytes / 2, (packed_bytes, raw_bytes)
