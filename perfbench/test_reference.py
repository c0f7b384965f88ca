"""Tests of the independent BM25 reference and the top-k checker.

    python3 -m pytest perfbench/test_reference.py     (or run this file)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from reference import (  # noqa: E402
    BM25Reference,
    byte315_to_float,
    check_topk,
    decoded_norm_table,
    encode_length,
)

DOCS = [
    (0, "the quick fox"),  # quick@1 fox@2, length 2
    (1, "fox and fox"),  # fox@0 fox@2 (the stop word leaves a hole), length 2
    (2, "quick fox jumps over lazy dog"),  # length 6
]


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-12)


def test_smallfloat():
    assert encode_length(1) == 124 and byte315_to_float(124) == 1.0
    # 1/sqrt(2) = 0.7071 truncates to 0.625 (byte 121); 1/sqrt(6) to 0.375
    assert encode_length(2) == 121 and byte315_to_float(121) == 0.625
    assert encode_length(6) == 118 and byte315_to_float(118) == 0.375
    t = decoded_norm_table()
    assert t[124] == 1.0 and close(t[121], 2.56) and close(t[118], 1 / 0.140625)
    assert encode_length(0) == 255 and byte315_to_float(0) == 0.0


def test_three_docs_by_hand():
    ref = BM25Reference(DOCS)
    assert ref.n_docs == 3 and ref.sum_ttf == 10 and close(ref.avgdl, 10 / 3)
    assert ref.n_postings() == 2 + 1 + 6
    # k1 * (1 - b + b * decoded_length / avgdl)
    n2 = 1.2 * (0.25 + 0.75 * 2.56 / (10 / 3))  # 0.9912
    n6 = 1.2 * (0.25 + 0.75 * (1 / 0.140625) / (10 / 3))  # 2.22
    assert close(n2, 0.9912) and close(n6, 2.22)
    idf_fox = math.log(1 + (3 - 3 + 0.5) / (3 + 0.5))
    idf_quick = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))

    fox = ref.term_scores("fox")
    assert sorted(fox) == [0, 1, 2]
    assert close(fox[0], idf_fox * 2.2 * 1 / (1 + 0.9912))
    assert close(fox[1], idf_fox * 2.2 * 2 / (2 + 0.9912))
    assert close(fox[2], idf_fox * 2.2 * 1 / (1 + 2.22))

    q_or = ref.bool_scores(should=("quick", "fox"))
    assert close(q_or[0], fox[0] + idf_quick * 2.2 / (1 + 0.9912))
    assert close(q_or[1], fox[1])
    assert sorted(ref.bool_scores(must=("quick", "fox"))) == [0, 2]
    assert sorted(ref.bool_scores(must=("quick",), must_not=("jumps",))) == [0]

    ph = ref.phrase_scores(("quick", "fox"))
    assert sorted(ph) == [0, 2]
    assert close(ph[0], (idf_quick + idf_fox) * 2.2 * 1 / (1 + 0.9912))
    # "fox and fox": the stop word's hole means fox is never next to fox
    assert ref.phrase_scores(("fox", "fox")) == {}
    assert ref.term_scores("and") == {}


def _topk(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_checker_accepts_and_rejects():
    c = gen.Corpus(400, 500, seed=3)
    ref = BM25Reference(zip(range(c.n_docs), c.texts()))
    word = str(c.words[0])  # the most frequent content word
    scores = ref.term_scores(word)
    assert len(scores) > 20
    good = _topk(scores, 10)
    assert check_topk(good, scores, 10) is None
    # float32-sized noise passes
    assert check_topk([(d, s * (1 + 1e-7)) for d, s in good], scores, 10) is None

    perturbed = list(good)
    perturbed[4] = (good[4][0], good[4][1] * (1 + 1e-4))
    assert check_topk(perturbed, scores, 10) is not None

    outside = next(d for d, _ in _topk(scores, len(scores))[10:] if scores[d] < good[-1][1])
    swapped = good[:9] + [(outside, scores[outside])]
    assert check_topk(swapped, scores, 10) is not None

    reordered = [good[1], good[0]] + good[2:]
    if good[0][1] != good[1][1]:
        assert check_topk(reordered, scores, 10) is not None
    assert check_topk(good[:9], scores, 10) is not None  # too few hits
    assert check_topk(good[:9] + [good[0]], scores, 10) is not None  # duplicate
    assert check_topk([(10**6, 1.0)], {}, 10) is not None  # hit for no match


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
