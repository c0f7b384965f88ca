"""Independent BM25 reference: the published Lucene 4.8 formulas in numpy.

Nothing here comes from the package under test. It implements:

  - analysis: whitespace tokens, lower-cased, with the 33-word English stop
    set removed; every removed stop word still advances the position, so
    it leaves a hole that a phrase cannot span;
  - BM25Similarity (k1=1.2, b=0.75):
      idf    = ln(1 + (N - df + 0.5) / (df + 0.5))
      avgdl  = sumTotalTermFreq / N
      norm   = SmallFloat.floatToByte315(1 / sqrt(fieldLength))
      cache  = k1 * ((1 - b) + b * decode(norm) / avgdl),
               decode(byte) = 1 / byte315ToFloat(byte)^2
      score  = idf * (k1 + 1) * tf / (tf + cache[norm])
    summed over the clauses of a boolean query (BM25's coord is 1);
  - phrases: tf is the exact count of adjacent positions, the idf is the
    sum of the phrase terms' idfs.

Scores are computed in float64; the engine computes in float32, so
checks compare with a relative tolerance.
"""

from __future__ import annotations

import math
import struct

import numpy as np

STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)
K1 = 1.2
B = 0.75


# ------------------------------------------------------------- SmallFloat
def _f32_bits(x: float) -> int:
    return struct.unpack(">i", struct.pack(">f", x))[0]


def _to_f32(x: float) -> float:
    return struct.unpack(">f", struct.pack(">f", x))[0]


def float_to_byte315(x: float) -> int:
    """SmallFloat.floatToByte315: 3 mantissa bits, zero exponent 15."""
    bits = _f32_bits(x)
    small = bits >> 21
    fzero = (63 - 15) << 3
    if small <= fzero:
        return 0 if bits <= 0 else 1
    if small >= fzero + 0x100:
        return 255
    return small - fzero


def byte315_to_float(b: int) -> float:
    if b == 0:
        return 0.0
    bits = ((b & 0xFF) << 21) + ((63 - 15) << 24)
    return struct.unpack(">f", struct.pack(">i", bits))[0]


def encode_length(field_length: int) -> int:
    """The norm byte of a field of `field_length` indexed tokens."""
    if field_length <= 0:
        return float_to_byte315(math.inf)
    root = _to_f32(math.sqrt(field_length))  # (float) Math.sqrt(length)
    return float_to_byte315(_to_f32(1.0 / root))


def decoded_norm_table() -> np.ndarray:
    """decode(byte) = 1 / byte315ToFloat(byte)^2 — the quantized length."""
    out = np.empty(256)
    for i in range(256):
        f = byte315_to_float(i)
        out[i] = math.inf if f == 0.0 else 1.0 / (f * f)
    return out


# ---------------------------------------------------------------- analysis
def analyze(text: str) -> list[tuple[str, int]]:
    """(term, position) pairs; stop words are dropped but keep their slot."""
    return [
        (t, p) for p, t in enumerate(text.lower().split()) if t not in STOP_WORDS
    ]


# ------------------------------------------------------------------- index
class BM25Reference:
    """A positional index over (doc_id, text) pairs that scores queries
    exhaustively: every matching doc gets its exact reference score."""

    def __init__(self, docs, k1: float = K1, b: float = B):
        self.k1, self.b = k1, b
        term_of: dict[str, int] = {}
        t_ids: list[int] = []
        d_ids: list[int] = []
        pos: list[int] = []
        doc_list: list[int] = []
        dls: list[int] = []
        for doc_id, text in docs:
            toks = analyze(text)
            doc_list.append(int(doc_id))
            dls.append(len(toks))
            for t, p in toks:
                tid = term_of.setdefault(t, len(term_of))
                t_ids.append(tid)
                d_ids.append(int(doc_id))
                pos.append(p)
        self.term_of = term_of
        self.n_docs = len(doc_list)
        assert len(set(doc_list)) == self.n_docs, "doc ids must be unique"
        self.max_id = max(doc_list) + 1 if doc_list else 0
        dl = np.zeros(self.max_id, dtype=np.int64)
        dl[np.asarray(doc_list, dtype=np.int64)] = dls
        self.sum_ttf = int(sum(dls))
        self.avgdl = self.sum_ttf / self.n_docs if self.n_docs else 1.0
        norm_bytes = np.array([encode_length(int(x)) for x in range(int(dl.max()) + 1)]
                              if self.max_id else [0])
        table = decoded_norm_table()
        cache = k1 * ((1 - b) + b * table / self.avgdl)
        self.doc_norm = cache[norm_bytes[dl]]  # per doc_id: k1*(1-b+b*dl'/avgdl)
        t = np.asarray(t_ids, dtype=np.int64)
        d = np.asarray(d_ids, dtype=np.int64)
        p = np.asarray(pos, dtype=np.int64)
        order = np.lexsort((p, d, t))
        self._t, self._d, self._p = t[order], d[order], p[order]
        self._tstart = np.searchsorted(self._t, np.arange(len(term_of) + 1))
        self.max_pos = int(p.max()) + 2 if len(p) else 2

    # ------------------------------------------------------------ stats
    def _slice(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, positions) of one term, sorted by (doc, pos)."""
        tid = self.term_of.get(term.lower())
        if tid is None:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        lo, hi = self._tstart[tid], self._tstart[tid + 1]
        return self._d[lo:hi], self._p[lo:hi]

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, tf) of one term."""
        d, _ = self._slice(term)
        docs, tf = np.unique(d, return_counts=True)
        return docs, tf

    def n_postings(self) -> int:
        """Distinct (doc, term) pairs."""
        if not len(self._t):
            return 0
        key = self._t * self.max_id + self._d
        return int(np.count_nonzero(np.diff(key)) + 1)

    def idf(self, df: int) -> float:
        n = self.n_docs
        return math.log(1 + (n - df + 0.5) / (df + 0.5))

    def _bm25(self, idf: float, docs: np.ndarray, tf: np.ndarray) -> np.ndarray:
        w = idf * (self.k1 + 1)
        return w * tf / (tf + self.doc_norm[docs])

    # ---------------------------------------------------------- queries
    def term_scores(self, term: str) -> dict[int, float]:
        docs, tf = self.postings(term)
        s = self._bm25(self.idf(len(docs)), docs, tf)
        return dict(zip(docs.tolist(), s.tolist()))

    def bool_scores(self, must=(), should=(), must_not=()) -> dict[int, float]:
        """BooleanQuery over term clauses: docs matching every MUST (or, with
        no MUST, at least one SHOULD) and no MUST_NOT, scored by the sum of
        their matching MUST and SHOULD clauses."""
        total = np.zeros(self.max_id)
        hits = np.zeros(self.max_id, dtype=np.int64)
        any_should = np.zeros(self.max_id, dtype=bool)
        for terms, kind in ((must, "must"), (should, "should")):
            for t in terms:
                docs, tf = self.postings(t)
                total[docs] += self._bm25(self.idf(len(docs)), docs, tf)
                if kind == "must":
                    hits[docs] += 1
                else:
                    any_should[docs] = True
        ok = hits == len(must) if must else any_should
        for t in must_not:
            ok[self.postings(t)[0]] = False
        docs = np.flatnonzero(ok)
        return dict(zip(docs.tolist(), total[docs].tolist()))

    def phrase_freqs(self, terms) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, exact phrase frequency) for an exact phrase."""
        keys = None
        for i, t in enumerate(terms):
            d, p = self._slice(t)
            k = d * self.max_pos + (p - i)
            keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
        if keys is None or not len(keys):
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        return np.unique(keys // self.max_pos, return_counts=True)

    def phrase_scores(self, terms) -> dict[int, float]:
        docs, pf = self.phrase_freqs(terms)
        idf = sum(self.idf(len(self.postings(t)[0])) for t in terms)
        s = self._bm25(idf, docs, pf)
        return dict(zip(docs.tolist(), s.tolist()))


# ------------------------------------------------------------------ check
def check_topk(hits: list[tuple[int, float]], ref: dict[int, float], k: int,
               rtol: float = 1e-5) -> str | None:
    """None if `hits` (doc_id, score) is a correct top-k for the reference
    scores `ref` of every matching doc, else the first reason it is not.

    Correct means: min(k, matches) hits, no doc twice; every hit matches
    with its score within `rtol` of its reference score; the hit scores
    equal the reference's k highest within `rtol`; and hits are ordered by
    score descending, then doc_id ascending."""
    want = min(k, len(ref))
    if len(hits) != want:
        return f"{len(hits)} hits, expected {want}"
    docs = [d for d, _ in hits]
    if len(set(docs)) != len(docs):
        return "a doc is returned twice"

    def close(a: float, b: float) -> bool:
        return abs(a - b) <= rtol * max(abs(a), abs(b), 1e-12)

    for d, s in hits:
        if d not in ref:
            return f"doc {d} does not match"
        if not close(s, ref[d]):
            return f"doc {d} scored {s}, reference {ref[d]}"
    best = sorted(ref.values(), reverse=True)[:want]
    for i, ((d, s), r) in enumerate(zip(hits, best)):
        if not close(s, r):
            return f"rank {i}: score {s}, reference k-best {r}"
    for (d1, s1), (d2, s2) in zip(hits, hits[1:]):
        if s1 < s2 or (s1 == s2 and d1 > d2):
            return f"docs {d1} and {d2} out of order"
    return None
