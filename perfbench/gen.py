"""Seeded corpus and query-stream generator (numpy only).

Everything here is a pure function of its arguments and the seed, so the
same seed gives byte-identical corpora and query streams on every run.

Corpus make-up:
  - content words are drawn Zipf(ZIPF_A) over a VOCAB-word vocabulary;
    each word is a 6-letter consonant-vowel string, so it is one token
    for any UAX#29 tokenizer and never a stop word;
  - each token is an English stop word with probability STOP_SHARE;
  - doc lengths (in tokens, stop words included) are log-normal.

Doc ids follow generation order (`uniform`) or ascending analyzed doc
length (`sorted`, the index-sorting layout).  The generator itself never
looks at the layout; `layout_doc_ids` maps generation order to doc ids.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from reference import STOP_WORDS

GEN_VERSION = 1
ZIPF_A = 1.1
STOP_SHARE = 0.2
LEN_MU = float(np.log(40.0))
LEN_SIGMA = 0.6
LEN_MIN, LEN_MAX = 4, 400

_CONS = "bcdfghjklmnpqrstvwxz"
_VOWELS = "aeiou"
_SYLL = np.array([c + v for c in _CONS for v in _VOWELS])  # 100 syllables


def vocab_words(n: int) -> np.ndarray:
    """Rank r -> a 6-letter word; a scrambled bijection onto 100**3 codes
    so alphabetical order is unrelated to frequency rank."""
    assert n <= 1_000_000
    code = (np.arange(n, dtype=np.int64) * 104_729 + 7) % 1_000_000
    return np.char.add(
        np.char.add(_SYLL[code // 10_000], _SYLL[(code // 100) % 100]),
        _SYLL[code % 100],
    )


def _zipf_cdf(n: int, a: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -a
    c = np.cumsum(w)
    return c / c[-1]


class Corpus:
    """Token-id arrays plus texts. Token id t < vocab is content word t;
    t >= vocab is stop word t - vocab."""

    def __init__(self, n_docs: int, vocab: int, seed: int, stream: int = 0):
        rng = np.random.default_rng([seed, stream, GEN_VERSION])
        self.vocab = vocab
        self.words = np.concatenate([vocab_words(vocab), np.array(sorted(STOP_WORDS))])
        lens = np.exp(rng.normal(LEN_MU, LEN_SIGMA, n_docs)).astype(np.int64)
        self.lens = np.clip(lens, LEN_MIN, LEN_MAX)
        total = int(self.lens.sum())
        ids = np.searchsorted(_zipf_cdf(vocab, ZIPF_A), rng.random(total), side="right")
        stop = rng.random(total) < STOP_SHARE
        ids[stop] = vocab + rng.integers(0, len(STOP_WORDS), int(stop.sum()))
        self.ids = ids.astype(np.int64)
        self.offsets = np.concatenate([[0], np.cumsum(self.lens)])

    @property
    def n_docs(self) -> int:
        return len(self.lens)

    def doc_ids(self, d: int) -> np.ndarray:
        return self.ids[self.offsets[d] : self.offsets[d + 1]]

    def texts(self) -> list[str]:
        w = self.words[self.ids].tolist()
        o = self.offsets.tolist()
        return [" ".join(w[o[i] : o[i + 1]]) for i in range(self.n_docs)]

    def analyzed_lens(self) -> np.ndarray:
        """Tokens per doc after stop-word removal (the BM25 field length)."""
        content = (self.ids < self.vocab).astype(np.int64)
        return np.add.reduceat(content, self.offsets[:-1])


def layout_doc_ids(corpus: Corpus, layout: str) -> np.ndarray:
    """doc_id of each generated doc. `uniform`: generation order.
    `sorted`: ascending analyzed length, ties by generation order."""
    n = corpus.n_docs
    if layout == "uniform":
        return np.arange(n, dtype=np.int64)
    assert layout == "sorted", layout
    order = np.lexsort((np.arange(n), corpus.analyzed_lens()))
    ids = np.empty(n, dtype=np.int64)
    ids[order] = np.arange(n)
    return ids


def write_corpus(path: str, doc_ids: np.ndarray, texts: list[str], files: int) -> None:
    """(doc_id, text) as `files` parquet files, one row group each, so a
    Spark read gets one input partition per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    bounds = np.linspace(0, len(texts), files + 1).astype(int)
    for i in range(files):
        lo, hi = bounds[i], bounds[i + 1]
        tbl = pa.table(
            {"doc_id": pa.array(doc_ids[lo:hi], pa.int64()), "text": pa.array(texts[lo:hi])}
        )
        pq.write_table(tbl, os.path.join(tmp, f"part-{i:03d}.parquet"))
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent run cached the same corpus first
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------- queries
SHAPES = ("term", "or", "and", "phrase")


STRATA = 4


def _pair_starts(ids: np.ndarray, offsets: np.ndarray, vocab: int) -> np.ndarray:
    """Mask of token positions whose successor is a content token of the
    same doc, both content tokens: the starts of two-word phrases."""
    ok = np.zeros(len(ids), dtype=bool)
    ok[:-1] = (ids[:-1] < vocab) & (ids[1:] < vocab)
    ok[offsets[1:] - 1] = False
    return ok


def serve_stream(corpus: Corpus, seed: int, rounds: int) -> list[tuple[str, tuple[str, ...]]]:
    """Closed-loop query stream: `rounds` rounds of one query per shape.

    Query terms are drawn at random content-token positions, so they follow
    the corpus's Zipf frequencies: hot terms repeat, a long tail arrives
    once. The draw is stratified: content tokens are split by term rank
    into STRATA bands of equal token mass, and each shape takes its draw
    from band (round + offset) % STRATA, so every STRATA rounds hold the
    same mix of head and tail terms whatever the seed. AND terms come from
    one doc and phrases are adjacent content tokens, so both match."""
    rng = np.random.default_rng([seed, 101, GEN_VERSION])
    ids, words, vocab = corpus.ids, corpus.words, corpus.vocab
    content_pos = np.flatnonzero(ids < vocab)
    # term id == Zipf rank, so sorting positions by id orders them head first
    by_rank = content_pos[np.argsort(ids[content_pos], kind="stable")]
    cuts = np.searchsorted(ids[by_rank], ids[by_rank][
        (np.arange(1, STRATA) * len(by_rank)) // STRATA], side="left")
    bands = np.split(by_rank, cuts)
    nxt_ok = _pair_starts(ids, corpus.offsets, vocab)
    pair_bands = [b[nxt_ok[b]] for b in bands]
    doc_of = np.repeat(np.arange(corpus.n_docs), corpus.lens)

    def draw(pool: np.ndarray) -> int:
        return int(pool[rng.integers(len(pool))])

    def w(p: int) -> str:
        return str(words[ids[p]])

    out: list[tuple[str, tuple[str, ...]]] = []
    for r in range(rounds):
        out.append(("term", (w(draw(bands[r % STRATA])),)))
        ors: list[str] = []
        while len(ors) < 3:
            t = w(draw(bands[(r + 1 + len(ors)) % STRATA]))
            if t not in ors:
                ors.append(t)
        out.append(("or", tuple(ors)))
        while True:
            p = draw(bands[(r + 2) % STRATA])
            dc = corpus.doc_ids(doc_of[p])
            others = np.unique(dc[(dc < vocab) & (dc != ids[p])])
            if len(others):
                out.append(("and", (w(p), str(words[rng.choice(others)]))))
                break
        p = draw(pair_bands[(r + 3) % STRATA])
        out.append(("phrase", (w(p), w(p + 1))))
    return out


def marker_word(batch: int) -> str:
    """Batch-unique marker token: letters only, never a vocabulary word
    (vocabulary words are 6-letter consonant-vowel strings)."""
    s = ""
    b = batch
    for _ in range(4):
        s += chr(ord("a") + b % 26)
        b //= 26
    return "qxmark" + s


def nrt_queries(corpus: Corpus, seed: int, batch: int, upto_doc: int, per_shape: int
                ) -> list[tuple[str, str, tuple[str, ...]]]:
    """Classic-syntax queries over the docs written so far (generation
    index < upto_doc): `per_shape` each of term, OR, `+a +b`, `+a -b` and
    a quoted two-word phrase. Returns (shape, query string, terms)."""
    rng = np.random.default_rng([seed, 202, batch, GEN_VERSION])
    ids, words, vocab = corpus.ids[: corpus.offsets[upto_doc]], corpus.words, corpus.vocab
    content_pos = np.flatnonzero(ids < vocab)
    pair_pos = np.flatnonzero(_pair_starts(ids, corpus.offsets[: upto_doc + 1], vocab))

    def pick() -> str:
        return str(words[ids[content_pos[rng.integers(len(content_pos))]]])

    def two() -> tuple[str, str]:
        a = pick()
        b = pick()
        while b == a:
            b = pick()
        return a, b

    def two_in_one_doc() -> tuple[str, str]:
        while True:
            d = int(rng.integers(upto_doc))
            dc = corpus.doc_ids(d)
            dc = np.unique(dc[dc < vocab])
            if len(dc) >= 2:
                a, b = rng.choice(dc, 2, replace=False)
                return str(words[a]), str(words[b])

    out = []
    for _ in range(per_shape):
        a = pick()
        out.append(("term", a, (a,)))
        a, b = two()
        out.append(("or", f"{a} {b}", (a, b)))
        a, b = two_in_one_doc()
        out.append(("and", f"+{a} +{b}", (a, b)))
        a, b = two()
        out.append(("not", f"+{a} -{b}", (a, b)))
        p = pair_pos[rng.integers(len(pair_pos))]
        a, b = str(words[ids[p]]), str(words[ids[p + 1]])
        out.append(("phrase", f'"{a} {b}"', (a, b)))
    return out
