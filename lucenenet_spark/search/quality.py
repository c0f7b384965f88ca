"""Search-quality evaluation — the Benchmark Quality package as DataFrame
aggregation.

Reference semantics:

- ``src/Lucene.Net.Benchmark/Quality/QualityStats.cs:86-115`` (AddResult):
  per ranked hit, cumulative precision ``p = goodSoFar / rank``; the MRR is
  ``1/rank`` of the FIRST relevant hit but only when that rank is <= 5;
  ``pReleventSum`` accumulates ``p`` at each relevant rank; recall is
  ``goodSoFar / maxGoodPoints``.
- ``QualityStats.cs:122-141`` (GetPrecisionAt / GetAvp): precision at a
  point beyond the result list degrades as ``numPoints*pAt[numPoints]/n``
  — algebraically ``numGood/n``, so the unified form used here is
  ``P@n = |relevant in top min(n, numPoints)| / n``;
  ``AvP = pReleventSum / maxGoodPoints`` (0 when no judgments).
- ``Quality/Trec/TrecJudge.cs``: judgments are a (query -> relevant doc
  set) map loaded from qrels; :func:`trec_judgments` derives a
  deterministic analogue from the corpus itself (tf >= min_tf).
- ``Quality/QualityBenchmark.cs:66-100`` (Execute): one top-k search per
  QualityQuery, one QualityStats per query.

Determinism contract (shared with the driver gates): ranks are computed on
the QUANTIZED score ``floor(score*10000+0.5)`` so the ordering is
bit-identical across engines, and every ratio metric is a SINGLE division
of exact integers — AvP's sum of fractions ``cumGood/rank`` is carried as
an exact BIGINT numerator over the common denominator LCM(1..20) =
232792560, so no cross-engine float-summation-order issue exists.

Scale notes: one window partition per quality query (a real qrels run has
hundreds of queries -> hundreds of partitions, parallel); judgments join is
a broadcast-size dimension at qrels scale; the per-query top-k reuses the
searcher's single-job plans.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucenenet_spark.search.queries import TermQuery

#: QualityStats.MAX_POINTS (QualityStats.cs:34)
MAX_POINTS = 20

#: lcm(1..20) — exact common denominator for the AvP fraction sum.
_LCM20 = 232792560


def trec_judgments(index, terms, min_tf: int = 2) -> DataFrame:
    """TrecJudge analogue with corpus-derived qrels: doc is judged relevant
    for query term t iff tf(t, doc) >= min_tf (deterministic, independent
    of the ranking under test). Returns (query, doc_id)."""
    p = index.postings.filter(F.col("field") == index.default_field)
    return p.filter(
        F.col("term").isin(list(terms)) & (F.col("tf") >= int(min_tf))
    ).select(F.col("term").alias("query"), "doc_id")


def quality_benchmark(
    searcher,
    terms,
    k: int = MAX_POINTS,
    min_tf: int = 2,
) -> DataFrame:
    """QualityBenchmark.Execute over single-term QualityQueries: top-k BM25
    per query, one QualityStats row per query.

    Output columns (ratios quantized to ``floor(x*10000+0.5)`` bigints):
    (query, num_points, num_good, max_good, p5_q, p10_q, mrr_q, avp_q,
    recall_q).
    """
    if k > MAX_POINTS:
        raise ValueError(f"k={k} exceeds MAX_POINTS={MAX_POINTS}")
    terms = list(terms)

    parts = [
        searcher.scored(TermQuery(t)).select(
            F.lit(t).alias("query"),
            "doc_id",
            F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5))
            .cast("long")
            .alias("score_q"),
        )
        for t in terms
    ]
    scored = reduce(DataFrame.unionByName, parts)

    w_rank = Window.partitionBy("query").orderBy(
        F.desc("score_q"), F.asc("doc_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w_rank)).filter(
        F.col("rank") <= k
    )

    judg = trec_judgments(searcher.index, terms, min_tf)
    max_good = judg.groupBy("query").agg(
        F.count(F.lit(1)).cast("long").alias("max_good")
    )

    j = (
        ranked.join(
            judg.withColumn("rel", F.lit(1)), ["query", "doc_id"], "left"
        )
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0)))
        .withColumn(
            "cum_good",
            F.sum("rel").over(Window.partitionBy("query").orderBy("rank")),
        )
    )

    agg = j.groupBy("query").agg(
        F.max("rank").cast("long").alias("num_points"),
        F.sum("rel").cast("long").alias("num_good"),
        F.sum(F.when(F.col("rank") <= 5, F.col("rel")).otherwise(0))
        .cast("long")
        .alias("good5"),
        F.sum(F.when(F.col("rank") <= 10, F.col("rel")).otherwise(0))
        .cast("long")
        .alias("good10"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
        # exact integer numerator of pReleventSum over denominator LCM20:
        # sum over relevant ranks of cumGood * (LCM20 / rank)
        F.coalesce(
            F.sum(
                F.when(
                    F.col("rel") == 1,
                    F.col("cum_good") * F.expr(f"{_LCM20} div rank"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("avp_num"),
    )

    out = agg.join(max_good, "query", "left").withColumn(
        "max_good", F.coalesce(F.col("max_good"), F.lit(0).cast("long"))
    )

    def _q(col):
        return F.floor(col * F.lit(10000.0) + F.lit(0.5)).cast("long")

    mrr = F.when(
        F.col("first_rel").isNotNull() & (F.col("first_rel") <= 5),
        F.lit(1.0) / F.col("first_rel"),
    ).otherwise(F.lit(0.0))
    avp = F.when(
        F.col("max_good") > 0,
        F.col("avp_num") / (F.lit(float(_LCM20)) * F.col("max_good")),
    ).otherwise(F.lit(0.0))
    # QualityStats.cs:113: recall falls back to the running precision p
    # (= numGood/numPoints at the last point) when maxGoodPoints <= 0.
    recall = F.when(
        F.col("max_good") > 0, F.col("num_good") / F.col("max_good")
    ).otherwise(F.col("num_good") / F.col("num_points"))

    return out.select(
        "query",
        "num_points",
        "num_good",
        "max_good",
        _q(F.col("good5") / F.lit(5.0)).alias("p5_q"),
        _q(F.col("good10") / F.lit(10.0)).alias("p10_q"),
        _q(mrr).alias("mrr_q"),
        _q(avp).alias("avp_q"),
        _q(recall).alias("recall_q"),
    )


def ndcg_at_k(searcher, term: str, k: int = 10, max_grade: int = 4) -> DataFrame:
    """nDCG@k (Järvelin & Kekäläinen TOIS'02) for one term query with
    corpus-derived GRADED relevance: grade(doc) = min(tf(term, doc),
    max_grade) — deterministic qrels independent of the ranking under
    test, extending trec_judgments' binary convention.

        DCG@k  = Σ_{r=1..k} (2^grade − 1) / log2(r + 1)   over the BM25
                 ranking (score_q DESC, doc_id ASC)
        IDCG@k = same sum over the ideal ordering (grade DESC, doc_id ASC)

    Determinism contract: each rank's contribution is quantized to a
    bigint (floor(c * 1e9 + 0.5)); DCG/IDCG are exact integer sums, and
    only the final ratio runs in double. Output one row:
    (dcg_q9, idcg_q9, ndcg_q) with ndcg_q = floor(dcg/idcg * 1e6 + 0.5).
    """
    from pyspark.sql import Window

    idx = searcher.index
    fld = idx.default_field
    p = idx.postings.filter((F.col("field") == fld) & (F.col("term") == term)).select(
        "doc_id", F.least(F.col("tf"), F.lit(max_grade)).cast("long").alias("grade")
    )

    def _contrib_sum(ranked, alias):
        c = ranked.select(
            F.floor(
                (F.pow(F.lit(2.0), F.col("grade")) - F.lit(1.0))
                / (F.log(F.col("rank") + F.lit(1.0)) / F.log(F.lit(2.0)))
                * F.lit(1e9)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cq")
        )
        return c.agg(F.sum("cq").cast("long").alias(alias))

    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w_run = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    run = (
        scored.withColumn("rank", F.row_number().over(w_run).cast("double"))
        .filter(F.col("rank") <= k)
        .join(p, "doc_id")
    )
    w_ideal = Window.orderBy(F.desc("grade"), F.asc("doc_id"))
    ideal = p.withColumn("rank", F.row_number().over(w_ideal).cast("double")).filter(
        F.col("rank") <= k
    )
    dcg = _contrib_sum(run, "dcg_q9")
    idcg = _contrib_sum(ideal, "idcg_q9")
    return dcg.crossJoin(idcg).select(
        "dcg_q9",
        "idcg_q9",
        F.floor(
            F.col("dcg_q9").cast("double") / F.col("idcg_q9").cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ndcg_q"),
    )


def query_clarity(searcher, term: str, k: int = 10) -> DataFrame:
    """Query clarity score (Cronen-Townsend, Zhou & Croft SIGIR'02):
    KL divergence between the language model of the top-k result set R
    and the collection model — the classic query-performance predictor
    (high clarity = focused result language = likely good query).

        clarity = Σ_w  p(w|R) · ln( p(w|R) / p(w|C) )

    with p(w|R) = tf_R(w)/|R|, p(w|C) = ttf(w)/sumTotalTermFreq, summed
    over the words occurring in R. Per-word contributions are quantized
    to bigints (floor(c * 1e9 + 0.5)) so the sum is exact and engine-
    order-independent. Output one row: (n_words, clarity_q9).
    """
    from pyspark.sql import Window

    idx = searcher.index
    fld = idx.default_field
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w_run = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    top = (
        scored.withColumn("rank", F.row_number().over(w_run))
        .filter(F.col("rank") <= k)
        .select("doc_id")
    )
    p = idx.postings.filter(F.col("field") == fld).join(top, "doc_id")
    rtf = p.groupBy("term").agg(F.sum("tf").cast("long").alias("rtf"))
    rlen = rtf.agg(F.sum("rtf").cast("long").alias("rlen"))
    ts = idx.term_stats.filter(F.col("field") == fld).select("term", "ttf")
    sttf = float(idx._sttf(fld))
    contrib = (
        rtf.join(ts, "term")
        .crossJoin(F.broadcast(rlen))
        .select(
            F.floor(
                (F.col("rtf").cast("double") / F.col("rlen"))
                * F.log(
                    (F.col("rtf").cast("double") / F.col("rlen"))
                    / (F.col("ttf").cast("double") / F.lit(sttf))
                )
                * F.lit(1e9)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cq")
        )
    )
    return contrib.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("cq").cast("long").alias("clarity_q9"),
    )


def rbo_overlap(ranking_a: DataFrame, ranking_b: DataFrame, k: int = 10,
                p: float = 0.9) -> DataFrame:
    """Fixed-depth rank-biased overlap (Webber, Moffat & Zobel TOIS'10)
    between two top-k rankings — the standard indefinite-ranking
    similarity for comparing rankers (e.g. BM25 vs TFIDF, or a packed
    vs exploded serving path) without assuming identical result sets:

        RBO@k = (1 - p) * Σ_{d=1..k}  p^(d-1) · |A_d ∩ B_d| / d

    Inputs: DataFrames with (doc_id, rank) where rank is 1-based and
    dense. Overlaps are exact integers (join on doc_id, count ranks
    both <= d); each depth's contribution is quantized to a bigint
    (floor(c * 1e9 + 0.5)) and summed exactly, so the score is engine-
    order-independent. Output one row: (k, rbo_q9).

    Scale note: the depth loop is a k-row sequence explode joined
    against the (tiny) rank-pair table — O(k^2) work on k rows, never
    touching the corpus.
    """
    a = ranking_a.select(F.col("doc_id"), F.col("rank").alias("ra")).filter(
        F.col("ra") <= k
    )
    b = ranking_b.select(F.col("doc_id"), F.col("rank").alias("rb")).filter(
        F.col("rb") <= k
    )
    both = a.join(b, "doc_id").select("ra", "rb")
    from pyspark.sql import DataFrame as _DF  # noqa: F401  (doc only)

    depths = both.sparkSession.range(1, k + 1).select(F.col("id").alias("d"))
    ov = (
        depths.join(
            both, (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), "left"
        )
        .groupBy("d")
        .agg(F.count(F.col("ra")).cast("long").alias("ov"))
    )
    contrib = ov.select(
        F.floor(
            F.lit(1.0 - p)
            * F.pow(F.lit(p), F.col("d").cast("double") - F.lit(1.0))
            * (F.col("ov").cast("double") / F.col("d").cast("double"))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cq")
    )
    return contrib.agg(
        F.max(F.lit(k)).cast("long").alias("k"),
        F.sum("cq").cast("long").alias("rbo_q9"),
    )


def err_at_k(searcher, term: str, k: int = 10, max_grade: int = 4) -> DataFrame:
    """ERR@k — Expected Reciprocal Rank (Chapelle, Metlzer, Zhang &
    Grinspan, CIKM 2009), the cascade-model metric: a simulated user
    scans down the ranking and stops at rank r with probability
    R_r = (2^g_r - 1) / 2^max_grade, so

        ERR@k = Σ_{r=1..k} (1/r) · R_r · Π_{i<r} (1 - R_i)

    Graded qrels follow ndcg_at_k's convention: g(doc) = min(tf, 4).

    Determinism contract: with gmax=4 every stop probability is a
    rational with denominator 16, so Π_{i<r}(1 - R_i) = P_r / 16^(r-1)
    with P_r = Π_{i<r}(16 - (2^g_i - 1)) an EXACT integer <= 16^9 —
    carried through a single F.aggregate fold over the (tiny, <= k)
    collected ranking, alongside 16^r itself (ranks are contiguous, so
    the fold just multiplies by 16 each step). Each rank's contribution
    (2^g_r - 1) · P_r / (r · 16^r) is one IEEE double division of exact
    integers, quantized to a bigint (floor(c * 1e9 + 0.5)) and summed
    exactly. Output one row: (k, err_q9).
    """
    idx = searcher.index
    fld = idx.default_field
    grades = idx.postings.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select(
        "doc_id",
        (F.pow(F.lit(2.0), F.least(F.col("tf"), F.lit(max_grade)).cast("double")) - F.lit(1.0))
        .cast("long")
        .alias("n"),
    )
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    run = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(grades, "doc_id")
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("rank").alias("rank"), F.col("n").alias("n")))
    )
    # fold state: p = Π(16 - n_i) so far, q = 16^(ranks consumed), s = Σ c_q9
    init = F.struct(
        F.lit(1).cast("long").alias("p"),
        F.lit(1).cast("long").alias("q"),
        F.lit(0).cast("long").alias("s"),
    )

    def _step(acc, x):
        qr = acc["q"] * F.lit(16)
        contrib = F.floor(
            x["n"].cast("double")
            * acc["p"].cast("double")
            / (x["rank"].cast("double") * qr.cast("double"))
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long")
        return F.struct(
            (acc["p"] * (F.lit(16) - x["n"])).alias("p"),
            qr.alias("q"),
            (acc["s"] + contrib).alias("s"),
        )

    folded = run.agg(arr.alias("arr")).select(
        F.lit(k).cast("long").alias("k"),
        F.aggregate(F.col("arr"), init, _step)["s"].alias("err_q9"),
    )
    return folded


def kendall_tau(ranking_a: DataFrame, ranking_b: DataFrame, k: int = 10) -> DataFrame:
    """Kendall rank correlation (tau-a) between two top-k rankings,
    computed over the documents BOTH rankers retrieved (the standard
    restriction for indefinite lists; RBO handles the non-conjoint
    part).  Concordant/discordant are exact integer pair counts from a
    self-join over the (<= k-row) intersection; only the final
    normalization runs in double.  Output one row:
    (n_common, concordant, discordant, tau_q6) with
    tau_q6 = floor((C - D) / (m(m-1)/2) * 1e6 + 0.5), 0 when m < 2.
    """
    a = ranking_a.select("doc_id", F.col("rank").alias("ra")).filter(F.col("ra") <= k)
    b = ranking_b.select("doc_id", F.col("rank").alias("rb")).filter(F.col("rb") <= k)
    both = a.join(b, "doc_id").select("doc_id", "ra", "rb")
    x = both.select(
        F.col("doc_id").alias("d1"), F.col("ra").alias("ra1"), F.col("rb").alias("rb1")
    )
    y = both.select(
        F.col("doc_id").alias("d2"), F.col("ra").alias("ra2"), F.col("rb").alias("rb2")
    )
    sign = (F.col("ra1") - F.col("ra2")) * (F.col("rb1") - F.col("rb2"))
    pairs = x.join(y, F.col("d1") < F.col("d2")).select(
        F.when(sign > 0, 1).otherwise(0).alias("c"),
        F.when(sign < 0, 1).otherwise(0).alias("d"),
    )
    agg = pairs.agg(
        (F.count("*") > 0).alias("_any"),
        F.sum("c").cast("long").alias("concordant"),
        F.sum("d").cast("long").alias("discordant"),
    )
    m = both.agg(F.count("*").cast("long").alias("n_common"))
    out = m.crossJoin(agg)
    denom = F.col("n_common") * (F.col("n_common") - F.lit(1)) / F.lit(2.0)
    tau = F.when(
        F.col("n_common") >= 2,
        F.floor(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / denom
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return out.select(
        "n_common",
        F.coalesce("concordant", F.lit(0)).cast("long").alias("concordant"),
        F.coalesce("discordant", F.lit(0)).cast("long").alias("discordant"),
        tau.alias("tau_q6"),
    )


def tau_ap(ranking_ref: DataFrame, ranking_obs: DataFrame, k: int = 10) -> DataFrame:
    """AP rank correlation tau_ap (Yilmaz, Aslam & Robertson, SIGIR'08,
    "A New Rank Correlation Coefficient for Information Retrieval") over
    the conjoint documents of two top-k rankings, re-ranked 1..m on each
    side (the indefinite-list restriction kendall_tau also uses).
    tau_ap is the AP-weighted variant that penalizes disagreement near
    the top of the OBSERVED ranking:

        tau_ap = 2/(m-1) * sum_{i=2..m} C(i)/(i-1) - 1

    where C(i) counts, for the item at observed rank i, the items at
    observed rank < i that the reference also ranks above it.  Exact
    integer fold: each C(i)/(i-1) is scaled by LCM(1..k-1) so the sum
    s_lcm is a pure bigint; only the final normalization runs in double
    (one expression over two exact integers — bit-stable).  Output one
    row: (n_common, s_lcm, tau_ap_q6), tau_ap_q6 = 0 when m < 2.
    """
    import math

    from pyspark.sql import Window

    lcm = math.lcm(*range(1, max(k, 2)))
    a = ranking_ref.select("doc_id", F.col("rank").alias("ra")).filter(F.col("ra") <= k)
    b = ranking_obs.select("doc_id", F.col("rank").alias("rb")).filter(F.col("rb") <= k)
    conj = (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            F.row_number().over(Window.orderBy("ra")).cast("long").alias("ref"),
            F.row_number().over(Window.orderBy("rb")).cast("long").alias("obs"),
        )
    )
    x = conj.select(F.col("obs").alias("i"), F.col("ref").alias("refi"))
    y = conj.select(F.col("obs").alias("j"), F.col("ref").alias("refj"))
    c = (
        x.join(y, (F.col("j") < F.col("i")) & (F.col("refj") < F.col("refi")))
        .filter(F.col("i") >= 2)
        .groupBy("i")
        .agg(F.count("*").cast("long").alias("conc"))
    )
    s = c.agg(
        F.coalesce(F.sum(F.col("conc") * F.expr(f"{lcm} div (i - 1)")), F.lit(0))
        .cast("long")
        .alias("s_lcm")
    )
    m = conj.agg(F.count("*").cast("long").alias("n_common"))
    out = m.crossJoin(s)
    tq6 = F.when(
        F.col("n_common") >= 2,
        F.floor(
            (
                F.lit(2.0)
                * F.col("s_lcm")
                / ((F.col("n_common") - F.lit(1)).cast("double") * F.lit(float(lcm)))
                - F.lit(1.0)
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return out.select("n_common", "s_lcm", tq6.alias("tau_ap_q6"))


def spearman_rho(ranking_a: DataFrame, ranking_b: DataFrame, k: int = 10) -> DataFrame:
    """Spearman rank correlation (rho) and Spearman footrule between two
    top-k rankings over their conjoint documents, re-ranked 1..m per
    side.  Both statistics are exact integers until the single closing
    normalization: d_i = ra'_i - rb'_i, sum_d2 = sum d_i^2, footrule =
    sum |d_i|, and

        rho = 1 - 6 * sum_d2 / (m * (m^2 - 1))

    (the no-ties closed form; re-ranked conjoint positions are tie-free
    by construction).  Output one row:
    (n_common, sum_d2, footrule, rho_q6), rho_q6 = 0 when m < 2.
    """
    from pyspark.sql import Window

    a = ranking_a.select("doc_id", F.col("rank").alias("ra")).filter(F.col("ra") <= k)
    b = ranking_b.select("doc_id", F.col("rank").alias("rb")).filter(F.col("rb") <= k)
    conj = (
        a.join(b, "doc_id")
        .select(
            F.row_number().over(Window.orderBy("ra")).cast("long").alias("rra"),
            F.row_number().over(Window.orderBy("rb")).cast("long").alias("rrb"),
        )
    )
    agg = conj.agg(
        F.count("*").cast("long").alias("n_common"),
        F.coalesce(
            F.sum((F.col("rra") - F.col("rrb")) * (F.col("rra") - F.col("rrb"))),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_d2"),
        F.coalesce(F.sum(F.abs(F.col("rra") - F.col("rrb"))), F.lit(0))
        .cast("long")
        .alias("footrule"),
    )
    rho = F.when(
        F.col("n_common") >= 2,
        F.floor(
            (
                F.lit(1.0)
                - F.lit(6.0)
                * F.col("sum_d2")
                / (
                    F.col("n_common")
                    * (F.col("n_common") * F.col("n_common") - F.lit(1))
                ).cast("double")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return agg.select("n_common", "sum_d2", "footrule", rho.alias("rho_q6"))


def bpref_at_k(searcher, term: str, k: int = 10, min_tf: int = 2) -> DataFrame:
    """bpref (Buckley & Voorhees, SIGIR 2004) — the binary-preference
    metric for INCOMPLETELY judged pools: unlike AvP it only counts
    preference violations among judged documents, so it is stable when
    most of the corpus is unjudged (every web-scale evaluation).

        bpref = (1/R) Σ_{r ∈ retrieved relevant}
                       (1 - min(nonrel_above_r, R) / min(R, N))

    Judgments follow trec_judgments' convention over this corpus: a doc
    matching the term is judged; relevant iff tf >= min_tf, judged
    nonrelevant otherwise.  R/N are the GLOBAL judged-relevant/
    -nonrelevant counts; nonrel_above_r counts judged nonrelevant docs
    ranked above r within the top-k run (exact integers via one window
    over the <= k-row run).  Per-doc contributions are quantized
    (floor(c * 1e9 + 0.5)) and summed exactly; only the final 1/R scale
    runs in double.  Output one row: (r_total, n_total, bpref_q9).
    """
    idx = searcher.index
    fld = idx.default_field
    judged = idx.postings.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select("doc_id", (F.col("tf") >= min_tf).alias("rel"))
    totals = judged.agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("r_total"),
        F.sum(F.when(F.col("rel"), 0).otherwise(1)).cast("long").alias("n_total"),
    )
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    run = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(judged, "doc_id")
    )
    above = (
        Window.orderBy(F.asc("rank")).rowsBetween(Window.unboundedPreceding, -1)
    )
    run = run.withColumn(
        "nonrel_above",
        F.coalesce(
            F.sum(F.when(F.col("rel"), 0).otherwise(1)).over(above), F.lit(0)
        ).cast("long"),
    )
    contrib = run.filter(F.col("rel")).crossJoin(totals).select(
        "r_total",
        "n_total",
        F.floor(
            (
                F.lit(1.0)
                - F.least(F.col("nonrel_above"), F.col("r_total")).cast("double")
                / F.least(F.col("r_total"), F.col("n_total")).cast("double")
            )
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cq"),
    )
    summed = contrib.groupBy("r_total", "n_total").agg(
        F.sum("cq").cast("long").alias("sum_q9")
    )
    return summed.select(
        "r_total",
        "n_total",
        F.floor(
            F.col("sum_q9").cast("double") / F.col("r_total").cast("double") + F.lit(0.5)
        )
        .cast("long")
        .alias("bpref_q9"),
    )


def bm25_param_sweep(
    index,
    term: str,
    grid: tuple[tuple[float, float], ...] = (
        (1.2, 0.75),
        (0.9, 0.4),
        (1.6, 0.75),
        (1.2, 0.2),
    ),
    k: int = 10,
    max_grade: int = 4,
) -> DataFrame:
    """Offline BM25 (k1, b) tuning sweep: nDCG@k of each parameter
    combination against the corpus-derived graded qrels — the
    relevance-tuning loop every deployment runs before changing
    similarity constants (the reference exposes the same two knobs on
    BM25Similarity.cs; SweetSpotSimilarity exists because defaults are
    rarely optimal).  One row per combo: (k1_q2, b_q2, dcg_q9,
    idcg_q9, ndcg_q) — IDCG is shared (grades don't depend on the
    ranking), so differences isolate the ranking change.
    """
    from functools import reduce as _reduce

    from lucenenet_spark.search.searcher import IndexSearcher

    frames = []
    for k1, b in grid:
        s = IndexSearcher(index, mode="double", k1=k1, b=b)
        row = ndcg_at_k(s, term, k=k, max_grade=max_grade).select(
            F.lit(int(round(k1 * 100))).cast("long").alias("k1_q2"),
            F.lit(int(round(b * 100))).cast("long").alias("b_q2"),
            "dcg_q9",
            "idcg_q9",
            "ndcg_q",
        )
        frames.append(row)
    return _reduce(lambda x, y: x.unionByName(y), frames)


def alpha_dcg_at_k(searcher, docs: DataFrame, term: str, k: int = 10) -> DataFrame:
    """alpha-DCG@k (Clarke et al., "Novelty and diversity in
    information retrieval evaluation", SIGIR 2008) with alpha = 0.5:
    the diversity-aware gain that pays (1-alpha)^c for the (c+1)-th
    document of the same intent aspect — repeated aspects decay
    geometrically, so a ranking covering many intents early wins.
    Aspects come from the corpus ``lang`` column (the language IS the
    intent split a multilingual SERP diversifies over; any categorical
    DocValues column slots in the same way).

    alpha = 0.5 keeps every novelty factor an exact power of two
    (1 / 2^c via an integer shift — no pow()), the rank discount is
    the shared ndcg log2(r+1), and per-rank contributions quantize to
    bigints before the exact sum.  The normalized variant needs the
    NP-hard ideal ordering; like most production dashboards this
    reports the raw alpha-DCG plus the aspect coverage count.

    Output one row: (k, n_aspects_covered, alpha_dcg_q9).
    """
    from pyspark.sql import Window

    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    run = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(docs.select("doc_id", F.col("lang").alias("aspect")), "doc_id")
    )
    wa = Window.partitionBy("aspect").orderBy("rank")
    run = run.withColumn("c", (F.row_number().over(wa) - F.lit(1)).cast("long"))
    novelty = F.lit(1.0) / F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(c AS INT))"
    ).cast("double")
    contrib = F.floor(
        novelty
        / (F.log(F.col("rank").cast("double") + F.lit(1.0)) / F.log(F.lit(2.0)))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    return run.agg(
        F.lit(k).cast("long").alias("k"),
        F.countDistinct("aspect").cast("long").alias("n_aspects_covered"),
        F.sum(contrib).cast("long").alias("alpha_dcg_q9"),
    )


def intent_aware_precision(
    searcher, docs: DataFrame, term: str, k: int = 10, min_tf: int = 2
) -> DataFrame:
    """Intent-aware precision@k (Agrawal, Gollapudi, Halverson & Ieong,
    "Diversifying search results", WSDM 2009): IA-P@k = sum_a P(a|q) *
    P@k restricted to aspect a — a ranking only scores well if it is
    precise for EVERY likely intent, weighted by intent probability.
    Aspects = ``lang``; P(a|q) = aspect share among all docs matching
    the query; relevance = the tf >= min_tf judged convention.

    Fully exact: IA-P@k = sum_a cnt_a * relk_a / (total * k) computed
    as one integer numerator and one floor division.  Output one row:
    (k, total_matching, ia_p_q6).
    """
    from pyspark.sql import Window

    idx = searcher.index
    fld = idx.default_field
    matched = idx.postings.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select("doc_id", (F.col("tf") >= min_tf).alias("rel"))
    aspects = matched.join(
        docs.select("doc_id", F.col("lang").alias("aspect")), "doc_id"
    )
    prior = aspects.groupBy("aspect").agg(F.count("*").cast("long").alias("cnt"))
    total = aspects.count()
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(aspects, "doc_id")
    )
    relk = topk.filter(F.col("rel")).groupBy("aspect").agg(
        F.count("*").cast("long").alias("relk")
    )
    num = (
        prior.join(relk, "aspect", "left")
        .select((F.col("cnt") * F.coalesce(F.col("relk"), F.lit(0))).alias("x"))
        .agg(F.coalesce(F.sum("x"), F.lit(0)).cast("long").alias("num"))
    )
    return num.select(
        F.lit(k).cast("long").alias("k"),
        F.lit(total).cast("long").alias("total_matching"),
        F.floor(
            F.col("num").cast("double") * F.lit(1e6) / F.lit(float(total * k))
        )
        .cast("long")
        .alias("ia_p_q6"),
    )


def map_mrr_at_k(searcher, term: str, k: int = 10, min_tf: int = 2) -> DataFrame:
    """MAP / MRR / P@k over the tf-convention judged pool — the three
    classic TREC set metrics (Harman, TREC overview; the trec_eval
    `map`, `recip_rank`, `P.10` rows), computed as EXACT integers.

    Every rank-position precision P@i = relcnt@i / i is a rational with
    denominator <= k, so scaling by S = lcm(1..k) makes each AP and RR
    contribution an exact integer: ap_num_s = Σ_{i: rel} relcnt@i·(S/i)
    (AP = ap_num_s / (S·R)) and rr_num_s = S / first_rel_rank
    (RR = rr_num_s / S).  No double arithmetic anywhere, so any SQL
    engine reproduces the integers bit-for-bit — the same integer-first
    discipline as bpref_at_k / err_at_k.

    Judgments follow trec_judgments' convention: docs matching the term
    are judged, relevant iff tf >= min_tf; run docs outside the pool
    count nonrelevant (the standard unjudged-as-nonrel assumption).
    Output one row: (r_total, scale_s, p_at_k, rr_num_s, ap_num_s).
    """
    idx = searcher.index
    fld = idx.default_field
    scale = 1
    for i in range(2, k + 1):
        scale = scale * i // math.gcd(scale, i)
    judged = idx.postings.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select("doc_id", (F.col("tf") >= min_tf).alias("rel"))
    totals = judged.agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("r_total")
    )
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    run = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(judged, "doc_id", "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(False)))
    )
    cum = Window.orderBy(F.asc("rank")).rowsBetween(Window.unboundedPreceding, 0)
    run = run.withColumn(
        "relcnt",
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).over(cum).cast("long"),
    )
    return run.crossJoin(totals).groupBy("r_total").agg(
        F.lit(scale).cast("long").alias("scale_s"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("p_at_k"),
        F.coalesce(
            F.lit(scale) / F.min(F.when(F.col("rel"), F.col("rank"))), F.lit(0)
        )
        .cast("long")
        .alias("rr_num_s"),
        F.coalesce(
            F.sum(
                F.when(F.col("rel"), F.col("relcnt") * F.lit(scale) / F.col("rank"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("ap_num_s"),
    )


def wig_nqc_qpp(searcher, term: str, k: int = 10) -> DataFrame:
    """Post-retrieval query-performance prediction: WIG (Zhou & Croft,
    "Query Performance Prediction in Web Search Environments", SIGIR
    2007) and NQC (Shtok, Kurland & Carmel, "Predicting Query
    Performance by Query-Drift Estimation", ICTIR 2009) for a
    single-term query — the broker-side signals that decide whether a
    query needs expansion, more shards, or a human.

        WIG = (1/k) Σ_{d∈top-k} (score(d) - score(q, Corpus))
        NQC = sqrt( (1/k) Σ (score(d) - mean)^2 ) / score(q, Corpus)

    score(q, Corpus) is the BM25 kernel evaluated on the collection
    pseudo-document (tf = ttf, dl = collection length — so dl/avgdl =
    max_doc), the standard corpus normalizer.  Top-k scores are the
    searcher's q4 integers, so Σ and Σ² are exact; NQC's k²·variance =
    k·Σs² − (Σs)² is an exact integer and only the final sqrt/divide
    runs in double.  Output one row:
    (k_eff, s_corpus_q4, wig_sum_q4, nqc_q6) where
    WIG = wig_sum_q4 / (k_eff · 1e4).
    """
    idx = searcher.index
    fld = idx.default_field
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("s_q"),
    )
    w = Window.orderBy(F.desc("s_q"), F.asc("doc_id"))
    top = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    n = float(idx.max_doc)
    stats = idx.term_stats.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select("df", "ttf")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    from lucenenet_spark.search.searcher import B, K1

    ctf = F.col("ttf").cast("double")
    corpus_score = idf * F.lit(K1 + 1.0) * ctf / (
        ctf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.lit(n))
    )
    corpus = stats.select(
        F.floor(corpus_score * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("s_corpus_q4")
    )
    agg = top.agg(
        F.count(F.lit(1)).cast("long").alias("k_eff"),
        F.sum("s_q").cast("long").alias("sum_s"),
        F.sum(F.col("s_q") * F.col("s_q")).cast("long").alias("sum_s2"),
    )
    return agg.crossJoin(F.broadcast(corpus)).select(
        "k_eff",
        "s_corpus_q4",
        (F.col("sum_s") - F.col("k_eff") * F.col("s_corpus_q4"))
        .cast("long")
        .alias("wig_sum_q4"),
        F.floor(
            F.sqrt(
                (
                    F.col("k_eff") * F.col("sum_s2") - F.col("sum_s") * F.col("sum_s")
                ).cast("double")
            )
            / (F.col("k_eff").cast("double") * F.col("s_corpus_q4").cast("double"))
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nqc_q6"),
    )


def rbp_at_k(searcher, term: str, k: int = 10, min_tf: int = 2,
             p_num: int = 4, p_den: int = 5) -> DataFrame:
    """Rank-biased precision (Moffat & Zobel, "Rank-Biased Precision
    for Measurement of Retrieval Effectiveness", ACM TOIS 2008): the
    user-model metric where a reader inspects rank i+1 with persistence
    probability p after rank i,

        RBP = (1 - p) · Σ_i rel_i · p^(i-1)

    Computed as an EXACT integer for rational p = p_num/p_den:

        rbp_num_s = Σ_{i in run, rel} p_num^(i-1) · p_den^(k-i)
        RBP       = (1 - p) · rbp_num_s / p_den^(k-1)

    (multiply each term by p_den^(k-1); powers are integers for
    k <= 20 at the default p = 0.8).  Judgments follow the
    trec_judgments tf >= min_tf convention.  Output one row:
    (k_eff, rel_in_run, rbp_num_s, denom_s).
    """
    if not (0 < p_num < p_den):
        raise ValueError(f"need 0 < p_num < p_den, got {p_num}/{p_den}")
    if k < 1 or p_den ** (k - 1) > 2 ** 62:
        raise ValueError(f"k={k} overflows the exact power scaling")
    idx = searcher.index
    fld = idx.default_field
    judged = idx.postings.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select("doc_id", (F.col("tf") >= min_tf).alias("rel"))
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    run = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(judged, "doc_id", "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(False)))
    )
    # weight(i) = p_num^(i-1) * p_den^(k-i), exact via a literal array
    weights = F.lit([p_num ** (i - 1) * p_den ** (k - i) for i in range(1, k + 1)])
    run = run.withColumn("wgt", F.try_element_at(weights, F.col("rank").cast("int")))
    return run.agg(
        F.count(F.lit(1)).cast("long").alias("k_eff"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("rel_in_run"),
        F.coalesce(F.sum(F.when(F.col("rel"), F.col("wgt"))), F.lit(0))
        .cast("long")
        .alias("rbp_num_s"),
        F.lit(p_den ** (k - 1)).cast("long").alias("denom_s"),
    )


def interp_precision_11pt(searcher, term: str, k: int = 20, min_tf: int = 2) -> DataFrame:
    """The 11-point interpolated precision-recall curve (TREC's
    standard summary since TREC-1; Manning, Raghavan & Schütze IIR
    §8.4): at each recall level r ∈ {0.0, 0.1, ..., 1.0},

        p_interp(r) = max over ranks i with recall(i) >= r of P@i

    over the top-k run against the tf >= min_tf judged pool.
    Determinism: each P@i = relcnt/i is ONE IEEE division of small
    integers (bit-identical in any engine) quantized to a q9 integer
    BEFORE the max, and the recall qualifier is the cross-multiplied
    integer test relcnt@i · 10 >= level10 · R — so the max runs over
    identical integers everywhere.  Levels with no qualifying rank
    report 0 (recall never reached; pick k deep enough to cover R for
    a full curve).  Output 11 rows: (level10, p_interp_q9, r_total).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    idx = searcher.index
    fld = idx.default_field
    judged = idx.postings.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select("doc_id", (F.col("tf") >= min_tf).alias("rel"))
    totals = judged.agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("r_total")
    )
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    run = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(judged, "doc_id", "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(False)))
        .withColumn(
            "relcnt",
            F.sum(F.when(F.col("rel"), 1).otherwise(0))
            .over(Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .withColumn(
            "p_q9",
            F.floor(
                F.col("relcnt").cast("double") / F.col("rank").cast("double")
                * F.lit(1000000000.0)
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    levels = searcher.index.postings.sparkSession.range(0, 11).select(
        F.col("id").cast("long").alias("level10")
    )
    pts = (
        levels.crossJoin(run.crossJoin(totals))
        .filter(F.col("relcnt") * F.lit(10) >= F.col("level10") * F.col("r_total"))
        .groupBy("level10")
        .agg(F.max("p_q9").cast("long").alias("p_interp_q9"))
    )
    return (
        levels.join(pts, "level10", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "level10",
            F.coalesce(F.col("p_interp_q9"), F.lit(0)).cast("long").alias("p_interp_q9"),
            "r_total",
        )
    )


def r_precision(searcher, term: str, min_tf: int = 2) -> DataFrame:
    """R-precision (TREC; IIR §8.4): precision at rank R where R is
    the number of relevant documents — the break-even point of the PR
    curve, the single-number summary least sensitive to k.  Exact:
    one row (r_total, rel_at_r) with R-prec = rel_at_r / r_total.
    """
    idx = searcher.index
    fld = idx.default_field
    judged = idx.postings.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select("doc_id", (F.col("tf") >= min_tf).alias("rel"))
    totals = judged.agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("r_total")
    )
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("long")).join(
        judged, "doc_id", "left"
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .filter(F.col("rank") <= F.col("r_total"))
        .agg(
            F.max("r_total").cast("long").alias("r_total"),
            F.sum(F.when(F.coalesce(F.col("rel"), F.lit(False)), 1).otherwise(0))
            .cast("long")
            .alias("rel_at_r"),
        )
    )


def preretrieval_qpp(index, terms: list[str], field: str | None = None) -> DataFrame:
    """Pre-retrieval query-performance predictors — one row per query
    term, no retrieval run needed (He & Ounis, "Inferring query
    performance using pre-retrieval predictors", SPIRE 2004; SCQ from
    Zhao, Scholer & Tsegay, ECIR 2008).

    Per term t with document frequency df and collection frequency cf
    over a collection of N docs / |C| tokens:

    - idf_q9   = floor(ln(N / df) * 1e9 + 0.5)            (inverse doc freq)
    - ictf_q9  = floor(ln(|C| / cf) * 1e9 + 0.5)          (inv. coll. tf)
    - scq_q9   = floor((1 + ln(cf)) * ln(1 + N / df) * 1e9 + 0.5)
    - scope_q9 = floor(-ln(n_any / N) * 1e9 + 0.5), n_any = docs holding
      at least one query term (query scope, same value on every row)

    Terms absent from the collection surface with df = cf = 0 and NULL
    predictors — the honest signal a router needs (an OOV term predicts
    poor performance).  All math stays in Column expressions; the stats
    lookup reads O(|terms|) rows of the term dictionary and the scope
    count is one semi-join on the query terms' postings.
    """
    if not terms or len(set(terms)) != len(terms):
        raise ValueError("terms must be a non-empty list of distinct terms")
    fld = field or index.default_field
    n = float(index.max_doc)
    c_tokens = float(index.sum_ttf_by_field[fld])
    qdf = index.postings.sparkSession.createDataFrame([(t,) for t in terms], "term string")
    stats = (
        index.term_stats.filter((F.col("field") == fld) & F.col("term").isin(terms))
        .select("term", "df", "ttf")
    )
    n_any = (
        index.postings.filter((F.col("field") == fld) & F.col("term").isin(terms))
        .select("doc_id").distinct().count()
    )
    scope = float(-math.log(n_any / n)) if n_any else None

    def _q9(col):
        return F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("long")

    j = qdf.join(stats, "term", "left").select(
        "term",
        F.coalesce(F.col("df"), F.lit(0)).cast("long").alias("df"),
        F.coalesce(F.col("ttf"), F.lit(0)).cast("long").alias("cf"),
    )
    has = F.col("df") > 0
    idf = F.log(F.lit(n) / F.col("df").cast("double"))
    ictf = F.log(F.lit(c_tokens) / F.col("cf").cast("double"))
    scq = (F.lit(1.0) + F.log(F.col("cf").cast("double"))) * F.log(
        F.lit(1.0) + F.lit(n) / F.col("df").cast("double")
    )
    return j.select(
        "term", "df", "cf",
        F.when(has, _q9(idf)).alias("idf_q9"),
        F.when(has, _q9(ictf)).alias("ictf_q9"),
        F.when(has, _q9(scq)).alias("scq_q9"),
        (F.lit(_q9_py(scope)) if scope is not None else F.lit(None).cast("long")).alias("scope_q9"),
    )


def _q9_py(x: float) -> int:
    return int(math.floor(x * 1e9 + 0.5))


def gmap_eval(searcher, terms: list[str], k: int = 20, min_tf: int = 2) -> DataFrame:
    """Geometric MAP over a multi-query set (the TREC Robust track's
    headline metric — Voorhees, "Overview of the TREC 2004 Robust
    Retrieval Track": GMAP rewards improving the WORST queries, where
    arithmetic MAP is dominated by the easy ones).

    Per query term the exact-integer AP machinery of map_mrr_at_k runs
    unchanged (AP_i = ap_num_s / (S * R_i), all integers); the summary
    row then combines the queries IN SORTED TERM ORDER with an explicit
    left-associated expression, so the double fold is bit-reproducible
    in any engine:

        map_q9  = floor(((a1 + a2) + ... + an) / n * 1e9 + 0.5)
        gmap_q9 = floor(exp(((ln a1 + ln a2) + ... ) / n) * 1e9 + 0.5)

    A query with AP = 0 sends GMAP to 0 (the geometric mean's point);
    the standard epsilon floor is the caller's policy, not applied here.
    Output one row: per-query (ap{i}_num_s, r{i}_total) columns in
    sorted term order, scale_s, n_queries, map_q9, gmap_q9.
    """
    if not terms or len(set(terms)) != len(terms):
        raise ValueError("terms must be a non-empty list of distinct terms")
    ts = sorted(terms)
    scale = 1
    for i in range(2, k + 1):
        scale = scale * i // math.gcd(scale, i)
    out = None
    for i, t in enumerate(ts, start=1):
        one = map_mrr_at_k(searcher, t, k=k, min_tf=min_tf).select(
            F.col("ap_num_s").alias(f"ap{i}_num_s"),
            F.col("r_total").alias(f"r{i}_total"),
        )
        out = one if out is None else out.crossJoin(one)
    n = len(ts)
    # r_total = 0 (no relevant docs) means AP = 0 by convention; the
    # guard also keeps ANSI mode from raising on the 0-denominator.
    aps = [
        F.when(
            F.col(f"r{i}_total") > 0,
            F.col(f"ap{i}_num_s").cast("double")
            / (F.lit(float(scale)) * F.col(f"r{i}_total").cast("double")),
        ).otherwise(F.lit(0.0))
        for i in range(1, n + 1)
    ]
    map_sum = aps[0]
    for a in aps[1:]:
        map_sum = map_sum + a
    ln_sum = F.log(aps[0])
    for a in aps[1:]:
        ln_sum = ln_sum + F.log(a)
    any_zero = None
    for i in range(1, n + 1):
        z = F.col(f"ap{i}_num_s") == 0
        any_zero = z if any_zero is None else (any_zero | z)

    def _q9c(c):
        return F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("long")

    return out.select(
        *[c for i in range(1, n + 1) for c in (f"ap{i}_num_s", f"r{i}_total")],
        F.lit(scale).cast("long").alias("scale_s"),
        F.lit(n).cast("long").alias("n_queries"),
        _q9c(map_sum / F.lit(float(n))).alias("map_q9"),
        F.when(any_zero, F.lit(0).cast("long"))
        .otherwise(_q9c(F.exp(ln_sum / F.lit(float(n)))))
        .alias("gmap_q9"),
    )


def q_measure(searcher, term: str, k: int = 20, min_tf: int = 2) -> DataFrame:
    """Sakai's Q-measure (Sakai, "New performance metrics based on
    multigrade relevance" NTCIR-4, 2004): a blended-ratio refinement of
    AP that stays sensitive below rank R.  With the repo's binary
    tf-convention gains, the blended ratio at a relevant rank r is

        BR(r) = (cg(r) + relcnt(r)) / (cg*(r) + r)
              = 2 * relcnt(r) / (min(r, R) + r)

    (cumulative gain == relevant count for binary gain 1; the ideal
    cg*(r) = min(r, R)).  Q = (1/R) * Σ BR(r) over relevant retrieved
    ranks — this function emits the per-hit curve rows (rank, relcnt,
    br_q9, r_total), each BR one IEEE division then q9-quantized, so
    the summary is a trivially reproducible integer sum downstream.
    """
    idx = searcher.index
    fld = idx.default_field
    judged = idx.postings.filter(
        (F.col("field") == fld) & (F.col("term") == term)
    ).select("doc_id", (F.col("tf") >= min_tf).alias("rel"))
    totals = judged.agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("r_total")
    )
    scored = searcher.scored(TermQuery(term)).select(
        "doc_id",
        F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("score_q"),
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    run = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(judged, "doc_id", "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(False)))
    )
    cum = Window.orderBy(F.asc("rank")).rowsBetween(Window.unboundedPreceding, 0)
    run = run.withColumn(
        "relcnt",
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).over(cum).cast("long"),
    )
    br = (F.col("relcnt") * F.lit(2)).cast("double") / (
        F.least(F.col("rank"), F.col("r_total")) + F.col("rank")
    ).cast("double")
    return (
        run.crossJoin(totals)
        .filter(F.col("rel"))
        .select(
            "rank",
            "relcnt",
            F.floor(br * F.lit(1e9) + F.lit(0.5)).cast("long").alias("br_q9"),
            "r_total",
        )
    )


def randomization_test(
    searcher_a,
    searcher_b,
    terms: list[str],
    k: int = 10,
    min_tf: int = 2,
    n_trials: int = 64,
) -> DataFrame:
    """Paired two-sided randomization significance test between two
    ranking systems (Smucker, Allan & Carterette, "A Comparison of
    Statistical Significance Tests for Information Retrieval
    Evaluation", CIKM'07 — their recommended test).

    Per query the exact-integer AP machinery (map_mrr_at_k) runs under
    both searchers; AP is quantized once to q9 via integer arithmetic
    ((2*ap_num*1e9 + S*R) DIV (2*S*R)), so the per-query differences
    d_q and everything downstream are exact BIGINTs.  The null
    distribution uses n_trials DETERMINISTIC pseudo-random sign
    assignments — sign(t, q) = +1 iff the first hex digit of
    md5(t || ':' || q) is 0-7 — the md5-determinism discipline every
    sketch in this repo uses, so any engine reproduces the same p.

        p = #{t : |Σ_q sign(t,q) · d_q| >= |Σ_q d_q|} / n_trials

    Output one row: (n_queries, n_trials, d_obs_q9, n_extreme, p_ppm).
    Scale: per-query APs are tiny one-row frames; the trial matrix is
    n_trials × n_queries rows — evaluation metadata, not corpus data.
    """
    if not terms or len(set(terms)) != len(terms):
        raise ValueError("terms must be a non-empty list of distinct terms")
    ts = sorted(terms)
    scale = 1
    for i in range(2, k + 1):
        scale = scale * i // math.gcd(scale, i)
    diffs = None
    for t in ts:
        a = map_mrr_at_k(searcher_a, t, k=k, min_tf=min_tf).select(
            F.col("ap_num_s").alias("an"), F.col("r_total").alias("ar")
        )
        b = map_mrr_at_k(searcher_b, t, k=k, min_tf=min_tf).select(
            F.col("ap_num_s").alias("bn"), F.col("r_total").alias("br")
        )

        def _q9(numc, rc):
            return F.when(
                F.col(rc) > 0,
                F.expr(
                    f"(2 * {numc} * 1000000000 + {scale} * {rc})"
                    f" DIV (2 * {scale} * {rc})"
                ),
            ).otherwise(F.lit(0)).cast("long")

        one = a.crossJoin(b).select(
            F.lit(t).alias("term"), (_q9("an", "ar") - _q9("bn", "br")).alias("d_q9")
        )
        diffs = one if diffs is None else diffs.unionByName(one)
    spark = diffs.sparkSession
    trials = spark.range(n_trials).select(F.col("id").alias("trial"))
    signed = trials.crossJoin(diffs).select(
        "trial",
        (
            F.when(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("trial").cast("string"), F.lit(":"), F.col("term"))),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("int")
                < 8,
                F.lit(1),
            ).otherwise(F.lit(-1))
            * F.col("d_q9")
        ).alias("sd"),
    )
    per_trial = signed.groupBy("trial").agg(F.sum("sd").cast("long").alias("s"))
    obs = diffs.agg(F.sum("d_q9").cast("long").alias("d_obs_q9"))
    return (
        per_trial.crossJoin(obs)
        .agg(
            F.max("d_obs_q9").alias("d_obs_q9"),
            F.sum(
                F.when(F.abs(F.col("s")) >= F.abs(F.col("d_obs_q9")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_extreme"),
        )
        .select(
            F.lit(len(ts)).cast("long").alias("n_queries"),
            F.lit(n_trials).cast("long").alias("n_trials"),
            "d_obs_q9",
            "n_extreme",
            F.expr(f"n_extreme * 1000000 DIV {n_trials}").cast("long").alias("p_ppm"),
        )
    )


def ips_eval(
    searcher_logging,
    searcher_target,
    terms: list[str],
    k: int = 10,
    min_tf: int = 2,
) -> DataFrame:
    """Counterfactual (inverse-propensity-scored) evaluation of a target
    ranker from clicks logged under a different ranker (Joachims,
    Swaminathan & Schnabel, "Unbiased Learning-to-Rank with Biased
    Feedback", WSDM'17).

    The logged data is reconstructed deterministically: the logging
    ranker's top-k is the serving page; a user clicks every RELEVANT
    document (tf >= min_tf) they EXAMINE, where examination is
    position-biased — ranks 1-3 always examined, deeper ranks examined
    iff doc_id is even (the deterministic stand-in for a coin flip, so
    the examination propensity at rank > 3 is exactly 1/2 and the IPS
    weight is the exact integer 1 or 2).

    The target ranker's utility per click is the rank discount
    1/rank_target (0 if the clicked doc misses the target's top-k),
    kept exact by lcm(1..k) scaling:

        ips_num_s = Σ_clicks  w_click · S / rank_target,   S = lcm(1..k)

    Output one row per query: (term, n_clicks, sum_w, ips_num_s,
    scale_s).  Scale: per-query top-k frames only — the estimator
    moves k rows per query regardless of corpus size.
    """
    if not terms or len(set(terms)) != len(terms):
        raise ValueError("terms must be a non-empty list of distinct terms")
    scale = 1
    for i in range(2, k + 1):
        scale = scale * i // math.gcd(scale, i)
    idx = searcher_logging.index
    fld = idx.default_field
    out = None
    for t in sorted(terms):
        judged = idx.postings.filter(
            (F.col("field") == fld) & (F.col("term") == t) & (F.col("tf") >= min_tf)
        ).select("doc_id")

        def _ranked(s, alias):
            scored = s.scored(TermQuery(t)).select(
                "doc_id",
                F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5))
                .cast("long")
                .alias("score_q"),
            )
            w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
            return (
                scored.withColumn(alias, F.row_number().over(w).cast("long"))
                .filter(F.col(alias) <= k)
                .select("doc_id", alias)
            )

        ra = _ranked(searcher_logging, "rank_log")
        rb = _ranked(searcher_target, "rank_tgt")
        clicks = (
            ra.join(judged, "doc_id")
            .filter((F.col("rank_log") <= 3) | (F.col("doc_id") % 2 == 0))
            .withColumn(
                "w", F.when(F.col("rank_log") <= 3, F.lit(1)).otherwise(F.lit(2)).cast("long")
            )
            .join(rb, "doc_id", "left")
        )
        one = clicks.agg(
            F.count("*").cast("long").alias("n_clicks"),
            F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("sum_w"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("rank_tgt").isNotNull(),
                        F.col("w") * F.expr(f"{scale} DIV rank_tgt"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("ips_num_s"),
        ).select(
            F.lit(t).alias("term"),
            "n_clicks",
            "sum_w",
            "ips_num_s",
            F.lit(scale).cast("long").alias("scale_s"),
        )
        out = one if out is None else out.unionByName(one)
    return out
