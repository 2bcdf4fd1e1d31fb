"""Rank fusion for hybrid (lexical + semantic) retrieval.

Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009): given
N ranked candidate lists for the same query, score every candidate by
``sum over lists of 1 / (k0 + rank)`` and re-rank. RRF is the standard
zero-tuning fuser for BM25 + embedding retrieval stacks because it only
consumes RANKS — the lexical and cosine score scales never have to be
calibrated against each other.

Scale posture: fusion runs over top-k CUTS (k rows per list, k ≤ a few
hundred), never over the corpora — the expensive work happens inside
the underlying retrievers, which have their own scale paths
(``text.bm25_scores_indexed`` serves from the persisted inverted index,
``similarity.ivf_topk`` from the IVF index). The join chain here is
k-row × k-row and broadcastable; the global rank windows are over
already-cut lists, so the single-partition window is bounded by k, not
by the corpus.

Determinism contract (parity kit): ranks are assigned over (rounded
score DESC, id ASC); RRF contributions ``1/(k0 + rank)`` are exact IEEE
divisions accumulated in fixed list order via a chained full-outer
join — NO floating-point aggregation, so no partial-aggregation-order
ambiguity — and the fused score rounds to 6dp before the final cut.

Reference parity note: the reference repo has no retrieval stack; this
module is part of the beyond-reference training-data/RAG shelf
(SURVEY.md §7.1), composing the BM25 (text.py) and ANN (similarity.py)
operators the same way its pipelines compose validation + load steps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import driver_frame, np_round_half_up_like_spark


def rank_list(
    df: DataFrame,
    score_col: str,
    id_col: str,
    ascending: bool = False,
) -> DataFrame:
    """Attach a deterministic 1-based ``rank`` to a (small) scored list.

    Ordering is (score, id) with the id ascending tiebreak — callers
    must pass scores already rounded (the parity kit's 6dp contract) so
    the rank, and therefore the fusion, is identical across engines.
    Uses a global ``row_number`` window: the input is a top-k cut, so
    the single-partition sort is over ≤ k rows by construction.
    """
    s = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.orderBy(s, F.col(id_col).asc())
    return df.select(
        F.col(id_col), F.row_number().over(w).cast("int").alias("rank")
    )


def rrf_fuse(
    ranked: list[tuple[str, DataFrame]],
    id_col: str,
    k0: int = 60,
    top_k: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Fuse named rank lists with reciprocal-rank fusion.

    ``ranked`` is ``[(name, df)]`` where each df has (id_col, rank).
    Output: ``(id_col, rrf_score, <name>_rank ...)`` — one nullable
    rank column per input list, fused score rounded to ``round_to``,
    optionally cut to the global top-k on (rrf_score DESC, id ASC).

    The fusion is a chained full-outer join in list order: candidates
    missing from a list contribute 0.0 for it (standard top-k RRF), and
    the additions happen left-to-right in a single projection — exact
    and engine-reproducible, unlike a float SUM aggregate.
    """
    if not ranked:
        raise ValueError("rrf_fuse: no rank lists")
    out: DataFrame | None = None
    names: list[str] = []
    for name, df in ranked:
        if name in names:
            raise ValueError(f"rrf_fuse: duplicate list name {name!r}")
        names.append(name)
        r = df.select(F.col(id_col), F.col("rank").alias(f"{name}_rank"))
        out = r if out is None else out.join(r, on=id_col, how="full_outer")
    assert out is not None
    expr: Column | None = None
    for name in names:
        contrib = F.when(
            F.col(f"{name}_rank").isNotNull(),
            F.lit(1.0) / (F.lit(float(k0)) + F.col(f"{name}_rank")),
        ).otherwise(F.lit(0.0))
        expr = contrib if expr is None else expr + contrib
    fused = out.select(
        F.col(id_col),
        F.round(expr, round_to).alias("rrf_score"),
        *[F.col(f"{n}_rank") for n in names],
    )
    if top_k is not None:
        fused = fused.orderBy(
            F.col("rrf_score").desc(), F.col(id_col).asc()
        ).limit(int(top_k))
    return fused


def hybrid_rrf_search(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k_each: int = 50,
    k0: int = 60,
    top_k: int = 10,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid search: BM25 top-``k_each`` ∪ cosine top-``k_each``, RRF-fused.

    The lexical list comes from ``text.bm25_scores`` over ``docs``; the
    semantic list from ``similarity.cosine_topk`` with the stored vector
    of ``query_vec_id`` as the query (excluded from its own results, as
    cosine_topk always does — it may still surface lexically, which is
    correct rank-fusion semantics). Output:
    ``(doc_id, rrf_score, lex_rank, sem_rank)`` top-``top_k``.

    At scale both retrievers swap for their indexed forms
    (``bm25_scores_indexed``, ``ivf_topk``) without touching the fusion.
    """
    from .similarity import cosine_topk
    from .text import bm25_scores

    lex = bm25_scores(docs, query_terms, text_col=text_col,
                      id_col=doc_id_col, top_k=k_each)
    lex_ranked = rank_list(lex, "bm25", doc_id_col)
    sem = cosine_topk(
        emb,
        emb.filter(F.col(vec_id_col) == query_vec_id),
        k=k_each,
        id_col=vec_id_col,
        vec_col=vec_col,
    ).select(F.col("neighbor_id").alias(doc_id_col), F.col("sim"))
    sem_ranked = rank_list(sem, "sim", doc_id_col)
    return rrf_fuse(
        [("lex", lex_ranked), ("sem", sem_ranked)],
        id_col=doc_id_col,
        k0=k0,
        top_k=top_k,
    )


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    id_col: str = "neighbor_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "sim",
    round_to: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR 1998): greedily select ``k`` results per query, each step
    picking the candidate maximizing
    ``λ·rel − (1−λ)·max_{s∈selected} sim(cand, s)`` — relevance traded
    against redundancy with what is already selected, the standard
    diversity pass between retrieval and serving (dedup of near-identical
    hits, RAG context diversity).

    ``candidates`` is a per-query TOP-M CUT ``(query_id, id_col,
    rel_col)`` from a retriever (``cosine_topk`` / ``ivf_topk`` /
    ``rrf_fuse``) with ``rel_col`` already 6dp-rounded; ``vectors``
    supplies the candidate embeddings for the redundancy term. The
    greedy picks are INHERENTLY sequential in ``k`` (each pick changes
    the next redundancy term) but independent across queries, so the
    rerank is one grouped map: ``candidates ⋈ vectors`` grouped by
    ``query_id``, each group's ≤ m rows running the k picks in pandas
    (:func:`_mmr_picks`). Nothing corpus-sized is touched, and the work
    spreads over queries with no size bound.

    Determinism contract (the arithmetic of ``similarity.cosine``
    and ``F.round``): dot products and sums of squares fold left in
    element order; a zero, NaN or overflowed norm product or a NaN dot
    gives a NULL sim, and the redundancy is the max non-NULL sim to the
    selected set, 0.0 when there is none (so rank 1 is the
    pure-relevance argmax scaled by λ). Sims and the score ``λ·rel −
    (1−λ)·ms`` round to ``round_to`` (Spark HALF_UP) before every
    comparison; the argmax breaks ties by id ASC, and a NULL score —
    NULL or NaN relevance — ranks last. A fixed ``k`` therefore
    unrolls into plain SQL — the oracle mirrors the picks
    CTE-for-CTE.

    Returns ``(query_id, id_col, sel_rank, mmr_score)``, the id types
    those of ``candidates``, with ``sel_rank`` 1..k (queries with
    fewer than k candidates return fewer rows).
    """
    from .similarity import _dbl

    if k <= 0:
        raise ValueError(f"mmr_rerank: k must be positive, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"mmr_rerank: lambda must be in [0, 1], got {lam}")
    v = vectors.select(
        F.col(vec_id_col).alias("__vid"), _dbl(vec_col).alias("__cv")
    )
    rows = (
        candidates.select(
            "query_id",
            F.col(id_col).alias("__id"),
            F.col(rel_col).cast("double").alias("__rel"),
        )
        .join(v, F.col("__id") == F.col("__vid"))
        .drop("__vid")
    )
    schema = candidates.select(
        "query_id",
        id_col,
        F.lit(None).cast("int").alias("sel_rank"),
        F.lit(None).cast("double").alias("mmr_score"),
    ).schema
    scale, cols = float(10**round_to), schema.fieldNames()
    return rows.groupBy("query_id").applyInPandas(
        lambda key, pdf: _mmr_picks(key, pdf, k, lam, scale, cols), schema
    )


def _mmr_picks(key, pdf, k: int, lam: float, scale: float, cols: list):
    """The greedy picks over one query's ``(__id, __rel, __cv)`` rows as
    a ``cols`` = ``(query_id, id, sel_rank, mmr_score)`` frame
    (arithmetic: :func:`mmr_rerank`). Picking an id removes every row
    that carries it."""
    import math

    import pandas as pd

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cosine(r, p):
        denom = norms[r] * norms[p]
        if not (0 < denom < math.inf) or len(vecs[r]) != len(vecs[p]):
            return None
        sim = fold(vecs[r], vecs[p]) / denom
        return None if math.isnan(sim) else sim

    def round_or_none(xs):
        # None stays None; the helper keeps NaN and ±inf as they are
        got = iter(np_round_half_up_like_spark([x for x in xs if x is not None], scale))
        return [None if x is None else float(next(got)) for x in xs]

    ids = pdf["__id"].tolist()
    rel = [None if math.isnan(r) else r for r in pdf["__rel"].astype(float)]
    # a NULL vector or element makes every sim NULL, as NaN does
    vecs = [
        [math.nan] if v is None else [math.nan if x is None else float(x) for x in v]
        for v in pdf["__cv"]
    ]
    norms = [math.sqrt(fold(v, v)) for v in vecs]
    ms: list = [None] * len(ids)
    left, out = list(range(len(ids))), []
    for rank in range(1, k + 1):
        if not left:
            break
        raw = [
            None if rel[r] is None else lam * rel[r] - (1.0 - lam) * (ms[r] or 0.0)
            for r in left
        ]
        scores = [None if x is None or math.isnan(x) else x for x in round_or_none(raw)]
        n = min(
            range(len(left)),
            key=lambda n: (scores[n] is None, -(scores[n] or 0.0), ids[left[n]]),
        )
        p = left[n]
        out.append((key[0], ids[p], rank, scores[n]))
        left = [r for r in left if ids[r] != ids[p]]
        for r, sim in zip(left, round_or_none([cosine(r, p) for r in left])):
            if sim is not None and (ms[r] is None or sim > ms[r]):
                ms[r] = sim
    return pd.DataFrame(out, columns=cols)


def hard_negatives(
    ranked: DataFrame,
    positives: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "bm25",
) -> DataFrame:
    """Hard-negative mining — the training-pair construction step of
    dense-retriever/reranker pipelines (the BM25-hard-negatives recipe
    of DPR, Karpukhin et al., EMNLP 2020): from each query's ranked
    candidate list drop the KNOWN positives and keep the top-``k``
    remaining — high-scoring non-relevant candidates are the negatives
    a model actually learns a decision boundary from (random negatives
    are trivially separable).

    ``ranked`` is a per-query top-m cut ``(query_col, id_col,
    score_col)`` with the score already 6dp-rounded (any retriever:
    ``bm25_topk_batch``, ``cosine_topk``, ``rrf_fuse``); ``positives``
    is the labeled ``(query_col, id_col)`` relevance set. One anti-join
    plus one per-query window over the already-cut list, so cost is
    k-row bounded per query regardless of corpus size.

    Returns ``(query_col, id_col, neg_rank, score_col)`` with
    ``neg_rank`` 1..k per query (rank ties broken by id ASC on the
    rounded score — the parity-kit cut).
    """
    if k < 1:
        raise ValueError(f"hard_negatives: k must be >= 1, got {k}")
    neg = ranked.join(
        positives.select(query_col, id_col), [query_col, id_col], "left_anti"
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        neg.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= k)
        .select(query_col, id_col, "neg_rank", score_col)
    )


def rbo_report(
    run_a: DataFrame,
    run_b: DataFrame,
    group_col: str,
    id_col: str,
    rank_col: str,
    depth: int = 10,
    p_num: int = 9,
    p_den: int = 10,
) -> DataFrame:
    """Rank-biased overlap (Webber 2010) between two rank lists per
    group, truncated at ``depth`` (the bounded RBO@d, no
    extrapolation): ``(1-p) * sum_{d=1..depth} p^(d-1) * X_d / d``
    where ``X_d`` is the size of the prefix intersection at depth d.
    THE ranking-eval companion to the recall@k acceptance gates: recall
    treats the top-k as a SET, RBO weights agreement toward the top
    (p = 0.9 puts ~86% of the mass in the first 10 ranks), which is
    what serving quality actually degrades by when a quantized or IVF
    index reorders the tail.

    Per group: ``(group, depth, rbo, overlap_at_depth,
    agreement_at_depth)``; rbo/agreement round once to 6dp. A group
    present in only one run scores 0 overlap everywhere (standard
    top-weighted reading: nothing agrees).

    Determinism: an id enters the intersection at d = max(rank_a,
    rank_b), so every X_d is an exact integer off the max-rank
    histogram; the geometric weights are computed ONCE driver-side in
    Python floats and joined as a depth-sized literal table (never
    ``pow()`` inside the plan — float pow is libm-implementation
    territory, the one piece the 6dp contract cannot guarantee across
    engines; repr'd doubles round-trip exactly into both).

    Scale: both runs filter to rank <= depth first, so everything
    after is (groups x depth)-sized; the depth-grid join is
    depth^2-bounded per group. Ranks must be 1-based; callers produce
    them with the parity-kit (rounded score DESC, id ASC) window
    (:func:`rank_list`)."""
    if depth < 1:
        raise ValueError("depth must be >= 1")
    if not (0 < p_num < p_den):
        raise ValueError("p must be a rational in (0, 1): 0 < p_num "
                         "< p_den")
    p = float(p_num) / float(p_den)
    spark = run_a.sparkSession
    weights = driver_frame(
        spark,
        [(d, (1.0 - p) * p ** (d - 1)) for d in range(1, depth + 1)],
        "d int, w double",
    )
    # eager checkpoints: each depth-cut list is (groups x depth)-sized
    # and read by THREE branches (hist, groups, grid) — without the pin
    # every branch re-runs the caller's ranking pipeline (8 raw scans /
    # 15 shuffles in the contract query's plan, the r12
    # report-operator rule)
    a = run_a.select(
        F.col(group_col).alias("g"), F.col(id_col).alias("i"),
        F.col(rank_col).cast("int").alias("ra"),
    ).filter(F.col("ra") <= depth).localCheckpoint(eager=True)
    b = run_b.select(
        F.col(group_col).alias("g"), F.col(id_col).alias("i"),
        F.col(rank_col).cast("int").alias("rb"),
    ).filter(F.col("rb") <= depth).localCheckpoint(eager=True)
    hist = (
        a.join(b, ["g", "i"])
        .select("g", F.greatest("ra", "rb").alias("m"))
        .groupBy("g", "m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    groups = a.select("g").union(b.select("g")).distinct()
    grid = groups.select(
        "g", F.explode(F.sequence(F.lit(1), F.lit(depth))).alias("d")
    )
    xd = (
        grid.alias("__g")
        .join(
            hist.alias("__h"),
            (F.col("__g.g").eqNullSafe(F.col("__h.g")))
            & (F.col("__h.m") <= F.col("__g.d")),
            "left",
        )
        .groupBy(F.col("__g.g").alias("g"), F.col("__g.d").alias("d"))
        .agg(F.coalesce(F.sum("__h.c"), F.lit(0)).cast("bigint")
             .alias("x"))
    )
    return (
        xd.join(weights, "d")
        .groupBy("g")
        .agg(
            F.lit(depth).cast("int").alias("depth"),
            F.round(
                F.sum(
                    F.col("w") * F.col("x").cast("double")
                    / F.col("d").cast("double")
                ),
                6,
            ).alias("rbo"),
            F.max(F.when(F.col("d") == depth, F.col("x")))
            .cast("bigint").alias("overlap_at_depth"),
            F.round(
                F.max(F.when(F.col("d") == depth, F.col("x")))
                .cast("double") / F.lit(float(depth)),
                6,
            ).alias("agreement_at_depth"),
        )
        .select(
            F.col("g").alias(group_col), "depth", "rbo",
            "overlap_at_depth", "agreement_at_depth",
        )
    )
