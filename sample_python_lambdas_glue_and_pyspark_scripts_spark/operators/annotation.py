"""Annotation / label-QA operators: consensus labels and inter-rater
agreement — the label-pipeline side of training-data curation (RLHF
preference data, classifier gold sets, eval benchmarks are all
multi-annotator tables whose first two questions are "what is the
consensus label?" and "do the raters agree more than chance?").

The reference engine has no annotation surface (its unit is the CSV
row); this extends the training-data shelf the same way the quality/
dedup families do.

Determinism contract: consensus is integer votes with a lexicographic
tie-break (no floats anywhere); Fleiss' kappa is computed from integer
vote counts with ONE 6dp round of each reported float (the float-sum
contract — sums of per-item agreement ratios agree across engines far
below 1e-6).

Scale: both operators are one keyed aggregate over (item, label) plus
item- or label-sized reductions — no joins against the raw table after
the first groupBy, nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as SparkWindow
from pyspark.sql import functions as F

from .util import collect_if_small, driver_frame, np_round_half_up_like_spark


def consensus_labels(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
) -> DataFrame:
    """Majority-vote gold label per item: ``(item, label, n_votes,
    n_ratings)``, ties broken toward the lexicographically SMALLEST
    label (deterministic, engine-independent). An annotator voting the
    same label twice for one item counts once (duplicate submissions
    collapse); NULL labels/items/annotators drop.

    RATINGS, not raters: ``n_ratings`` counts distinct (annotator,
    label) votes on the item, so one annotator submitting two DIFFERENT
    labels contributes two ratings (same convention as Fleiss' n_i in
    :func:`fleiss_kappa_report` — kappa's agreement pairs are pairs of
    RATINGS). Under the one-label-per-annotator discipline real
    pipelines enforce upstream the two counts coincide; when they
    don't, :func:`annotator_reliability` (one row per distinct
    annotator) is the per-rater census.

    Plan: ONE pass over the raw table (distinct + (item, label)-keyed
    count, then an eager checkpoint of the vote table — Catalyst does
    not reuse an aggregate subtree across branches, so without the pin
    every downstream branch re-scans the raw table); everything after
    is vote-table-sized, including ``n_ratings`` (= Σ n_votes per item,
    because the triples are distinct — no second raw scan). Winner pick
    is max votes then a tie-resolving min(label); no per-item window.
    """
    votes = _vote_table(df, item_col, annotator_col, label_col)
    raters = votes.groupBy("item").agg(
        F.sum("n_votes").cast("bigint").alias("n_ratings")
    )
    top = votes.groupBy("item").agg(F.max("n_votes").alias("n_votes"))
    winner = (
        votes.join(top, ["item", "n_votes"])
        .groupBy("item", "n_votes")
        .agg(F.min("label").alias("label"))
    )
    return winner.join(raters, "item").select(
        "item", "label", "n_votes", "n_ratings"
    )


def _vote_table(
    df: DataFrame, item_col: str, annotator_col: str, label_col: str
) -> DataFrame:
    """Distinct-triple vote counts ``(item, label, n_votes)`` — the one
    raw-table pass both report operators branch from, pinned with an
    eager localCheckpoint so the branches read the materialized table
    instead of re-running the scan+distinct per reference (the
    triangle_counts precedent). Item×label-bounded."""
    clean = df.where(
        F.col(item_col).isNotNull()
        & F.col(annotator_col).isNotNull()
        & F.col(label_col).isNotNull()
    ).select(
        F.col(item_col).alias("item"),
        F.col(annotator_col).alias("annotator"),
        F.col(label_col).alias("label"),
    ).distinct()
    return (
        clean.groupBy("item", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
        .localCheckpoint(eager=True)
    )


def annotator_reliability(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
) -> DataFrame:
    """Per-annotator reliability: for each annotator, how often do
    their votes match the consensus label of the items they rated? —
    the first real QA question after kappa comes back low ("do raters
    agree?" → "WHICH rater disagrees?"). One row per annotator:
    ``(annotator, n_items, n_votes, n_agree, agreement_rate)`` with
    ``agreement_rate = n_agree / n_votes`` rounded once to 6dp.

    Consensus here is exactly :func:`consensus_labels`' winner (max
    votes, ties to the lexicographically smallest label), computed
    INCLUDING the annotator under report — the standard census read; a
    leave-one-out variant would re-elect per annotator and is a
    different (item×annotator-sized) operator. ``n_votes`` counts
    distinct (item, label) votes (an annotator submitting two labels
    for one item casts two votes but rates one item, so ``n_items`` ≤
    ``n_votes``; at most one of the two can agree).

    Plan: ONE raw-table pass builds the checkpointed distinct-triple
    vote log (eager localCheckpoint — the consensus election and the
    vote-side join both branch from it, and Catalyst does not reuse an
    aggregate subtree across branches: without the pin each branch
    re-scans the raw table, the r12 lesson); the election is
    item×label-bounded, the final join is vote-log-sized against the
    item-keyed winner table, then one annotator-keyed aggregate.
    """
    triples = (
        df.where(
            F.col(item_col).isNotNull()
            & F.col(annotator_col).isNotNull()
            & F.col(label_col).isNotNull()
        )
        .select(
            F.col(item_col).alias("item"),
            F.col(annotator_col).alias("annotator"),
            F.col(label_col).alias("label"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    votes = triples.groupBy("item", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes")
    )
    top = votes.groupBy("item").agg(F.max("n_votes").alias("n_votes"))
    winner = (
        votes.join(top, ["item", "n_votes"])
        .groupBy("item")
        .agg(F.min("label").alias("consensus_label"))
    )
    return (
        triples.join(winner, "item")
        .groupBy("annotator")
        .agg(
            F.countDistinct("item").cast("bigint").alias("n_items"),
            F.count(F.lit(1)).cast("bigint").alias("n_votes"),
            F.sum(
                F.when(F.col("label") == F.col("consensus_label"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_agree"),
        )
        .select(
            "annotator",
            "n_items",
            "n_votes",
            "n_agree",
            F.round(
                F.col("n_agree").cast("double")
                / F.col("n_votes").cast("double"),
                6,
            ).alias("agreement_rate"),
        )
    )


def fleiss_kappa_report(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971, the varying-raters generalization)
    over a multi-annotator label table: one row ``(n_items, n_ratings,
    p_bar, p_e, kappa)``.

    Per item i with n_i >= 2 ratings and n_ij votes for label j, the
    observed agreement is ``P_i = Σ_j n_ij(n_ij − 1) / (n_i(n_i − 1))``
    (the probability two distinct raters of the item agree); ``p_bar``
    is the mean over qualifying items. Chance agreement ``p_e = Σ_j
    p_j²`` uses the pooled label shares over those same items. ``kappa
    = (p_bar − p_e)/(1 − p_e)``. Items with a single rating carry no
    pairwise information and are excluded from BOTH sides (the standard
    treatment). All inputs to the ratios are exact integer counts; each
    reported float rounds once to 6dp.

    Plan: ONE raw-table pass builds the checkpointed (item, label) vote
    table (see ``_vote_table``); it then feeds (a) an item-keyed sum
    for P_i and (b) a label-keyed sum for p_j — two bounded aggregates,
    no rejoin against raw rows.
    """
    votes = _vote_table(df, item_col, annotator_col, label_col).select(
        "item", "label", F.col("n_votes").alias("nij")
    )
    items = votes.groupBy("item").agg(
        F.sum("nij").alias("ni"),
        F.sum(F.col("nij") * (F.col("nij") - 1)).alias("agree_pairs"),
    ).filter(F.col("ni") >= 2)
    # keep only qualifying items' votes for the pooled label shares
    qvotes = votes.join(items.select("item"), "item", "left_semi")
    per_item = items.select(
        (
            F.col("agree_pairs").cast("double")
            / (F.col("ni") * (F.col("ni") - 1)).cast("double")
        ).alias("pi"),
        F.col("ni"),
    )
    tot = per_item.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("ni").cast("bigint").alias("n_ratings"),
        F.avg("pi").alias("p_bar_raw"),
    )
    shares = qvotes.groupBy("label").agg(F.sum("nij").alias("nj"))
    pe = shares.crossJoin(
        F.broadcast(tot.select("n_ratings"))
    ).agg(
        F.sum(
            F.pow(
                F.col("nj").cast("double")
                / F.col("n_ratings").cast("double"),
                F.lit(2.0),
            )
        ).alias("p_e_raw")
    )
    out = tot.crossJoin(F.broadcast(pe)).select(
        "n_items",
        "n_ratings",
        F.round(F.col("p_bar_raw"), 6).alias("p_bar"),
        F.round(F.col("p_e_raw"), 6).alias("p_e"),
        # try_divide: p_e = 1 (every rating one label) makes kappa
        # undefined — NULL, not an ANSI divide-by-zero (Spark 4 rule)
        F.round(
            F.try_divide(
                F.col("p_bar_raw") - F.col("p_e_raw"),
                F.lit(1.0) - F.col("p_e_raw"),
            ),
            6,
        ).alias("kappa"),
    )
    return out


def krippendorff_vote_table(
    df: DataFrame, item_col: str, annotator_col: str, label_col: str
) -> DataFrame:
    """The checkpointed ``(item, label, n_votes)`` vote table
    :func:`krippendorff_alpha` derives from the raw rating frame —
    exposed so a caller computing alpha under SEVERAL metrics over the
    same ratings (the standard reliability report) pays the raw-table
    scan + distinct + count ONCE and passes the result to each call via
    ``votes=`` instead of re-materializing it per metric (r13 opt,
    guide §1.2: three identical scan+aggregate+checkpoint jobs → one)."""
    return _vote_table(df, item_col, annotator_col, label_col)


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
    metric: str = "nominal",
    votes: DataFrame | None = None,
) -> DataFrame:
    """Krippendorff's alpha (Krippendorff 2004 §11) — the missing-data
    / non-nominal generalization of Fleiss' kappa: raters need not rate
    every item (the norm for preference data), and the ``interval``
    metric weighs HOW FAR two numeric ratings sit apart instead of
    treating every mismatch equally (Likert scores, quality grades).
    One row ``(n_items, n_ratings, d_o, d_e, alpha)`` with ``alpha =
    1 − D_o/D_e``.

    Computed from the coincidence matrix implicitly: per item u with
    n_u >= 2 ratings, every ordered rating pair (c, k) contributes
    ``n_uc·n_uk·δ²(c,k)/(n_u − 1)`` to the observed disagreement
    (items with one rating carry no pair and drop from BOTH sides, the
    standard treatment); expected disagreement pairs the pooled value
    marginals: ``D_e = Σ_{c,k} n_c·n_k·δ²(c,k) / (n(n−1))``. Metrics:
    ``nominal`` δ² = [c ≠ k]; ``interval`` δ² = (c − k)² with labels
    cast to double (raises nothing here — a non-numeric label casts to
    NULL under try semantics and would drop; pass numeric labels);
    ``ordinal`` δ²(c,k) = (Σ_{g=c..k} n_g − (n_c+n_k)/2)² over the
    pooled marginals (Krippendorff's rank metric — distance is how
    much DATA sits between the two ranks, so it adapts to the observed
    score distribution where interval assumes equal spacing; computed
    integer-exactly as D²/4 with D = 2·(cum_k − cum_c) + n_c − n_k
    from a label-ordered cumulative sum, and for a two-value alphabet
    it provably equals nominal — both sides scale by n²/4, pinned by
    test). ``alpha`` is NULL when D_e = 0 (every rating one value —
    agreement is undefined, not perfect; ``try_divide``, the kappa
    p_e=1 rule). All counts are exact integers; each reported float
    rounds once to 6dp (nominal keeps D_o/D_e sums integral until the
    final division; interval/ordinal sum integer-valued doubles when
    labels are integral, the float-sum contract otherwise).

    Plan: ONE raw-table pass builds the checkpointed (item, label)
    vote table (``_vote_table``); the observed side is an item-keyed
    self-join of that table (item×labels²-bounded — label alphabets
    are small), the expected side a labels²-sized cross of the value
    marginals; ordinal adds a labels²-sized δ² table built off a
    label-ordered cumulative window (single tiny partition — the
    alphabet). Nothing data-sized collects.
    """
    if metric not in ("nominal", "interval", "ordinal"):
        raise ValueError(
            f"krippendorff_alpha: metric must be 'nominal', 'interval' "
            f"or 'ordinal', got {metric!r}"
        )
    if votes is None:
        votes = _vote_table(df, item_col, annotator_col, label_col)
    votes = votes.select("item", "label", F.col("n_votes").alias("nij"))
    items = (
        votes.groupBy("item")
        .agg(F.sum("nij").alias("ni"))
        .filter(F.col("ni") >= 2)
    )
    # qualifying votes WITH their item's rating count attached — one
    # inner join instead of a semi join plus a later re-join against
    # the same items plan (which Spark 4 flags AMBIGUOUS_REFERENCE on
    # the self-overlapping lineage)
    qv = votes.join(items, "item")

    tot = items.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("ni").cast("bigint").alias("n_ratings"),
    )
    marg = qv.groupBy("label").agg(F.sum("nij").alias("nc"))
    if metric == "ordinal":
        # labels²-sized δ² table off a label-ordered cumulative sum —
        # single tiny window partition (the alphabet), eagerly
        # checkpointed because BOTH disagreement sides join it
        wlab = SparkWindow.orderBy("label").rowsBetween(
            SparkWindow.unboundedPreceding, 0
        )
        margc = marg.select(
            "label", "nc", F.sum("nc").over(wlab).alias("cum")
        )
        delta = (
            margc.alias("c")
            .crossJoin(margc.alias("k"))
            .select(
                F.col("c.label").alias("lc"),
                F.col("k.label").alias("lk"),
                (
                    F.pow(
                        (
                            2 * (F.col("k.cum") - F.col("c.cum"))
                            + F.col("c.nc")
                            - F.col("k.nc")
                        ).cast("double"),
                        F.lit(2.0),
                    )
                    / F.lit(4.0)
                ).alias("d2"),
            )
            .localCheckpoint(eager=True)
        )
        pair = (
            qv.alias("c")
            .join(qv.alias("k"), F.col("c.item") == F.col("k.item"))
            .join(
                F.broadcast(delta),
                (F.col("c.label") == F.col("lc"))
                & (F.col("k.label") == F.col("lk")),
            )
            .select(
                (
                    F.col("c.nij").cast("double")
                    * F.col("k.nij").cast("double")
                    * F.col("d2")
                    / (F.col("c.ni") - 1).cast("double")
                ).alias("contrib")
            )
        )
        exp_num = (
            marg.alias("c")
            .crossJoin(marg.alias("k"))
            .join(
                F.broadcast(delta),
                (F.col("c.label") == F.col("lc"))
                & (F.col("k.label") == F.col("lk")),
            )
            .agg(
                F.sum(
                    F.col("c.nc").cast("double")
                    * F.col("k.nc").cast("double")
                    * F.col("d2")
                ).alias("d_e_num")
            )
        )
    else:

        def d2(c, k):
            if metric == "nominal":
                return F.when(c != k, F.lit(1.0)).otherwise(F.lit(0.0))
            return F.pow(c.cast("double") - k.cast("double"), F.lit(2.0))

        pair = (
            qv.alias("c")
            .join(qv.alias("k"), F.col("c.item") == F.col("k.item"))
            .select(
                (
                    F.col("c.nij").cast("double")
                    * F.col("k.nij").cast("double")
                    * d2(F.col("c.label"), F.col("k.label"))
                    / (F.col("c.ni") - 1).cast("double")
                ).alias("contrib")
            )
        )
        exp_num = (
            marg.alias("c")
            .crossJoin(marg.alias("k"))
            .agg(
                F.sum(
                    F.col("c.nc").cast("double")
                    * F.col("k.nc").cast("double")
                    * d2(F.col("c.label"), F.col("k.label"))
                ).alias("d_e_num")
            )
        )
    obs = pair.agg(F.sum("contrib").alias("d_o_num"))
    out = (
        tot.crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(exp_num))
        .select(
            "n_items",
            "n_ratings",
            # try_divide: a table with NO qualifying item has
            # n_ratings = 0 — the report row comes back NULL-valued
            # instead of an ANSI divide-by-zero
            F.try_divide(
                F.col("d_o_num"), F.col("n_ratings").cast("double")
            ).alias("d_o_raw"),
            F.try_divide(
                F.col("d_e_num"),
                F.col("n_ratings").cast("double")
                * (F.col("n_ratings") - 1).cast("double"),
            ).alias("d_e_raw"),
        )
        .select(
            "n_items",
            "n_ratings",
            F.round(F.col("d_o_raw"), 6).alias("d_o"),
            F.round(F.col("d_e_raw"), 6).alias("d_e"),
            F.round(
                F.lit(1.0)
                - F.try_divide(F.col("d_o_raw"), F.col("d_e_raw")),
                6,
            ).alias("alpha"),
        )
    )
    return out


def bradley_terry_strengths(
    pairs: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    count_col: str | None = None,
    n_iter: int = 3,
) -> DataFrame:
    """Bradley-Terry preference strengths from pairwise comparisons —
    the model behind reward-model data QA and LLM arena leaderboards:
    P(i beats j) = s_i / (s_i + s_j), fit by ``n_iter`` rounds of the
    classic MM update (Hunter 2004):

        s_i ← W_i / Σ_{j≠i} n_ij / (s_i + s_j)

    with W_i = total wins of i and n_ij = comparisons between i and j,
    then normalized to mean 1 each round. Strengths round to 6dp per
    iteration (the pagerank determinism contract), so a fixed-``n_iter``
    run unrolls to an exact SQL oracle. Items with zero wins keep
    strength 0 after one round (the MM fixed point for never-winners —
    documented; add-one smoothing upstream if undesired).

    NULL items, NULL counts and self-pairs drop. Plain BT is the
    Rao-Kupper fit at θ = 1 with no ties: the comparisons aggregate once
    to the item²-bounded directed ``(wi, li, w, t = 0)`` table, fit by
    :func:`_mm_fit`. Returns ``(item, strength)``.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    w, l = F.col(winner_col), F.col(loser_col)
    cnt = (
        F.col(count_col).cast("bigint")
        if count_col is not None
        else F.lit(1).cast("bigint")
    )
    dirc = (
        pairs.where(w.isNotNull() & l.isNotNull() & (w != l) & cnt.isNotNull())
        .groupBy(w.alias("wi"), l.alias("li"))
        .agg(F.sum(cnt).alias("w"))
        .withColumn("t", F.lit(0).cast("bigint"))
    )
    return _mm_fit(dirc, 1.0, n_iter)


def bt_win_probabilities(
    strengths: DataFrame,
    item_col: str = "item",
    strength_col: str = "strength",
) -> DataFrame:
    """Served pairwise win-probability matrix from fitted Bradley-Terry
    strengths (:func:`bradley_terry_strengths`): one row per ORDERED
    pair of distinct items, ``(i, j, p_win)`` with ``p_win = P(i beats
    j) = s_i / (s_i + s_j)`` rounded once to 6dp — the consumable the
    leaderboard/matchmaking caller actually wants from the fit (a
    strength is only interpretable through this ratio; the model is
    scale-invariant).

    Edge cases carried over from the fit's documented fixed points: a
    never-winner has strength 0, so it serves ``p_win = 0`` against any
    positive-strength item (and 1 in the mirrored row); TWO
    never-winners give 0/0 — NULL via ``try_divide`` (the model ranks
    them equal-last but assigns their head-to-head no probability), not
    an ANSI error. An empty or single-item strengths table serves an
    empty matrix.

    Scale: item²-bounded by construction (items are model variants /
    prompt templates — few); the right side broadcasts. By symmetry
    ``p(j,i) = 1 − p(i,j)`` except on the NULL diagonal cases; both
    directions are emitted so point lookups need no branch."""
    a = strengths.select(
        F.col(item_col).alias("i"), F.col(strength_col).alias("si")
    )
    b = strengths.select(
        F.col(item_col).alias("j"), F.col(strength_col).alias("sj")
    )
    return (
        a.join(F.broadcast(b), F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.round(
                F.try_divide(
                    F.col("si"), F.col("si") + F.col("sj")
                ),
                6,
            ).alias("p_win"),
        )
    )


def annotator_reliability_loo(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
) -> DataFrame:
    """Leave-one-annotator-out reliability: like
    :func:`annotator_reliability`, but each vote is scored against the
    consensus of the item's OTHER annotators — removing the self-vote
    bias that inflates the census read on small-n_i items (a sole
    rater always "agrees" with the consensus they themselves elected;
    here they are unscoreable instead). One row per annotator:
    ``(annotator, n_votes, n_votes_scored, n_agree,
    loo_agreement_rate)`` with the rate over SCORED votes only,
    rounded once to 6dp, NULL (try_divide) for an annotator whose
    every item has no other rater.

    Election per (item, annotator): the item's vote counts MINUS the
    annotator's own votes, then the consensus_labels rule (max
    adjusted count, ties to the smallest label); an item where every
    adjusted count is 0 (the annotator was the only rater) yields no
    LOO consensus and the vote is excluded from scoring (counted in
    ``n_votes`` but not ``n_votes_scored``).

    Scale: the adjusted-count table is Σ_items (raters × labels) —
    item×annotator×label-bounded, the natural size of a per-rater QA
    report (labels are a small alphabet; raters per item are tens).
    One checkpointed distinct-triple log (single raw scan) feeds the
    vote aggregate, the rater×label cross, and the scoring join.
    """
    triples = (
        df.where(
            F.col(item_col).isNotNull()
            & F.col(annotator_col).isNotNull()
            & F.col(label_col).isNotNull()
        )
        .select(
            F.col(item_col).alias("item"),
            F.col(annotator_col).alias("annotator"),
            F.col(label_col).alias("label"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    votes = triples.groupBy("item", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    raters = triples.select("item", "annotator").distinct()
    own = triples.select(
        "item", "annotator", "label", F.lit(1).alias("own")
    )
    adj = (
        raters.join(votes, "item")
        .join(own, ["item", "annotator", "label"], "left")
        .select(
            "item",
            "annotator",
            "label",
            (F.col("nij") - F.coalesce(F.col("own"), F.lit(0)))
            .cast("bigint")
            .alias("adj"),
        )
    )
    top = adj.groupBy("item", "annotator").agg(
        F.max("adj").alias("adj")
    ).filter(F.col("adj") >= 1)
    loo = (
        adj.join(top, ["item", "annotator", "adj"])
        .groupBy("item", "annotator")
        .agg(F.min("label").alias("loo_label"))
    )
    scored = triples.join(loo, ["item", "annotator"], "left")
    return (
        scored.groupBy("annotator")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_votes"),
            F.sum(
                F.when(F.col("loo_label").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_votes_scored"),
            F.sum(
                F.when(F.col("label") == F.col("loo_label"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_agree"),
        )
        .select(
            "annotator",
            "n_votes",
            "n_votes_scored",
            "n_agree",
            F.round(
                F.try_divide(
                    F.col("n_agree").cast("double"),
                    F.col("n_votes_scored").cast("double"),
                ),
                6,
            ).alias("loo_agreement_rate"),
        )
    )


def bradley_terry_rao_kupper(
    pairs: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    tie_col: str = "is_tie",
    theta: float = 1.5,
    n_iter: int = 3,
) -> DataFrame:
    """Tie-aware Bradley-Terry strengths under the Rao-Kupper model
    (Rao & Kupper 1967; MM updates from Hunter 2004 §5) — preference
    data HAS ties and :func:`bradley_terry_strengths` drops them:
    ``P(i beats j) = s_i/(s_i + θ·s_j)``, ``P(tie) =
    s_i·s_j·(θ²−1)/((s_i+θ·s_j)(s_j+θ·s_i))`` with the tie threshold
    ``θ > 1`` FIXED (caller-supplied; θ→1 recovers plain BT, pinned by
    test). Tie rows (``tie_col`` true) may list the two items in either
    order. The MM update, from minorizing each −ln(s_i + θ·s_j) term:

        s_i ← (W_i + T_i) / Σ_j [ a_ij/(s_i + θ·s_j)
                                  + θ·b_ij/(s_j + θ·s_i) ]

    where a_ij = w_ij + t_ij (terms whose denominator is s_i + θ·s_j)
    and b_ij = w_ji + t_ij (coefficient θ — s_i enters those
    denominators scaled). Strengths round to 6dp and normalize to mean
    1 per round (the pagerank unroll contract), so a fixed-``n_iter``
    run unrolls to an exact SQL oracle. An item with zero wins AND
    zero ties pins to the 0 fixed point after one round (documented,
    as in the tie-free fit).

    Scale: the comparison volume aggregates once to the item²-bounded
    directed ``(wi, li, w, t)`` table that :func:`_mm_fit` fits.
    Returns ``(item, strength)``.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not theta >= 1.0:
        raise ValueError(
            f"rao_kupper: theta must be >= 1 (tie threshold; θ=1 makes "
            f"ties probability-0 and reduces to plain BT), got {theta}"
        )
    w, l = F.col(winner_col), F.col(loser_col)
    t = F.col(tie_col).cast("boolean")
    dirc = (
        pairs.where(w.isNotNull() & l.isNotNull() & (w != l) & t.isNotNull())
        .groupBy(w.alias("wi"), l.alias("li"))
        .agg(
            F.sum(F.when(~t, 1).otherwise(0)).cast("bigint").alias("w"),
            F.sum(F.when(t, 1).otherwise(0)).cast("bigint").alias("t"),
        )
    )
    return _mm_fit(dirc, theta, n_iter)


def _mm_fit(dirc: DataFrame, theta: float, n_iter: int) -> DataFrame:
    """``n_iter`` Rao-Kupper MM rounds (θ = 1 with ``t`` = 0 is plain
    Bradley-Terry) over the directed ``(wi, li, w, t)`` table: from
    ``s = 1``, each round sets

        s_i ← round6(s_raw_i / mean(s_raw)),  s_raw_i = W_i / d_i,
        d_i = Σ_j [a_ij/(s_i + θ·s_j) + θ·b_ij/(s_j + θ·s_i)]

    with the ordered-pair coefficients ``a_ij = w(i,j) + t(i,j) +
    t(j,i)``, ``b_ij = w(j,i) + t(i,j) + t(j,i)`` (ties count in both
    directions), ``W_i`` = wins plus ties of i (0 when not positive) and
    round6 = Spark's 6dp HALF_UP. A table of at most
    ``util.DRIVER_CONTRACT_MAX_ROWS`` rows with integral or string items
    is fit on the driver, summing each d_i in directed-row order (the
    distributed sums are partition-ordered; both live under the 6dp
    contract). A larger table, another item type, or a round that
    divides by zero runs the distributed loop, so Spark decides those
    cases. Returns ``(item, strength)`` typed from ``wi``."""
    th = float(theta)
    rows = (
        collect_if_small(dirc)
        if dict(dirc.dtypes)["wi"] in ("tinyint", "smallint", "int", "bigint", "string")
        else None
    )
    fit = _mm_fit_driver(rows, th, n_iter) if rows is not None else None
    if fit is not None:
        schema = dirc.select(
            F.col("wi").alias("item"), F.lit(None).cast("double").alias("strength")
        ).schema
        return driver_frame(dirc.sparkSession, fit, schema)
    # the loop references the directed table from every round: pin it
    # once (it is item²-bounded), so the comparison volume is read once
    dirc = dirc.localCheckpoint(eager=True)
    # per-item win + tie totals; items with no win and no tie get no
    # row (the left join below gives them W = 0)
    wt = (
        dirc.select(F.col("wi").alias("item"), (F.col("w") + F.col("t")).alias("n"))
        .unionByName(dirc.select(F.col("li").alias("item"), F.col("t").alias("n")))
        .groupBy("item")
        .agg(F.sum("n").cast("bigint").alias("w_plus_t"))
        .filter(F.col("w_plus_t") > 0)
    )
    comp = (
        dirc.select(
            F.col("wi").alias("i"),
            F.col("li").alias("j"),
            (F.col("w") + F.col("t")).alias("a"),
            F.col("t").alias("b"),
        )
        .unionByName(
            dirc.select(
                F.col("li").alias("i"),
                F.col("wi").alias("j"),
                F.col("t").alias("a"),
                (F.col("w") + F.col("t")).alias("b"),
            )
        )
        .groupBy("i", "j")
        .agg(
            F.sum("a").cast("bigint").alias("aij"),
            F.sum("b").cast("bigint").alias("bij"),
        )
        .persist()
    )
    items = comp.select(F.col("i").alias("item")).distinct().persist()
    try:
        s = items.select("item", F.lit(1.0).alias("s"))
        for _ in range(n_iter):
            sj = s.select(F.col("item").alias("j"), F.col("s").alias("sj"))
            si = s.select(F.col("item").alias("i"), F.col("s").alias("si"))
            denom = (
                comp.join(si, "i")
                .join(sj, "j")
                .groupBy(F.col("i").alias("item"))
                .agg(
                    F.sum(
                        F.col("aij").cast("double")
                        / (F.col("si") + F.lit(th) * F.col("sj"))
                        + F.lit(th)
                        * F.col("bij").cast("double")
                        / (F.col("sj") + F.lit(th) * F.col("si"))
                    ).alias("d")
                )
            )
            upd = denom.join(wt, "item", "left").select(
                "item",
                (
                    F.coalesce(F.col("w_plus_t"), F.lit(0)).cast("double")
                    / F.col("d")
                ).alias("s_raw"),
            )
            mean = upd.agg(F.avg("s_raw").alias("m")).alias("mg")
            s = (
                upd.crossJoin(F.broadcast(mean))
                .select(
                    "item",
                    F.round(F.col("s_raw") / F.col("mg.m"), 6).alias("s"),
                )
                .localCheckpoint(eager=False)
            )
        return s.select("item", F.col("s").alias("strength")).localCheckpoint(
            eager=True
        )
    finally:
        comp.unpersist()
        items.unpersist()


def _mm_fit_driver(rows, th: float, n_iter: int) -> list[tuple] | None:
    """The driver rounds of :func:`_mm_fit` over collected directed
    rows; None when a round would divide by zero."""
    from collections import defaultdict

    a, b, wt = defaultdict(int), defaultdict(int), defaultdict(int)
    for wi, li, w, t in rows:
        a[wi, li] += w + t
        b[wi, li] += t
        a[li, wi] += t
        b[li, wi] += w + t
        wt[wi] += w + t
        wt[li] += t
    if not wt:
        return []
    items = list(wt)
    wins = [float(wt[x]) if wt[x] > 0 else 0.0 for x in items]
    s = dict.fromkeys(items, 1.0)
    try:
        for _round in range(n_iter):
            d = dict.fromkeys(items, 0.0)
            for (i, j), aij in a.items():
                d[i] += float(aij) / (s[i] + th * s[j]) + th * float(
                    b[i, j]
                ) / (s[j] + th * s[i])
            raw = [wn / d[x] for wn, x in zip(wins, items)]
            m = 0.0
            for r in raw:  # a plain left fold, as Spark's avg adds
                m += r
            m /= len(raw)
            s_new = np_round_half_up_like_spark([r / m for r in raw])
            s = {x: float(v) for x, v in zip(items, s_new)}
    except ZeroDivisionError:
        return None
    return list(s.items())


def pairwise_cohen_kappa(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
    min_items: int = 1,
) -> DataFrame:
    """Cohen's kappa (Cohen 1960) for EVERY pair of annotators over the
    items they both rated — the pair-level member of the agreement
    family: Fleiss/alpha say whether the POOL agrees,
    :func:`annotator_reliability` who disagrees with the consensus;
    this says which two raters systematically disagree WITH EACH OTHER
    (the signal that separates "one bad rater" from "two annotation
    schools"). One row per unordered pair with at least ``min_items``
    shared ratings: ``(annotator_a, annotator_b, n_shared, p_o, p_e,
    kappa)``, ``annotator_a < annotator_b``.

    Per pair: ``p_o`` = share of shared ratings with equal labels;
    ``p_e = Σ_l share_a(l)·share_b(l)`` from the pair's OWN marginal
    label distributions over the shared items (the Cohen chance model —
    per-pair marginals, unlike Fleiss' pooled ones); ``kappa = (p_o −
    p_e)/(1 − p_e)``, NULL via ``try_divide`` when p_e = 1 (both
    raters constant on one label — undefined, the Fleiss p_e=1 rule).
    An annotator with two labels on one item contributes one shared
    rating per label pairing (the ratings convention of the shelf).
    All inputs are exact integer counts; each reported float rounds
    once to 6dp.

    Scale: the paired-vote table is Σ_items (ratings-per-item)² — the
    QUADRATIC-in-raters blowup is per item and label-bounded by the
    distinct-triple dedup, the natural size of a pair-level QA report
    (raters per item are tens); everything after is
    annotator²×label-bounded. One checkpointed triple log, one raw
    scan.
    """
    if min_items < 1:
        raise ValueError("min_items must be >= 1")
    triples = (
        df.where(
            F.col(item_col).isNotNull()
            & F.col(annotator_col).isNotNull()
            & F.col(label_col).isNotNull()
        )
        .select(
            F.col(item_col).alias("item"),
            F.col(annotator_col).alias("annotator"),
            F.col(label_col).alias("label"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    j = (
        triples.alias("x")
        .join(
            triples.alias("y"),
            (F.col("x.item") == F.col("y.item"))
            & (F.col("x.annotator") < F.col("y.annotator")),
        )
        .select(
            F.col("x.annotator").alias("a"),
            F.col("y.annotator").alias("b"),
            F.col("x.label").alias("la"),
            F.col("y.label").alias("lb"),
        )
        .localCheckpoint(eager=True)
    )
    base = j.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        F.sum(
            F.when(F.col("la") == F.col("lb"), 1).otherwise(0)
        ).cast("bigint").alias("n_agree"),
    )
    ca = j.groupBy("a", "b", F.col("la").alias("l")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_a")
    )
    cb = j.groupBy("a", "b", F.col("lb").alias("l")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_b")
    )
    pe = (
        ca.join(cb, ["a", "b", "l"])
        .groupBy("a", "b")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("pe_num"))
    )
    return (
        base.join(pe, ["a", "b"], "left")
        .filter(F.col("n_shared") >= min_items)
        .select(
            F.col("a").alias("annotator_a"),
            F.col("b").alias("annotator_b"),
            "n_shared",
            F.round(
                F.col("n_agree").cast("double")
                / F.col("n_shared").cast("double"),
                6,
            ).alias("p_o"),
            F.round(
                F.coalesce(F.col("pe_num"), F.lit(0)).cast("double")
                / (
                    F.col("n_shared").cast("double")
                    * F.col("n_shared").cast("double")
                ),
                6,
            ).alias("p_e"),
            F.round(
                F.try_divide(
                    F.col("n_agree").cast("double")
                    / F.col("n_shared").cast("double")
                    - F.coalesce(F.col("pe_num"), F.lit(0)).cast("double")
                    / (
                        F.col("n_shared").cast("double")
                        * F.col("n_shared").cast("double")
                    ),
                    F.lit(1.0)
                    - F.coalesce(F.col("pe_num"), F.lit(0)).cast("double")
                    / (
                        F.col("n_shared").cast("double")
                        * F.col("n_shared").cast("double")
                    ),
                ),
                6,
            ).alias("kappa"),
        )
    )
