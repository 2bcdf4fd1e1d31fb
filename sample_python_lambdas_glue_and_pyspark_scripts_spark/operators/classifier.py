"""Distributed logistic regression over hashed text features — the
fastText-style quality/language classifier a curation pipeline trains on
its OWN corpus (label a slice, fit, score everything). The reference
engine has no model-fitting surface at all (its unit is the validated
CSV row — SURVEY.md §1.1); this is part of the training-data extension
surface, composing :func:`text.hashed_tf` features with full-batch
gradient descent expressed as DataFrame aggregations.

Why it matters at 100 TB: each GD iteration is (a) one broadcast join of
the ≤ dim+1-row weight table onto the long-form features, (b) one keyed
aggregation by doc for margins, (c) one keyed aggregation by feature
bucket for the gradient — shuffled volume is |docs| + dim rows per
iteration, never |corpus tokens|, with map-side partial aggregation on
both. No driver-side data: the weight table stays a DataFrame end to
end (only lineage is truncated per round, the kmeans_fit pattern).

Determinism contract (oracle parity kit): gradients and weights are
rounded to 6dp at every iteration, so a fixed ``n_iter`` run is exactly
reproducible in DuckDB with the loop unrolled as plain CTEs — the
contract query checks the SCORES of a 2-iteration fit, not just row
counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import hashed_tf
from .util import (
    collect_if_small,
    driver_frame,
    ensure_parallelism,
    np_round_half_up_like_spark,
)

# r14 (guide §8; the kmeans/pq Lloyd-fit precedent): fits whose hashed
# long-form feature table fits under the driver bound
# (``util.collect_if_small``) run the GD loop driver-side — the feature
# hashing still happens in Spark (the collect pulls the hashed (id,
# bucket, tf) rows), gradients/weights round 6dp per iteration via the
# pinned HALF_UP twin, and σ lives in the same ≤1-ulp exp band the
# Spark↔DuckDB contract already tolerates under the gradient round.
# Over-the-bound corpora keep the distributed loop.

#: bias term lives in a reserved slot below the hash range so every doc
#: (even one with no tokens) has at least one feature row
BIAS_BUCKET = -1


def _sigmoid(m: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))


def logreg_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", dim: int = 64
) -> DataFrame:
    """Long-form ``(id, bucket, cnt)`` hashed-TF features plus a
    constant bias feature per doc (bucket ``-1``)."""
    tf = hashed_tf(docs, text_col=text_col, id_col=id_col, dim=dim)
    bias = docs.select(
        F.col(id_col),
        F.lit(BIAS_BUCKET).cast("bigint").alias("bucket"),
        F.lit(1).cast("bigint").alias("tf"),
    )
    return tf.unionByName(bias)


def _logreg_fit_driver(
    docs: DataFrame,
    label_col: str,
    text_col: str,
    id_col: str,
    dim: int,
    n_iter: int,
    lr: float,
):
    """Driver twin of the logreg_fit GD loop over the collected hashed
    feature rows; returns the ``(bucket, w)`` weight table or None
    (over the bound / NULL labels → caller runs the distributed loop).
    Per-iteration arithmetic mirrors the DataFrame form: unrounded
    margins/residuals, 6dp-rounded mean gradient and weights
    (``util.np_round_half_up_like_spark``); accumulation order is collected
    row order — the same partial-sum tolerance the distributed form's
    partition order already lives under."""
    import numpy as np

    # the narrow (id, label) rows first: every doc has a bias feature
    # row, so more docs than the bound means more feature rows too — an
    # over-the-bound corpus falls through before any tokenize+hash
    # shuffle runs
    lrows = collect_if_small(
        docs.select(
            F.col(id_col).alias("__id"),
            F.col(label_col).cast("double").alias("__y"),
        )
    )
    if not lrows or any(r["__y"] is None for r in lrows):
        return None  # over the bound, empty or NULL labels: distributed form
    frows = collect_if_small(logreg_features(docs, text_col, id_col, dim))
    if frows is None:
        return None
    ids = [r["__id"] for r in lrows]
    idx = {x: i for i, x in enumerate(ids)}
    y = np.array([r["__y"] for r in lrows], dtype=np.float64)
    n = float(len(ids))
    di = np.array([idx[r[id_col]] for r in frows], dtype=np.int64)
    buckets = sorted({int(r["bucket"]) for r in frows})
    bidx = {b: i for i, b in enumerate(buckets)}
    bi = np.array([bidx[int(r["bucket"])] for r in frows], dtype=np.int64)
    tf = np.array([float(r["tf"]) for r in frows], dtype=np.float64)
    nb = len(buckets)

    w = None
    for _ in range(max(1, n_iter)):
        if w is None:
            r_ = 0.5 - y
        else:
            m = np.zeros(len(ids), dtype=np.float64)
            np.add.at(m, di, tf * w[bi])
            r_ = 1.0 / (1.0 + np.exp(-m)) - y
        g = np.zeros(nb, dtype=np.float64)
        np.add.at(g, bi, r_[di] * tf)
        g = np_round_half_up_like_spark(g / n)
        w = np_round_half_up_like_spark(-lr * g if w is None else w - lr * g)
    spark = docs.sparkSession
    return driver_frame(
        spark,
        [(buckets[i], float(w[i])) for i in range(nb)],
        "bucket BIGINT, w DOUBLE",
    )


def logreg_fit(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    n_iter: int = 2,
    lr: float = 1.0,
) -> DataFrame:
    """Full-batch gradient descent on the logistic loss; returns the
    ``(bucket, w)`` weight table (≤ dim + 1 rows).

    Iteration t: margin ``m_d = Σ_b cnt_db · w_b`` (broadcast join),
    residual ``r_d = σ(m_d) − y_d``, mean gradient
    ``g_b = round(Σ_d r_d · cnt_db / N, 6)``, update
    ``w_b = round(w_b − lr · g_b, 6)``. Weights start at zero, so the
    first round's residual is ``0.5 − y`` with no join. N is the fixed
    doc count (one control-plane ``count()``, not per-row data).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if dim < 1:
        raise ValueError("dim must be >= 1")
    driver_w = _logreg_fit_driver(
        docs, label_col, text_col, id_col, dim, n_iter, lr
    )
    if driver_w is not None:
        return driver_w
    feats = ensure_parallelism(
        logreg_features(docs, text_col, id_col, dim)
    ).persist()
    lab = docs.select(
        F.col(id_col), F.col(label_col).cast("double").alias("__y")
    ).persist()
    try:
        n = float(lab.count())
        # r13 opt (guide §5; CLAUDE.md PPR lesson): persist alone lets
        # the GD loop's per-iteration references (it-1 grads, it-2
        # margins, it-2 grads) race to recompute the feature hashing
        # inside the one fit job — materialize before the loop.
        feats.count()
        weights: DataFrame | None = None
        for _ in range(n_iter):
            if weights is None:
                resid = lab.select(
                    F.col(id_col), (F.lit(0.5) - F.col("__y")).alias("__r")
                )
            else:
                margins = (
                    feats.join(F.broadcast(weights), "bucket")
                    .groupBy(id_col)
                    .agg(F.sum(F.col("tf") * F.col("w")).alias("__m"))
                )
                resid = margins.join(lab, id_col).select(
                    F.col(id_col), (_sigmoid(F.col("__m")) - F.col("__y")).alias("__r")
                )
            grads = (
                feats.join(resid, id_col)
                .groupBy("bucket")
                .agg(
                    F.round(F.sum(F.col("__r") * F.col("tf")) / F.lit(n), 6).alias(
                        "__g"
                    )
                )
            )
            if weights is None:
                weights = grads.select(
                    "bucket", F.round(-F.lit(lr) * F.col("__g"), 6).alias("w")
                )
            else:
                # every feats bucket reappears in grads each round (the
                # residual join covers all docs), so an inner join is
                # total; coalesce guards degenerate empty-corpus cases
                weights = (
                    weights.join(grads, "bucket", "full_outer")
                    .select(
                        "bucket",
                        F.round(
                            F.coalesce(F.col("w"), F.lit(0.0))
                            - F.lit(lr) * F.coalesce(F.col("__g"), F.lit(0.0)),
                            6,
                        ).alias("w"),
                    )
                )
            weights = weights.localCheckpoint(eager=False)
        # r13 opt (guide §1.2/§5): run the fit ONCE, now, while feats/
        # lab are still cached — the finally below unpersists them
        # BEFORE a lazily-returned weight table would ever execute, so
        # every consumer used to re-run the whole uncached GD chain
        # (logreg_predict's broadcast build, each report branch). The
        # weight table is ≤ dim+1 rows; materializing it is the fit.
        return weights.localCheckpoint(eager=True)
    finally:
        feats.unpersist()
        lab.unpersist()


def logreg_predict(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    score_col: str = "lr_score",
) -> DataFrame:
    """Score docs under a fitted weight table: ``(id, score)`` with
    ``score = round(σ(Σ cnt·w), 6)``. Buckets unseen in training score
    zero weight. One broadcast join + one keyed aggregation."""
    feats = logreg_features(docs, text_col, id_col, dim)
    scored = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("tf") * F.coalesce(F.col("w"), F.lit(0.0))).alias("__m")
        )
    )
    return scored.select(
        F.col(id_col), F.round(_sigmoid(F.col("__m")), 6).alias(score_col)
    )
