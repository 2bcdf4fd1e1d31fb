"""Distributed logistic regression (operators/classifier.py): the
hashed-TF + full-batch-GD quality/language classifier. The exact
2-iteration scores are contract-checked in __spark_entry__
(langid_classifier_scores); here we pin that the trainer actually
LEARNS, that prediction handles unseen vocabulary, and the error
surface."""

import pytest
from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    classifier as CL,
)


def _corpus(spark):
    pos = [(i, "the quick brown fox jumps over the lazy dog", 1.0)
           for i in range(20)]
    neg = [(100 + i, "zzz qqq www eee rrr ttt yyy uuu", 0.0)
           for i in range(20)]
    return spark.createDataFrame(pos + neg, ["doc_id", "text", "y"])


def test_logreg_learns_separable_corpus(spark):
    df = _corpus(spark)
    w = CL.logreg_fit(df, "y", dim=128, n_iter=15, lr=2.0)
    scored = CL.logreg_predict(df, w, dim=128)
    got = {r["doc_id"]: r["lr_score"] for r in scored.collect()}
    for i in range(20):
        assert got[i] > 0.5, f"pos doc {i} scored {got[i]}"
        assert got[100 + i] < 0.5, f"neg doc {100 + i} scored {got[100 + i]}"
    # loss monotone evidence: a longer fit separates harder
    w1 = CL.logreg_fit(df, "y", dim=128, n_iter=1, lr=2.0)
    s1 = {r["doc_id"]: r["lr_score"]
          for r in CL.logreg_predict(df, w1, dim=128).collect()}
    assert got[0] > s1[0] and got[100] < s1[100]


def test_logreg_predict_unseen_vocab_scores_bias_only(spark):
    df = _corpus(spark)
    w = CL.logreg_fit(df, "y", dim=128, n_iter=5, lr=1.0)
    unseen = spark.createDataFrame(
        [(999, "completely novel vocabulary here")], ["doc_id", "text"]
    )
    out = CL.logreg_predict(unseen, w, dim=128).collect()
    assert len(out) == 1
    assert 0.0 <= out[0]["lr_score"] <= 1.0
    # empty text still scores (bias feature guarantees a row)
    empty = spark.createDataFrame([(1000, None)], "doc_id: long, text: string")
    assert CL.logreg_predict(empty, w, dim=128).count() == 1


def test_logreg_weight_table_shape_and_errors(spark):
    df = _corpus(spark)
    w = CL.logreg_fit(df, "y", dim=32, n_iter=2)
    assert w.columns == ["bucket", "w"]
    assert w.count() <= 33  # dim + bias
    assert w.filter(F.col("bucket") == CL.BIAS_BUCKET).count() == 1
    with pytest.raises(ValueError):
        CL.logreg_fit(df, "y", n_iter=0)
    with pytest.raises(ValueError):
        CL.logreg_fit(df, "y", dim=0)
