"""Accuracy evaluation: J7 + A10 (the reference's golden-fixture scoring).

Rebuilds /root/reference/Image_Preprocessing_Optimization/CustomFunctions.py:
- levenshtein (:19-38) -> the Spark SQL builtin ``levenshtein()``
- zero_one_loss (:40-82) -> join + min-distance + threshold + ratio,
  preserving the reference's exact quirks: iteration over PREDICTED
  texts, <=3-char fast path is exact set membership, denominator =
  DISTINCT expected count (score can exceed 1.0). The tolerance is the
  fixed ``ACCURACY_TOL``; the reference's fractional form
  ``int(tol * len(pred))`` is not rebuilt, since no caller uses it.

Plan shape: pred x expected is a per-key (url) cross join — expected word
lists are golden fixtures (tens of words), so the join explodes by a small
constant; groupBy pred-row then url keeps partials map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the largest edit distance at which a predicted word still matches
ACCURACY_TOL = 1


def accuracy_scores(predicted: DataFrame, expected: DataFrame) -> DataFrame:
    """Per-url zero-one-loss scores.

    ``predicted``: (url, word) — one row per predicted word instance.
    ``expected``: (url, word) — the golden word list.
    Returns (url, n_correct, n_expected, score).
    """
    pred = predicted.select(
        "url",
        F.col("word").alias("pred"),
        F.monotonically_increasing_id().alias("pred_id"),
    )
    exp = expected.select("url", F.col("word").alias("exp")).distinct()

    joined = pred.join(exp, "url")
    # reference control flow: ``if len<=3 and in-set: +1 elif any(lev<=tol)``
    # — the elif still runs for short words NOT in the set, so the match
    # condition is (short exact) OR (lev within tolerance).
    per_pred = joined.groupBy("url", "pred_id").agg(
        F.max(
            F.when(
                (
                    (F.length("pred") <= 3)
                    & (F.col("pred") == F.col("exp"))
                )
                | (F.levenshtein("pred", "exp") <= ACCURACY_TOL),
                1,
            ).otherwise(0)
        ).alias("correct")
    )
    n_exp = exp.groupBy("url").agg(F.count("*").alias("n_expected"))
    return (
        per_pred.groupBy("url")
        .agg(F.sum("correct").alias("n_correct"))
        .join(n_exp, "url")
        .select(
            "url",
            "n_correct",
            "n_expected",
            (F.col("n_correct") / F.col("n_expected")).alias("score"),
        )
    )
