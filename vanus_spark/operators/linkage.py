"""Fellegi-Sunter probabilistic record linkage scoring.

The classical decision model (Fellegi & Sunter 1969) behind most
production record-linkage stacks (Splink, Dedupe, the Census Bureau
matchers): each candidate pair gets, per compared field, a
log-likelihood weight log2(m/u) when the field AGREES and
log2((1-m)/(1-u)) when it disagrees — m = P(agree | match),
u = P(agree | non-match) — and the pair's total score classifies it
against an upper (match) and lower (possible) threshold.

Reference parity note: the reference event engine has no linkage
surface (SURVEY §2.6-2.8 absences); this belongs to the LLM/curation
operator family the Spark port adds (entity resolution for
training-data registries), alongside operators/fuzzy.py's
deletion-neighborhood blocking and JW best-match.

Scale shape: the operator consumes an ALREADY-BLOCKED candidate-pair
frame (blocking bounds the quadratic; see fuzzy.py) and adds only
pure-Column arithmetic — zero shuffle, fully pushdown-transparent.
The log2 weights are computed driver-side in Python (exact double
literals embedded in the plan), so the per-row score is a fixed-order
sum of double constants selected by booleans: bit-identical on any
IEEE-754 engine, which is what lets the registry gate hash raw scores
against DuckDB.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from vanus_spark.session import local_frame


def fs_weights(fields: dict[str, tuple[float, float]]) -> dict[str, tuple[float, float]]:
    """(agree_weight, disagree_weight) per field from (m, u) priors."""
    out = {}
    for name, (m, u) in fields.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(f"need 0 < u < m < 1 for field {name!r}: m={m}, u={u}")
        out[name] = (math.log2(m / u), math.log2((1.0 - m) / (1.0 - u)))
    return out


def fellegi_sunter(
    pairs: DataFrame,
    fields: dict[str, tuple[float, float]],
    match_threshold: float,
    possible_threshold: float,
    agree_prefix: str = "agree_",
) -> DataFrame:
    """Score blocked candidate pairs.

    ``pairs`` must carry one boolean column ``{agree_prefix}{field}``
    per entry in ``fields`` (the comparison vector — equality,
    edit-distance bands, whatever the caller's comparators produce;
    NULL counts as disagreement, the standard convention). Appends:

    - ``fs_score``  — sum of per-field log2 weights (raw double);
    - ``fs_decision`` — 'match' (score >= match_threshold),
      'possible' (>= possible_threshold), else 'non_match'.
    """
    if possible_threshold > match_threshold:
        raise ValueError("possible_threshold must be <= match_threshold")
    weights = fs_weights(fields)
    score: Column = F.lit(0.0)
    # fixed field order = fixed summation order: the score is one
    # chained double expression, not an aggregation
    for name in fields:
        wa, wd = weights[name]
        agree = F.coalesce(F.col(agree_prefix + name), F.lit(False))
        score = score + F.when(agree, F.lit(wa)).otherwise(F.lit(wd))
    decision = (
        F.when(score >= F.lit(float(match_threshold)), F.lit("match"))
        .when(score >= F.lit(float(possible_threshold)), F.lit("possible"))
        .otherwise(F.lit("non_match"))
    )
    return pairs.withColumn("fs_score", score).withColumn("fs_decision", decision)


def fs_em_estimate(
    pairs: DataFrame,
    agree_cols: list[str],
    iters: int = 2,
    m0: float = 0.9,
    u0: float = 0.1,
    lambda0: float = 0.5,
) -> DataFrame:
    """Unsupervised EM estimation of the Fellegi-Sunter m/u
    probabilities from a blocked comparison-vector frame — how
    production linkers (Splink's estimate_parameters, the Census
    MAMBA matcher) LEARN the weights that ``fellegi_sunter`` then
    applies, instead of hand-picking priors.

    E-step: each pair's match responsibility
    w = lambda*prod_k m_k^a (1-m_k)^(1-a)
      / (that + (1-lambda)*prod_k u_k^a (1-u_k)^(1-a));
    M-step: m_k = sum(w*a_k)/sum(w), u_k = sum((1-w)a_k)/sum(1-w),
    lambda = mean(w). NULL comparisons count as disagreement (the
    fellegi_sunter convention).

    Scale shape: per iteration ONE 1-row aggregate over the pair
    frame (map-side combined) whose 2F+1 scalars collect to the
    driver and re-enter the next iteration's E-step as plan literals
    — the k-means model-broadcast loop pattern, with a model of a few
    doubles. Returns one row per field: (field, m_est, u_est,
    lambda_est, n_pairs)."""
    m = {k: float(m0) for k in agree_cols}
    u = {k: float(u0) for k in agree_cols}
    lam = float(lambda0)
    n_pairs = None
    for _ in range(iters):
        pm: Column = F.lit(lam)
        pu: Column = F.lit(1.0 - lam)
        for k in agree_cols:
            a = F.coalesce(F.col(k), F.lit(False))
            pm = pm * F.when(a, F.lit(m[k])).otherwise(F.lit(1.0 - m[k]))
            pu = pu * F.when(a, F.lit(u[k])).otherwise(F.lit(1.0 - u[k]))
        w = pm / (pm + pu)
        aggs = [
            F.sum(w).alias("_sw"),
            F.count(F.lit(1)).alias("_n"),
        ]
        for k in agree_cols:
            a = F.coalesce(F.col(k), F.lit(False)).cast("double")
            aggs.append(F.sum(w * a).alias(f"_wa_{k}"))
            aggs.append(F.sum((F.lit(1.0) - w) * a).alias(f"_va_{k}"))
        row = pairs.agg(*aggs).collect()[0]
        sw, n = float(row["_sw"]), int(row["_n"])
        n_pairs = n
        for k in agree_cols:
            m[k] = float(row[f"_wa_{k}"]) / sw
            u[k] = float(row[f"_va_{k}"]) / (n - sw)
        lam = sw / n
    out = [
        {
            "field": k,
            "m_est": round(m[k], 6),
            "u_est": round(u[k], 6),
            "lambda_est": round(lam, 6),
            "n_pairs": n_pairs,
        }
        for k in agree_cols
    ]
    return local_frame(
        pairs.sparkSession,
        out,
        "field string, m_est double, u_est double, lambda_est double, n_pairs long",
    )
