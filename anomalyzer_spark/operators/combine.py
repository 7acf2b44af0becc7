"""Eval combiner as SQL expression text.

Reproduces ``Eval``/``EvalByTest``/``getWeight``
(reference Go anomalyzer: anomalyze.go:145-241) over per-test prob columns
named ``_p_<test>``:

  * cap every per-test prob to [0, 1];
  * NULL (the reference's NA) results are dropped from the weighted mean;
  * highrank/lowrank merge into one ``rank`` entry via max;
  * hard gate: a present magnitude prob below ``sensitivity`` zeroes the
    WHOLE combined probability (anomalyze.go:173-175);
  * dynamic weights: 0.5 base, 5.0 for magnitude/fence when their prob > 0.8;
  * weighted mean with 0 fallback when no test produced a value;
  * delay gate: 0 until the key has ``window_size`` points (when enabled).

``detect``, ``detect_by_test`` and ``detect_rolling`` all project these
texts with ``selectExpr`` (see columnar.py for why text, not Columns).
"""

from __future__ import annotations

from ..config import AnomalyzerConf
from .columnar import sql_double


def _cap01(p: str) -> str:
    # NULL must stay NULL (the reference's cap() passes NA through,
    # anomalyze.go:154) — Spark's least/greatest SKIP nulls, so guard.
    return (f"CASE WHEN {p} IS NOT NULL THEN "
            f"greatest(least({p}, 1.0D), 0.0D) END")


def merged_sql(methods: tuple[str, ...]) -> dict[str, str]:
    """Capped per-test probs, highrank/lowrank folded into 'rank' (max),
    as {entry: SQL text} in output order."""
    capped = {m: _cap01(f"_p_{m}") for m in methods}
    merged: dict[str, str] = {}
    for m in methods:
        if m in ("highrank", "lowrank"):
            if "rank" not in merged:
                pair = [capped[x] for x in ("highrank", "lowrank") if x in methods]
                # greatest() skips NULLs, matching "NA results dropped / max".
                merged["rank"] = (pair[0] if len(pair) == 1
                                  else f"greatest({pair[0]}, {pair[1]})")
        else:
            merged[m] = capped[m]
    return merged


def weight_sql(name: str, p: str) -> str:
    """getWeight (anomalyze.go:225-241)."""
    if name in ("magnitude", "fence"):
        return f"CASE WHEN {p} > 0.8D THEN 5.0D ELSE 0.5D END"
    return "0.5D"


def combined_sql(merged: dict[str, str], conf: AnomalyzerConf) -> str:
    """Weighted mean of the merged per-test probs with all Eval gates."""
    num = den = "0.0D"
    for name, p in merged.items():
        w = weight_sql(name, p)
        num = f"{num} + coalesce({p} * {w}, 0.0D)"
        den = f"{den} + CASE WHEN {p} IS NOT NULL THEN {w} ELSE 0.0D END"
    prob = f"CASE WHEN ({den}) > 0.0D THEN ({num}) / ({den}) ELSE 0.0D END"

    if "magnitude" in merged:
        m = merged["magnitude"]
        prob = (f"CASE WHEN {m} IS NOT NULL AND {m} < "
                f"{sql_double(conf.sensitivity)} THEN 0.0D ELSE {prob} END")
    if conf.delay:
        prob = (f"CASE WHEN n_points < {conf.window_size} THEN 0.0D "
                f"ELSE {prob} END")
    return prob
