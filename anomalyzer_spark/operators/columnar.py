"""Pure-SQL implementations of the deterministic tests.

fence / magnitude / cdf (reference Go anomalyzer: algorithms.go 73-93,
231-252, 209-227) re-expressed as Spark SQL expressions over an
``array<double>`` tail-window column. Everything here is JVM-side
(higher-order array functions + arithmetic) — no Python in the hot path, so
Catalyst/codegen can optimize and the cost per key is independent of total
data volume. (The KS statistic exists only inside the Monte-Carlo
``bootstrap_ks_test``, so it runs in the kernel, not here.)

The expressions are built as SQL TEXT and applied with one ``selectExpr``
per stage: a PySpark Column tree costs one py4j round trip per node (~3,000
per MC ``detect()`` call), a text projection one per projected column.
Text rules: every float literal goes through ``sql_double`` (a bare ``0.5``
parses as DECIMAL), every caller-supplied name through ``sql_ident``.

The window column is the per-key tail of the series in ascending
(ts, tiebreak) order, bounded to ``conf.window_size`` points (SURVEY.md
§2.6.2 truncation spec).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from ..config import AnomalyzerConf


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier: the column literally named ``name``."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """A DOUBLE literal that parses to exactly ``float(x)``."""
    x = float(x)
    if not math.isfinite(x):
        return f"CAST('{x}' AS DOUBLE)"
    return f"({x!r}D)" if x < 0 else f"{x!r}D"


_EMPTY = "CAST(array() AS ARRAY<DOUBLE>)"


def _mean(arr: str) -> str:
    """Arithmetic mean of an array<double>; NULL on empty."""
    return (f"CASE WHEN size({arr}) > 0 THEN "
            f"aggregate({arr}, 0.0D, (acc, x) -> acc + x) / size({arr}) END")


# --------------------------------------------------------------------------
# Staged evaluation.
#
# Interpreted higher-order expressions (slice/aggregate/zip_with with lambda
# variables) are EXCLUDED from Catalyst's subexpression elimination, so a
# single deep tree that references `adiffs` or a window mean k times
# re-evaluates the whole subtree k times — measured 10-15x slower than
# evaluating each shared intermediate once. The stages below split the
# computation across successive projections with NAMED columns;
# CollapseProject keeps projections separate when a non-cheap producer is
# referenced more than once, so every intermediate is computed exactly once.
# --------------------------------------------------------------------------

#: stage-column name prefix (dropped from final output)
_P = "_cx_"


def _stage1(conf: AnomalyzerConf) -> dict[str, str]:
    """Shared window stats straight off the tail vector ``vec``.

    Mirrors ``extractWindows`` (algorithms.go:56-69): shrink-to-fit sizes,
    activeSize = min(activeSize, n), refSize = min(refSize, n - activeSize).
    """
    a, r = conf.active_size, conf.reference_size
    n = "size(vec)"
    act_n = f"least({a}, {n})"
    ref_n = f"least({r}, {n} - {act_n})"
    active = f"slice(vec, {n} - {act_n} + 1, {a})"
    reference = (f"CASE WHEN {ref_n} > 0 THEN "
                 f"slice(vec, {n} - {act_n} - {ref_n} + 1, {ref_n}) "
                 f"ELSE {_EMPTY} END")
    # |first differences| for the cdf test (govector Diff().Apply(abs))
    adiffs = (f"CASE WHEN {n} > 1 THEN zip_with(slice(vec, 2, {n} - 1), "
              f"slice(vec, 1, {n} - 1), (a, b) -> abs(a - b)) "
              f"ELSE {_EMPTY} END")
    return {
        f"{_P}act_mean": _mean(active),
        f"{_P}ref_mean": _mean(reference),
        f"{_P}ref_n": ref_n,
        f"{_P}adiffs": adiffs,
    }


def _stage2(conf: AnomalyzerConf) -> dict[str, str]:
    """Diff-window stats reading the named stage-1 ``adiffs``; diff-based
    tests use referenceSize - 1 (algorithms.go:111, 211)."""
    a, r = conf.active_size, conf.reference_size
    ad = f"{_P}adiffs"
    nd = f"size({ad})"
    dact_n = f"least({a}, {nd})"
    dref_n = f"least({r - 1}, {nd} - {dact_n})"
    dactive = f"slice({ad}, {nd} - {dact_n} + 1, {a})"
    dref = (f"CASE WHEN {dref_n} > 0 THEN "
            f"slice({ad}, {nd} - {dact_n} - {dref_n} + 1, {dref_n}) "
            f"ELSE {_EMPTY} END")
    return {
        f"{_P}dref_n": dref_n,
        f"{_P}dact_mean": _mean(dactive),
        f"{_P}dref_mean": _mean(dref),
        f"{_P}dref": dref,
    }


def aliased(exprs: dict[str, str]) -> list[str]:
    """``{name: text}`` → ``["text AS name", ...]`` for ``selectExpr``."""
    return [f"{e} AS {n}" for n, e in exprs.items()]


def stage_stats(df: DataFrame, carry: list[str],
                conf: AnomalyzerConf) -> DataFrame:
    """``df`` (``carry`` columns + ``vec``) with the named window stats the
    prob formulas read: stage 1, then — for cdf — stage 2 in its own
    projection. ``carry`` entries are SQL text (quote names with
    ``sql_ident``)."""
    s1 = _stage1(conf)
    out = df.selectExpr(*carry, "vec", *aliased(s1))
    if "cdf" in conf.methods:
        out = out.selectExpr(*carry, "vec", *s1, *aliased(_stage2(conf)))
    return out


def prob_sql(conf: AnomalyzerConf) -> dict[str, str]:
    """``{"_p_<test>": formula}`` for the conf's deterministic tests, over
    the named stats of ``stage_stats`` (or ``detect_rolling``'s frame
    aggregates of the same names)."""
    out = {}
    if "fence" in conf.methods:
        # FenceTest (algorithms.go:73-93): distance of the active mean from
        # the bounds, sharpened by weightExp(·, 10) = (10^x - 1)/9
        x = f"{_P}act_mean"
        if conf.lower_bound is None:
            distance = f"{x} / {sql_double(conf.upper_bound)}"
        else:
            half = (conf.upper_bound - conf.lower_bound) / 2.0
            mid = conf.lower_bound + half
            distance = f"abs({x} - {sql_double(mid)}) / {sql_double(half)}"
        out["_p_fence"] = (f"(power(10.0D, greatest(least({distance}, 1.0D),"
                           f" 0.0D)) - 1.0D) / 9.0D")
    if "magnitude" in conf.methods:
        # MagnitudeTest (algorithms.go:231-252): NULL when the reference
        # window is empty (minRefSize=1); raw (un-capped), Eval caps it
        am, rm = f"{_P}act_mean", f"{_P}ref_mean"
        out["_p_magnitude"] = (
            f"CASE WHEN {_P}ref_n < 1 THEN CAST(NULL AS DOUBLE) "
            f"ELSE CASE WHEN {rm} = 0.0D THEN "
            f"CASE WHEN {am} = 0.0D THEN 0.0D ELSE 1.0D END "
            f"ELSE abs({am} - {rm}) / {rm} END END")
    if "cdf" in conf.methods:
        # CDFTest (algorithms.go:209-227): reference-window ECDF of |diffs|
        # at mean(active diffs) - mean(ref diffs), tails rescaled to 1;
        # the ECDF is right-continuous: F(q) = #{x <= q} / n
        q = f"{_P}dact_mean - {_P}dref_mean"
        pct = f"size(filter({_P}dref, x -> x <= {q})) / {_P}dref_n"
        out["_p_cdf"] = (f"CASE WHEN {_P}dref_n < {conf.active_size} "
                         f"THEN CAST(NULL AS DOUBLE) "
                         f"ELSE abs(0.5D - {pct}) * 2.0D END")
    return out
