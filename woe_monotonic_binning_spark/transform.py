"""Transform path: WOE-encode a dataset using a fitted bins table.

Spark equivalent of ``apply_bins`` (binning.py:268-304).  The bins table is
tiny (variables x bins rows), so it is collected to the driver and compiled
into CASE-WHEN column expressions — pure whole-stage-codegen projection,
zero shuffle, zero Python on the scoring path.  The only extra data pass is
one aggregation computing the medians used for NULL/NaN imputation
(binning.py:297,302 — quirk Q3: scoring-time median, NOT the fit-time NaN
bin, replicated deliberately; set ``impute_median=False`` to leave missing
rows NULL instead, or ``impute="approx"`` for the bounded-memory
``percentile_approx`` variant at scale — deviation D7, see ``apply_bins``).

Deviation D-Q6: ``pd.cut`` raises when two bins share a WOE value
(binning.py:296-298, quirk Q6); a CASE chain has no such constraint, so we
encode fine — pass ``strict_duplicate_woe=True`` to replicate the error.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F


def _bins_to_pandas(bins) -> pd.DataFrame:
    if isinstance(bins, DataFrame):
        return bins.toPandas()
    if isinstance(bins, dict):  # reference dict-of-frames model (binning.py:100)
        return pd.concat(list(bins.values()), ignore_index=True)
    return bins.copy()


def _ascending(cuts: Sequence[float], labels: Sequence = ()) -> tuple[bool, list[float], list]:
    """``pd.cut``'s view of a bins table: whether it is ascending, its cut
    edges as ascending floats and its per-bin ``labels`` in that same
    order.  A descending table (the fit emits one for a decreasing WOE
    trend) is flipped here, once, for the encoder, the drift histograms and
    the drift scaffolds alike."""
    if not (cuts[0] > cuts[-1]):
        return True, [float(c) for c in cuts], list(labels)
    return False, [float(c) for c in reversed(cuts)], list(reversed(labels))


def _cut_case(
    value: Column, ascending: bool, cuts: Sequence[float], labels: Sequence
) -> tuple[Column, Column]:
    """The one CASE chain for ``pd.cut(..., labels=...)`` closure rules
    (binning.py:286-303) over ascending ``cuts`` (see :func:`_ascending`).

    Returns ``(chain, in_range)``: ``chain`` maps a value to the label of
    its bin — ``[c_i, c_{i+1})`` for an ascending table, ``(c_i, c_{i+1}]``
    for a flipped descending one, exactly as the reference flips
    ``include_left/right`` — and is NULL beyond the top cut; ``in_range``
    is the lower-edge test (the lowest edge included when ascending).  The
    encoder labels bins with their WOE, drift with their bin index."""
    chain = None
    for hi, label in zip(cuts[1:], labels):
        cond = (value < F.lit(hi)) if ascending else (value <= F.lit(hi))
        chain = F.when(cond, F.lit(label)) if chain is None else chain.when(cond, F.lit(label))
    lo = F.lit(cuts[0])
    return chain, (value >= lo) if ascending else (value > lo)


def _encode_column(value: Column, cuts: Sequence[float], woes: Sequence[float]) -> Column:
    """``pd.cut(..., labels=woes)`` as a column (binning.py:296-303): the
    :func:`_cut_case` chain labelled with the WOE values.  Values outside
    the cut range map to NULL (pandas: NaN)."""
    ascending, cs, ws = _ascending(cuts, [float(w) for w in woes])
    chain, in_range = _cut_case(value, ascending, cs, ws)
    return F.when(in_range, chain).otherwise(F.lit(None).cast("double"))


def _melt_pairs(df: DataFrame, pairs, name: str, carry: Sequence[str] = ()) -> DataFrame:
    """Melt one row per input row and ``(key, Column)`` pair into a long
    ``(variable, <name>, *carry)`` frame — the explode that feeds every
    per-variable histogram (median pre-pass, bin counts, PSI).  It runs
    map-side in the scan's stage, so the aggregation after it partially
    collapses the long rows before any shuffle."""
    exploded = F.explode(
        F.array(*[F.struct(F.lit(k).alias("variable"), c.alias(name)) for k, c in pairs])
    ).alias("p")
    return df.select(*carry, exploded).select("p.variable", f"p.{name}", *carry)


def compile_bin_exprs(
    bins_pdf: pd.DataFrame,
    iv_threshold: float = 0.02,
    bin_threshold: int = 2,
    remove_100_corr: bool = True,
    strict_duplicate_woe: bool = False,
) -> list[tuple[str, list[float], list[float]]]:
    """Select surviving variables and their (cuts, woes) specs.

    Replicates the gates of binning.py:278-299: total IV (NaN bin excluded)
    at least ``iv_threshold``, at least ``bin_threshold`` rows, finite IV,
    and the exact-float duplicate-IV dedup (quirk Q7).
    """
    specs: list[tuple[str, list[float], list[float]]] = []
    seen_ivs: list[float] = []
    for variable in pd.unique(bins_pdf["variable"]):
        part = bins_pdf[bins_pdf["variable"] == variable].reset_index(drop=True)
        clean = part.dropna()
        iv_total = clean["iv_components"].sum()
        if iv_total < iv_threshold or part.shape[0] < bin_threshold or iv_total == np.inf:
            continue
        cuts = list(clean["interval_start_include"].to_numpy(dtype=float)) + [
            float(clean["interval_end_exclude"].to_numpy(dtype=float)[-1])
        ]
        woes = list(clean["woe"].to_numpy(dtype=float))
        if strict_duplicate_woe and len(set(woes)) != len(woes):
            raise ValueError(
                f"duplicate WOE labels for {variable!r} (reference pd.cut raises, quirk Q6)"
            )
        if remove_100_corr:
            if iv_total in seen_ivs:
                continue
            seen_ivs.append(iv_total)
        specs.append((str(variable), cuts, woes))
    return specs


def median_prepass(
    df: DataFrame,
    variables: Sequence[str],
    impute: str = "exact",
    auto_distinct_limit: int = 1_000_000,
) -> DataFrame:
    """One-row aggregation of the NULL/NaN-fill medians (binning.py:297,302).

    ``impute="exact"`` computes exact medians (oracle-identical) over the
    DISTINCT-VALUE HISTOGRAM: melt the variables to narrow
    ``(variable, value)`` pairs, count per pair (a codegen hash aggregate
    with map-side partials — the shuffle carries distinct pairs, never
    rows), then ``percentile(value, 0.5, count)`` — Spark's
    frequency-weighted percentile, identical by definition to the
    row-expanded exact percentile.  This keeps the exact path
    distinct-count-bound in COMPUTE as well as memory: the row-level
    ``percentile(col, 0.5)`` aggregate is a TypedImperativeAggregate
    (per-partition value map serialized between partial and final — no
    codegen); the histogram form feeds the final percentile pre-reduced
    pairs and keeps the partials in codegen (sf1 smoke: 27.8s -> 18.9s
    for 8 variables over 6M rows; the residual cost is the per-variable
    value map on genuinely high-cardinality columns — exactly the case
    ``"auto"`` routes to the sketch).  ``"approx"`` uses
    ``percentile_approx`` (bounded GK sketch — deviation D7).  ``"auto"``
    probes ``approx_count_distinct`` per variable in one pass and picks
    exact below ``auto_distinct_limit`` distincts, approx above — exact
    where it is safe, bounded sketch where even the histogram's distinct
    pairs would be large, per variable (a score table routinely mixes
    low-cardinality ints with raw doubles).  Mixed auto mode pays one
    pass per family (exact melt + approx sketch)."""
    if impute == "auto":
        counts = df.select(
            *[F.approx_count_distinct(v).alias(v) for v in variables]
        ).first()
        exact_vars = [v for v in variables if counts[v] <= auto_distinct_limit]
    elif impute == "exact":
        exact_vars = list(variables)
    else:
        exact_vars = []
    approx_vars = [v for v in variables if v not in exact_vars]

    one_row = []
    if exact_vars:
        # variable key = the column's INDEX, not its name (round 18, guide
        # §2.3 "narrower types", same trick as fit's indexed melt): a 4-byte
        # int replaces a 10-20 byte string on every melted row through the
        # histogram exchange and both hash-aggregate key probes.  Grouping
        # label only — the medians are untouched; the fold below maps the
        # index straight back to its per-variable output column.  Measured
        # interleaved at sf0.1/32c: min 1.92s vs 2.12s, median 2.07 vs 2.43.
        hist = (
            _melt_pairs(
                df,
                [
                    (i, F.expr(f"nanvl(cast(`{v}` as double), cast(NULL as double))"))
                    for i, v in enumerate(exact_vars)
                ],
                "value",
            )
            .where(F.col("value").isNotNull())
            .groupBy("variable", "value")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        med = hist.groupBy("variable").agg(
            F.expr("percentile(value, 0.5D, __n)").alias("__m")
        )
        # fold the tiny (variable, median) frame to ONE row with a column
        # per variable; a global agg yields its row even over empty input,
        # so an all-NULL column reports a NULL median (old behavior)
        one_row.append(
            med.agg(
                *[
                    F.first(
                        F.when(F.col("variable") == i, F.col("__m")),
                        ignorenulls=True,
                    ).alias(v)
                    for i, v in enumerate(exact_vars)
                ]
            )
        )
    if approx_vars:
        one_row.append(
            df.select(
                *[
                    F.expr(
                        f"percentile_approx(nanvl(`{v}`, cast(NULL as double)), 0.5D)"
                    ).alias(v)
                    for v in approx_vars
                ]
            )
        )
    out = one_row[0] if len(one_row) == 1 else one_row[0].crossJoin(one_row[1])
    return out.select(*variables)


def apply_bins(
    df: DataFrame,
    bins,
    iv_threshold: float = 0.02,
    bin_threshold: int = 2,
    remove_100_corr: bool = True,
    keep_columns: Sequence[str] | None = None,
    impute_median: bool = True,
    strict_duplicate_woe: bool = False,
    impute: str = "exact",
    medians: dict[str, float] | None = None,
    auto_distinct_limit: int = 1_000_000,
) -> DataFrame:
    """WOE-encode ``df``: one ``<col>_bin`` double column per surviving variable.

    ``keep_columns`` pass through unchanged (the reference returns only the
    ``_bin`` columns, binning.py:269; keep an id column for joins/tests).

    ``impute`` selects the median pre-pass strategy (deviation D7):

    - ``"exact"`` (default) — exact ``percentile``, bit-identical to the
      reference's ``np.nanmedian`` (binning.py:297,302) and to the DuckDB
      oracle.  Exact percentile buffers a per-partition value map whose
      size is the column's *distinct count*: fine up to millions of
      distincts, executor-memory-bound on a high-cardinality double column
      at 100 TB.
    - ``"approx"`` — ``percentile_approx`` (accuracy 10⁵ ⇒ rank error
      ≤ 0.001 %), bounded memory regardless of cardinality: the at-scale
      option.  For any realistic score distribution the filled value lands
      in the same WOE bin, so encodings are unchanged; the median itself
      may differ in trailing digits.
    - ``"auto"`` — one ``approx_count_distinct`` probe per variable, then
      exact ``percentile`` for variables at or below
      ``auto_distinct_limit`` distincts and ``percentile_approx`` above:
      the operational default for mixed-cardinality tables at scale —
      nothing to configure, no executor-memory cliff, exact wherever exact
      is affordable.  The probe itself is one map-side HLL pass (~per-
      variable KB of state), not a distinct shuffle.

    ``medians`` (variable -> fill value) skips the pre-pass aggregation
    entirely — required on streaming inputs (no batch aggregation can run
    mid-plan; precompute via :func:`median_prepass` on historical data) and
    useful to pin train-time fill values at scoring time.

    Laziness (round 17): with ``impute='exact'``/``'approx'`` the median
    pre-pass rides the returned plan as ONE scalar subquery (a struct of
    all fill values) instead of an eager ``.first()`` at call time.  The
    encoded VALUES are bit-identical — the subquery runs the exact same
    ``median_prepass`` aggregation — but the work now executes only when
    (and if) an action actually references an encoded column: a
    ``count()``/sampling action over the result prunes the subquery away
    entirely, and composing ``apply_bins`` into a larger query no longer
    fires a side job at plan-construction time.  ``impute='auto'`` still
    probes ``approx_count_distinct`` eagerly (the probe decides which
    percentile EXPRESSION each variable gets — a plan-shape decision that
    cannot ride the plan) and then attaches its pre-pass lazily the same
    way.  A NULL median (all-NULL column) falls through to the old
    leave-missing-NULL behavior inside the same expression:
    ``when(isnull|isnan, NULL_median) otherwise value`` is NULL exactly
    where the old explicit branch produced NULL.
    """
    if impute not in ("exact", "approx", "auto"):
        raise ValueError(f"impute must be 'exact', 'approx' or 'auto', got {impute!r}")
    bins_pdf = _bins_to_pandas(bins)
    specs = compile_bin_exprs(
        bins_pdf, iv_threshold, bin_threshold, remove_100_corr, strict_duplicate_woe
    )
    med_fields: dict[str, Column] = {}
    if medians is None and impute_median and specs:
        variables = [v for v, _, _ in specs]
        meds_df = median_prepass(df, variables, impute, auto_distinct_limit)
        # one scalar subquery carrying every fill value as a struct field
        # (positional field names sidestep dotted/backticked variable
        # names); multiple getField references resolve to the SAME
        # subquery execution (ReuseSubquery), and a plan that never
        # references an encoded column prunes the subquery outright.
        med_struct = meds_df.select(
            F.struct(
                *[F.col(v).alias(f"m{i}") for i, v in enumerate(variables)]
            ).alias("m")
        ).scalar()
        med_fields = {
            v: med_struct.getField(f"m{i}") for i, v in enumerate(variables)
        }
    elif medians is None:
        medians = {}

    out_cols: list[Column] = [F.col(c) for c in (keep_columns or [])]
    for v, cuts, woes in specs:
        col = F.col(v).cast("double")
        if med_fields:
            # lazy path: a NULL median leaves missing rows NULL — same
            # result as the old explicit no-median branch
            filled = F.when(col.isNull() | F.isnan(col), med_fields[v]).otherwise(col)
        elif impute_median and medians.get(v) is not None:
            filled = F.when(col.isNull() | F.isnan(col), F.lit(float(medians[v]))).otherwise(col)
        else:
            filled = F.when(F.isnan(col), F.lit(None).cast("double")).otherwise(col)
        out_cols.append(_encode_column(filled, cuts, woes).alias(f"{v}_bin"))
    return df.select(*out_cols)
