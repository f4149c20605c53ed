"""Numeric feature curation: percentile winsorization and per-group
standardization.

Training-data and feature pipelines clip heavy-tailed numerics (request
latencies, prices, token counts) before scaling, and standardize features
per group so mixtures from different sources are comparable. Both are
two-pass operators: one aggregation to learn the per-group statistics,
then a broadcast join back and a codegen'd projection — no window sort,
no per-row Python.

Scale design:

* The stats side is tiny (one row per group) — always broadcast, so the
  second pass is shuffle-free regardless of corpus size.
* ``winsorize`` defaults to ``method="approx"`` (t-digest style
  ``percentile_approx``, mergeable partial sketches, bounded memory per
  group). ``method="exact"`` (Spark's sort-based ``percentile``) buffers
  each group's values in executor memory — opt-in for oracle parity and
  modest group sizes, the same exact-vs-sketch split as
  ``profile_columns``.
* NULL values pass through as NULL (Spark's ``greatest``/``least`` skip
  NULLs, which would otherwise silently clamp NULLs to the lower bound —
  guarded explicitly).
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_engine_spark.datapipes.registry import register
from lakehouse_engine_spark.utils.sql_parser import quote_ident

TransformerFn = Callable[[DataFrame], DataFrame]


def _null_safe_attach(base: DataFrame, stats: DataFrame, keys, broadcast=False):
    """Attach a per-group stats frame with NULL-SAFE key equality: the
    plain ``join(on=keys)`` equi-join never matches NULL group keys, so
    NULL-group rows silently VANISHED from winsorize/robust_scale/
    zscore output even though groupBy had computed their stats row
    (r14 review finding). Stats keys are renamed to avoid ambiguity and
    dropped after the join."""
    from functools import reduce as _reduce
    from operator import and_ as _and

    renamed = stats.select(
        *[F.col(k).alias(f"__gk_{i}") for i, k in enumerate(keys)],
        *[c for c in stats.columns if c not in keys],
    )
    if broadcast:
        renamed = F.broadcast(renamed)
    cond = _reduce(
        _and,
        [base[k].eqNullSafe(F.col(f"__gk_{i}")) for i, k in enumerate(keys)],
    )
    return base.join(renamed, cond).drop(
        *[f"__gk_{i}" for i in range(len(keys))]
    )


@register("winsorize")
def winsorize(
    value_col: str,
    group_cols: Optional[List[str]] = None,
    lower: float = 0.01,
    upper: float = 0.99,
    method: str = "approx",
    accuracy: int = 10_000,
    output_col: Optional[str] = None,
    broadcast_stats: bool = True,
) -> TransformerFn:
    """Clip ``value_col`` to its [``lower``, ``upper``] percentile range,
    optionally per group. Adds ``<value_col>_wins`` (or ``output_col``)
    plus the learned ``__lo``/``__hi`` bounds as ``<value_col>_lo`` /
    ``<value_col>_hi`` for auditability.

    ``method="exact"`` uses Spark's exact ``percentile`` (linear
    interpolation — matches DuckDB ``quantile_cont`` for the oracle);
    ``method="approx"`` (default) uses ``percentile_approx`` with
    ``accuracy`` — the 100 TB path (mergeable sketch, bounded memory).

    ``broadcast_stats``: the per-group bounds table broadcasts by default
    (one row per group — tiny for the usual domain/lang groupings); pass
    ``False`` when ``group_cols`` is high-cardinality (e.g. per-user) so
    the attach runs as a shuffle join instead of OOMing executors.
    """
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(f"need 0 <= lower <= upper <= 1, got {lower}, {upper}")
    if method not in ("exact", "approx"):
        raise ValueError(f"method must be exact|approx, got {method!r}")
    out = output_col or f"{value_col}_wins"
    keys = list(group_cols or [])

    def _wins(df: DataFrame) -> DataFrame:
        v = F.col(value_col)
        if method == "exact":
            pc = F.percentile(v, F.array(F.lit(float(lower)), F.lit(float(upper))))
        else:
            pc = F.percentile_approx(
                v, F.array(F.lit(float(lower)), F.lit(float(upper))), F.lit(accuracy)
            )
        lim = (
            df.groupBy(*keys)
            .agg(pc.alias("__p"))
            .select(
                *keys,
                F.col("__p")[0].alias(f"{value_col}_lo"),
                F.col("__p")[1].alias(f"{value_col}_hi"),
            )
        )
        if broadcast_stats and not keys:
            lim = F.broadcast(lim)
        joined = (
            _null_safe_attach(df, lim, keys, broadcast=broadcast_stats)
            if keys
            else df.crossJoin(lim)
        )
        lo, hi = F.col(f"{value_col}_lo"), F.col(f"{value_col}_hi")
        clipped = F.when(v.isNull(), F.lit(None).cast("double")).otherwise(
            F.least(F.greatest(v.cast("double"), lo), hi)
        )
        return joined.withColumn(out, clipped)

    return _wins


@register("robust_scale")
def robust_scale(
    value_col: str,
    group_cols: Optional[List[str]] = None,
    scale: float = 1.4826,
    method: str = "approx",
    accuracy: int = 10_000,
    output_col: Optional[str] = None,
    broadcast_stats: bool = True,
) -> TransformerFn:
    """Robust standardization: ``(x - median) / (scale * MAD)`` with
    ``MAD = median(|x - median|)`` — the outlier-insensitive alternative
    to ``zscore_normalize`` (a single huge value shifts a mean/std
    z-score arbitrarily; it moves a median/MAD score by at most one rank).
    ``scale=1.4826`` makes MAD consistent with the stddev of a normal
    distribution. Zero-MAD groups yield NULL (never a division blow-up);
    NULL values pass through as NULL.

    Three passes by construction (median → deviations → MAD), each a
    map-side-combined aggregation with the one-row-per-group result
    broadcast back — still zero corpus shuffles. ``method="exact"`` uses
    Spark's sort-based ``percentile`` (oracle parity, buffers each group);
    ``method="approx"`` (default) the mergeable ``percentile_approx``
    sketch — the 100 TB path. ``broadcast_stats=False`` switches the
    one-row-per-group attach to a shuffle join for high-cardinality
    groupings (per-user keys can reach 10^8+ rows).
    """
    if method not in ("exact", "approx"):
        raise ValueError(f"method must be exact|approx, got {method!r}")
    out = output_col or f"{value_col}_robust"
    keys = list(group_cols or [])

    def _median(col):
        if method == "exact":
            return F.percentile(col, F.lit(0.5))
        return F.percentile_approx(col, F.lit(0.5), F.lit(accuracy))

    def _scale(df: DataFrame) -> DataFrame:
        v = F.col(value_col)

        def _attach(base: DataFrame, stats: DataFrame) -> DataFrame:
            if broadcast_stats and not keys:
                stats = F.broadcast(stats)
            return (
                _null_safe_attach(base, stats, keys, broadcast=broadcast_stats)
                if keys
                else base.crossJoin(stats)
            )

        med = df.groupBy(*keys).agg(_median(v).alias("__med"))
        with_med = _attach(df, med)
        mad = with_med.groupBy(*keys).agg(
            _median(F.abs(v.cast("double") - F.col("__med"))).alias("__mad")
        )
        joined = _attach(with_med, mad)
        r = F.when(
            F.col("__mad").isNull() | (F.col("__mad") == 0) | v.isNull(),
            F.lit(None).cast("double"),
        ).otherwise(
            (v.cast("double") - F.col("__med")) / (F.lit(float(scale)) * F.col("__mad"))
        )
        return joined.withColumn(out, r).drop("__med", "__mad")

    return _scale


@register("zscore_normalize")
def zscore_normalize(
    value_col: str,
    group_cols: Optional[List[str]] = None,
    ddof: int = 0,
    output_col: Optional[str] = None,
    broadcast_stats: bool = True,
) -> TransformerFn:
    """Standardize ``value_col`` to zero mean / unit variance, optionally
    per group (source, language, event type) — the mixing-comparability
    step before combining corpora with different numeric scales. Adds
    ``<value_col>_z`` (or ``output_col``); a zero-variance group yields
    NULL z-scores (explicitly, never a division blow-up).

    ``ddof=0`` → population stddev (DuckDB ``stddev_pop``), ``ddof=1`` →
    sample stddev. Two-pass: per-group mean/std aggregation (map-side
    combined), broadcast back (``broadcast_stats=False`` for
    high-cardinality groupings — shuffle join instead), codegen'd
    projection.
    """
    if ddof not in (0, 1):
        raise ValueError(f"ddof must be 0 or 1, got {ddof}")
    out = output_col or f"{value_col}_z"
    keys = list(group_cols or [])

    def _z(df: DataFrame) -> DataFrame:
        v = F.col(value_col)
        std = F.stddev_pop(v) if ddof == 0 else F.stddev_samp(v)
        stats = df.groupBy(*keys).agg(
            F.avg(v).alias("__mean"), std.alias("__std")
        )
        if broadcast_stats and not keys:
            stats = F.broadcast(stats)
        joined = (
            _null_safe_attach(df, stats, keys, broadcast=broadcast_stats)
            if keys
            else df.crossJoin(stats)
        )
        z = F.when(
            (F.col("__std").isNull()) | (F.col("__std") == 0) | v.isNull(),
            F.lit(None).cast("double"),
        ).otherwise((v.cast("double") - F.col("__mean")) / F.col("__std"))
        return joined.withColumn(out, z).drop("__mean", "__std")

    return _z

@register("quantile_summary")
def quantile_summary(
    value_col: str,
    group_cols: Optional[List[str]] = None,
    probs: Optional[List[float]] = None,
    method: str = "approx",
    accuracy: int = 10_000,
) -> TransformerFn:
    """Per-group quantile summary: one row per group with ``n``, ``mean``
    and one ``p<nn>`` column per requested probability — the distribution
    fingerprint feeding threshold choices for ``winsorize`` /
    ``quantile_prune`` (look first, clip second).

    ``method="approx"`` (default, the 100 TB path) computes every
    probability from ONE mergeable ``percentile_approx`` sketch per group
    — bounded memory, map-side-combined partials, a single shuffle of
    sketch bytes. ``method="exact"`` uses Spark's sort-based
    ``percentile`` with linear interpolation (identical to ANSI
    ``quantile_cont`` / ``percentile_cont``) — opt-in for oracle parity
    and modest group sizes, same split as ``winsorize``/``profile_columns``.
    NULL values are ignored by both paths (SQL aggregate semantics).
    """
    if method not in ("exact", "approx"):
        raise ValueError(f"method must be exact|approx, got {method!r}")
    ps = list(probs or [0.5, 0.9, 0.99])
    if not all(0.0 <= p <= 1.0 for p in ps):
        raise ValueError(f"probs must be in [0, 1], got {ps}")
    keys = list(group_cols or [])

    def _name(p: float) -> str:
        # 0.5 -> p50, 0.99 -> p99, 0.999 -> p99_9
        s = f"{p * 100:.4f}".rstrip("0").rstrip(".").replace(".", "_")
        return f"p{s}"

    def _summary(df: DataFrame) -> DataFrame:
        v = F.col(value_col).cast("double")
        parr = F.array(*[F.lit(float(p)) for p in ps])
        if method == "exact":
            q = F.percentile(v, parr)
        else:
            q = F.percentile_approx(v, parr, F.lit(accuracy))
        aggs = [
            F.count(v).cast("long").alias("n"),
            F.avg(v).alias("mean"),
            q.alias("__q"),
        ]
        out = df.groupBy(*keys).agg(*aggs)
        for i, p in enumerate(ps):
            out = out.withColumn(_name(p), F.col("__q")[i])
        return out.drop("__q")

    return _summary


@register("trend_fit")
def trend_fit(
    x_col: str,
    y_col: str,
    group_cols: Optional[List[str]] = None,
) -> TransformerFn:
    """Per-group ordinary-least-squares trend: one row per group with
    ``n, slope, intercept, r2`` — drift/trend detection per entity
    (user spend over time, sensor drift) as ONE map-side-combined
    aggregation, no window, no iteration.

    Numerics: the moment sums (Σx, Σy, Σxy, Σx², Σy²) accumulate as
    decimals — exact and order-independent, so results are
    bit-reproducible across partitionings AND replayable by an external
    SQL oracle (float moment sums differ in low bits per accumulation
    order; Spark's built-in regr_*/covar use them). Inputs are cast to
    DECIMAL(18,6), whose products land in DECIMAL(37,12) with NO
    precision loss (a (38,8)×(38,8) product would exceed 38 digits and
    silently round under Spark's allowPrecisionLoss) — exact whenever
    inputs carry ≤6 decimals and |x|,|y| < 10^12; pre-round/floor inputs
    to that grid (e.g. epoch SECONDS, not micros). The closed forms
    divide the exact moments in double at the end. Degenerate groups
    (var(x)=0) yield NULL slope/intercept/r2; r2 is NULL when var(y)=0.
    """
    keys = list(group_cols or [])

    def _fit(df: DataFrame) -> DataFrame:
        d = F.col(x_col).cast("decimal(18,6)")
        e = F.col(y_col).cast("decimal(18,6)")
        # drop incomplete pairs up front: COUNT(*) must agree with the
        # rows the moment sums actually saw, or the closed forms skew
        df = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        agg = df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d).alias("__sx"),
            F.sum(e).alias("__sy"),
            F.sum(d * e).alias("__sxy"),
            F.sum(d * d).alias("__sxx"),
            F.sum(e * e).alias("__syy"),
            # exact constancy probes: n*sxx - sx*sx cancels EXACTLY in
            # double only for integer-grid x; a constant non-integer x
            # (0.1, 0.1, ...) leaves ~1e-18 of positive fp residue and
            # the closed form emits garbage slopes instead of the
            # documented NULL (r14 review finding) — min==max decides
            # var==0 exactly at any dtype
            F.min(d).alias("__xlo"),
            F.max(d).alias("__xhi"),
            F.min(e).alias("__ylo"),
            F.max(e).alias("__yhi"),
        )
        n = F.col("n").cast("double")
        sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
        sxy = F.col("__sxy").cast("double")
        sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        cov = n * sxy - sx * sy
        x_var = (F.col("__xlo") != F.col("__xhi")) & (vx > 0)
        y_var = (F.col("__ylo") != F.col("__yhi")) & (vy > 0)
        slope = F.when(x_var, cov / vx)
        intercept = F.when(x_var, (sy - slope * sx) / n)
        r2 = F.when(x_var & y_var, (cov * cov) / (vx * vy))
        return agg.select(
            *keys, "n",
            slope.alias("slope"),
            intercept.alias("intercept"),
            r2.alias("r2"),
        )

    return _fit


@register("linear_score", streaming_ok=True)
def linear_score(
    weights: dict,
    intercept: float = 0.0,
    output_col: str = "score",
    link: str = "logistic",
    keep_above: Optional[float] = None,
) -> TransformerFn:
    """Linear-model inference over feature columns: ``score =
    link(intercept + Σ wᵢ·colᵢ)`` — the model-based quality-filtering
    step (fastText/logistic classifiers exported as plain weights) run
    the 100 TB way: the model is a literal in the plan, the score ONE
    codegen'd expression per row — no UDF, no model server, no shuffle.
    ``link``: ``logistic`` (sigmoid) or ``identity``. ``keep_above``
    optionally filters to rows scoring strictly above the threshold
    (filter stays in the same codegen stage, pushing row reduction to
    the scan side of any downstream shuffle). NULL features score NULL
    (and are dropped by ``keep_above``).
    """
    if link not in ("logistic", "identity"):
        raise ValueError(f"linear_score: link must be logistic|identity, got {link}")
    if not weights:
        raise ValueError("linear_score: weights must be non-empty")

    def _score(df: DataFrame) -> DataFrame:
        z = F.lit(float(intercept))
        for col, w in weights.items():
            z = z + F.lit(float(w)) * F.col(col).cast("double")
        s = (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) if link == "logistic" else z
        out = df.withColumn(output_col, s)
        if keep_above is not None:
            out = out.filter(F.col(output_col) > float(keep_above))
        return out

    return _score


# ---------------------------------------------------------------------------
# linear_fit_normal: distributed ridge-regression TRAINING
# ---------------------------------------------------------------------------

def _det_sql(m: List[List[str]]) -> str:
    """Determinant of a matrix of SQL sub-expressions by cofactor expansion
    along the first row. The generated TEXT is dialect-neutral (only ``*``,
    ``+``, ``-`` and parentheses), so the exact same string runs in Spark
    SQL and in the DuckDB oracle — IEEE double arithmetic over identical
    expression trees is bit-identical across engines, which is what makes
    a closed-form model fit value-hashable."""
    n = len(m)
    if n == 1:
        return m[0][0]
    if n == 2:
        return f"({m[0][0]}*{m[1][1]} - {m[0][1]}*{m[1][0]})"
    terms = []
    for j in range(n):
        minor = [[row[k] for k in range(n) if k != j] for row in m[1:]]
        term = f"{m[0][j]}*{_det_sql(minor)}"
        terms.append(term if j % 2 == 0 else f"(0.0 - {term})")
    return "(" + " + ".join(terms) + ")"


def cramer_fit_exprs(d: int, l2: float = 0.0) -> Dict[str, str]:
    """SQL expression strings solving the ridge normal equations
    ``(G + l2·I')w = b`` by Cramer's rule, over moment columns named
    ``g{i}{j}`` (i ≤ j; index 0 is the intercept column of ones — no
    ridge on it) and ``b{i}``. Returns ``{"det": ..., "w0": ...,
    "w{d}": ...}``. Shared verbatim by :func:`linear_fit_normal` and the
    driver's DuckDB oracle."""
    k = d + 1

    def g(i: int, j: int) -> str:
        i, j = min(i, j), max(i, j)
        name = f"g{i}{j}"
        if i == j and i > 0 and l2:
            return f"({name} + {float(l2)!r})"
        return name

    gram = [[g(i, j) for j in range(k)] for i in range(k)]
    out = {"det": _det_sql(gram)}
    for w in range(k):
        num = [[(f"b{i}" if j == w else gram[i][j]) for j in range(k)] for i in range(k)]
        out[f"w{w}"] = _det_sql(num)
    return out


def _lapack_solve_moments(dbl: DataFrame, keys: List[str], d: int, l2: float) -> DataFrame:
    """The d>3 solve arm of :func:`linear_fit_normal`: an Arrow-batched
    LAPACK solve of ``(G + l2·I')w = b`` over the per-group moment rows.
    Input = one tiny row per group (exact decimal moments cast to
    double); output matches the Cramer arm's schema exactly
    (``keys…, n, w0..wd, r2``). Singular Gram (collinear features)
    yields NULL weights, var(y)=0 yields NULL r2 — same contracts."""
    import numpy as np
    import pandas as pd

    k = d + 1
    gcols = [f"g{i}{j}" for i in range(k) for j in range(i, k)]
    bcols = [f"b{i}" for i in range(k)]
    key_fields = [f for f in dbl.schema.fields if f.name in keys]
    out_schema = ", ".join(
        [f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in key_fields]
        + ["n BIGINT"]
        + [f"w{i} DOUBLE" for i in range(k)]
        + ["r2 DOUBLE"]
    )

    def _solve(batches):
        for pdf in batches:
            m = len(pdf)
            if not m:
                continue
            W = np.full((m, k), np.nan)
            R2 = np.full(m, np.nan)
            Bm = pdf[bcols].to_numpy(dtype=np.float64)
            Gflat = pdf[gcols].to_numpy(dtype=np.float64)
            Syy = pdf["syy"].to_numpy(dtype=np.float64)
            Nn = pdf["n"].to_numpy(dtype=np.int64)
            for r in range(m):
                G = np.empty((k, k))
                t = 0
                for i in range(k):
                    for j in range(i, k):
                        G[i, j] = G[j, i] = Gflat[r, t]
                        t += 1
                if l2:
                    G[1:, 1:][np.diag_indices(d)] += float(l2)
                try:
                    w = np.linalg.solve(G, Bm[r])
                except np.linalg.LinAlgError:
                    continue
                W[r] = w
                sse = Syy[r] - 2.0 * w @ Bm[r] + w @ G @ w
                if l2:
                    # r2 reports the fit of w on the RAW moments (same
                    # convention as the Cramer arm's shared SSE text)
                    G2 = G.copy()
                    G2[1:, 1:][np.diag_indices(d)] -= float(l2)
                    sse = Syy[r] - 2.0 * w @ Bm[r] + w @ G2 @ w
                sst = Syy[r] - Bm[r][0] * Bm[r][0] / Nn[r]
                if sst > 0.0:
                    R2[r] = 1.0 - sse / sst
            out = pdf[keys].copy() if keys else pd.DataFrame(index=pdf.index)
            out["n"] = pdf["n"].astype("int64")
            for i in range(k):
                # masked Float64 so a skipped (singular) solve arrives as
                # SQL NULL, matching the Cramer arm — raw float64 NaN
                # would stay NaN through Arrow
                out[f"w{i}"] = pd.array(W[:, i], dtype="Float64")
            out["r2"] = pd.array(R2, dtype="Float64")
            yield out

    return dbl.mapInPandas(_solve, out_schema)


@register("linear_fit_normal")
def linear_fit_normal(
    feature_cols: List[str],
    y_col: str,
    l2: float = 0.0,
    group_cols: Optional[List[str]] = None,
) -> TransformerFn:
    """Distributed linear-model TRAINING: ridge regression
    ``y ≈ w0 + Σ wᵢ·xᵢ`` solved in closed form from the normal equations
    — the trainer behind :func:`linear_score`'s inference (fit a quality
    classifier on a labeled seed set, export the weights, score 100 TB
    with a codegen'd projection). One row per group with ``n``, the
    weights ``w0..w{d}`` (w0 = intercept), and ``r2``.

    Numerics (the oracle contract): inputs are cast to DECIMAL(18,6)
    exactly like :func:`trend_fit` — the Gram/moment sums (Σxᵢxⱼ, Σxᵢy,
    Σy², counts) accumulate as DECIMAL(37,12), exact and
    order-independent, so they are bit-identical under any partitioning
    AND replayable by an external SQL engine. The solve is an UNROLLED
    Cramer expansion (:func:`cramer_fit_exprs`) over the exact moments
    cast to double — the expression TEXT is shared with the oracle, so
    the final doubles match bit-for-bit. Cramer is numerically fine for
    the supported d ≤ 3 on sane feature scales (pre-scale features to a
    comparable grid; ridge ``l2`` conditions degenerate designs);
    ``det = 0`` (collinear features on exact moments) yields NULL
    weights. ``r2 = 1 − SSE/SST`` with ``SSE = Σy² − 2wᵀb + wᵀGw``
    evaluated from the same moments (valid for any w, so it is the
    honest in-sample fit even under ridge); NULL when var(y) = 0.

    ``d > 3`` (any width): the SAME one-pass exact decimal moments, but
    the solve runs as an Arrow-batched LAPACK ``numpy.linalg.solve`` over
    the tiny per-group moment rows (one row per group — the solve cost is
    group-count-sized, never corpus-sized, and still no driver collect).
    This arm is float-factorization-backed rather than a shared SQL
    expression, so it has no value-hash oracle — it is pytest-pinned
    against ``numpy.lstsq`` on the raw rows and against the Cramer arm
    at d ≤ 3 (tests/test_datapipes.py).

    Scale design: ONE map-side-combined aggregation pass over the corpus
    — (d+1)(d+2)/2 + d + 2 decimal sums — then a solve on the
    group-count-sized result (a projection, no second corpus pass, no
    driver collect). Rows with any NULL feature/label are excluded from
    n and the moments up front.
    """
    d = len(feature_cols)
    if d < 1:
        raise ValueError(f"linear_fit_normal: need >= 1 feature, got {d}")
    keys = list(group_cols or [])

    def _fit(df: DataFrame) -> DataFrame:
        cond = F.col(y_col).isNotNull()
        for c in feature_cols:
            cond = cond & F.col(c).isNotNull()
        df = df.filter(cond)
        x = [F.lit(1).cast("decimal(18,6)")] + [
            F.col(c).cast("decimal(18,6)") for c in feature_cols
        ]
        y = F.col(y_col).cast("decimal(18,6)")
        aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        for i in range(d + 1):
            for j in range(i, d + 1):
                aggs.append(F.sum(x[i] * x[j]).alias(f"__g{i}{j}"))
            aggs.append(F.sum(x[i] * y).alias(f"__b{i}"))
        aggs.append(F.sum(y * y).alias("__syy"))
        mom = df.groupBy(*keys).agg(*aggs)
        # exact decimal moments -> double, named for the shared solve text
        dbl = mom.select(
            *keys,
            "n",
            *[
                F.col(f"__g{i}{j}").cast("double").alias(f"g{i}{j}")
                for i in range(d + 1)
                for j in range(i, d + 1)
            ],
            *[F.col(f"__b{i}").cast("double").alias(f"b{i}") for i in range(d + 1)],
            F.col("__syy").cast("double").alias("syy"),
        )
        if d > 3:
            return _lapack_solve_moments(dbl, keys, d, l2)
        ex = cramer_fit_exprs(d, l2)
        solved = dbl.selectExpr(
            *keys,
            "n",
            *[f"g{i}{j}" for i in range(d + 1) for j in range(i, d + 1)],
            *[f"b{i}" for i in range(d + 1)],
            "syy",
            f"{ex['det']} AS det",
            *[
                f"CASE WHEN {ex['det']} <> 0.0 THEN {ex[f'w{w}']} / {ex['det']} END AS w{w}"
                for w in range(d + 1)
            ],
        )
        # SSE = syy - 2*w'b + w'Gw over the SAME moment columns; SST from
        # b0 (= Σy) and n. Text kept dialect-neutral for the oracle.
        wb = " + ".join(f"w{i}*b{i}" for i in range(d + 1))
        wgw = " + ".join(
            f"w{i}*w{j}*g{min(i, j)}{max(i, j)}"
            for i in range(d + 1)
            for j in range(d + 1)
        )
        sse = f"(syy - 2.0*({wb}) + ({wgw}))"
        sst = "(syy - b0*b0/n)"
        r2 = (
            f"CASE WHEN det <> 0.0 AND {sst} > 0.0 "
            f"THEN 1.0 - {sse}/{sst} END AS r2"
        )
        return solved.selectExpr(
            *keys, "n", *[f"w{w}" for w in range(d + 1)], r2
        )

    return _fit


def corr_pair_expr(i: int, j: int) -> str:
    """Dialect-neutral Pearson-correlation SQL text over moment columns
    ``n, s{i}, s{j}, s{i}_{i}, s{i}_{j}, s{j}_{j}`` (exact sums cast to
    double). Shared verbatim between the Spark plan and the DuckDB
    oracle — identical expression trees over identical doubles are
    bit-identical. NULL when either variance is zero. Bound (r14 review
    note): the ``> 0.0`` variance guards cancel EXACTLY only on
    integer-grid moments (the operator quantizes to a grid first); a
    constant NON-integer column fed directly would leave ~1e-18 of
    positive fp residue and emit a garbage correlation — keep inputs on
    the exact grid (as every registry caller does), or pre-screen
    constant columns."""
    # pair sums carry a separator: at d >= 12 the old s{i}{j} spelling
    # collided (s11 = single-sum of col 11 AND pair (1,1)) into an
    # AMBIGUOUS_REFERENCE crash (r14 review finding). Identifier-only
    # change: the expression TREE (and so the doubles) is unchanged,
    # so the frozen oracle text remains bit-identical.
    vi = f"(n*s{i}_{i} - s{i}*s{i})"
    vj = f"(n*s{j}_{j} - s{j}*s{j})"
    cov = f"(n*s{i}_{j} - s{i}*s{j})"
    return (
        f"CASE WHEN {vi} > 0.0 AND {vj} > 0.0 "
        f"THEN {cov} / sqrt({vi} * {vj}) END"
    )


@register("correlation_matrix")
def correlation_matrix(
    value_cols: List[str],
    group_cols: Optional[List[str]] = None,
) -> TransformerFn:
    """Pairwise Pearson correlations over a feature set — the feature-QA
    companion to :func:`trend_fit` (one pair) and
    :func:`linear_fit_normal` (one response): one row per unordered
    column pair (per group) with ``col_x, col_y, n, corr`` — redundancy
    screening before training a :func:`linear_fit_normal` model or
    pruning near-duplicate features from a mixture.

    Numerics: listwise-complete rows (any NULL among ``value_cols``
    drops the row — every pair sees the same n), DECIMAL(18,6) moment
    sums (exact, order-independent — the ``trend_fit`` convention), and
    a closed form whose SQL text (:func:`corr_pair_expr`) is shared
    verbatim with the oracle, so the final doubles hash bit-for-bit.
    Zero-variance columns yield NULL correlations.

    Scale design: ONE map-side-combined aggregation pass — d + d(d+1)/2
    sums — then a constant-size explode of the pair rows per group. No
    second corpus pass, no window, no join.
    """
    d = len(value_cols)
    if d < 2:
        raise ValueError(
            f"correlation_matrix: need >= 2 value_cols, got {d}"
        )
    keys = list(group_cols or [])

    def _corr(df: DataFrame) -> DataFrame:
        cond = F.lit(True)
        for c in value_cols:
            cond = cond & F.col(c).isNotNull()
        df = df.filter(cond)
        x = [F.col(c).cast("decimal(18,6)") for c in value_cols]
        aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        for i in range(d):
            aggs.append(F.sum(x[i]).alias(f"__s{i}"))
            for j in range(i, d):
                aggs.append(F.sum(x[i] * x[j]).alias(f"__s{i}_{j}"))
        mom = df.groupBy(*keys).agg(*aggs)
        dbl = mom.select(
            *keys,
            "n",
            *[F.col(f"__s{i}").cast("double").alias(f"s{i}") for i in range(d)],
            *[
                F.col(f"__s{i}_{j}").cast("double").alias(f"s{i}_{j}")
                for i in range(d)
                for j in range(i, d)
            ],
        )
        pair_structs = ", ".join(
            f"struct('{value_cols[i]}' AS col_x, '{value_cols[j]}' AS col_y, "
            f"{corr_pair_expr(i, j)} AS corr)"
            for i in range(d)
            for j in range(i + 1, d)
        )
        return dbl.selectExpr(
            *keys, "n", f"inline(array({pair_structs}))"
        )

    return _corr
