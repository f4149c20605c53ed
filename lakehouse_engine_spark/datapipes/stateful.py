"""Custom stateful streaming operators via ``applyInPandasWithState``.

Native Structured Streaming aggregations either window (emit per time
bucket) or run in complete/update mode (re-emit whole groups); what they
cannot express is "per key, carry an accumulator across micro-batches and
emit the RUNNING value on every batch" — the shape a streaming ingestion
controller needs (e.g. a per-domain token budget that must cut off
sampling the moment the cumulative count crosses a threshold, while the
stream is still running).

``streaming_running_totals`` implements exactly that with Spark's
Arrow-batched stateful API (``applyInPandasWithState``): state is one
tiny (count, sum) tuple per key, persisted in the state store and
restored from the checkpoint on restart — so a killed and resumed
ingestion continues its budget accounting where it left off
(pytest-pinned in tests/test_stateful.py).

At 100 TB: state size is O(distinct keys) — two numbers per key, nothing
per row — and the grouping shuffle is the same one any per-key aggregate
pays. The Python worker sees one Arrow batch stream per key per
micro-batch; per-batch work is two pandas reductions.
"""

from __future__ import annotations

from typing import Callable, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_engine_spark.datapipes.registry import register
from lakehouse_engine_spark.utils.sql_parser import quote_ident

TransformerFn = Callable[[DataFrame], DataFrame]


def _concat_batches(pdfs) -> "Optional[pd.DataFrame]":
    """Drain an applyInPandasWithState batch iterator into ONE frame
    (None when the group delivered no rows this trigger — timeout-only
    invocations). One copy of the drain/skip-empties/concat preamble the
    stateful _update closures all share."""
    batch = [pdf for pdf in pdfs if len(pdf)]
    if not batch:
        return None
    return batch[0] if len(batch) == 1 else pd.concat(batch, ignore_index=True)




def hll_estimate(regs: list, precision: int) -> float:
    """HyperLogLog estimate from ``2^precision`` registers.

    Small-m bias constants per the HLL paper; asymptotic alpha from
    m >= 128. The harmonic sum Σ 2^-r is computed as one EXACT
    arbitrary-precision integer scaled by 2^(61-precision) — the max
    register rank is 61-precision (rest==0 in the 60-bit md5-fold), so
    the shift is never negative anywhere in the allowed [4,12] precision
    range — then divided once: order-independent and replayable
    bit-for-bit by a SQL oracle, unlike a float accumulation whose
    2^6..2^-55 span exceeds the 53-bit mantissa. The dp95 DuckDB oracle
    scales by 2^56 at precision=6; rescaling by an exact power of two is
    the same rational number, so both produce the identical
    correctly-rounded double.
    """
    import math

    m = 1 << precision
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    scale = 61 - precision
    inv = sum(1 << (scale - r) for r in regs) / float(1 << scale)
    est = alpha * m * m / inv
    zeros = regs.count(0)
    if est <= 2.5 * m and zeros:  # small-range correction
        est = m * math.log(m / zeros)
    return est


@register("streaming_running_totals", streaming_ok=True)
def streaming_running_totals(
    on: List[str],
    value_col: str,
    budget: Optional[float] = None,
) -> TransformerFn:
    """Per-key running (row count, value sum) across micro-batches.

    Emits one row per key per micro-batch in which the key appears:
    ``on…, batch_rows, batch_value, total_rows, total_value,
    budget_exceeded`` — totals cumulative since the checkpoint's birth,
    ``budget_exceeded`` true once ``total_value`` passes ``budget``
    (always false when no budget is set). Downstream specs gate on the
    flag (e.g. stop writing a domain once its token budget is spent).

    On a BATCH DataFrame the operator degrades to a plain aggregate (one
    "micro-batch" containing everything): same schema, totals == batch
    values — so ACONs can be smoke-tested in batch mode before being
    pointed at a stream.

    NULL/unparseable values contribute 0 on BOTH arms (batch coalesces
    the sum, streaming coerces then NaN-skips), so an all-NULL group
    reads 0.0 / budget_exceeded=false identically — never a NULL flag.
    """
    if not on:
        raise ValueError("streaming_running_totals: 'on' keys must be non-empty")

    def _fn(df: DataFrame) -> DataFrame:
        if not df.isStreaming:
            agg = df.groupBy(*on).agg(
                F.count(F.lit(1)).cast("long").alias("batch_rows"),
                F.coalesce(
                    F.sum(F.col(value_col).cast("double")), F.lit(0.0)
                ).alias("batch_value"),
            )
            return agg.select(
                *on,
                "batch_rows",
                "batch_value",
                F.col("batch_rows").alias("total_rows"),
                F.col("batch_value").alias("total_value"),
                (
                    F.col("batch_value") > F.lit(budget)
                    if budget is not None
                    else F.lit(False)
                ).alias("budget_exceeded"),
            )

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        key_fields = ", ".join(
            f"{quote_ident(f.name)} {f.dataType.simpleString()}"
            for f in df.select(*on).schema.fields
        )
        out_schema = (
            f"{key_fields}, batch_rows LONG, batch_value DOUBLE, "
            "total_rows LONG, total_value DOUBLE, budget_exceeded BOOLEAN"
        )
        state_schema = "total_rows LONG, total_value DOUBLE"

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            rows, val = 0, 0.0
            for pdf in pdfs:
                rows += len(pdf)
                if len(pdf):
                    # coerce (not raise) + NaN-skip sum: unparseable and
                    # NULL values contribute 0, matching the batch arm's
                    # cast('double') + coalesced sum
                    val += float(
                        pd.to_numeric(pdf[value_col], errors="coerce")
                        .sum(skipna=True)
                    )
            prev_rows, prev_val = state.get if state.exists else (0, 0.0)
            total_rows, total_val = prev_rows + rows, prev_val + val
            state.update((total_rows, total_val))
            yield pd.DataFrame(
                [
                    dict(
                        zip(on, key),
                        batch_rows=rows,
                        batch_value=val,
                        total_rows=total_rows,
                        total_value=total_val,
                        budget_exceeded=(
                            budget is not None and total_val > budget
                        ),
                    )
                ]
            )

        return df.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_ewma_anomaly", streaming_ok=True)
def streaming_ewma_anomaly(
    on: List[str],
    value_col: str,
    ts_col: str = "ts",
    alpha: float = 0.3,
    threshold: float = 3.0,
    min_periods: int = 5,
) -> TransformerFn:
    """Per-key streaming anomaly scoring against an exponentially weighted
    mean/variance carried across micro-batches: each row is z-scored
    against the state BEFORE it (``z = (v - ewma) / sqrt(ewvar)``),
    flagged when ``|z| > threshold`` after a ``min_periods`` warm-up, then
    folded into the state (West's EW update: ``ewma += α·δ``,
    ``ewvar = (1-α)(ewvar + α·δ²)``). The streaming shape native
    watermarked aggregations can't express: per-ROW verdicts conditioned
    on unbounded history, in one pass, emitted as the stream runs.

    State is three numbers per key (ewma, ewvar, n) in the state store —
    restored from the checkpoint on restart, so a resumed monitor keeps
    its learned baseline (pytest-pinned). Rows inside a micro-batch are
    processed in ``ts_col`` order, making results independent of batch
    boundaries: N batches or one, same output (also pinned). The
    sequential per-key fold is the irreducible core of EWMA — it runs as
    an Arrow-batched pandas loop per key; the grouping shuffle is the
    same one any per-key aggregate pays, and state never grows with rows.

    On a BATCH DataFrame the operator degrades to ``applyInPandas`` with
    fresh state per key: identical semantics over the frame's full
    history, so ACONs smoke-test in batch before pointing at a stream.
    """
    if not on:
        raise ValueError("streaming_ewma_anomaly: 'on' keys must be non-empty")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if min_periods < 1:
        raise ValueError(f"min_periods must be >= 1, got {min_periods}")

    def _score(pdf: pd.DataFrame, st: Tuple[float, float, int]):
        """Fold one key's rows (ts order) through the EW state; returns
        (out_pdf, new_state)."""
        import math

        ewma, ewvar, n = st
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        zs, flags, means = [], [], []
        vals = pd.to_numeric(pdf[value_col]).astype(float)
        # plain-float list iteration: ~20× faster than iterating the
        # Series (which boxes one numpy scalar per row)
        for v in vals.tolist():
            if v != v:  # null/NaN value: emit unscored, do NOT fold into
                # state — one bad row must not poison the key's baseline
                # forever (mirrors streaming_approx_distinct's dropna)
                zs.append(None)
                flags.append(False)
                means.append(ewma if n > 0 else None)
                continue
            if n >= min_periods and ewvar > 0:
                z = (v - ewma) / math.sqrt(ewvar)
                zs.append(z)
                flags.append(abs(z) > threshold)
            else:
                zs.append(None)
                flags.append(False)
            if n == 0:
                ewma, ewvar = v, 0.0
            else:
                delta = v - ewma
                ewma = ewma + alpha * delta
                ewvar = (1.0 - alpha) * (ewvar + alpha * delta * delta)
            n += 1
            means.append(ewma)
        out = pdf[[ts_col]].copy()
        out[value_col] = vals
        out["ewma"] = pd.array(means, dtype="float64")
        out["z"] = pd.array(zs, dtype="float64")
        out["is_anomaly"] = flags
        return out, (ewma, ewvar, n)

    def _fn(df: DataFrame) -> DataFrame:
        # NULL event times are excluded on BOTH arms (the
        # streaming_event_pattern/funnel convention): an un-timestamped
        # row has no position in the EWMA fold, and the two arms would
        # otherwise order it OPPOSITELY (batch sortWithinPartitions puts
        # NULL first, pandas sort_values puts NaT last) — diverging
        # every subsequent ewma/z/flag for the key
        df = df.filter(F.col(ts_col).isNotNull())
        key_fields = ", ".join(
            f"{quote_ident(f.name)} {f.dataType.simpleString()}"
            for f in df.select(*on).schema.fields
        )
        ts_type = df.schema[ts_col].dataType.simpleString()
        out_schema = (
            f"{key_fields}, {quote_ident(ts_col)} {ts_type}, {quote_ident(value_col)} DOUBLE, "
            "ewma DOUBLE, z DOUBLE, is_anomaly BOOLEAN"
        )

        def _attach_key(out: pd.DataFrame, key: Tuple) -> pd.DataFrame:
            for name, val in zip(on, key):
                out.insert(0, name, val)
            return out[
                list(on) + [ts_col, value_col, "ewma", "z", "is_anomaly"]
            ]

        if not df.isStreaming:
            # Batch path: repartition by key + sortWithinPartitions, then
            # mapInPandas — ONE Python call per Arrow batch instead of one
            # per key (grouped applyInPandas pays ~ms of pandas slicing per
            # group: 3-4× slower at 1.5k keys, far worse at 10^8 keys).
            # Keys are partition-contiguous after the sort; only the batch-
            # straddling tail group is buffered, so worker memory is
            # O(largest single key), not O(partition).
            import math

            import numpy as np

            def _fold_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
                """Score a frame whose rows are key-contiguous + ts-sorted."""
                n_rows = len(pdf)
                karrs = {c: pdf[c].to_numpy() for c in on}
                vals = pd.to_numeric(pdf[value_col]).to_numpy(dtype="float64")
                change = np.zeros(n_rows, dtype=bool)
                change[0] = True
                # NaN-safe boundary detection: NaN != NaN would split a
                # null-key partition into one group per row, diverging from
                # the streaming path where null is ONE group
                for c in on:
                    s = pdf[c]
                    sh = s.shift()
                    change |= (s.ne(sh) & ~(s.isna() & sh.isna())).to_numpy()
                starts = np.flatnonzero(change).tolist() + [n_rows]
                ewma_out = np.empty(n_rows)
                z_out = np.full(n_rows, np.nan)
                flag_out = np.zeros(n_rows, dtype=bool)
                for si in range(len(starts) - 1):
                    a, b = starts[si], starts[si + 1]
                    ewma, ewvar, n = 0.0, 0.0, 0
                    i = a
                    for v in vals[a:b].tolist():
                        if v != v:  # null/NaN value: unscored, state kept
                            ewma_out[i] = ewma if n > 0 else np.nan
                            i += 1
                            continue
                        if n >= min_periods and ewvar > 0:
                            z = (v - ewma) / math.sqrt(ewvar)
                            z_out[i] = z
                            flag_out[i] = abs(z) > threshold
                        if n == 0:
                            ewma, ewvar = v, 0.0
                        else:
                            delta = v - ewma
                            ewma = ewma + alpha * delta
                            ewvar = (1.0 - alpha) * (ewvar + alpha * delta * delta)
                        n += 1
                        ewma_out[i] = ewma
                        i += 1
                data = dict(karrs)
                data[ts_col] = pdf[ts_col].to_numpy()
                data[value_col] = vals
                # mask NaN→null: a NaN ewma only arises for a null value
                # before any real one (streaming path emits null there too)
                data["ewma"] = pd.arrays.FloatingArray(
                    ewma_out, np.isnan(ewma_out)
                )
                data["z"] = pd.arrays.FloatingArray(z_out, np.isnan(z_out))
                data["is_anomaly"] = flag_out
                return pd.DataFrame(data)

            def _part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                buf: Optional[pd.DataFrame] = None
                for pdf in batches:
                    if buf is not None and len(buf):
                        pdf = pd.concat([buf, pdf], ignore_index=True)
                    if not len(pdf):
                        continue
                    # split off the (possibly continuing) trailing key group
                    # (NaN-safe: a null key must match itself here, else a
                    # null-key run would never be buffered as one group)
                    tail = np.ones(len(pdf), dtype=bool)
                    for c in on:
                        s = pdf[c]
                        last = s.iloc[-1]
                        if pd.isna(last):
                            tail &= s.isna().to_numpy()
                        else:
                            tail &= s.eq(last).fillna(False).to_numpy()
                    cut = len(pdf) - int(tail.sum())
                    head, buf = pdf.iloc[:cut], pdf.iloc[cut:]
                    if len(head):
                        yield _fold_sorted(head)
                if buf is not None and len(buf):
                    yield _fold_sorted(buf)

            arranged = df.select(*on, ts_col, value_col).repartition(
                *[F.col(c) for c in on]
            ).sortWithinPartitions(*on, ts_col)
            return arranged.mapInPandas(_part, schema=out_schema)

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        state_schema = "ewma DOUBLE, ewvar DOUBLE, n LONG"

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            st = state.get if state.exists else (0.0, 0.0, 0)
            parts = [p for p in pdfs if len(p)]
            if parts:
                out, st = _score(pd.concat(parts, ignore_index=True), st)
                state.update(st)
                yield _attach_key(out, key)

        return df.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_approx_distinct", streaming_ok=True)
def streaming_approx_distinct(
    on: List[str],
    value_col: str,
    precision: int = 6,
) -> TransformerFn:
    """Per-key APPROXIMATE distinct count across micro-batches with
    BOUNDED state: a HyperLogLog sketch of ``2^precision`` one-byte
    registers per key (64 B at the default) carried in the state store —
    the streaming cardinality primitive exact ``dropDuplicates`` state
    can't give you (exact streaming distinct state grows with the number
    of distinct values; the sketch never grows). Emits one row per key
    per micro-batch: ``on…, batch_rows, approx_distinct`` (cumulative
    estimate since the checkpoint's birth, standard error ≈
    1.04/sqrt(2^precision) ≈ 13% at the default — raise ``precision``
    for tighter counts).

    Hashing is the corpus-wide md5-fold convention, computed per value in
    Python over the Arrow batch — the per-batch cost is rows × one md5,
    the same cost class as the exact-dedup hash, with state O(keys ×
    2^precision) regardless of stream length. On a BATCH DataFrame the
    operator degrades to one pass of the same sketch per key, so batch
    smoke-tests predict streaming estimates exactly (same hash, same
    registers).
    """
    if not on:
        raise ValueError("streaming_approx_distinct: 'on' keys must be non-empty")
    if not 4 <= precision <= 12:
        raise ValueError(f"precision must be in [4, 12], got {precision}")
    m = 1 << precision

    def _fold(values, integral: bool = False) -> list:
        import hashlib

        regs = [0] * m
        for v in values:
            if integral:
                # A nulls-containing int64 Arrow batch reaches pandas as
                # float64, so str(v) would hash '123.0' while the JVM fast
                # path hashes CAST(123 AS STRING) = '123'. Coerce back so
                # batch and streaming estimates agree for integral columns.
                v = int(v)
            h = int(
                hashlib.md5(str(v).encode("utf-8")).hexdigest()[:15], 16
            )  # 60-bit md5-fold (shared convention)
            idx = h & (m - 1)
            rest = h >> precision
            # rank of the first set bit in the remaining 60-p bits
            width = 60 - precision
            rho = width + 1 if rest == 0 else width - rest.bit_length() + 1
            if rho > regs[idx]:
                regs[idx] = rho
        return regs

    def _estimate(regs: list) -> float:
        return hll_estimate(regs, precision)

    def _fn(df: DataFrame) -> DataFrame:
        key_fields = ", ".join(
            f"{quote_ident(f.name)} {f.dataType.simpleString()}"
            for f in df.select(*on).schema.fields
        )
        out_schema = (
            f"{key_fields}, batch_rows LONG, approx_distinct LONG"
        )

        if not df.isStreaming:
            from pyspark.sql.types import (
                ByteType,
                IntegerType,
                LongType,
                ShortType,
                StringType,
            )

            vt = df.schema[value_col].dataType
            if isinstance(
                vt, (ByteType, ShortType, IntegerType, LongType, StringType)
            ):
                # JVM fast path: the md5-fold and register construction
                # run as codegen expressions (Spark md5 == hashlib md5;
                # CAST(int AS STRING) == str(int); strings pass through),
                # so Python only sees ≤ m register values per KEY for the
                # float estimate — identical estimates to the pandas fold
                # at a tiny fraction of the cost. Doubles keep the pandas
                # path: Spark's double→string rendering ('1.0E-4') is not
                # Python's str() ('0.0001'), so their hashes differ.
                width = 60 - precision
                h = F.conv(
                    F.substring(F.md5(F.col(value_col).cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long")
                slots = (
                    df.filter(F.col(value_col).isNotNull())
                    .select(*on, h.alias("__h"))
                    .select(
                        *on,
                        F.expr(f"__h % {m}").alias("__idx"),
                        F.when(
                            F.expr(f"__h div {m}") == 0, F.lit(width + 1)
                        )
                        .otherwise(
                            F.lit(width)
                            - F.length(F.expr(f"bin(__h div {m})"))
                            + 1
                        )
                        .alias("__rho"),
                    )
                )
                regs = (
                    slots.groupBy(*on, "__idx")
                    .agg(F.max("__rho").alias("__r"))
                    .groupBy(*on)
                    .agg(F.collect_list("__r").alias("__rs"))
                )
                counts = df.groupBy(*on).agg(
                    F.count(F.lit(1)).cast("long").alias("batch_rows")
                )

                def _est_fn(col: pd.Series) -> pd.Series:
                    return col.map(
                        lambda hits: int(
                            _estimate(
                                list(hits) + [0] * (m - len(hits))
                            )
                            + 0.5
                        )
                    )

                _est = F.pandas_udf(_est_fn, "long")
                # null-SAFE key equality: a plain equi-join never matches
                # NULL grouping keys, which would hand a null-key group
                # an empty register array (approx_distinct = 0) while
                # the pandas arm and the stream both count it normally
                from functools import reduce as _reduce
                from operator import and_ as _and

                cond = _reduce(
                    _and,
                    [counts[c].eqNullSafe(regs[c]) for c in on],
                )
                return (
                    counts.join(regs, cond, how="left")
                    .drop(*[regs[c] for c in on])
                    .withColumn(
                        "__rs",
                        F.coalesce(
                            "__rs", F.array().cast("array<int>")
                        ),
                    )
                    .select(
                        *on,
                        "batch_rows",
                        _est("__rs").alias("approx_distinct"),
                    )
                )

            def _batch(key: Tuple, pdf: pd.DataFrame) -> pd.DataFrame:
                regs = _fold(pdf[value_col].dropna())
                return pd.DataFrame(
                    [dict(zip(on, key), batch_rows=len(pdf),
                          approx_distinct=int(_estimate(regs) + 0.5))]
                )

            return df.groupBy(*on).applyInPandas(_batch, schema=out_schema)

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
        from pyspark.sql.types import (
            ByteType,
            IntegerType,
            LongType,
            ShortType,
        )

        state_schema = "regs ARRAY<INT>"
        value_is_integral = isinstance(
            df.schema[value_col].dataType,
            (ByteType, ShortType, IntegerType, LongType),
        )

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            (prev,) = state.get if state.exists else ([0] * m,)
            regs = list(prev)
            rows = 0
            for pdf in pdfs:
                rows += len(pdf)
                fresh = _fold(
                    pdf[value_col].dropna(), integral=value_is_integral
                )
                regs = [max(a, b) for a, b in zip(regs, fresh)]
            state.update((regs,))
            yield pd.DataFrame(
                [dict(zip(on, key), batch_rows=rows,
                      approx_distinct=int(_estimate(regs) + 0.5))]
            )

        return df.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_reservoir_quantiles", streaming_ok=True)
def streaming_reservoir_quantiles(
    on: List[str],
    value_col: str,
    id_col: str,
    k: int = 256,
    probs: Optional[List[float]] = None,
    seed: str = "",
) -> TransformerFn:
    """Per-key quantile estimates across micro-batches with BOUNDED
    state: a DETERMINISTIC hash-priority reservoir — each row's priority
    is the md5-fold of ``id_col`` (+ ``seed``); the per-key sample is
    always the ``k`` rows with the smallest priorities ever seen. That
    sample is a uniform random subset (md5 is uniform over ids), it is
    MERGEABLE (min-k of a union = min-k of min-k's — so micro-batches
    fold into the state exactly), and it is REPLAYABLE: unlike a
    randomized reservoir, an external oracle can reproduce the sample
    and therefore the estimates bit-for-bit.

    Emits one row per key per micro-batch: ``on…, n_seen`` (cumulative
    non-null rows), ``sample_n``, and one ``q_<pp>`` column per requested
    probability (``0.5 → q_50``, ``0.99 → q_99``). The quantile is the
    lower-index order statistic ``sorted_vals[floor(p·(m−1))]`` — integer
    indexing, no interpolation, so batch, streaming, and the SQL oracle
    agree exactly. NULL values are ignored (they join neither the
    reservoir nor ``n_seen``). On a BATCH DataFrame the operator runs as
    one window pass (rank by priority per key → top-k → one aggregate),
    producing the estimates the stream converges to.

    Scale design: state is O(k) pairs per key regardless of stream
    length; the batch arm is one key-partitioned window (single
    exchange) + a groups-sized aggregate. Estimate error is the standard
    uniform-sample bound (~1/sqrt(k) quantile deviation).
    """
    probs_list = [0.5, 0.9, 0.99] if probs is None else list(probs)
    if not probs_list or any(not 0 < p <= 1 for p in probs_list):
        raise ValueError(
            f"streaming_reservoir_quantiles: probs must be in (0, 1], got {probs_list}"
        )
    if k < 1:
        raise ValueError(f"streaming_reservoir_quantiles: k must be >= 1, got {k}")
    if not on:
        raise ValueError(
            "streaming_reservoir_quantiles: 'on' keys must be non-empty"
        )

    def qname(p: float) -> str:
        return "q_" + f"{p * 100:g}".replace(".", "_")

    def _fn(df: DataFrame) -> DataFrame:
        # NULL ids are excluded on BOTH arms (the streaming_bottomk
        # convention): the priority is a pure function of the id, so a
        # NULL id has no priority — the streaming arm would crash on
        # int(nan) / hash the literal 'None', and the batch arm's NULL
        # priority would sort FIRST and squat in the sample's top-k
        df = df.filter(F.col(id_col).isNotNull())
        pri = F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

        if not df.isStreaming:
            from functools import reduce as _reduce
            from operator import and_ as _and

            from pyspark.sql import Window

            nn = df.filter(F.col(value_col).isNotNull())
            w = Window.partitionBy(*on).orderBy(
                pri.asc(), F.col(value_col).asc()
            )
            sample = (
                nn.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .groupBy(*on)
                .agg(
                    F.sort_array(
                        F.collect_list(F.col(value_col).cast("double"))
                    ).alias("__vals")
                )
            )
            counts = nn.groupBy(*on).agg(
                F.count(F.lit(1)).cast("long").alias("n_seen")
            )
            m = F.size("__vals")
            qcols = [
                F.element_at(
                    "__vals", (F.floor(F.lit(p) * (m - 1)) + 1).cast("int")
                ).alias(qname(p))
                for p in probs_list
            ]
            # null-safe key join: a NULL-key group must not vanish from
            # the batch arm while the stream emits it
            cond = _reduce(_and, [counts[c].eqNullSafe(sample[c]) for c in on])
            return (
                counts.join(sample, cond)
                .drop(*[sample[c] for c in on])
                .select(
                    *on, "n_seen", m.cast("long").alias("sample_n"), *qcols
                )
            )

        import hashlib
        import math

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
        from pyspark.sql.types import (
            ByteType,
            IntegerType,
            LongType,
            ShortType,
        )

        key_fields = ", ".join(
            f"{quote_ident(f.name)} {f.dataType.simpleString()}"
            for f in df.select(*on).schema.fields
        )
        qfields = ", ".join(f"{qname(p)} DOUBLE" for p in probs_list)
        out_schema = f"{key_fields}, n_seen LONG, sample_n LONG, {qfields}"
        state_schema = "n LONG, pris ARRAY<LONG>, vals ARRAY<DOUBLE>"
        # integral ids reach pandas as float64 when an Arrow batch carries
        # nulls — coerce back to int so str(id) hashes like the JVM's
        # CAST(id AS STRING) (same fix as the HLL fold)
        id_is_integral = isinstance(
            df.schema[id_col].dataType,
            (ByteType, ShortType, IntegerType, LongType),
        )

        def _priority(v) -> int:
            if id_is_integral:
                v = int(v)
            return int(
                hashlib.md5((str(v) + seed).encode("utf-8")).hexdigest()[:15],
                16,
            )

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            n, pris, vals = (
                state.get if state.exists else (0, [], [])
            )
            entries = list(zip(pris, vals))
            for pdf in pdfs:
                sub = pdf[[id_col, value_col]].dropna(subset=[value_col])
                n += len(sub)
                for i, v in zip(sub[id_col], sub[value_col]):
                    entries.append((_priority(i), float(v)))
            entries.sort()
            entries = entries[:k]
            state.update(
                (n, [p for p, _ in entries], [v for _, v in entries])
            )
            svals = sorted(v for _, v in entries)
            m = len(svals)
            row = dict(zip(on, key), n_seen=n, sample_n=m)
            for p in probs_list:
                row[qname(p)] = (
                    svals[int(math.floor(p * (m - 1)))] if m else None
                )
            yield pd.DataFrame([row])

        return df.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_dedup_exact", streaming_ok=True)
def streaming_dedup_exact(
    key_cols: Optional[List[str]] = None,
    input_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "content_digest",
    ttl_minutes: Optional[int] = None,
) -> TransformerFn:
    """Streaming exact dedup: emit each content digest's FIRST arrival and
    swallow every later duplicate — across micro-batches AND restarts (the
    digest → seen flag lives in the state store, restored from the
    checkpoint). The streaming arm of the dedup family: batch
    ``dedup_exact`` dedups a corpus at rest, ``dedup_incremental_exact``
    dedups run-over-run with parquet digest state, this op dedups a LIVE
    ingestion stream in-flight.

    Identity is ``md5(concat_ws(0x1f, key_cols))`` (``[input_col]`` when
    ``key_cols`` is None) — the corpus-wide digest convention. Within a
    micro-batch the keeper is deterministic: smallest ``id_col`` wins
    (stable mergesort, same rule as keep-first batch dedup); NULL ids
    sort LAST on both arms, so an identified row always beats an
    unidentified duplicate.

    State: ONE tinyint per distinct digest — the minimum any exact
    streaming dedup can hold. Unbounded streams grow it without bound, so
    ``ttl_minutes`` arms a sliding processing-time timeout per digest:
    a digest idle that long is evicted (a later duplicate re-admits — the
    standard boundedness/completeness trade; leave TTL off for
    replay-window streams where the checkpoint outlives the source
    retention). Per-micro-batch worker memory is bounded by the rows of
    ONE digest in that batch, not by state size.

    On a BATCH frame: keep-first-by-id per digest (one window pass) with
    the digest attached — identical semantics, SQL-oracle-able, so ACONs
    smoke-test in batch before pointing at the stream.
    """
    cols_for_digest = list(key_cols) if key_cols else [input_col]

    def _fn(df: DataFrame) -> DataFrame:
        digest = F.md5(
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols_for_digest])
        )
        src = df.withColumn(digest_col, digest)
        colnames = [f.name for f in src.schema.fields]

        if not df.isStreaming:
            from pyspark.sql import Window

            # nulls LAST, matching pandas sort_values' na_position
            # default in the streaming arm — a NULL-id row loses the
            # keeper race to any identified row on BOTH arms (among
            # only-null ids the keeper is unspecified but one row emits)
            w = Window.partitionBy(digest_col).orderBy(
                F.asc_nulls_last(id_col)
            )
            return (
                src.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        out_schema = ", ".join(
            f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in src.schema.fields
        )
        timeout = (
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_minutes
            else GroupStateTimeout.NoTimeout
        )

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            if ttl_minutes and state.hasTimedOut:
                state.remove()
                return
            allb = _concat_batches(pdfs)
            if not state.exists and allb is not None:
                keeper = allb.sort_values(id_col, kind="mergesort").head(1)
                state.update((1,))
                yield keeper[colnames]
            elif state.exists:
                state.update((1,))  # refresh (sliding TTL)
            if ttl_minutes:
                state.setTimeoutDuration(ttl_minutes * 60 * 1000)

        return src.groupBy(digest_col).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType="seen TINYINT",
            outputMode="append",
            timeoutConf=timeout,
        )

    return _fn


@register("streaming_event_pattern", streaming_ok=True)
def streaming_event_pattern(
    on: List[str],
    symbols: dict,
    pattern: str,
    max_span: int,
    stage_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: Optional[str] = None,
    default_symbol: Optional[str] = None,
    finalize: str = "eager",
    watermark_delay: Optional[str] = None,
) -> TransformerFn:
    """Streaming MATCH_RECOGNIZE-lite: the live arm of
    ``event_pattern_match`` — regex sequence detection over each key's
    event stream, across micro-batches AND restarts (the carried suffix
    lives in the state store). Emits one row per key per micro-batch:
    ``n_new`` (matches completed this batch), cumulative ``n_matches``,
    total ``seq_len``, and the first match ever (``first_match``).

    ``max_span`` bounds the longest match (in symbols) the pattern can
    produce and is REQUIRED: the state keeps only the unconsumed suffix
    that could still participate in a match — ``max_span − 1`` symbols
    after the last counted match — so per-key state is O(max_span)
    regardless of stream length. Matches longer than ``max_span`` are
    missed (the standard boundedness/completeness trade, same family as
    ``streaming_dedup_exact``'s TTL). Counting is non-overlapping
    leftmost-first.

    ``finalize`` picks the boundary semantics: ``"eager"`` (default)
    counts a match the moment its closing symbol lands — lowest
    latency, but a quantified pattern whose match could still GROW
    (``(ef)+`` with the next ``ef`` arriving in a later batch) counts
    as two matches where the batch arm's greedy scan merges them into
    one. ``"span"`` defers counting until ``max_span`` symbols have
    passed the match start, so no in-bound continuation can change it
    — EXACT batch-arm equality for any pattern within the bound, at up
    to ``max_span`` symbols of emission latency. Patterns that cannot
    extend a completed match (``vc*p`` — nothing follows the closing
    symbol) are identical under both modes except for the latency. The streaming side matches with Python ``re``; the batch arm
    with Java regex — identical semantics for the symbol-alphabet
    patterns this operator is for (keep patterns to character classes,
    alternation, and quantifiers).

    Within a micro-batch, events order by ``(ts, tiebreak)`` — pass a
    unique tiebreak for deterministic sequences. ACROSS batches there
    are two arms:

    * ``watermark_delay=None`` (default): arrival order is source order
      — feed the operator an ordered-per-key stream (a partitioned file
      stream, a per-key-ordered Kafka topic).
    * ``watermark_delay="10 minutes"`` (any Spark interval): the
      OUT-OF-ORDER-SAFE arm for real unordered sources. The source gets
      ``withWatermark(ts_col, delay)``; arriving events are BUFFERED in
      state and consumed in EVENT-TIME ``(ts, tiebreak)`` order only
      once the watermark passes their timestamp (no earlier event can
      still arrive — Spark drops later-than-delay stragglers at the
      watermark filter). An event-time timeout flushes ripe buffered
      events on no-data micro-batches, so an ``availableNow`` drain
      finalizes everything older than ``max_ts − delay``; events inside
      the final delay window stay pending (indistinguishable from a
      still-open stream). State grows by the buffer: O(max_span +
      arrival_rate × delay) per key — size the delay to the source's
      real disorder, not to taste.

    On a BATCH frame: delegates to ``event_pattern_match`` and reshapes
    to the streaming columns — same totals, SQL-oracle-able smoke path.
    """
    if max_span < 1:
        raise ValueError(f"streaming_event_pattern: max_span must be >= 1, got {max_span}")
    if finalize not in ("eager", "span"):
        raise ValueError(
            f"streaming_event_pattern: finalize must be eager|span, got {finalize!r}"
        )

    from lakehouse_engine_spark.datapipes.events import (
        _validate_pattern_args,
        _validate_pattern_regex,
        event_pattern_match,
        map_symbols,
    )

    _validate_pattern_args(on, symbols, default_symbol)
    _validate_pattern_regex(pattern)

    def _fn(df: DataFrame) -> DataFrame:
        if not df.isStreaming:
            out = event_pattern_match(
                on=on,
                symbols=symbols,
                pattern=pattern,
                stage_col=stage_col,
                ts_col=ts_col,
                tiebreak_col=tiebreak_col,
                default_symbol=default_symbol,
            )(df)
            return out.select(
                *on,
                F.col("n_matches").cast("int").alias("n_new"),
                F.col("n_matches").cast("long").alias("n_matches"),
                F.length("seq").cast("long").alias("seq_len"),
                "first_match",
            )

        sym = map_symbols(stage_col, symbols, default_symbol)
        order_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
        extra_cols: List[str] = []
        if watermark_delay:
            # watermark BEFORE the symbol filter: an unmapped-symbol
            # event still advances event time (useful as a flush tick).
            # Watermarks need TIMESTAMP — NTZ event time is cast (session
            # tz; monotone, so ordering and the delay are unaffected) —
            # and the epoch-ms used against getCurrentWatermarkMs is
            # computed SPARK-side from the same column, so the pandas
            # side never re-interprets wall times.
            is_tz = df.schema[ts_col].dataType.simpleString() == "timestamp"
            ets = F.col(ts_col) if is_tz else F.col(ts_col).cast("timestamp")
            df = df.withColumn("__ets", ets).withWatermark(
                "__ets", watermark_delay
            )
            # __ets itself must flow into the stateful operator — the
            # analyzer requires the watermarked column in its input
            extra_cols = ["__ets", "__ts_ms"]
            df = df.withColumn("__ts_ms", F.unix_millis("__ets"))
        src = (
            df.withColumn("__sym", sym)
            .filter(F.col("__sym").isNotNull() & F.col(ts_col).isNotNull())
            .select(*on, *order_cols, *extra_cols, "__sym")
        )
        key_fields = [f for f in src.schema.fields if f.name in on]
        out_schema = ", ".join(
            [f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in key_fields]
            + ["n_new INT", "n_matches BIGINT", "seq_len BIGINT", "first_match STRING"]
        )

        import re as _re

        rx = _re.compile(pattern)
        keep = max_span - 1

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def _scan(s: str, n: int, first):
            """Non-overlapping leftmost count over consumed sequence
            ``s``; returns (n_new, carry, n, first) — shared by both
            arms so ordered and watermark semantics cannot drift."""
            n_new, last_end = 0, 0
            for m in rx.finditer(s):
                if finalize == "span" and m.start() + max_span > len(s):
                    break
                n_new += 1
                last_end = m.end()
                if first is None and m.group(0):
                    first = m.group(0)
            unconsumed = s[last_end:]
            carry_next = unconsumed[-keep:] if keep > 0 else ""
            return n_new, carry_next, n + n_new, first

        if watermark_delay:
            tb_field = (
                [f for f in src.schema.fields if f.name == tiebreak_col][0]
                if tiebreak_col
                else None
            )
            tb_sql = tb_field.dataType.simpleString() if tb_field else "string"
            state_schema = (
                "carry STRING, n BIGINT, slen BIGINT, first STRING, "
                f"buf_ts ARRAY<BIGINT>, buf_tb ARRAY<{tb_sql}>, buf_sym STRING"
            )

            def _update_wm(
                key: Tuple,
                pdfs: Iterator[pd.DataFrame],
                state: GroupState,
            ) -> Iterator[pd.DataFrame]:
                wm = state.getCurrentWatermarkMs()
                if state.exists:
                    carry, n, slen, first, b_ts, b_tb, b_sym = state.get
                    buf = list(zip(b_ts or [], b_tb or [], b_sym or ""))
                else:
                    carry, n, slen, first, buf = "", 0, 0, None, []
                batch = [] if state.hasTimedOut else [
                    pdf for pdf in pdfs if len(pdf)
                ]
                if batch:
                    allb = (
                        batch[0]
                        if len(batch) == 1
                        else pd.concat(batch, ignore_index=True)
                    )
                    ts_ms = allb["__ts_ms"].tolist()
                    tbv = (
                        allb[tiebreak_col].tolist()
                        if tiebreak_col
                        else [None] * len(allb)
                    )
                    # events older than the CURRENT watermark are late
                    # beyond the declared delay — dropped, the same
                    # contract streaming aggregations apply (keeping
                    # them would splice symbols behind consumed ones)
                    buf.extend(
                        e
                        for e in zip(ts_ms, tbv, allb["__sym"].tolist())
                        if e[0] >= wm
                    )
                elif not state.hasTimedOut:
                    return
                # ripe = strictly below the watermark: nothing earlier can
                # still arrive (Spark admits late events down to ts >= wm)
                ripe = [e for e in buf if e[0] < wm]
                pending = [e for e in buf if e[0] >= wm]
                # null-safe tiebreak: (is-None, value) never compares a
                # None against a real value (tuple short-circuits on the
                # flag), and None sorts LAST — matching the ordered
                # arm's pandas sort_values na_position default; a raw
                # (ts, tiebreak) key would raise TypeError on a ts tie
                # between a NULL and a non-NULL tiebreak
                ripe.sort(
                    key=(
                        lambda e: (e[0], e[1] is None, 0 if e[1] is None else e[1])
                    )
                    if tiebreak_col
                    else (lambda e: e[0])
                )
                syms = "".join(e[2] for e in ripe)
                n_new, carry, n, first = _scan(carry + syms, n, first)
                slen += len(syms)
                state.update(
                    (
                        carry,
                        n,
                        slen,
                        first,
                        [e[0] for e in pending],
                        [e[1] for e in pending],
                        "".join(e[2] for e in pending),
                    )
                )
                if pending:
                    # fire once the watermark passes the earliest pending
                    # event (must be strictly beyond the current watermark)
                    state.setTimeoutTimestamp(
                        max(wm + 1, min(e[0] for e in pending) + 1)
                    )
                yield pd.DataFrame(
                    [list(key) + [n_new, n, slen, first]],
                    columns=[f.name for f in key_fields]
                    + ["n_new", "n_matches", "seq_len", "first_match"],
                )

            return src.groupBy(*on).applyInPandasWithState(
                _update_wm,
                outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            allb = _concat_batches(pdfs)
            if allb is None:
                return
            allb = allb.sort_values(order_cols, kind="mergesort")
            syms = "".join(allb["__sym"].tolist())
            carry, n, slen, first = (
                state.get if state.exists else ("", 0, 0, None)
            )
            # finalize="span" leaves a still-growable match pending in
            # carry (re-scanned next batch); '' first matches stay None —
            # the batch arm's nullif('') convention. Both inside _scan.
            n_new, carry_next, n, first = _scan(carry + syms, n, first)
            slen += len(syms)
            state.update((carry_next, n, slen, first))
            yield pd.DataFrame(
                [list(key) + [n_new, n, slen, first]],
                columns=[f.name for f in key_fields]
                + ["n_new", "n_matches", "seq_len", "first_match"],
            )

        return src.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType="carry STRING, n BIGINT, slen BIGINT, first STRING",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_bottomk_sample", streaming_ok=True)
def streaming_bottomk_sample(
    on: List[str],
    id_col: str,
    k: int,
) -> TransformerFn:
    """Deterministic streaming reservoir: a uniform-without-replacement
    sample of ``k`` ids per group, maintained ACROSS micro-batches and
    restarts — the hold-out-capture step of a live curation pipeline
    (sample every source while the stream runs; join the sampled ids
    back to storage for payloads — at scale you sample KEYS, not rows).

    Determinism is the whole design: the "random" priority is
    ``md5(id)``, so the bottom-k by ``(priority, id)`` is a fixed
    function of the id SET seen so far — independent of arrival order,
    batch boundaries, restarts, and partitioning, and exactly
    replayable by a SQL oracle (the same bottom-k the batch arm
    computes). Classic reservoir sampling is order-sensitive RNG state;
    this is the bottom-k-sketch formulation of the same uniform sample.

    State: the k ``(priority, id)`` pairs plus a seen-counter —
    O(k) per group forever. Each micro-batch emits the group's CURRENT
    reservoir snapshot (``sample_rank`` 1..k by priority) tagged with
    cumulative ``total_seen``; append-mode sinks therefore hold one
    snapshot per batch — read the rows with the max ``total_seen`` per
    group (the ``streaming_running_totals`` convention: cumulative
    emissions, reader takes the latest).

    On a BATCH frame: the same bottom-k via one window rank per group —
    identical ids, SQL-oracle-able.
    """
    if k < 1:
        raise ValueError(f"streaming_bottomk_sample: k must be >= 1, got {k}")
    if not on:
        raise ValueError("streaming_bottomk_sample: 'on' keys must be non-empty")

    def _fn(df: DataFrame) -> DataFrame:
        # NULL ids are excluded on BOTH arms before priorities exist:
        # md5(NULL) is NULL (which would rank first in the batch window),
        # and a None priority is unorderable against strings in the
        # streaming state's sorted(); a NULL id also isn't a sampleable
        # key for the join-back-to-storage step this op feeds.
        df = df.filter(F.col(id_col).isNotNull())
        prio = F.md5(F.col(id_col).cast("string"))
        if not df.isStreaming:
            from pyspark.sql import Window

            # the stream dedups (priority, id) pairs in state, so the
            # batch arm ranks DISTINCT ids too — duplicate-id rows count
            # toward total_seen (the stream counts rows) but cannot crowd
            # a distinct id out of the sample
            base = df.select(*on, F.col(id_col))
            tot = base.groupBy(*on).agg(
                F.count(F.lit(1)).cast("long").alias("total_seen")
            )
            from functools import reduce as _reduce
            from operator import and_ as _and

            w = Window.partitionBy(*on).orderBy(prio, F.col(id_col))
            ranked = (
                base.distinct()
                .withColumn("sample_rank", F.row_number().over(w))
                .filter(F.col("sample_rank") <= k)
            )
            # null-safe key join: a NULL-key group must not vanish from
            # the batch arm while the stream emits it
            cond = _reduce(_and, [ranked[c].eqNullSafe(tot[c]) for c in on])
            return (
                ranked.join(tot, cond)
                .drop(*[tot[c] for c in on])
                .select(*on, id_col, "sample_rank", "total_seen")
            )

        src = df.select(*on, F.col(id_col), prio.alias("__prio"))
        key_fields = [f for f in src.schema.fields if f.name in on]
        id_field = [f for f in src.schema.fields if f.name == id_col][0]
        id_type = id_field.dataType.simpleString()
        if not ("int" in id_type or id_type == "string"):
            # state carries ids as strings; only types with an exact
            # string round-trip are safe (a double id would come back
            # reformatted)
            raise ValueError(
                f"streaming_bottomk_sample: id_col must be an integer or "
                f"string type, got {id_type}"
            )
        out_schema = ", ".join(
            [f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in key_fields]
            + [
                f"{quote_ident(id_field.name)} {id_field.dataType.simpleString()}",
                "sample_rank INT",
                "total_seen BIGINT",
            ]
        )

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            allb = _concat_batches(pdfs)
            if allb is None:
                return
            # ids as strings in state; cast back on emit via the id dtype
            cand = list(
                zip(allb["__prio"].tolist(), allb[id_col].astype(str).tolist())
            )
            if state.exists:
                prios, ids, seen = state.get
                cand += list(zip(prios, ids))
            else:
                seen = 0
            seen += len(allb)
            # dedup ids (re-deliveries keep one entry), then bottom-k
            best = sorted(set(cand))[:k]
            state.update(([p for p, _ in best], [i for _, i in best], seen))
            out = pd.DataFrame(
                [
                    list(key) + [i, rank + 1, seen]
                    for rank, (_, i) in enumerate(best)
                ],
                columns=[f.name for f in key_fields]
                + [id_col, "sample_rank", "total_seen"],
            )
            if "int" in id_type:
                out[id_col] = out[id_col].astype("int64")
            yield out

        return src.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType="prios ARRAY<STRING>, ids ARRAY<STRING>, seen BIGINT",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_topk_score", streaming_ok=True)
def streaming_topk_score(
    on: List[str],
    id_col: str,
    score_col: str,
    k: int,
    higher_is_better: bool = True,
) -> TransformerFn:
    """Streaming per-group TOP-K BY SCORE, maintained across
    micro-batches and restarts — the live "keep the best k per source"
    step of a curation pipeline (quality-score the stream, hold the
    current champions, join the ids back to storage for payloads).
    The deterministic sibling of ``streaming_bottomk_sample``: where the
    sample ranks by ``md5(id)``, this ranks by a REAL score column.

    Re-delivery/update contract: BEST-SCORE-WINS per id — an id seen
    again keeps its best score (so late re-scores can only promote),
    then the group keeps the top-k ids by ``(score best-first, id)``.
    The result is a pure function of the (id → best score) map, so it is
    arrival-order / batch-boundary / restart independent and exactly
    SQL-replayable. NULL ids and NULL/NaN scores are excluded on both
    arms (an unscorable row cannot compete; a NULL id is not joinable
    back; NaN would rank arbitrarily in the streaming arm's Python sort
    but above every double in Spark's ORDER BY — dropped for arm parity).

    State: the k ``(score, id)`` pairs plus a seen-counter — O(k) per
    group forever. Each micro-batch emits the group's CURRENT top-k
    snapshot (``rank`` 1..k) tagged with cumulative ``total_seen``;
    append-mode sinks hold one snapshot per batch — read the rows at the
    max ``total_seen`` per group (the family's cumulative-emission
    convention).

    On a BATCH frame: groupBy-max per id then one window rank — the SQL
    oracle shape.
    """
    if k < 1:
        raise ValueError(f"streaming_topk_score: k must be >= 1, got {k}")
    if not on:
        raise ValueError("streaming_topk_score: 'on' keys must be non-empty")

    def _fn(df: DataFrame) -> DataFrame:
        # NaN excluded alongside NULL: the streaming arm's Python sorted()
        # would let NaN squat in top-k slots (arbitrary comparisons) while
        # Spark's ORDER BY ranks NaN above every double — either way an
        # unscorable row cannot compete, so both arms drop it up front.
        df = df.filter(
            F.col(id_col).isNotNull()
            & F.col(score_col).isNotNull()
            & ~F.isnan(F.col(score_col).cast("double"))
        )
        sc = F.col(score_col).cast("double")
        if not df.isStreaming:
            from pyspark.sql import Window

            from functools import reduce as _reduce
            from operator import and_ as _and

            base = df.select(*on, F.col(id_col), sc.alias("__score"))
            tot = base.groupBy(*on).agg(
                F.count(F.lit(1)).cast("long").alias("total_seen")
            )
            # direction-aware best: an id's BEST score is its min when
            # lower-is-better — F.max unconditionally would keep each
            # id's WORST score there, silently diverging from the
            # streaming arm's sign-aware merge
            best = base.groupBy(*on, id_col).agg(
                (
                    F.max("__score") if higher_is_better else F.min("__score")
                ).alias("score")
            )
            order = (
                [F.desc("score"), F.asc(id_col)]
                if higher_is_better
                else [F.asc("score"), F.asc(id_col)]
            )
            w = Window.partitionBy(*on).orderBy(*order)
            ranked = best.withColumn("rank", F.row_number().over(w)).filter(
                F.col("rank") <= k
            )
            # null-safe key join: the streaming arm emits a NULL-key
            # group (state keys null fine); a plain equi-join would drop
            # it from the batch arm
            cond = _reduce(_and, [ranked[c].eqNullSafe(tot[c]) for c in on])
            return (
                ranked.join(tot, cond)
                .drop(*[tot[c] for c in on])
                .select(*on, id_col, "score", "rank", "total_seen")
            )

        src = df.select(*on, F.col(id_col), sc.alias("__score"))
        key_fields = [f for f in src.schema.fields if f.name in on]
        id_field = [f for f in src.schema.fields if f.name == id_col][0]
        id_type = id_field.dataType.simpleString()
        if not ("int" in id_type or id_type == "string"):
            # state carries ids as strings (the bottomk convention):
            # only exact string round-trips are safe
            raise ValueError(
                f"streaming_topk_score: id_col must be an integer or "
                f"string type, got {id_type}"
            )
        out_schema = ", ".join(
            [f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in key_fields]
            + [
                f"{quote_ident(id_field.name)} {id_field.dataType.simpleString()}",
                "score DOUBLE",
                "rank INT",
                "total_seen BIGINT",
            ]
        )

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        sign = 1.0 if higher_is_better else -1.0

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            allb = _concat_batches(pdfs)
            if allb is None:
                return
            # id -> best score map: state pairs + this batch's rows
            best: dict = {}
            if state.exists:
                scores, ids, seen = state.get
                best = dict(zip(ids, scores))
            else:
                seen = 0
            seen += len(allb)
            for i, s_ in zip(
                allb[id_col].astype(str).tolist(),
                allb["__score"].astype(float).tolist(),
            ):
                cur = best.get(i)
                if cur is None or s_ * sign > cur * sign:
                    best[i] = s_
            # tie order must match the batch arm's id-column order: ids
            # live in state as strings, so integer ids compare as ints
            id_key = (lambda i: int(i)) if "int" in id_type else (lambda i: i)
            top = sorted(
                best.items(), key=lambda e: (-e[1] * sign, id_key(e[0]))
            )[:k]
            state.update(([s_ for _, s_ in top], [i for i, _ in top], seen))
            out = pd.DataFrame(
                [
                    list(key) + [i, s_, rank + 1, seen]
                    for rank, (i, s_) in enumerate(top)
                ],
                columns=[f.name for f in key_fields]
                + [id_col, "score", "rank", "total_seen"],
            )
            if "int" in id_type:
                out[id_col] = out[id_col].astype("int64")
            yield out

        return src.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType="scores ARRAY<DOUBLE>, ids ARRAY<STRING>, seen BIGINT",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_quality_buckets", streaming_ok=True)
def streaming_quality_buckets(
    on: List[str],
    score_col: str,
    buckets: dict,
    higher_is_better: bool = True,
    max_distinct: int = 100_000,
) -> TransformerFn:
    """Streaming arm of the CCNet quality tiering
    (:func:`~lakehouse_engine_spark.datapipes.sampling.quality_bucket_split`):
    maintain each group's score HISTOGRAM across micro-batches and emit
    the current ``(score value → tier)`` table per batch — the live
    version of the head/middle/tail perplexity split, so a running
    curation job can look up the tier of any score against the
    distribution seen SO FAR instead of waiting for a batch recompute.

    Tier rule — identical to the batch op, applied to the cumulative
    histogram: distinct score values sort best-first; value v belongs to
    the first tier k whose cumulative row budget ``ceil(c_k · N)``
    (c_k = normalized cumulative ``buckets`` weight, N = rows seen)
    covers v's at-or-better population. The emitted table is a pure
    function of the (group → score histogram) map, so it is
    arrival-order / batch-boundary / restart independent and exactly
    SQL-replayable. NULL and NaN scores are excluded on both arms (the
    batch op's unscorable-goes-to-tail rule is a JOIN-time default — a
    NULL is not a grid value and cannot carry a histogram row).

    State: the group's ``(score, count)`` pairs — O(distinct scores) per
    group, bounded by the family's bounded-grid contract (scores are
    rounded/gridded upstream, distinct ≪ rows; enforced loudly at
    ``max_distinct``, the analogue of the batch op's broadcast-size
    assumption). Each micro-batch emits the group's FULL current tier
    table tagged with cumulative ``total_seen``; append-mode sinks hold
    one snapshot per batch — read the rows at the max ``total_seen`` per
    group (the family's cumulative-emission convention).

    On a BATCH frame: histogram + cumulative window over distinct
    values + tier CASE — the SQL oracle shape (and exactly the internal
    tier table of ``quality_bucket_split`` before its attach join).
    """
    if not on:
        raise ValueError("streaming_quality_buckets: 'on' keys must be non-empty")
    if not buckets or len(buckets) < 2:
        raise ValueError(
            f"streaming_quality_buckets: need >= 2 buckets, got {buckets!r}"
        )
    weights = list(buckets.values())
    if any(not isinstance(v, (int, float)) or v <= 0 for v in weights):
        raise ValueError(
            "streaming_quality_buckets: bucket weights must be > 0, "
            f"got {buckets!r}"
        )
    if max_distinct < 1:
        raise ValueError(
            f"streaming_quality_buckets: max_distinct must be >= 1, got {max_distinct}"
        )
    names = list(buckets.keys())
    total_w = float(sum(weights))
    cums: List[float] = []
    acc = 0.0
    for v in weights[:-1]:
        acc += float(v)
        cums.append(acc / total_w)

    def _fn(df: DataFrame) -> DataFrame:
        sc = F.col(score_col).cast("double")
        df = df.filter(F.col(score_col).isNotNull() & ~F.isnan(sc))
        if not df.isStreaming:
            from pyspark.sql import Window

            hist = df.groupBy(*on, sc.alias("score")).agg(
                F.count(F.lit(1)).cast("long").alias("score_count")
            )
            order = F.desc("score") if higher_is_better else F.asc("score")
            w = Window.partitionBy(*on).orderBy(order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            wg = Window.partitionBy(*on)
            cum = hist.withColumn(
                "cum_count", F.sum("score_count").over(w).cast("long")
            ).withColumn("total_seen", F.sum("score_count").over(wg).cast("long"))
            tier = F.lit(names[-1])
            for name, c in reversed(list(zip(names[:-1], cums))):
                tier = F.when(
                    F.col("cum_count") <= F.ceil(F.col("total_seen") * c),
                    F.lit(name),
                ).otherwise(tier)
            return cum.select(
                *on, "score", tier.alias("bucket"),
                "score_count", "cum_count", "total_seen",
            )

        import math

        sign = -1.0 if higher_is_better else 1.0
        key_fields, src = _hist_src(df, on, score_col)
        key_names = [f.name for f in key_fields]

        def _update(key: Tuple, pdfs: Iterator[pd.DataFrame], state):
            allb = _concat_batches(pdfs)
            if allb is None:
                return
            hist = _merge_score_hist(
                "streaming_quality_buckets", key, state,
                allb["__score"].astype(float).tolist(), max_distinct,
            )
            ordered = sorted(hist.items(), key=lambda e: e[0] * sign)
            n = sum(c for _, c in ordered)
            # per-tier cumulative budgets: ceil on the same IEEE754
            # double product as the batch arm's F.ceil(total_seen * c)
            budgets = [math.ceil(n * c) for c in cums]
            rows = []
            cum = 0
            for s_, c_ in ordered:
                cum += c_
                tier = names[-1]
                for name, b in zip(names[:-1], budgets):
                    if cum <= b:
                        tier = name
                        break
                rows.append(list(key) + [s_, tier, c_, cum, n])
            yield pd.DataFrame(
                rows,
                columns=key_names
                + ["score", "bucket", "score_count", "cum_count", "total_seen"],
            )

        return _hist_stream_plan(
            src, on, key_fields,
            ["score DOUBLE", "bucket STRING", "score_count BIGINT",
             "cum_count BIGINT", "total_seen BIGINT"],
            _update,
        )

    return _fn


def _validate_hist_args(op: str, on: List[str], max_distinct: int) -> None:
    if not on:
        raise ValueError(f"{op}: 'on' keys must be non-empty")
    if max_distinct < 1:
        raise ValueError(
            f"{op}: max_distinct must be >= 1, got {max_distinct}"
        )


def _merge_score_hist(
    op: str, key: Tuple, state, batch_scores, max_distinct: int
) -> dict:
    """Shared cumulative-histogram state update for the quality-
    histogram family (streaming_quality_buckets / _quantile_prune /
    _winsorize): merge this batch's scores into the persisted
    ``(score, count)`` map, enforce the bounded-grid contract loudly,
    persist, and return the merged histogram."""
    hist: dict = {}
    if state.exists:
        scores, counts = state.get
        hist = dict(zip(scores, counts))
    for s_ in batch_scores:
        hist[s_] = hist.get(s_, 0) + 1
    if len(hist) > max_distinct:
        raise ValueError(
            f"{op}: group {key!r} exceeded max_distinct={max_distinct} "
            "distinct score values — grid/round the score upstream (the "
            "bounded-grid contract) or raise max_distinct"
        )
    ordered = sorted(hist.items())
    state.update(([s_ for s_, _ in ordered], [c for _, c in ordered]))
    return hist


def _hist_src(df, on: List[str], score_col: str):
    """(key fields, (keys, __score) projection) for the histogram family
    — computed BEFORE the state-update closure is built, so the closure
    never captures an unbound cell at pickle time."""
    sc = F.col(score_col).cast("double")
    src = df.select(*on, sc.alias("__score"))
    return [f for f in src.schema.fields if f.name in on], src


def _hist_stream_plan(src, on, key_fields, extra_out, update):
    """Shared applyInPandasWithState plan for the histogram family."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ", ".join(
        [f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in key_fields]
        + extra_out
    )
    return src.groupBy(*on).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="scores ARRAY<DOUBLE>, counts ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register("streaming_quantile_prune", streaming_ok=True)
def streaming_quantile_prune(
    on: List[str],
    score_col: str,
    keep_frac: float,
    higher_is_better: bool = True,
    max_distinct: int = 100_000,
) -> TransformerFn:
    """Streaming arm of
    :func:`~lakehouse_engine_spark.datapipes.sampling.quantile_prune` on
    the ``streaming_quality_buckets`` pattern: maintain each group's
    cumulative score HISTOGRAM across micro-batches and emit the current
    ``(score value → keep?)`` decision table per batch — the live
    "train on the best X%" stage of a running curation chain, pruning
    against the distribution seen SO FAR instead of a batch recompute.

    Cut rule — identical to the batch op, applied to the cumulative
    histogram: scores sort best-first; the threshold is the LOOSEST
    score whose at-or-better population reaches ``ceil(keep_frac · N)``
    (N = rows seen); every score at-or-better than the threshold is
    kept, ties included. The emitted table is a pure function of the
    (group → histogram) map — arrival-order / batch-boundary / restart
    independent, exactly SQL-replayable. NULL/NaN scores are excluded
    on both arms (a NULL is not a grid value). State: O(distinct
    scores) per group under the family's bounded-grid contract,
    enforced loudly at ``max_distinct``. Append-mode sinks hold one
    snapshot per batch — read the rows at the max ``total_seen`` per
    group (the family's cumulative-emission convention).

    On a BATCH frame: histogram + cumulative window + threshold CASE —
    the SQL oracle shape (and exactly the threshold table
    ``quantile_prune`` broadcasts before its filter).
    """
    _validate_hist_args("streaming_quantile_prune", on, max_distinct)
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(
            f"streaming_quantile_prune: keep_frac must be in (0, 1], "
            f"got {keep_frac}"
        )

    def _fn(df: DataFrame) -> DataFrame:
        sc = F.col(score_col).cast("double")
        df = df.filter(F.col(score_col).isNotNull() & ~F.isnan(sc))
        if not df.isStreaming:
            from pyspark.sql import Window

            hist = df.groupBy(*on, sc.alias("score")).agg(
                F.count(F.lit(1)).cast("long").alias("score_count")
            )
            order = F.desc("score") if higher_is_better else F.asc("score")
            w = Window.partitionBy(*on).orderBy(order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            wg = Window.partitionBy(*on)
            cum = hist.withColumn(
                "cum_count", F.sum("score_count").over(w).cast("long")
            ).withColumn(
                "total_seen", F.sum("score_count").over(wg).cast("long")
            )
            budget = F.ceil(F.col("total_seen") * F.lit(float(keep_frac)))
            # keep iff strictly-better population leaves budget room:
            # (cum - count) < budget  ==  at-or-better-than-threshold
            keep = (F.col("cum_count") - F.col("score_count")) < budget
            return cum.select(
                *on, "score", keep.alias("keep"),
                "score_count", "cum_count", "total_seen",
            )

        import math

        sign = -1.0 if higher_is_better else 1.0
        key_fields, src = _hist_src(df, on, score_col)
        key_names = [f.name for f in key_fields]

        def _update(key: Tuple, pdfs: Iterator[pd.DataFrame], state):
            allb = _concat_batches(pdfs)
            if allb is None:
                return
            hist = _merge_score_hist(
                "streaming_quantile_prune", key, state,
                allb["__score"].astype(float).tolist(), max_distinct,
            )
            ordered = sorted(hist.items(), key=lambda e: e[0] * sign)
            n = sum(c for _, c in ordered)
            budget = math.ceil(n * float(keep_frac))
            rows, cum = [], 0
            for s_, c_ in ordered:
                keep = (cum < budget)  # == (cum + c_) - c_ < budget
                cum += c_
                rows.append(list(key) + [s_, keep, c_, cum, n])
            yield pd.DataFrame(
                rows,
                columns=key_names
                + ["score", "keep", "score_count", "cum_count", "total_seen"],
            )

        return _hist_stream_plan(
            src, on, key_fields,
            ["score DOUBLE", "keep BOOLEAN", "score_count BIGINT",
             "cum_count BIGINT", "total_seen BIGINT"],
            _update,
        )

    return _fn


@register("streaming_winsorize", streaming_ok=True)
def streaming_winsorize(
    on: List[str],
    score_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    max_distinct: int = 100_000,
) -> TransformerFn:
    """Streaming arm of
    :func:`~lakehouse_engine_spark.datapipes.numeric.winsorize` on the
    same cumulative-histogram state: per micro-batch emit each group's
    current ``(score value → clipped value, lo, hi)`` table — the live
    outlier-clipping stage of a running curation chain.

    Bounds rule — the GRID-EXACT empirical percentile (not the batch
    op's interpolated ``percentile``; on the bounded grid this family
    assumes, the grid value AT the rank is the honest answer and is
    exactly SQL-replayable): values sort ascending; ``lo`` is the value
    at rank ``max(1, ceil(lower · N))``, ``hi`` at rank
    ``max(1, ceil(upper · N))``; clip = ``least(greatest(v, lo), hi)``.
    ``lower=0`` / ``upper=1`` therefore clip nothing on that side.
    NULL/NaN scores are excluded on both arms. State, bounded-grid
    guard, cumulative-emission convention: see
    ``streaming_quality_buckets``.

    On a BATCH frame: histogram + ascending cumulative window + two
    rank lookups — the SQL oracle shape.
    """
    _validate_hist_args("streaming_winsorize", on, max_distinct)
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(
            f"streaming_winsorize: need 0 <= lower <= upper <= 1, "
            f"got {lower}, {upper}"
        )

    def _fn(df: DataFrame) -> DataFrame:
        sc = F.col(score_col).cast("double")
        df = df.filter(F.col(score_col).isNotNull() & ~F.isnan(sc))
        if not df.isStreaming:
            from pyspark.sql import Window

            hist = df.groupBy(*on, sc.alias("score")).agg(
                F.count(F.lit(1)).cast("long").alias("score_count")
            )
            w = Window.partitionBy(*on).orderBy(F.asc("score")).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            wg = Window.partitionBy(*on)
            cum = hist.withColumn(
                "cum_count", F.sum("score_count").over(w).cast("long")
            ).withColumn(
                "total_seen", F.sum("score_count").over(wg).cast("long")
            )
            lo_rank = F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("total_seen") * F.lit(float(lower))),
            )
            hi_rank = F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("total_seen") * F.lit(float(upper))),
            )
            # the value AT a rank = min score whose cum covers the rank
            lo = F.min(
                F.when(F.col("cum_count") >= lo_rank, F.col("score"))
            ).over(wg)
            hi = F.min(
                F.when(F.col("cum_count") >= hi_rank, F.col("score"))
            ).over(wg)
            bounded = cum.withColumn("lo", lo).withColumn("hi", hi)
            clipped = F.least(
                F.greatest(F.col("score"), F.col("lo")), F.col("hi")
            )
            return bounded.select(
                *on, "score", clipped.alias("clipped"), "lo", "hi",
                "score_count", "cum_count", "total_seen",
            )

        import math

        key_fields, src = _hist_src(df, on, score_col)
        key_names = [f.name for f in key_fields]

        def _update(key: Tuple, pdfs: Iterator[pd.DataFrame], state):
            allb = _concat_batches(pdfs)
            if allb is None:
                return
            hist = _merge_score_hist(
                "streaming_winsorize", key, state,
                allb["__score"].astype(float).tolist(), max_distinct,
            )
            ordered = sorted(hist.items())
            n = sum(c for _, c in ordered)
            lo_rank = max(1, math.ceil(n * float(lower)))
            hi_rank = max(1, math.ceil(n * float(upper)))
            lo = hi = None
            cum = 0
            cums = []
            for s_, c_ in ordered:
                cum += c_
                cums.append(cum)
                if lo is None and cum >= lo_rank:
                    lo = s_
                if hi is None and cum >= hi_rank:
                    hi = s_
            rows = []
            for (s_, c_), cu in zip(ordered, cums):
                rows.append(
                    list(key)
                    + [s_, min(max(s_, lo), hi), lo, hi, c_, cu, n]
                )
            yield pd.DataFrame(
                rows,
                columns=key_names
                + ["score", "clipped", "lo", "hi",
                   "score_count", "cum_count", "total_seen"],
            )

        return _hist_stream_plan(
            src, on, key_fields,
            ["score DOUBLE", "clipped DOUBLE", "lo DOUBLE", "hi DOUBLE",
             "score_count BIGINT", "cum_count BIGINT", "total_seen BIGINT"],
            _update,
        )

    return _fn


@register("streaming_heavy_hitters", streaming_ok=True)
def streaming_heavy_hitters(
    on: List[str],
    value_col: str,
    width: int = 100,
) -> TransformerFn:
    """Streaming heavy hitters: a Misra-Gries summary of ``width``
    counters per group, maintained across micro-batches and restarts —
    the live arm of the frequency family (``text_frequent_terms`` is the
    batch EXACT heavy-hitter pass; ``vocab_top_k`` the bounded-vocab
    top-k). Emits each group's current summary per micro-batch:
    ``(item, count_min, count_max, processed)`` where the true count is
    bracketed by ``[count_min, count_max]`` and the MG GUARANTEE holds —
    any item whose true frequency exceeds ``processed / width`` is IN
    the summary (Misra & Gries 1982; mergeable per Agarwal et al.
    PODS'12, both public).

    State: at most ``width`` (item, counter) pairs plus the processed
    count and the cumulative decrement total — O(width) per group at
    any stream length. Batch-arm semantics (SQL-oracle-able, and what a
    reader should treat the summary AS): the exact counts of every item
    with count strictly greater than ``n / width`` — the guarantee set
    with ``count_min = count_max`` = exact count. Append-mode sinks hold
    one snapshot per batch: read rows at the max ``processed`` per
    group (the ``streaming_running_totals`` convention).
    """
    if width < 1:
        raise ValueError(f"streaming_heavy_hitters: width must be >= 1, got {width}")
    if not on:
        raise ValueError("streaming_heavy_hitters: 'on' keys must be non-empty")

    def _fn(df: DataFrame) -> DataFrame:
        if not df.isStreaming:
            from pyspark.sql import Window

            cw = Window.partitionBy(*on)
            counts = (
                df.filter(F.col(value_col).isNotNull())
                .groupBy(*on, F.col(value_col).cast("string").alias("item"))
                .agg(F.count(F.lit(1)).alias("count_min"))
            )
            tot = counts.withColumn(
                "processed", F.sum("count_min").over(cw)
            )
            return tot.filter(
                F.col("count_min") * width > F.col("processed")
            ).select(
                *on,
                "item",
                F.col("count_min").cast("long"),
                F.col("count_min").cast("long").alias("count_max"),
                F.col("processed").cast("long"),
            )

        src = df.filter(F.col(value_col).isNotNull()).select(
            *on, F.col(value_col).cast("string").alias("item")
        )
        key_fields = [f for f in src.schema.fields if f.name in on]
        out_schema = ", ".join(
            [f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in key_fields]
            + ["item STRING", "count_min BIGINT", "count_max BIGINT",
               "processed BIGINT"]
        )

        from collections import Counter

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            allb = _concat_batches(pdfs)
            if allb is None:
                return
            if state.exists:
                items, counts, processed, decs = state.get
                summ = dict(zip(items, (int(c) for c in counts)))
            else:
                summ, processed, decs = {}, 0, 0
            # exact batch counts, then MG-merge into the carried summary
            for item, c in Counter(allb["item"].tolist()).items():
                summ[item] = summ.get(item, 0) + c
            processed += len(allb)
            # decrement until at most `width` counters survive (mergeable
            # MG: subtracting the (width+1)-th largest count from all)
            if len(summ) > width:
                kth = sorted(summ.values(), reverse=True)[width]
                decs += kth
                summ = {i: c - kth for i, c in summ.items() if c > kth}
            items = sorted(summ)  # deterministic state + emission order
            state.update(
                (items, [summ[i] for i in items], processed, decs)
            )
            yield pd.DataFrame(
                [
                    list(key) + [i, summ[i], summ[i] + decs, processed]
                    for i in items
                ],
                columns=[f.name for f in key_fields]
                + ["item", "count_min", "count_max", "processed"],
            )

        return src.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=(
                "items ARRAY<STRING>, counts ARRAY<BIGINT>, "
                "processed BIGINT, decs BIGINT"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_funnel", streaming_ok=True)
def streaming_funnel(
    on: List[str],
    stage_col: str,
    stages: List[str],
    ts_col: str = "ts",
) -> TransformerFn:
    """Streaming ordered-conversion funnel: the live arm of ``funnel`` —
    each key's earliest chained stage-reach times maintained across
    micro-batches and restarts. Emits one row per key per micro-batch
    with the CURRENT ``stage1_ts..stageK_ts`` (NULL until reached; a
    same-instant next stage counts via the batch arm's ``>=`` rule,
    including within one batch).

    State: K nullable epoch-microsecond stamps per key — constant size.
    Per batch the update replays the batch formula stage-by-stage (min
    qualifying event per stage against the just-updated previous
    stage), so within-batch ordering quirks (ties at the same
    timestamp) resolve exactly as the batch operator. ACROSS batches
    arrival must be per-key time-ordered (the
    ``streaming_event_pattern`` caveat): stage times only ever ratchet
    earlier within a batch, never retroactively across them.

    On a BATCH frame: delegates to ``funnel`` — identical output,
    SQL-oracle-able.
    """
    if not stages:
        raise ValueError("streaming_funnel: stages must be non-empty")

    from lakehouse_engine_spark.datapipes.events import funnel as batch_funnel

    def _fn(df: DataFrame) -> DataFrame:
        if not df.isStreaming:
            return batch_funnel(
                on=on, stage_col=stage_col, stages=stages, ts_col=ts_col
            )(df)

        src = df.filter(
            F.col(ts_col).isNotNull() & F.col(stage_col).isin(list(stages))
        ).select(*on, F.col(stage_col).alias("__st"), F.col(ts_col).alias("__ts"))
        key_fields = [f for f in src.schema.fields if f.name in on]
        ts_type = [f for f in src.schema.fields if f.name == "__ts"][0].dataType.simpleString()
        k = len(stages)
        out_schema = ", ".join(
            [f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in key_fields]
            + [f"stage{i + 1}_ts {ts_type}" for i in range(k)]
        )
        state_schema = ", ".join(f"s{i + 1} BIGINT" for i in range(k))

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def _update(
            key: Tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            allb = _concat_batches(pdfs)
            if allb is None:
                return
            cur = list(state.get) if state.exists else [None] * k
            for i, stage in enumerate(stages):
                cand = allb[allb["__st"] == stage]
                if i > 0:
                    if cur[i - 1] is None:
                        continue  # chain not reached; later stages stay NULL
                    # epoch MICROS on both sides (ns//1000; datetime64
                    # unit varies by Arrow path, so normalize via ns)
                    cand = cand[
                        cand["__ts"].astype("datetime64[ns]").astype("int64")
                        // 1000
                        >= cur[i - 1]
                    ]
                if len(cand):
                    m = int(cand["__ts"].min().value // 1000)
                    cur[i] = m if cur[i] is None else min(cur[i], m)
            state.update(tuple(cur))
            yield pd.DataFrame(
                [
                    list(key)
                    + [
                        (pd.Timestamp(v * 1000) if v is not None else pd.NaT)
                        for v in cur
                    ]
                ],
                columns=[f.name for f in key_fields]
                + [f"stage{i + 1}_ts" for i in range(k)],
            )

        return src.groupBy(*on).applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _fn


@register("streaming_session_stats", streaming_ok=True)
def streaming_session_stats(
    on: List[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: Optional[str] = None,
) -> TransformerFn:
    """Per-session event stats over a live stream using Spark's NATIVE
    session windows — ``session_window(ts, gap)`` + watermark, no Python
    state (the built-in-first rule: where Structured Streaming already
    has the stateful operator, use it; ``applyInPandasWithState`` is for
    semantics Spark lacks). One row per (key, session): ``session_start``
    (first event), ``session_last`` (last event), ``n_events``.

    Streaming requires ``watermark`` (e.g. ``"1 hour"``): sessions close
    and EMIT once the watermark passes their end — late events beyond it
    are dropped, the standard completeness/latency trade. On a BATCH
    frame the same aggregation runs without a watermark and is replayed
    exactly by the gap-split SQL oracle (``session_window``'s merge rule
    IS the lag-gap split: events closer than ``gap`` chain into one
    session).
    """
    if not on:
        raise ValueError("streaming_session_stats: 'on' keys must be non-empty")

    def _fn(df: DataFrame) -> DataFrame:
        src = df.filter(F.col(ts_col).isNotNull())
        evt = ts_col
        if df.isStreaming:
            if not watermark:
                raise ValueError(
                    "streaming_session_stats: watermark is required on a stream"
                )
            ts_type = dict(
                (f.name, f.dataType.simpleString()) for f in src.schema.fields
            )[ts_col]
            if ts_type == "timestamp_ntz":
                # watermarks require TIMESTAMP; run event time through a
                # session-tz cast (ExecEnv pins UTC) and keep the NTZ
                # column for the reported session bounds
                src = src.withColumn("__evt", F.col(ts_col).cast("timestamp"))
                evt = "__evt"
            src = src.withWatermark(evt, watermark)
        # the aggregation itself IS the registered sessionize operator
        # (joins.py) — this op only adds the watermark attach and the
        # NTZ event-time cast, so session_window semantics live in ONE
        # place
        from lakehouse_engine_spark.datapipes.joins import sessionize

        out = sessionize(
            on=list(on),
            ts_col=evt,
            gap=gap,
            aggs={
                "__ss": f"min({quote_ident(ts_col)})",
                "__sl": f"max({quote_ident(ts_col)})",
            },
        )(src)
        return out.select(
            *on,
            F.col("__ss").alias("session_start"),
            F.col("__sl").alias("session_last"),
            F.col("n_events").cast("long").alias("n_events"),
        )

    return _fn
