"""Data-quality profiling: one-pass column audit + approximate
distinct counts.

Every ingest pipeline needs a cheap answer to "what landed?" — row
count, per-column null rate, cardinality, and value bounds. The
reference eyeballs this with ``show()``/``printSchema`` (SURVEY §2.7
O6); here it is a first-class operator producing a long-format report
that can be stored, diffed between loads, and alerted on.

Scale design: the profile is ONE full-scan aggregation — every
statistic is an aggregate expression in a single ``agg`` (Spark plans
multi-distinct via expand, still one pass over the data), and the
wide 1-row result is unpivoted driver-side-free with ``stack``. For
100 TB tables where exact ``count_distinct`` is too expensive, use
:func:`approx_distinct` (HyperLogLog++, fixed-size sketch, no shuffle
of raw values) — the audit stays a narrow single pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def profile_columns(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Long-format audit: one row per column with
    ``(col_name, n_rows, n_nonnull, n_distinct, min_value, max_value)``.
    Bounds are stringified so mixed-type tables fit one schema.

    ``approx=True`` swaps exact ``count_distinct`` for HyperLogLog++
    (``approx_count_distinct`` at relative standard deviation ``rsd``)
    — the 100 TB path: the exact multi-distinct expands the scan per
    distinct column and moves every distinct value through the
    aggregation, while the sketch is constant-size per column and keeps
    the audit a narrow single pass. Every other statistic is identical
    and exact under both modes (pinned by test_quality.py)."""
    cols = list(cols) if cols is not None else list(df.columns)
    distinct = (
        (lambda c: F.approx_count_distinct(F.col(c), rsd))
        if approx
        else (lambda c: F.count_distinct(F.col(c)))
    )
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nonnull"),
            distinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', {c}__nonnull, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return row.select(
        F.expr(
            f"stack({len(cols)}, {parts}) AS (col_name, n_nonnull, n_distinct, min_value, max_value)"
        ),
        F.col("__n_rows").alias("n_rows"),
    ).select("col_name", "n_rows", "n_nonnull", "n_distinct", "min_value", "max_value")


def quantile_buckets(
    df: DataFrame,
    col: str,
    n: int = 10,
    round_digits: int = 4,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Equal-frequency bucketing without a global sort: one distributed
    ``percentile`` aggregate yields the ``n-1`` interior cut points
    (single shared state across all quantiles), the 1-row cut table is
    broadcast, and assignment is a narrow codegen'd CASE — the
    scale-safe replacement for ``ntile(n) OVER (ORDER BY col)``, whose
    global-order window total-sorts the table on ONE task.

    Values equal to a cut land in the lower bucket; with untied values
    and ``n | count`` the result is exactly NTILE's (unit-tested).
    NULL values get a NULL bucket (they are not ranked — the earlier
    behavior silently sent them to the top bucket because
    ``NULL <= cut`` is NULL and fell through to ``otherwise``).
    At 100 TB swap ``percentile`` for ``approx_percentile``: same plan,
    sketch-based cuts."""
    if n < 2:
        raise ValueError(f"quantile_buckets needs n >= 2 buckets, got {n}")
    ps = ", ".join(str(i / n) for i in range(1, n))
    cuts = df.agg(
        F.expr(
            f"transform(percentile({col}, array({ps})), x -> round(x, {round_digits}))"
        ).alias("__cuts")
    )
    binned = df.crossJoin(F.broadcast(cuts))
    bucket = F.when(F.col(col).isNull(), F.lit(None))
    for i in range(n - 1):
        bucket = bucket.when(F.col(col) <= F.col("__cuts")[i], i + 1)
    return binned.withColumn(bucket_col, bucket.otherwise(n).cast("int")).drop("__cuts")


def approx_distinct(df: DataFrame, cols: Sequence[str], rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ cardinality per column, one row out. ``rsd`` is
    the target relative standard deviation; the sketch is constant-size
    (~1.5 KB at 5%), so this never shuffles raw values — the exact
    ``count_distinct`` path moves every distinct value to one reducer
    per column. Approximate ⇒ engine-specific; no cross-engine oracle."""
    return df.agg(
        *[F.approx_count_distinct(c, rsd).alias(f"{c}_approx") for c in cols]
    )


def validate_constraints(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Data-quality gate: append a ``violations`` array column naming
    every failed check (empty array = clean row). ``checks`` maps
    check name → predicate that must HOLD; a NULL predicate result
    (e.g. ``NULL > 0`` from a null value reaching a range check) counts
    as a violation — three-valued logic must never wave a row through.

    Scale: pure narrow map, no shuffle, JVM-side (``when`` +
    ``array_compact``); the quarantine split downstream is two filters
    over one pass. FK-existence checks are joins and belong to the
    caller (join strategy — broadcast vs shuffle — is a deployment
    decision, not a validation rule)."""
    from pyspark.sql import functions as F

    items = [
        F.when(~F.coalesce(pred, F.lit(False)), F.lit(name))
        for name, pred in checks.items()
    ]
    return df.withColumn("violations", F.array_compact(F.array(*items)))


def drift_psi(
    old: DataFrame,
    new: DataFrame,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Population-stability-index drift report between two snapshots
    that each carry a pre-assigned ``bucket_col`` (callers bucket with
    EXACT arithmetic — integer/decimal bin ids — so the comparison is
    float-free; quantile-cut bucketing works too but inherits the
    engine's interpolation ulps). Per bucket:
    ``psi_term = (p_new − p_old) · ln(p_new / p_old)``, the summands of
    the classic PSI; shares are Laplace-smoothed over the UNION of
    observed buckets (``(n + 1) / (N + B)``) so a bucket that exists in
    only one snapshot — the strongest drift signal there is — yields a
    finite, comparable term instead of a division by zero.

    Output: (bucket, n_old, n_new, share_old, share_new, psi_term),
    rounded to 6 dp. Σ psi_term is the headline PSI; the conventional
    reading: <0.1 stable, 0.1–0.25 moderate shift, >0.25 action.

    Scale: one partial-agg groupBy per snapshot on the bucket id
    (report-cardinality shuffle), a full-outer merge of two tiny
    aggregates, and a narrow arithmetic projection. The snapshots are
    never joined row-to-row."""
    o = old.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count("*").alias("n_old")
    )
    n = new.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count("*").alias("n_new")
    )
    m = o.join(n, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    # totals + observed-bucket count via an unpartitioned WINDOW over
    # the |buckets|-row merged aggregate (the same X123 discipline as
    # woe_iv below: a re-aggregating cross join would duplicate both
    # snapshots' groupBy subtrees and scan each snapshot twice; the
    # window's single-partition barrier spans report-cardinality rows
    # only)
    from pyspark.sql import Window as _W

    _w = _W.partitionBy()
    j = m.select(
        "bucket",
        "n_old",
        "n_new",
        F.sum("n_old").over(_w).alias("__to"),
        F.sum("n_new").over(_w).alias("__tn"),
        F.count("*").over(_w).alias("__b"),
    )
    p_old = (F.col("n_old") + 1) / (F.col("__to") + F.col("__b"))
    p_new = (F.col("n_new") + 1) / (F.col("__tn") + F.col("__b"))
    return j.select(
        "bucket",
        "n_old",
        "n_new",
        F.round(p_old, 6).alias("share_old"),
        F.round(p_new, 6).alias("share_new"),
        F.round((p_new - p_old) * F.log(p_new / p_old), 6).alias("psi_term"),
    )


def woe_iv(
    df: DataFrame,
    bucket_col: str = "bucket",
    label_col: str = "is_event",
) -> DataFrame:
    """Weight-of-evidence / information-value report: how strongly a
    bucketed feature separates a binary outcome — the standard
    feature-screening statistic (credit-scoring lineage) and the
    supervised complement of :func:`drift_psi`'s unsupervised shift
    score. Per bucket: ``woe = ln(share_event / share_nonevent)`` and
    ``iv_term = (share_event − share_nonevent) · woe``; Σ iv_term is
    the feature's IV (conventional reading: <0.02 useless, 0.1–0.3
    medium, >0.5 suspicious/leaky).

    Shares are Laplace-smoothed over the observed buckets
    (``(n + 1) / (N + B)``) so a pure bucket — all events or all
    non-events, the strongest separation signal — stays finite instead
    of ±∞, mirroring ``drift_psi``'s discipline. Callers assign
    buckets with EXACT arithmetic (integer/decimal bin ids). Rows with
    a NULL label are counted on neither side (three-valued logic must
    not invent an outcome).

    Scale: one partial-agg groupBy to |buckets| rows; the totals come
    from an unpartitioned WINDOW over that tiny aggregate (the X123
    discipline: never re-aggregate — a lazy-scalar cross join would
    re-scan the corpus for a 10-row total), so the corpus is scanned
    exactly once and the only single-partition work is |buckets|
    rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lbl = F.col(label_col)
    g = df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.when(lbl, True)).alias("n_events"),
        F.count(F.when(~lbl, True)).alias("n_nonevents"),
    )
    w = Window.partitionBy()
    j = g.select(
        "*",
        F.sum("n_events").over(w).alias("__e"),
        F.sum("n_nonevents").over(w).alias("__ne"),
        F.count("*").over(w).alias("__b"),
    )
    p_e = (F.col("n_events") + 1) / (F.col("__e") + F.col("__b"))
    p_ne = (F.col("n_nonevents") + 1) / (F.col("__ne") + F.col("__b"))
    woe = F.log(p_e / p_ne)
    return j.select(
        "bucket",
        "n_events",
        "n_nonevents",
        F.round(p_e, 6).alias("share_event"),
        F.round(p_ne, 6).alias("share_nonevent"),
        F.round(woe, 6).alias("woe"),
        F.round((p_e - p_ne) * woe, 6).alias("iv_term"),
    )


def fd_violations(df: DataFrame, lhs: list[str], rhs: str, fd_name: str) -> DataFrame:
    """Audit a DECLARED functional dependency ``lhs → rhs``: one row
    summarizing how many determinant keys map to more than one
    dependent value — the schema-integrity check that catches silent
    denormalization rot (a dimension attribute drifting per key, a
    supposedly-derived column edited by hand) before a join fans out
    or a GROUP BY picks an arbitrary winner.

    NULL semantics: the dependent's distinct-value count treats NULL
    as ONE extra value (a key mapping to {'a', NULL} is a violation —
    NULL is not a wildcard), and NULL determinant keys form a group
    like any other, matching GROUP BY semantics on both engines.

    Output: (fd, n_keys, n_violating_keys, violation_rate (6 dp),
    max_distinct_rhs). ``violation_rate = 0`` is the pass verdict.

    Scale: one map-side-combined groupBy on the determinant (the
    aggregate is |lhs| rows — an aggregation shuffle, never a
    row-to-row self-join), then a second tiny rollup to ONE row.
    Column pruning reaches the scan: only lhs ∪ {rhs} is read."""
    from pyspark.sql import functions as F

    per_key = df.groupBy(*[F.col(c) for c in lhs]).agg(
        (
            F.countDistinct(rhs)
            + F.max(F.when(F.col(rhs).isNull(), 1).otherwise(0))
        ).alias("nv")
    )
    return per_key.agg(
        F.lit(fd_name).alias("fd"),
        F.count("*").alias("n_keys"),
        F.count(F.when(F.col("nv") > 1, True)).alias("n_violating_keys"),
        # n_keys = 0 on an empty input: ANSI mode raises on the bare
        # division; try_divide yields NULL on 0/0, exactly DuckDB's
        # native behavior
        F.round(
            F.try_divide(
                F.count(F.when(F.col("nv") > 1, True)), F.count("*")
            ),
            6,
        ).alias("violation_rate"),
        F.max("nv").alias("max_distinct_rhs"),
    )


def logistic_gate(
    df: DataFrame,
    weights: dict[str, float],
    *,
    intercept: float,
) -> DataFrame:
    """Broadcast-weights logistic scorer — the deployment shape of
    every learned quality filter: an offline fit produces a weight
    vector; serving is a ONE-ROW broadcast table cross-joined onto the
    corpus and a linear expression, so a re-fit swaps the row while
    the plan (and a running pipeline) stays identical. ``weights``
    maps existing feature COLUMNS of ``df`` to coefficients; insertion
    order fixes the summation order.

    Adds three columns: ``logit`` (w·x + b), ``prob``
    (σ(logit) = 1/(1+exp(−logit))), ``admitted`` (logit ≥ 0).

    Float discipline: the features and weights are plain doubles and
    the dot product is a fixed-order chain of IEEE multiply/adds — no
    libm — so ``logit`` and therefore the ADMISSION DECISION are
    bit-identical across engines and cluster layouts; only ``prob``
    touches exp(), so callers round it (6 dp) before hashing. The
    decision threshold prob ≥ ½ is evaluated as logit ≥ 0 — the same
    predicate, exactly.

    Scale: the weight row broadcasts (one row); scoring is a narrow
    projection inside whole-stage codegen — no shuffle, no Python."""
    fields = list(weights)
    reserved = {"__b", "logit", "prob", "admitted"} | {
        f"__w_{i}" for i in range(len(fields))
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            "logistic_gate reserves column names "
            f"{sorted(reserved)}; input already has {sorted(clash)}"
        )
    spark = df.sparkSession
    # spark.range(1).select(lits) keeps the weight row in the plan as
    # literals. Rows that only exist as Python values go through
    # sources.io.local_frame (Arrow, JVM-scanned); a bare
    # createDataFrame([...]) would plan as a Python-backed RDD.
    wdf = spark.range(1).select(
        F.lit(float(intercept)).cast("double").alias("__b"),
        *[
            F.lit(float(weights[c])).cast("double").alias(f"__w_{i}")
            for i, c in enumerate(fields)
        ],
    )
    z = F.col("__b")
    for i, c in enumerate(fields):
        z = z + F.col(f"__w_{i}") * F.col(c)
    return (
        df.crossJoin(F.broadcast(wdf))
        .withColumn("logit", z)
        .withColumn("prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))))
        .withColumn("admitted", F.col("logit") >= 0)
        .drop("__b", *[f"__w_{i}" for i in range(len(fields))])
    )
