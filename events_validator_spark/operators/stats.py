"""Single-pass per-column statistics (SURVEY.md §2.4 north-rule additions).

All aggregates for all profiled columns are assembled into ONE ``df.agg(*exprs)``
so the table is scanned exactly once (Catalyst will not fuse separate actions).
Distinct counts use HyperLogLog (``approx_count_distinct``) — mergeable, constant
memory, the only sane choice at 10^12 rows; quantiles use ``percentile_approx``
(GK sketch, also mergeable). Exact variants exist for small-scale oracle checks.

Output is long-format — one row per column — so the profile itself is a table
that can be stored, diffed (drift baseline), and queried.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def profile(df: DataFrame, columns: list[str] | None = None,
            rsd: float = 0.05, approx: bool = True,
            quantiles: tuple[float, ...] = (0.25, 0.5, 0.75)) -> DataFrame:
    """One-scan profile: count / nulls / min / max / distinct (+ quantiles for
    numeric columns), one output row per column.

    ``approx=True`` (the 10^12-row path): HLL distinct + GK quantiles.
    ``approx=False`` (oracle-comparable): exact count(distinct) and exact
    interpolated percentiles.
    """
    cols = columns or [f.name for f in df.schema.fields
                       if not isinstance(f.dataType, (T.ArrayType, T.StructType,
                                                      T.MapType, T.BinaryType,
                                                      T.VariantType))]
    if not approx:
        num = [c for c in cols if isinstance(df.schema[c].dataType, _NUMERIC)]
        other = [c for c in cols if c not in num]
        parts = []
        if num:
            parts.append(exact_profile(df, num, quantiles))
        if other:
            parts.append(_wide_profile(df, other, rsd, approx=False,
                                       quantiles=quantiles))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    return _wide_profile(df, cols, rsd, approx=True, quantiles=quantiles)


def _wide_profile(df: DataFrame, cols: list[str], rsd: float, approx: bool,
                  quantiles: tuple[float, ...]) -> DataFrame:
    """One wide ``df.agg`` over all columns, unpivoted to long format. The
    approx path (sketches compose in a single pass) and the exact path for
    NON-numeric columns (no quantiles; exact countDistinct pays one Expand)."""
    aggs = []
    for c in cols:
        col = F.col(c)
        dt = df.schema[c].dataType
        aggs += [
            F.count(col).alias(f"{c}__count"),
            F.coalesce(F.sum(col.isNull().cast("long")), F.lit(0))
            .alias(f"{c}__nulls"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
            (F.approx_count_distinct(col, rsd) if approx
             else F.countDistinct(col)).alias(f"{c}__distinct"),
        ]
        if approx and isinstance(dt, _NUMERIC):
            q = (F.percentile_approx(col, list(quantiles))
                 .cast("array<double>"))
        else:
            q = F.lit(None).cast("array<double>")
        aggs.append(q.alias(f"{c}__quantiles"))
    wide = df.agg(*aggs)

    # unpivot the single wide row into one row per column
    row_structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__count").alias("count"),
            F.col(f"{c}__nulls").alias("nulls"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__distinct").alias("distinct"),
            F.col(f"{c}__quantiles").alias("quantiles"),
        ) for c in cols
    ]
    return (wide.select(F.explode(F.array(*row_structs)).alias("s"))
            .select("s.*"))


def exact_profile(df: DataFrame, columns: list[str],
                  quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
                  n_partitions: int | None = None) -> DataFrame:
    """EXACT profile of numeric columns in ONE scan of ``df`` — count/nulls/
    min/max/distinct AND exact interpolated quantiles, no Expand, no
    single-task value-map merge (VERDICT r3 #4: the old exact path paid
    countDistinct's Expand over n_cols× input plus a second scan whose
    ``F.percentile`` merges all partials in one reducer).

    Shape: melt the columns into (col, value) rows (column-pruned single
    scan), pre-aggregate ties with ``groupBy(col, value)`` (map-side combine
    shrinks the shuffle to distinct values), then derive EVERYTHING from
    that one distinct-value table:

      * count/nulls     — sums of group counts;
      * min/max         — ``min_by``/``max_by`` on the string repr, so the
                          output formats values exactly like the original
                          column type would (``min(col).cast('string')``);
      * distinct        — the number of non-null groups (exact, no Expand:
                          grouping IS the distinct);
      * quantiles       — the distributed CDF prefix-sum of
                          :func:`exact_quantiles` (:func:`_prefix_sums`),
                          run per column over (col, x) range partitions.

    Grouping keys use the STRING repr (injective for numeric types) so two
    original values never collapse through a double cast; ordering uses the
    double. The distinct-value table is ``localCheckpoint``-ed: it feeds
    both the stats agg and the CDF.
    """
    melt = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("col"),
                 F.col(c).cast("double").alias("xd"),
                 F.col(c).cast("string").alias("xs"))
        for c in columns])).alias("s")).select("s.*")
    g = (melt.groupBy("col", "xs")
         .agg(F.count(F.lit(1)).alias("c"), F.min("xd").alias("xd"))
         # lazy: materialized once by the final action, then reused by both
         # the stats agg and the CDF — no blocking driver round trip
         .localCheckpoint(eager=False))

    st = g.groupBy("col").agg(
        F.coalesce(F.sum(F.when(F.col("xs").isNotNull(), F.col("c"))),
                   F.lit(0)).alias("count"),
        F.coalesce(F.sum(F.when(F.col("xs").isNull(), F.col("c"))),
                   F.lit(0)).alias("nulls"),
        # ordering key is (xd, xs): values wider than a double (longs >
        # 2^53, wide decimals) can tie on the double cast, and min_by on xd
        # alone would then return an arbitrary, run-to-run nondeterministic
        # tie member (ADVICE r4). The xs tiebreak makes the choice
        # deterministic; WHICH tie member is "the" min/max is a documented
        # contract limit of the profile (double-precision collapse — the
        # reported extreme is exact only up to double resolution).
        # (the WHEN guard keeps null/uncastable rows ignored, as a bare-xd
        # ordering did — a struct with null fields is itself non-null and
        # would otherwise sort first and hijack the min)
        F.min_by("xs", F.when(F.col("xd").isNotNull(),
                              F.struct("xd", "xs"))).alias("min"),
        F.max_by("xs", F.when(F.col("xd").isNotNull(),
                              F.struct("xd", "xs"))).alias("max"),
        F.count(F.col("xs")).alias("distinct"))

    # distributed CDF over the distinct-value table, per column
    cum = _prefix_sums(g.where(F.col("xd").isNotNull()), ["col"], "xd",
                       ["c"], n_partitions)
    qrow = (_quantiles_from_cdf(cum, ["col"], "xd", quantiles)
            .select("col", F.array(*[f"q{i}" for i in range(len(quantiles))])
                    .alias("quantiles")))

    # column spine: an EMPTY input must still yield one row per column
    # (count=0), matching the wide-agg contract — a groupBy over zero rows
    # would otherwise emit nothing
    spine = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in columns])).alias("col"))
    return (spine.join(st, "col", "left").join(qrow, "col", "left")
            .select(F.col("col").alias("column"),
                    F.coalesce("count", F.lit(0)).alias("count"),
                    F.coalesce("nulls", F.lit(0)).alias("nulls"),
                    "min", "max",
                    F.coalesce("distinct", F.lit(0)).alias("distinct"),
                    "quantiles"))


def histogram(df: DataFrame, column: str, nbins: int = 20,
              lo: float | None = None, hi: float | None = None) -> DataFrame:
    """Equi-width histogram sketch of a numeric column → (bucket, cnt).

    With explicit bounds (the drift path: bounds come from the baseline profile)
    this is a single groupBy scan. Without bounds an extra min/max scan runs
    first — fine for profiling, avoid in the hot loop.

    Bucket ids are clamped to [0, nbins-1]; NULLs are dropped (they are counted
    by :func:`profile`).
    """
    return _bucket_counts(df, column, nbins, lo, hi)


def _bucket_counts(df: DataFrame, column: str, nbins: int,
                   lo: float | None, hi: float | None,
                   *keys: Column, aggs: tuple[Column, ...] = ()) -> DataFrame:
    """(keys…, bucket, cnt): counts of non-NULL ``column`` values per
    equi-width bucket over [lo, hi], ids clamped to [0, nbins-1] — the one
    bucketer behind the histograms, ``drift.psi_two_cohorts`` and
    ``streaming.streaming_psi``. ``aggs`` replace the ``cnt`` column
    (``psi_two_cohorts`` counts each cohort with a ``count_if``). A missing
    bound costs one min/max probe; an all-NULL or empty column probes as
    [0, 1] (its counts are empty)."""
    col = F.col(column).cast("double")
    if lo is None or hi is None:
        b = df.agg(F.min(col), F.max(col)).collect()[0]
        lo = 0.0 if b[0] is None else float(b[0])
        hi = 1.0 if b[1] is None else float(b[1])
    width = (hi - lo) / nbins or 1.0
    bucket = F.least(F.greatest(F.floor((col - F.lit(lo)) / F.lit(width)),
                                F.lit(0)), F.lit(nbins - 1)).cast("int")
    return (df.where(col.isNotNull())
            .groupBy(*keys, bucket.alias("bucket"))
            .agg(*(aggs or [F.count(F.lit(1)).alias("cnt")])))


def exact_quantiles(df: DataFrame, column: str,
                    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
                    n_partitions: int | None = None) -> DataFrame:
    """EXACT linear-interpolated quantiles, fully distributed — the 10^12-row
    exact path. One row: (q0, q1, ...) matching ``F.percentile`` /
    DuckDB ``quantile_cont`` bit-for-bit (pinned by tests/test_operators.py).

    ``F.percentile`` (and the exact path of :func:`profile`) builds a
    value→count map per partial and merges ALL partials in a single final
    task — on a high-cardinality column at 10^12 rows that merge is a
    single-task memory/time wall. This operator instead ``groupBy(x)``
    pre-aggregates ties (input shrinks to distinct values, map-side
    combine), builds the global CDF with the distributed prefix sum
    :func:`_prefix_sums` (shared with ``drift.ks_two_sample`` and
    :func:`exact_profile`) and reads the quantiles off it
    (:func:`_quantiles_from_cdf`).

    Locally (sf0.1, 600k rows, 32 cores) this measures ~1.2× slower than the
    fused map-merge — the shuffle costs more than the merge saves at small
    scale; it exists because the merge does not survive large scale and this
    does. Use ``profile(approx=True)`` when sketch accuracy suffices.
    """
    d = (df.select(F.col(column).cast("double").alias("x"))
         .where(F.col("x").isNotNull()))
    g = d.groupBy("x").agg(F.count("*").alias("c"))
    return _quantiles_from_cdf(_prefix_sums(g, [], "x", ["c"], n_partitions),
                               [], "x", qs)


def _prefix_sums(g: DataFrame, keys: list[str], order: str,
                 counts: list[str], n_partitions: int | None) -> DataFrame:
    """Distributed inclusive prefix sums of the ``counts`` columns along
    ``order`` within each ``keys`` group → (keys…, order, cum_<c>…,
    n_<c>…), ``n_<c>`` the group's grand total. ``g`` holds one row per
    (keys…, order) value — ties pre-aggregated, so the CDF is deterministic
    whatever the row order.

      1. ``repartitionByRange(keys…, order)`` gives each partition a
         contiguous value interval;
      2. per-partition cumulative sums via a window partitioned by the range
         partition id (all partitions in parallel);
      3. per-partition totals (P rows per group) prefix-sum in one tiny
         window and join back as offsets — the only serial step touches P
         rows, not data.

    The range-partitioned table is PINNED (ADVICE r3): the local sums and
    the totals both derive from it, and repartitionByRange SAMPLES its
    boundaries per execution — without materialization, correctness would
    silently depend on Catalyst reusing the exchange (broken by
    exchangeReuse=false, AQE replan, or a stage retry), joining pid-keyed
    offsets against a DIFFERENT partitioning. A lazy localCheckpoint makes
    pid a stable fact (materialized once by the first action, then
    reused)."""
    if n_partitions is None:
        n_partitions = int(g.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    r = (g.repartitionByRange(n_partitions, *keys, order)
         .withColumn("pid", F.spark_partition_id())
         .localCheckpoint(eager=False))
    wp = (Window.partitionBy(*keys, "pid").orderBy(order)
          .rowsBetween(Window.unboundedPreceding, 0))
    local = r.select(*keys, order, "pid",
                     *[F.sum(c).over(wp).alias(f"__l{c}") for c in counts])
    totals = r.groupBy(*keys, "pid").agg(
        *[F.sum(c).alias(f"__t{c}") for c in counts])
    wo = (Window.partitionBy(*keys).orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        *keys, "pid",
        *[F.coalesce(F.sum(f"__t{c}").over(wo), F.lit(0)).alias(f"__o{c}")
          for c in counts])
    grand = totals.groupBy(*keys).agg(
        *[F.sum(f"__t{c}").alias(f"n_{c}") for c in counts])
    cum = (local.join(F.broadcast(offsets), [*keys, "pid"])
           .select(*keys, order,
                   *[(F.col(f"__l{c}") + F.col(f"__o{c}")).alias(f"cum_{c}")
                     for c in counts]))
    return (cum.join(F.broadcast(grand), keys) if keys
            else cum.crossJoin(F.broadcast(grand)))


def _quantiles_from_cdf(cum: DataFrame, keys: list[str], x: str,
                        qs: tuple[float, ...]) -> DataFrame:
    """(keys…, q0, q1, …) from a :func:`_prefix_sums` CDF over one count
    column ``c``: for each q, rank = q·(n−1); the values at floor/ceil rank
    are read off the CDF with two conditional-min aggregates and linearly
    interpolated (``F.percentile`` / DuckDB ``quantile_cont`` convention)."""
    aggs = []
    for i, q in enumerate(qs):
        rank = F.lit(float(q)) * (F.col("n_c") - 1)
        lo, hi = F.floor(rank), F.ceil(rank)
        aggs += [F.min(F.when(F.col("cum_c") > lo, F.col(x))).alias(f"vlo_{i}"),
                 F.min(F.when(F.col("cum_c") > hi, F.col(x))).alias(f"vhi_{i}"),
                 F.min(rank - lo).alias(f"frac_{i}")]
    return cum.groupBy(*keys).agg(*aggs).select(*keys, *[
        (F.col(f"vlo_{i}")
         + F.col(f"frac_{i}") * (F.col(f"vhi_{i}") - F.col(f"vlo_{i}")))
        .alias(f"q{i}") for i in range(len(qs))])
