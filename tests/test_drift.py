"""Drift operators: sketched quantiles, PSI, KS — against numpy ground truth."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from events_validator_spark.operators import drift, stats


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tdigest_quantiles_accurate(spark):
    rng = np.random.default_rng(0)
    x = rng.standard_normal(50_000)
    df = spark.createDataFrame([("g", float(v)) for v in x], ["g", "x"])
    qs = (0.01, 0.25, 0.5, 0.75, 0.99)
    got = drift.quantile_profile(df, "x", "g", qs).collect()[0]["quantiles"]
    for q, v in zip(qs, got):
        assert v == pytest.approx(np.quantile(x, q), abs=0.02)


def test_tdigest_merge_matches_whole(spark):
    """Sketches built on separate partitions merge to the quantiles of the
    whole: ``a`` and ``b`` sit in two input partitions of one group, and
    the plan aggregates each partition partially before the merge."""
    rng = np.random.default_rng(1)
    a, b = rng.standard_normal(20_000), 2 + rng.standard_normal(20_000)
    sc = spark.sparkContext
    part = lambda src, v: sc.parallelize([(src, "g", float(x)) for x in v], 1)
    df = spark.createDataFrame(sc.union([part("a", a), part("b", b)]),
                               "src string, g string, x double")
    layout = df.select(F.spark_partition_id(), "src").distinct().collect()
    assert sorted(tuple(r) for r in layout) == [(0, "a"), (1, "b")]
    prof = drift.quantile_profile(df, "x", "g", (0.1, 0.5, 0.9))
    got = prof.collect()[0]["quantiles"]
    whole = np.concatenate([a, b])
    for q, v in zip((0.1, 0.5, 0.9), got):
        assert v == pytest.approx(np.quantile(whole, q), abs=0.05)
    assert "partial_percentile_approx" in _executed_plan(prof)


def test_quantile_profile_udaf(spark):
    rng = np.random.default_rng(2)
    rows = ([("a", float(v)) for v in rng.standard_normal(4000)] +
            [("b", float(v)) for v in 5 + rng.standard_normal(4000)])
    df = spark.createDataFrame(rows, ["grp", "x"])
    out = {r["grp"]: r["quantiles"]
           for r in drift.quantile_profile(df, "x", "grp").collect()}
    assert out["a"][2] == pytest.approx(0.0, abs=0.1)   # median of N(0,1)
    assert out["b"][2] == pytest.approx(5.0, abs=0.1)   # median of N(5,1)


def test_psi_same_vs_shifted(spark):
    rng = np.random.default_rng(3)
    same = [(False, float(v)) for v in rng.standard_normal(5000)] + \
           [(True, float(v)) for v in rng.standard_normal(5000)]
    df = spark.createDataFrame(same, ["cur", "x"])
    psi0 = drift.psi_two_cohorts(df, "x", F.col("cur"), nbins=10).collect()[0]["psi"]
    assert psi0 < 0.05

    shifted = [(False, float(v)) for v in rng.standard_normal(5000)] + \
              [(True, float(v)) for v in 1.5 + rng.standard_normal(5000)]
    df2 = spark.createDataFrame(shifted, ["cur", "x"])
    psi1 = drift.psi_two_cohorts(df2, "x", F.col("cur"), nbins=10).collect()[0]["psi"]
    assert psi1 > 0.25
    v = drift.drift_violations(
        drift.psi_two_cohorts(df2, "x", F.col("cur"), nbins=10), "x").collect()
    assert len(v) == 1 and v[0]["error_type"] == "drift"

    # no lo/hi and nothing to bucket: the bounds probe finds no min/max, the
    # histogram is empty and PSI is NULL (as categorical_psi on no rows)
    nulls = spark.createDataFrame([(True, None), (False, None)],
                                  "cur boolean, x double")
    for d in (nulls, nulls.limit(0)):
        got = drift.psi_two_cohorts(d, "x", F.col("cur"), nbins=10).collect()
        assert got[0]["psi"] is None


def _np_ks(x, y):
    """Exact two-sample KS statistic."""
    allv = np.sort(np.concatenate([x, y]))
    fa = np.searchsorted(np.sort(x), allv, side="right") / len(x)
    fb = np.searchsorted(np.sort(y), allv, side="right") / len(y)
    return np.abs(fa - fb).max()


def test_ks_exact_and_digest(spark):
    rng = np.random.default_rng(4)
    a = rng.standard_normal(3000)
    b = 1.0 + rng.standard_normal(3000)
    rows = [(True, float(v)) for v in a] + [(False, float(v)) for v in b]
    df = spark.createDataFrame(rows, ["cur", "x"])
    ks = drift.ks_two_sample(df, "x", F.col("cur")).collect()[0]["ks"]
    assert ks == pytest.approx(_np_ks(a, b), abs=1e-6)

    df2 = spark.createDataFrame(
        [("a", float(v)) for v in a] + [("b", float(v)) for v in b], ["g", "x"])
    kd = drift.ks_from_digests(df2, "x", "g").collect()[0]
    assert kd["ks"] == pytest.approx(_np_ks(a, b), abs=0.05)


def test_grouped_digests_skewed_constant_column_spreads(spark):
    """A constant/heavy-hitter column must not land in one task: each input
    partition builds a partial sketch (``partial_percentile_approx``) and
    only the small sketches are shuffled and merged, whatever the values.
    The merged quantiles are still exact for the constant."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id"),
        F.lit(3.14).alias("x"),
        (F.col("id") % 2 == 0).cast("string").alias("g"))
    prof = drift.quantile_profile(df, "x", "g")
    rows = prof.collect()
    assert "partial_percentile_approx" in _executed_plan(prof)
    assert len(rows) == 2
    for r in rows:
        assert all(abs(q - 3.14) < 1e-9 for q in r["quantiles"])


def test_grouped_digests_deterministic_across_parallelism(spark):
    """Two contracts, by input size. Below the sketch's compression size
    (5k rows) it keeps every value, so the quantiles are bit-identical
    across input partitionings. Above it (200k rows) the merged sketch
    depends on the partitioning, and the quantiles agree within 1e-3 of
    the p10–p90 spread."""
    import random
    rng = random.Random(7)
    rows = [(i, rng.gauss(0, 1), "g") for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, x double, g string")
    a = drift.quantile_profile(df.repartition(2), "x", "g").collect()
    b = drift.quantile_profile(df.repartition(13), "x", "g").collect()
    assert a[0]["quantiles"] == b[0]["quantiles"]

    u = F.pmod(F.xxhash64("id"), F.lit(1_000_003)) / 1_000_003
    big = spark.range(200_000).select(
        (u * u * 100).alias("x"), F.lit("g").alias("g"))
    a = drift.quantile_profile(big.repartition(2), "x", "g") \
        .collect()[0]["quantiles"]
    b = drift.quantile_profile(big.repartition(13), "x", "g") \
        .collect()[0]["quantiles"]
    spread = a[-1] - a[0]
    assert spread > 50
    assert all(abs(x - y) <= 1e-3 * spread for x, y in zip(a, b)), (a, b)


def test_ks_from_digests_pairwise_matches_numpy(spark):
    """Every pair of 8 groups comes out once as grp_a < grp_b, and each
    digest KS lies within the 0.05 band of numpy's exact KS."""
    import random
    rng = random.Random(3)
    rows = []
    for g in range(8):
        mu = g * 0.5
        rows += [(i, rng.gauss(mu, 1.0), f"g{g}") for i in range(800)]
    df = spark.createDataFrame(rows, "id long, x double, g string")
    got = {(r["grp_a"], r["grp_b"]): r["ks"]
           for r in drift.ks_from_digests(df, "x", "g").collect()}
    assert len(got) == 8 * 7 // 2 and all(a < b for a, b in got)
    vals = {}
    for _, x, g in rows:
        vals.setdefault(g, []).append(x)
    for (a, b), ks in got.items():
        assert ks == pytest.approx(_np_ks(np.array(vals[a]),
                                          np.array(vals[b])), abs=0.05), (a, b)
    # sanity: distant cohorts drift more than near ones
    assert got[("g0", "g7")] > got[("g0", "g1")]


def test_ks_from_digests_all_null_group_is_null(spark):
    """A group whose values are all NULL has no distribution: its pairs
    carry a NULL ks (like psi_two_cohorts on an all-NULL column), not the
    maximal 1.0; the pair of populated groups is unaffected."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", None), ("c", 5.0)], "g string, x double")
    got = {(r["grp_a"], r["grp_b"]): r["ks"]
           for r in drift.ks_from_digests(df, "x", "g").collect()}
    assert got == {("a", "b"): None, ("a", "c"): 1.0, ("b", "c"): None}


def test_categorical_psi_matches_numpy(spark):
    """Categorical PSI equals the hand-computed statistic, detects a mix
    shift, and is ~0 for identical mixes."""
    import numpy as np
    import pyspark.sql.functions as F
    from events_validator_spark.operators.drift import categorical_psi
    rows = ([("a", True)] * 50 + [("b", True)] * 50 +
            [("a", False)] * 80 + [("b", False)] * 20)
    df = spark.createDataFrame(rows, "cat string, cur boolean")
    got = categorical_psi(df, "cat", F.col("cur")).collect()[0]["psi"]
    p = np.array([0.5, 0.5]); q = np.array([0.8, 0.2])
    want = float(((p - q) * np.log(p / q)).sum())
    assert abs(got - want) < 1e-6
    same = spark.createDataFrame(
        [("a", True), ("b", True), ("a", False), ("b", False)],
        "cat string, cur boolean")
    assert abs(categorical_psi(same, "cat", F.col("cur"))
               .collect()[0]["psi"]) < 1e-9
    # a category present only in the current cohort raises the alarm term
    new = spark.createDataFrame(
        [("a", True), ("NEW", True), ("a", False)],
        "cat string, cur boolean")
    assert categorical_psi(new, "cat", F.col("cur")) \
        .collect()[0]["psi"] > 1.0


def test_tdigest_exactness_audit(spark):
    """The audit's exact column matches a direct percentile computation, all
    digest_ok booleans hold at the sketch's default accuracy, and an
    absurdly tight band flips them — the mechanism the drift3 driver oracle
    relies on."""
    import pyspark.sql.functions as F
    from events_validator_spark.operators.drift import tdigest_exactness_audit
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    g = ev.withColumn("half",
                      F.when(F.dayofmonth("ts") >= 16, "cur").otherwise("base"))
    rows = tdigest_exactness_audit(g, "value", "half").collect()
    assert len(rows) == 10  # 2 groups x 5 probes
    assert all(r["digest_ok"] for r in rows)
    med = [r for r in rows if r["grp"] == "base" and r["probe"] == 0.5][0]
    want = g.where(F.col("half") == "base") \
        .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("m")) \
        .collect()[0]["m"]
    assert med["exact_value"] == want
    # a zero-width band must flip booleans (the sketch is approximate)
    tight = tdigest_exactness_audit(g, "value", "half", rel_tol=1e-12).collect()
    assert any(not r["digest_ok"] for r in tight)
