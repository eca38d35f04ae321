"""SparkSession factory tuned for the validation engine.

Defaults are sized for the sandbox (single JVM, local[N]) but every setting is the
one you'd ship to a 1000-executor cluster: AQE on (runtime re-plan + skew-join
defusal), Arrow on (vectorized pandas UDF transfer), UTC session timezone (oracle
comparability), shuffle partitions ≈ cores locally / 2-3× total cores on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs the engine recommends for ANY session running it.
# Applied by :func:`get_spark` after the session exists, so they merge with a
# caller's ``extra_conf``; external sessions (e.g. a harness-owned one) opt in
# via :func:`apply_recommended_conf`.
#
# InferFiltersFromGenerate turns explode(<computed array>) into a pushed-down
# Filter(size(<computed array>) > 0) BELOW the producing projection —
# PushDownPredicates re-inlines the whole producer tree into the filter, so
# every computed-array explode (violation rows, shingles, LSH bands)
# evaluates its array expression TWICE per row with zero subexpression
# sharing. Measured 6x wall on the flagship validate_events explode
# (tests/test_plans.py pins the plan shape). explode() already skips
# empty/null arrays, so excluding the rule never changes results; it only
# loses early row pruning when the array is a cheap stored column —
# negligible next to the 2x re-evaluation it inflicts on computed arrays.
_INFER_FILTERS_RULE = ("org.apache.spark.sql.catalyst.optimizer."
                       "InferFiltersFromGenerate")


def apply_recommended_conf(spark: SparkSession) -> None:
    """Apply the engine's runtime-settable conf to an existing session.

    Merges with (never clobbers) any excludedRules the session already set.
    Idempotent and safe to call per query.
    """
    try:
        existing = spark.conf.get("spark.sql.optimizer.excludedRules", None)
        rules = [r for r in (existing or "").split(",") if r]
        if _INFER_FILTERS_RULE not in rules:
            rules.append(_INFER_FILTERS_RULE)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    except Exception:
        pass  # a locked-down session keeps its own settings
    # the rule compiler (validation_sql.py) and dedup's signature builders
    # generate SQL text whose backslash escaping assumes the default parser
    # mode; a session that flipped escapedStringLiterals=true would silently
    # change every backslash-bearing literal's meaning (ADVICE r4). Own try
    # block: a failure in the excludedRules merge above must not skip this
    # pin.
    try:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    except Exception:
        pass


def get_spark(app_name: str = "events-validator-spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # throughput GC: the validation expressions are allocation-heavy
        # (violation structs/arrays per row); ParallelGC beats G1 here and
        # local-mode puts all executor threads in the one driver JVM
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    apply_recommended_conf(spark)
    _warm_engine(spark)
    return spark


_WARMED = False


def _warm_engine(spark: SparkSession) -> None:
    """Preheat the driver's plan pipeline and the interpreted eval paths.

    The first big rule-compiler plan in a JVM pays ANTLR parse + analyzer
    JIT (measured ~3.5 s), and the first VARIANT evaluation pays interpreter
    JIT (~1.5 s) — one-time costs that otherwise land inside the first real
    validation query's wall. A long-lived driver pays them once; session
    build is where one-time costs belong. Cost: ~1 s, one single-row task.
    validate_events fresh wall at sf0.1: 3.9 s → 2.0 s.

    Warms the session it is HANDED (ADVICE r4: getActiveSession() can be
    None in a non-main thread, silently no-opping or warming a different
    session) and runs at most once per driver process — getOrCreate()
    returning an already-warmed session must not pay the ~1 s again."""
    global _WARMED
    if _WARMED:
        return
    try:
        from events_validator_spark.operators.validation import validate_json
        dummy = spark.createDataFrame([('{"k": 1}',)], "props string")
        # one-row end-to-end: parse + ANALYSIS of a representative staged
        # validation plan, plus a single-task job that JITs the interpreted
        # VARIANT evaluation paths (variant_get / schema_of_variant / the
        # exact formatter) — ~0.5 s once per driver, instead of landing in
        # the first real query's wall
        validate_json(dummy, {"k": {"type": "number", "regex": "^[0-9]$",
                                    "enum": [1, 2]},
                              "u": {"type": "string", "optional": True}},
                      "props").collect()
        _WARMED = True
    except Exception:   # pragma: no cover - warmup must never block startup
        pass
