"""SparkSession factory tuned for the validation engine.

Defaults are sized for the host the driver runs on (single JVM, local[N] over
the CPUs this process may use, a heap of half its memory limit) but every
setting is the one you'd ship to a 1000-executor cluster: AQE on (runtime
re-plan + skew-join defusal), Arrow on (vectorized pandas UDF transfer), UTC
session timezone (oracle comparability), shuffle partitions ≈ cores locally /
2-3× total cores on a cluster. Building a session runs no Spark job: a
one-time parse, analyzer or codegen cost is paid by the first query that
needs it.
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


# cgroup v2, then v1: the memory limit of the container the driver runs in
_CGROUP_MEMORY_LIMITS = ("/sys/fs/cgroup/memory.max",
                         "/sys/fs/cgroup/memory/memory.limit_in_bytes")
_MEMINFO = "/proc/meminfo"
# cgroup v1 reports "no limit" as LONG_MAX rounded down to a page
# (9223372036854771712 with 4 KiB pages); anything this large is no limit
_V1_NO_LIMIT = (1 << 63) - (1 << 16)


def _memory_limit_bytes() -> int | None:
    """The memory this process may use: the cgroup limit when one is set,
    else the host's ``MemTotal``; None when neither can be read."""
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw != "max" and int(raw) < _V1_NO_LIMIT:
            return int(raw)
    try:
        with open(_MEMINFO) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _session_conf(cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> dict:
    """The conf :func:`get_spark` builds its session from.

    Cores: the ``cores`` argument, else ``SPARK_GRAFT_CPUS``, else the CPUs
    this process may run on. Heap: ``SPARK_DRIVER_MEM``, else half of the
    memory limit (:func:`_memory_limit_bytes`), leaving the other half to
    Python workers and the JVM's off-heap memory. ``extra_conf`` wins over
    every default."""
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    heap = os.environ.get("SPARK_DRIVER_MEM")
    if not heap:
        limit = _memory_limit_bytes()
        heap = f"{limit >> 21}m" if limit else None   # half, in MiB
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # throughput GC: the validation expressions are allocation-heavy
        # (violation structs/arrays per row); ParallelGC beats G1 here and
        # local-mode puts all executor threads in the one driver JVM
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.ui.enabled": "false",
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    }
    if heap:
        conf["spark.driver.memory"] = heap
    conf.update(extra_conf or {})
    return conf


def get_spark(app_name: str = "events-validator-spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or return the live) session from :func:`_session_conf` and
    apply :func:`apply_recommended_conf` to it.

    Runs no Spark job: the first query in a new JVM pays the one-time
    parse, analyzer JIT and codegen its plan needs. For the JSON path that
    is still cheaper than warming it up here. On a 4-core host
    (``scripts/cold_start.py``, 3 fresh processes per side), ``get_spark``
    plus the first ``validate_json`` of a 3-key rule over 100 rows took
    10.2–12.9 s, against 12.3–13.9 s when ``get_spark`` ran a one-row
    ``validate_json`` job as a warm-up; the second such call took 1.0–1.3 s
    without the warm-up and 0.7–0.8 s with it."""
    b = SparkSession.builder.appName(app_name)
    for k, v in _session_conf(cores, shuffle_partitions, extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    apply_recommended_conf(spark)
    return spark
