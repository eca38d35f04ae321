"""Seeded benchmark inputs, written to parquet once per run before timing.

Every generator is a pure function of its seed, so the timed code reads
stored rows instead of re-running a lazy generator plan on every action.
Inputs are regenerated by every run rather than cached across runs: reading
cached inputs skips the generation work that JIT-warms the JVM, and the
measured operations then change with the cache state instead of the program.
"""

from __future__ import annotations

import contextlib
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "3g"


def session_conf() -> dict:
    """Spark conf for the benchmark's session: a driver below physical RAM,
    no progress bar, and scratch space inside the work directory."""
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        # a heap fixed from the start, and a fixed set of JIT compiler
        # threads, whose CPU the runner leaves out of the work CPU
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY}"
            " -XX:-UseAdaptiveSizePolicy"
            " -XX:-UseDynamicNumberOfCompilerThreads"
            f" -Djava.io.tmpdir={local}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


@contextlib.contextmanager
def _synthetic_seed(seed: int):
    """The package generator hashes every value with ``synthetic.SEED``;
    swapping it while the plan is built yields a different, equally shaped
    table per benchmark seed."""
    from events_validator_spark.sources import synthetic
    old = synthetic.SEED
    synthetic.SEED = seed
    try:
        yield synthetic
    finally:
        synthetic.SEED = old


def build_docs(spark, out: str, seed: int, n_docs: int,
               partitions: int) -> None:
    """``docs_suite``: interleaved docs and their media catalog."""
    with _synthetic_seed(seed) as synthetic:
        docs = synthetic.interleaved_docs(spark, n_docs,
                                          n_partitions=partitions)
        catalog = synthetic.media_catalog(
            spark, max(n_docs // synthetic.CATALOG_SIZE_RATIO, 16))
    docs.write.parquet(os.path.join(out, "docs"))
    catalog.coalesce(1).write.parquet(os.path.join(out, "catalog"))


def build_ticks(spark, out: str, seed: int, n_batches: int,
                batch_docs: int) -> dict:
    """``incremental_ticks``: one docs table split into ``n_batches``
    contiguous id ranges (one range partition each), stored partitioned by
    ``batch``. Returns the [rows, violations] of every batch, by batch
    number, from one batch-mode validation pass."""
    from pyspark.sql import functions as F

    from events_validator_spark.operators.validation import validate_typed
    with _synthetic_seed(seed) as synthetic:
        docs = synthetic.interleaved_docs(spark, n_batches * batch_docs,
                                          n_partitions=n_batches)
    (docs.withColumn("batch", F.spark_partition_id())
     .write.partitionBy("batch").parquet(os.path.join(out, "docs")))
    stored = spark.read.parquet(os.path.join(out, "docs"))
    counts = (validate_typed(stored, synthetic.DOC_RULES)
              .groupBy("batch")
              .agg(F.count(F.lit(1)).alias("rows"),
                   F.sum(F.size("violations")).alias("violations"))
              .collect())
    return {str(r["batch"]): [r["rows"], int(r["violations"])]
            for r in counts}
