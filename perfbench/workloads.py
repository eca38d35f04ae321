"""The benchmark's workloads and their correctness gates.

Each workload writes its seeded inputs under its work directory in its
constructor (outside every timed region, reported as ``gen_s``). It then
offers ``first(tr)``, the cold operation, and ``op(tr)``, one steady
operation of the closed loop; each processes ``items_per_op`` documents and
returns every way its output disagreed with the expected one. After the
loop, ``gate()`` compares output rows with the pure Python oracle, and
``per_layer()`` adds the layer figures no span carries.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from events_validator_spark.operators import drift, referential, uniqueness
from events_validator_spark.operators.stats import profile
from events_validator_spark.operators.validation import (
    explode_violations, validate_typed,
)
from events_validator_spark.plans.pipeline import run_incremental
from events_validator_spark.sources.catalog import Lakehouse
from events_validator_spark.sources.synthetic import DOC_RULES

import inputs
from gate import grouped_mismatches, typed_mismatches
from spans import TracedLakehouse

GATE_ROWS = 500  # each gate checks about this many docs row by row


def _compare(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, expected {want}"]


# -- docs_suite --------------------------------------------------------------

class DocsSuite:
    """The full constraint suite over stored interleaved docs; each
    operator is paired with its own action, as a batch job would run it."""

    def __init__(self, spark, work_dir: str, seed: int, n_docs: int = 100_000,
                 partitions: int = 8):
        self.spark, self.seed = spark, seed
        path = os.path.join(work_dir, "inputs")
        t0 = time.perf_counter()
        inputs.build_docs(spark, path, seed, n_docs, partitions)
        self.gen_s = time.perf_counter() - t0
        self.items_per_op = n_docs
        self.docs = spark.read.parquet(os.path.join(path, "docs"))
        self.catalog = spark.read.parquet(os.path.join(path, "catalog"))
        self.reference = None

    def _pass(self, tr) -> tuple:
        docs = self.docs
        with tr.span("validation.typed"):
            n_viol = explode_violations(validate_typed(docs, DOC_RULES),
                                        ["doc_id"]).count()
        with tr.span("uniqueness.duplicate_keys"):
            n_dup = uniqueness.duplicate_keys(docs, ["doc_id"],
                                              n_salts=64).count()
        with tr.span("referential.spans"):
            n_dangling = referential.referential_violations_spans(
                docs, self.catalog).count()
        flat = docs.select(F.col("doc_id"), F.size("spans").alias("n_spans"),
                           F.xxhash64("doc_id").alias("h"))
        with tr.span("stats.profile"):
            prof = tuple(tuple(r) for r in
                         profile(flat, ["n_spans"], approx=True).collect())
        with tr.span("drift.psi"):
            psi = drift.psi_two_cohorts(
                flat, "n_spans", F.pmod(F.col("h"), F.lit(2)) == 0,
                nbins=12, lo=0.0, hi=12.0).collect()[0]["psi"]
        return n_viol, n_dup, n_dangling, prof, psi

    def first(self, tr):
        self.reference = self._pass(tr)
        if min(self.reference[:3]) <= 0:
            return [f"degenerate input: {self.reference[:3]}"]
        return []

    def op(self, tr):
        return _compare("suite counts", self._pass(tr), self.reference)

    def gate(self) -> list[str]:
        """A seeded row sample plus rows the engine flagged, so the oracle
        sees violating rows even when the sample holds none."""
        checked = validate_typed(self.docs, DOC_RULES)
        sample = checked.sample(
            fraction=min(1.0, GATE_ROWS / self.items_per_op),
            seed=self.seed).collect()
        flagged = (checked.where(F.size("violations") > 0)
                   .limit(GATE_ROWS // 10).collect())
        return typed_mismatches(sample + flagged, DOC_RULES)

    def scan(self):
        return self.docs

    def per_layer(self) -> dict:
        return {"validation.typed_violations": self.reference[0]}


# -- incremental_ticks -------------------------------------------------------

class IncrementalTicks:
    """A producer appends one stored batch of docs to a ``Lakehouse`` table,
    then one ``run_incremental`` tick validates it; one operation is both."""

    TABLE = "docs"

    def __init__(self, spark, work_dir: str, seed: int, n_batches: int = 4,
                 batch_docs: int = 5_000):
        self.spark = spark
        path = os.path.join(work_dir, "inputs")
        t0 = time.perf_counter()
        self.expected = inputs.build_ticks(spark, path, seed, n_batches,
                                           batch_docs)
        self.gen_s = time.perf_counter() - t0
        self.path = os.path.join(path, "docs")
        self.n_batches, self.items_per_op = n_batches, batch_docs
        self.lake = Lakehouse(spark, os.path.join(work_dir, "lake"))
        self.out_dir = os.path.join(work_dir, "out")
        self.i = -1
        self.first_tick = None  # (batch, snapshot id) the gate checks

    def _batch(self, b: int):
        return self.spark.read.parquet(os.path.join(self.path, f"batch={b}"))

    def _tick(self, tr) -> list[str]:
        self.i += 1
        b = self.i % self.n_batches
        with tr.span("producer.append"):
            self.lake.append(self.TABLE, self._batch(b))
        lake = TracedLakehouse(self.lake, tr) if tr.enabled else self.lake
        with tr.span("pipeline.incremental"):
            res = run_incremental(lake, self.TABLE, DOC_RULES, self.out_dir)
        self.last_tick = (b, res["cursor"])
        return _compare(f"tick over batch {b}",
                        [res["rows"], res["violations"]],
                        self.expected[str(b)])

    def first(self, tr):
        problems = self._tick(tr)
        self.first_tick = self.last_tick
        return problems

    op = _tick

    def gate(self) -> list[str]:
        """Every violation row the cold tick appended, against the oracle
        over every doc of its batch."""
        batch, cursor = self.first_tick
        src = self._batch(batch).collect()
        got: dict = {}
        for r in (self.lake.read(f"{self.TABLE}_violations")
                  .where(F.col("snapshot_id") == cursor)
                  .select("event_id", "field", "error_type", "expected",
                          "actual").collect()):
            got.setdefault(r["event_id"], []).append(tuple(r)[1:])
        return (grouped_mismatches(src, got, DOC_RULES)
                or _compare("cold tick found violations", bool(got), True))

    def scan(self):
        return self._batch(0)

    def per_layer(self) -> dict:
        size = 0
        for t in (self.TABLE, f"{self.TABLE}_violations",
                  f"{self.TABLE}_verdicts"):
            p = os.path.join(self.lake.root, t, "_snapshots.json")
            if os.path.exists(p):
                size += os.path.getsize(p)
        return {"catalog.snapshot_log_bytes": size}
