"""End-to-end validation runs: violations + verdicts committed to a
``Lakehouse``, with per-bucket counts on the commits (SURVEY.md §7.1 M5,
FIXTURES.md §4-5).

The reference emits per-event verdicts over HTTP and fire-and-forgets log rows
into BigQuery (/root/reference/validator_src/index.js:54-75,
helpers/cloudHelpers.js:25-44). Here a run is a deterministic batch job over a
partitioned table. Each unit of work (a bucket of ``run_validation``, a
source window of ``run_incremental``, a micro-batch of
``streaming.stream.run_stream_pipeline``) is ONE Spark job:

  docs ──validate + output_rows (1 projection)──► verdict rows + log rows,
                                                  each tagged with its table
       ──Lakehouse.append (1 write, partitioned by the tag)──►
            commit violations ──► commit verdicts (+ counts in its meta)

No cache: the validated rows are read once, by that write. The two commits
are the one checkpoint protocol every pipeline shares
(``_commit_outputs``): both are stamped with the unit, violations first.
The stamps are the only record of what a run has done: a rerun skips every
unit whose verdicts commit carries its stamp, and a unit whose violations
commit is stamped but whose verdicts commit is not (a crash between the
two) commits only its verdicts — no duplicate rows, verified by
tests/test_pipeline.py. The unit's ``rows``/``violations``/``passed`` are
observed on the write and stored in the verdicts commit's meta.

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
from events_validator_spark.operators.validation_sql import ident, lit
from events_validator_spark.sources.catalog import Lakehouse

VERDICT_COLS = ["doc_id", "event_name", "passed", "n_violations",
                "partition_id", "snapshot_id"]
VIOLATION_COLS = ["event_name", "event_id", "field", "error_type",
                  "expected", "actual", "timestamp", "source_event",
                  "status", "date_utc", "event_data", "value", "type",
                  "partition_id", "snapshot_id"]
TABLE_COL = "__table"  # names each output row's table
_UNION = list(dict.fromkeys(VERDICT_COLS + VIOLATION_COLS))
# NULL of each column's type on the other table's rows (others: string)
_NULLS = {"doc_id": "IF(false, `doc_id`, NULL)",
          "event_id": "IF(false, `doc_id`, NULL)",
          "passed": "CAST(NULL AS BOOLEAN)", "n_violations": "CAST(NULL AS INT)",
          "timestamp": "CAST(NULL AS TIMESTAMP)",
          "date_utc": "CAST(NULL AS DATE)"}


def _bucket(col, n):  # deterministic partition bucketing of doc ids
    return F.pmod(F.xxhash64(col), F.lit(n))


def _label(value) -> str | None:
    """A bucket's label: ``str(value)``, None for a NULL partition. ``str``
    is injective on the values of one typed column, and None is no string,
    so a string column holding both NULL and ``"None"`` keeps two buckets."""
    return None if value is None else str(value)


def output_rows(validated: DataFrame, source_columns: list[str],
                rules: dict, event_name: str, partition_id: str | None,
                snapshot_id: str, tables: tuple[str, str],
                log_payload_when_error: bool = False,
                log_valid_fields: bool = False) -> DataFrame:
    """The output rows of a validated df, both tables in one projection —
    the SINGLE row constructor the batch pipelines and the streaming
    ``foreachBatch`` sink use (stream/batch flag parity by construction).
    Each doc yields its verdict row (VERDICT_COLS) and one log row
    (VIOLATION_COLS) per violation, each tagged in ``TABLE_COL`` with its
    table, ``tables = (violations table, verdicts table)``:

        inline(concat(array(<verdict>), transform(violations, v -> <log>)))

    Every row has the union of both tables' columns, NULL where its table
    has none; ``Lakehouse.append`` splits them by the tag. The log rows'
    ``current_timestamp()``/``current_date()`` sit inside the lambda, which
    Spark evaluates interpreted, so the generated code does not inline
    them and is the same from one run to the next.

    The log rows are a superset of the reference's declared BQ schema
    (terraform_backend/src/bq_schema/bq_schema.json:1-62):
    ``source_event``/``type`` are declared but never written by the
    reference (loggingHelpers.js writes neither) → typed nulls; ``value`` is
    written ONLY on valid-field rows as ``JSON.stringify(value)``
    (loggingHelpers.js:39) → filled there, null on error rows.
    ``log_payload_when_error`` (LOG_PAYLOAD_WHEN_ERROR, loggingHelpers.js:18)
    puts the whole source row as JSON in ``event_data`` of error rows;
    ``log_valid_fields`` (LOG_VALID_FIELDS, loggingHelpers.js:33-45) adds a
    ``status = 'valid'`` row per top-level rule key with no violation.
    """
    viol_table, verd_table = tables
    columns = validated.columns
    shared = {"event_name": lit(event_name),
              "partition_id": lit(partition_id),
              "snapshot_id": lit(snapshot_id)}

    def fresh(name: str) -> str:  # a name no input column has
        while name in columns:
            name = "_" + name
        return name

    def row(table: str, cols: dict) -> str:
        return "named_struct(" + ", ".join(
            f"{lit(c)}, {cols.get(c) or _NULLS.get(c, lit(None))}"
            for c in _UNION) + f", {lit(TABLE_COL)}, {lit(table)})"

    def log_row(status: str, cols: dict) -> str:
        return row(viol_table, {
            **shared, **cols, "event_id": "`doc_id`",
            "timestamp": "current_timestamp()", "status": lit(status),
            "date_utc": "current_date()"})

    payload = lit(None)
    if log_payload_when_error:
        name = fresh("__event_data")  # one to_json per doc, not per row
        validated = validated.withColumn(name, F.expr(
            f"to_json(struct({', '.join(map(ident, source_columns))}))"))
        payload = ident(name)
    v, k = fresh("__v"), fresh("__k")
    parts = [
        "array(" + row(verd_table, {
            **shared, "doc_id": "`doc_id`",
            "passed": "size(`violations`) = 0",
            "n_violations": "size(`violations`)"}) + ")",
        f"transform(`violations`, {v} -> " + log_row("error", {
            "field": f"{v}.field", "error_type": f"{v}.error_type",
            "expected": f"{v}.expected", "actual": f"{v}.actual",
            "event_data": payload}) + ")"]
    if log_valid_fields:
        # per top-level rule key with no violation on this doc → 'valid' row;
        # nested paths (spans[0].kind) roll up to their top-level key.
        # value: JSON.stringify(event[field]) (loggingHelpers.js:39): to_json
        # needs a struct root, so serialize {"x": v} and strip the 5-char
        # '{"x":' prefix and '}' suffix; a null/absent field serializes to
        # '{}' → NULL (JSON.stringify(undefined) is undefined)
        rule_keys = [key for key in rules if key != "version"]
        whens = "".join(
            f"WHEN {k} = {lit(key)} THEN CASE WHEN {j} = '{{}}' THEN NULL "
            f"ELSE substr({j}, 6, length({j}) - 6) END "
            for key in rule_keys if key in columns
            for j in [f"to_json(struct({ident(key)} AS x))"])
        value = f"CASE {whens}END" if whens else lit(None)
        top_key = lit(r"^[^.\[]+")
        parts.append(
            f"transform(array_except(array({', '.join(map(lit, rule_keys))}),"
            f" transform(`violations`, {v} -> regexp_extract({v}.field, "
            f"{top_key}, 0))), {k} -> "
            + log_row("valid", {"field": k, "value": value}) + ")")
    return validated.select(F.expr(f"inline(concat({', '.join(parts)}))"))


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
                    stamp: dict, rows: DataFrame) -> tuple[str | None, dict]:
    """Commit ``rows`` (``output_rows``) to ``viol_table`` unless it already
    holds them, then to ``verd_table``, in one ``Lakehouse.append``: one
    write, then one commit per table, both stamped ``stamp``. ``stamp``'s
    last item names the unit (source cursor, bucket, stream batch), the
    items before it the scope the unit is unique in (a run id): the
    violations are already there when the newest commit in that scope
    carries the unit — a rerun after a crash between the two commits, which
    then writes and commits only the verdict rows. The verdicts commit also
    stores ``start`` (epoch seconds) and its own ``rows``, ``violations``
    and ``passed``, observed on the write; ``n_violations`` and ``passed``
    are NULL on log rows, so they count verdict rows only.

    Returns ``(violations snapshot id, verdicts commit meta)``."""
    start = time.time()
    *scope, (key, unit) = stamp.items()
    v_snap, last = _last_stamp(lakehouse, viol_table, key, dict(scope))
    tables = {}
    if v_snap is None or last != unit:
        tables[viol_table] = (VIOLATION_COLS, stamp)
    tables[verd_table] = (VERDICT_COLS, {
        **stamp, "start": start, "rows": F.count("n_violations"),
        "violations": F.coalesce(F.sum("n_violations"), F.lit(0)),
        "passed": F.count_if("passed")})
    snaps = lakehouse.append(tables, rows, tag=TABLE_COL)
    return (snaps.get(viol_table, v_snap),
            lakehouse.snapshot_meta(verd_table, snaps[verd_table]))


def run_validation(docs: DataFrame, rules: dict, out_dir: str,
                   event_name: str = "interleaved_doc",
                   n_buckets: int = 8, run_id: str | None = None,
                   bucket_col: str | None = None,
                   log_payload_when_error: bool = False,
                   log_valid_fields: bool = False) -> dict:
    """Validate ``docs`` bucket by bucket into the ``violations`` and
    ``verdicts`` tables of a ``Lakehouse`` rooted at ``out_dir``; each
    bucket is one Spark job (one write, nothing cached) whose two commits
    are stamped ``{run_id, bucket}``, and a rerun with the same ``run_id``
    resumes from the stamps (module docstring). Rows
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
        _commit_outputs(
            lakehouse, "violations", "verdicts",
            {"run_id": run_id, "bucket": b},
            output_rows(validated.where(key.eqNullSafe(F.lit(labels[b]))),
                        docs.columns, rules, event_name, _label(b),
                        snapshot_id, ("violations", "verdicts"),
                        log_payload_when_error=log_payload_when_error,
                        log_valid_fields=log_valid_fields))
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
    tick (``Lakehouse.read_since``) and commit violations, then verdicts,
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

    A warm tick is one Spark job and caches nothing: one projection emits
    the verdict and violation rows (``output_rows``) and one write feeds
    both commits. ``rows`` and ``violations`` come from the verdicts commit
    itself (``_commit_outputs`` stores them, observed on that write). Its
    generated code is the same from tick to tick, so a warm tick compiles
    no class (both pinned by tests/test_plans.py).

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

    v_snap, counts = _commit_outputs(
        lakehouse, viol_table, verd_table, {"source_cursor": new_cursor},
        output_rows(validate_typed(new_df, rules), new_df.columns, rules,
                    event_name, f"inc-{new_cursor}", new_cursor,
                    (viol_table, verd_table),
                    log_payload_when_error=log_payload_when_error,
                    log_valid_fields=log_valid_fields))
    return {"cursor": new_cursor, "rows": counts["rows"],
            "violations": counts["violations"], "snapshot_id": v_snap}
