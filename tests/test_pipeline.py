"""Pipeline: verdicts/metrics shape, and kill-and-resume with no duplicates.
Also exercises multimodal plumbing and the streaming wrapper."""

import os

import pyspark.sql.functions as F
import pytest

from events_validator_spark.operators import multimodal
from events_validator_spark.plans import pipeline
from events_validator_spark.sources.catalog import Lakehouse
from events_validator_spark.sources.synthetic import DOC_RULES, interleaved_docs


def _outputs(spark, out):
    lh = Lakehouse(spark, out)
    return lh.read("violations"), lh.read("verdicts")


def _crash_at_verdicts(monkeypatch, n, crash):
    """The per-table log commit (``Lakehouse._commit``) raises right before
    (``before_verdicts``) or right after (``after_verdicts``) the ``n``-th
    verdicts commit; a unit's violations and verdicts are written by one
    ``append``, so ``before_verdicts`` falls between its two commits."""
    orig = Lakehouse._commit
    seen = {"verdicts": 0}

    def flaky(self, table, snaps):
        hit = table == "verdicts" and seen["verdicts"] + 1 == n
        seen["verdicts"] += table == "verdicts"
        if hit and crash == "before_verdicts":
            raise RuntimeError("injected crash before the verdicts commit")
        orig(self, table, snaps)
        if hit:
            raise RuntimeError("injected crash after the verdicts commit")

    monkeypatch.setattr(Lakehouse, "_commit", flaky)


def test_run_validation_and_resume(spark, tmp_path, monkeypatch):
    docs = interleaved_docs(spark, 1500)
    out = str(tmp_path / "run1")

    m1 = pipeline.run_validation(docs, DOC_RULES, out, n_buckets=4,
                                 run_id="r1")
    assert sorted(m1["completed"]) == [0, 1, 2, 3]
    viol, verd = _outputs(spark, out)
    total_docs = verd.count()
    assert total_docs == 1500
    n_viol = viol.count()
    assert n_viol > 0
    assert verd.where(~F.col("passed")).count() == \
        verd.where(F.col("n_violations") > 0).count()
    # metrics cover every bucket and add up
    assert sum(m["rows"] for m in m1["metrics"]) == 1500
    assert sum(m["violations"] for m in m1["metrics"]) == n_viol

    # a crash right after bucket 1's verdicts commit
    out2 = str(tmp_path / "run2")
    _crash_at_verdicts(monkeypatch, 2, "after_verdicts")
    with pytest.raises(RuntimeError, match="injected crash"):
        pipeline.run_validation(docs, DOC_RULES, out2, n_buckets=4,
                                run_id="r2")
    monkeypatch.undo()
    # resume: only buckets 2,3 rerun; outputs identical, no duplicates
    m2b = pipeline.run_validation(docs, DOC_RULES, out2, n_buckets=4,
                                  run_id="r2")
    assert sorted(m2b["completed"]) == [0, 1, 2, 3]
    viol2, verd2 = _outputs(spark, out2)
    assert verd2.count() == 1500
    assert viol2.count() == n_viol
    assert verd2.select("doc_id").distinct().count() == \
        verd.select("doc_id").distinct().count()


@pytest.mark.parametrize("bucket_col", [None, "date_utc"],
                         ids=["hash", "bucket_col"])
@pytest.mark.parametrize("crash", ["after_verdicts", "before_verdicts"])
def test_run_validation_crash_window_exactly_once(spark, tmp_path,
                                                  monkeypatch, crash,
                                                  bucket_col):
    """A run that crashes right after, or right before, bucket 2's verdicts
    commit, then a rerun: every doc is in the verdicts exactly once, the
    violations equal ``sum(n_violations)`` (a crash between the two
    commits does not re-append the bucket's violations), the resumed
    summary reports every bucket, and a further rerun adds no commit."""
    from collections import Counter
    docs = interleaved_docs(spark, 600)
    if bucket_col is not None:
        src = str(tmp_path / "docs_part")
        docs.withColumn("date_utc", F.date_add(
            F.lit("2024-01-01"), F.pmod(F.xxhash64("doc_id"), F.lit(4))
            .cast("int"))).write.partitionBy("date_utc").parquet(src)
        docs = spark.read.parquet(src)
    out = str(tmp_path / "run")

    def run():
        return pipeline.run_validation(docs, DOC_RULES, out, n_buckets=4,
                                       run_id="r", bucket_col=bucket_col)

    _crash_at_verdicts(monkeypatch, 3, crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run()
    monkeypatch.undo()
    m = run()
    assert len(m["completed"]) == 4
    assert sum(x["rows"] for x in m["metrics"]) == 600
    viol, verd = _outputs(spark, out)
    assert Counter(r[0] for r in verd.select("doc_id").collect()) == \
        Counter(r[0] for r in docs.select("doc_id").collect())
    n_viol = verd.agg(F.sum("n_violations")).first()[0]
    assert n_viol > 0 and viol.count() == n_viol
    assert sum(x["violations"] for x in m["metrics"]) == n_viol

    lh = Lakehouse(spark, out)
    commits = [len(lh.snapshots(t)) for t in ("violations", "verdicts")]
    assert commits == [4, 4]
    assert run() == m
    assert [len(lh.snapshots(t)) for t in ("violations", "verdicts")] == \
        commits


def test_run_validation_second_run_appends(spark, tmp_path):
    """A second run_id written to the same root appends its own commits and
    rows, also when its bucket labels equal the first run's: a bucket is
    done only when a commit stamped with THIS run id carries it."""
    docs = interleaved_docs(spark, 200)
    out = str(tmp_path / "run")
    for run_id in ("a", "b"):
        m = pipeline.run_validation(docs, DOC_RULES, out, n_buckets=1,
                                    run_id=run_id)
        assert m["completed"] == [0] and m["metrics"][0]["rows"] == 200
    viol, verd = _outputs(spark, out)
    per_run = {r[0]: r[1] for r in verd.groupBy("snapshot_id").count()
               .collect()}
    assert per_run == {"snap-a": 200, "snap-b": 200}
    assert viol.where(F.col("snapshot_id") == "snap-b").count() == \
        viol.where(F.col("snapshot_id") == "snap-a").count() > 0


def test_run_validation_null_partition_is_a_bucket(spark, tmp_path):
    """A NULL value of ``bucket_col`` is a bucket of its own: its rows are
    validated (a ``col == NULL`` filter would select none), and the
    null-safe bucket filter still lands in the scan's PartitionFilters."""
    import datetime
    docs = interleaved_docs(spark, 400).withColumn(
        "date_utc", F.when(F.pmod(F.xxhash64("doc_id"), F.lit(5)) > 0,
                           F.date_add(F.lit("2024-01-01"),
                                      F.pmod(F.xxhash64("doc_id"), F.lit(3))
                                      .cast("int"))))
    src = str(tmp_path / "docs_part")
    docs.write.partitionBy("date_utc").parquet(src)
    pdocs = spark.read.parquet(src)
    n_null = pdocs.where(F.col("date_utc").isNull()).count()
    assert n_null > 0

    out = str(tmp_path / "run")
    m = pipeline.run_validation(pdocs, DOC_RULES, out, bucket_col="date_utc",
                                run_id="rn")
    rows = {x["partition_id"]: x["rows"] for x in m["metrics"]}
    assert rows[None] == n_null and sum(rows.values()) == 400
    _, verd = _outputs(spark, out)
    assert verd.count() == 400

    from events_validator_spark.operators.validation import validate_typed
    for value, shown in ((datetime.date(2024, 1, 1), "2024-01-01"),
                         (None, "isnull")):
        one = validate_typed(pdocs, DOC_RULES).where(
            F.col("date_utc").eqNullSafe(F.lit(value)))
        plan = one._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "date_utc" in pf and shown in pf, pf


@pytest.mark.parametrize("crash", [None, "before_verdicts"])
def test_run_validation_null_and_none_string_buckets(spark, tmp_path,
                                                    monkeypatch, crash):
    """A string ``bucket_col`` holding both NULL and ``"None"`` has two
    buckets (the NULL bucket's label is None, not ``"None"``), both are
    validated, and a crash between the NULL bucket's two commits is redone
    exactly once: its None stamp counts as a stamp."""
    h = F.xxhash64("doc_id")
    docs = interleaved_docs(spark, 100).select(   # every 3rd id breaks regex
        F.when(F.pmod(h, F.lit(3)) == 0, F.concat(F.col("doc_id"), F.lit("!")))
        .otherwise(F.col("doc_id")).alias("doc_id"), "spans",
        F.when(F.pmod(h, F.lit(2)) == 0, F.lit("None")).alias("part"))
    n_null = docs.where(F.col("part").isNull()).count()
    assert 0 < n_null < 100
    out = str(tmp_path / "run")

    def run():
        return pipeline.run_validation(docs, DOC_RULES, out, run_id="nn",
                                       bucket_col="part")

    if crash:
        _crash_at_verdicts(monkeypatch, 1, crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run()
        monkeypatch.undo()
    m = run()
    assert len(m["completed"]) == 2 and set(m["completed"]) == {None, "None"}
    rows = {x["partition_id"]: x["rows"] for x in m["metrics"]}
    assert rows == {None: n_null, "None": 100 - n_null}
    viol, verd = _outputs(spark, out)
    assert verd.count() == 100
    assert viol.count() == verd.agg(F.sum("n_violations")).first()[0] > 0
    assert {r[0]: r[1] for r in verd.groupBy("partition_id").count()
            .collect()} == rows


def test_run_validation_input_column_named_like_a_helper(spark, tmp_path):
    """An input column named ``__bucket`` is source data like any other:
    the hash-bucket path filters on the doc-id hash without adding or
    dropping a helper column, so the payload keeps it."""
    import json
    docs = interleaved_docs(spark, 200).withColumn("__bucket", F.lit("mine"))
    out = str(tmp_path / "run")
    m = pipeline.run_validation(docs, DOC_RULES, out, n_buckets=2,
                                log_payload_when_error=True)
    assert sum(x["rows"] for x in m["metrics"]) == 200
    viol, _ = _outputs(spark, out)
    payloads = [json.loads(r[0]) for r in viol.select("event_data").collect()]
    assert payloads and all(p["__bucket"] == "mine" for p in payloads)


def test_cli_prints_summary_and_reruns_idempotently(spark, tmp_path, capsys):
    """``python -m events_validator_spark`` prints the run summary as JSON;
    a second call with the same ``--run-id`` adds no commit."""
    import json

    from events_validator_spark.__main__ import main
    d = str(tmp_path / "cli")
    argv = ["--docs", "300", "--out", d, "--buckets", "3", "--run-id", "cli"]
    main(argv)
    summary = json.loads(capsys.readouterr().out)
    assert summary["run_id"] == "cli" and sorted(summary["completed"]) == \
        [0, 1, 2]
    assert sum(x["rows"] for x in summary["metrics"]) == 300
    lh = Lakehouse(spark, d)
    commits = [lh.snapshots(t) for t in ("violations", "verdicts")]
    assert [len(c) for c in commits] == [3, 3]
    main(argv)
    assert json.loads(capsys.readouterr().out) == summary
    assert [lh.snapshots(t) for t in ("violations", "verdicts")] == commits


def test_lakehouse_snapshots(spark, tmp_path):
    from events_validator_spark.sources.catalog import Lakehouse
    lh = Lakehouse(spark, str(tmp_path / "lh"))
    s1 = lh.append("t", spark.range(5))
    s2 = lh.append("t", spark.range(5, 12))
    assert lh.read("t").count() == 12
    assert lh.read("t", as_of=s1).count() == 5          # time travel
    assert lh.current_snapshot("t") == s2
    assert [s["snapshot_id"] for s in lh.snapshots("t")] == [s1, s2]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        lh.read("missing")


def test_multimodal_plumbing(spark):
    from events_validator_spark.sources.synthetic import media_catalog
    cat = media_catalog(spark, 50)
    with_payload = cat.withColumn("payload", F.encode(F.concat(
        F.col("media_ref"), F.lit(":"), F.sha2(F.col("media_ref"), 256)),
        "utf-8"))
    meta = multimodal.extract_media_metadata(
        with_payload, mime_col="mime").collect()
    assert len(meta) == 50
    assert all(m["n_bytes"] > 0 and len(m["sha256"]) == 64 for m in meta)


def test_media_metadata_matches_python(spark):
    """The native size and checksums equal Python's ``len``,
    ``zlib.crc32`` and ``hashlib.sha256`` on every byte value and on an
    empty payload; without a mime column the mime is the octet-stream
    default; a NULL payload gives NULL size and checksums."""
    import hashlib
    import zlib
    pays = {"all": bytes(range(256)), "empty": b"", "null": None}
    df = spark.createDataFrame(list(pays.items()),
                               "media_ref string, payload binary")
    got = {r["media_ref"]: r for r in
           multimodal.extract_media_metadata(df).collect()}
    assert set(got) == set(pays)
    for ref, raw in pays.items():
        r = got[ref]
        assert r["mime"] == "application/octet-stream"
        if raw is None:
            assert (r["n_bytes"], r["crc32"], r["sha256"]) == (None,) * 3
        else:
            assert r["n_bytes"] == len(raw)
            assert r["crc32"] == zlib.crc32(raw)
            assert r["sha256"] == hashlib.sha256(raw).hexdigest()


def test_salted_collect_matches_naive(spark):
    from events_validator_spark.operators.uniqueness import (
        naive_collect, salted_collect,
    )
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 4), ("c", 5), ("c", 6)],
        ["k", "v"])
    naive = {r["k"]: sorted(r["vs"])
             for r in naive_collect(df, ["k"], "v").collect()}
    salted = {r["k"]: sorted(r["vs"])
              for r in salted_collect(df, ["k"], "v", n_salts=4).collect()}
    assert naive == salted == {"a": [1, 2, 3], "b": [4], "c": [5, 6]}


def test_streaming_stateful_dedup(spark, tmp_path):
    """Native streaming ``dropDuplicates`` emits a key's first row ever: one
    row per key in the first micro-batch, and a later batch emits only the
    keys no earlier batch held."""
    src = str(tmp_path / "dedup_src")
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("c", 4), ("b", 5)], ["doc_id", "v"])
    df.repartition(3).write.parquet(src)
    q = (spark.readStream.schema(df.schema).parquet(src)
         .dropDuplicates(["doc_id"])
         .writeStream.format("memory").queryName("t_dedup")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM t_dedup").collect()
        assert sorted(r["doc_id"] for r in rows) == ["a", "b", "c"]
        spark.createDataFrame([("a", 6), ("d", 7)], df.schema) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM t_dedup").collect()
    finally:
        q.stop()
    assert sorted(r["doc_id"] for r in rows) == ["a", "b", "c", "d"]
    v = {r["doc_id"]: r["v"] for r in rows}
    assert v["a"] in (1, 2) and v["d"] == 7   # a's second-batch row dropped


def test_streaming_windowed_verdicts_with_watermark(spark, tmp_path):
    from datetime import datetime
    from events_validator_spark.operators.validation import validate_typed
    from events_validator_spark.streaming.stream import streaming_verdict_counts
    rules = {"kind": {"type": "string"}}
    rows = [(datetime(2024, 1, 1, 0, 0, 30), "text"),
            (datetime(2024, 1, 1, 0, 0, 40), None),      # fails (missing)
            (datetime(2024, 1, 1, 0, 1, 10), "media"),
            (datetime(2024, 1, 1, 0, 9, 0), "text")]
    df = spark.createDataFrame(rows, "ts timestamp, kind string")
    src = str(tmp_path / "wsrc")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = streaming_verdict_counts(validate_typed(stream, rules),
                                   ts_col="ts", window="1 minute",
                                   watermark="5 minutes")
    q = (agg.writeStream.format("memory").queryName("t_windows")
         .outputMode("append").start())
    q.processAllAvailable(); q.stop()
    out = {r["win"]["start"].minute: (r["docs"], r["failed"])
           for r in spark.sql("SELECT * FROM t_windows").collect()}
    # append mode emits only windows sealed by the watermark (max ts 00:09,
    # watermark 5 min → windows ending ≤ 00:04 are final)
    assert out == {0: (2, 1), 1: (1, 0)}


def test_streaming_validation(spark, tmp_path):
    """``validate_typed`` over a parquet-directory stream, written to an
    append-mode memory sink, flags the same docs as the batch pass."""
    from events_validator_spark.operators.validation import validate_typed
    src = str(tmp_path / "stream_src")
    docs = interleaved_docs(spark, 300)
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (validate_typed(stream, DOC_RULES).writeStream.format("memory")
         .queryName("t_stream").outputMode("append").start())
    q.processAllAvailable(); q.stop()
    out = spark.sql("SELECT * FROM t_stream")
    assert out.count() == 300
    expected_failed = (validate_typed(interleaved_docs(spark, 300), DOC_RULES)
                       .where(F.size("violations") > 0).count())
    assert out.where(F.size("violations") > 0).count() == expected_failed > 0


def test_run_validation_partition_pruned_resume(spark, tmp_path,
                                                monkeypatch):
    """bucket_col resume unit: each bucket's scan must partition-prune
    (PartitionFilters on date_utc), and resume must not duplicate rows."""
    docs = interleaved_docs(spark, 1200).withColumn(
        "date_utc",
        F.to_date(F.concat(
            F.lit("2024-01-0"),
            (F.pmod(F.xxhash64("doc_id"), F.lit(4)) + 1).cast("string"))))
    src = str(tmp_path / "docs_part")
    docs.write.partitionBy("date_utc").parquet(src)
    pdocs = spark.read.parquet(src)

    out = str(tmp_path / "runp")
    m = pipeline.run_validation(pdocs, DOC_RULES, out, bucket_col="date_utc",
                                run_id="rp")
    assert len(m["completed"]) == 4
    viol, verd = _outputs(spark, out)
    assert verd.count() == 1200
    n_viol = viol.count()

    # the per-bucket scan plan prunes: PartitionFilters carries date_utc
    from events_validator_spark.operators.validation import validate_typed
    import datetime
    one = validate_typed(pdocs, DOC_RULES).where(
        F.col("date_utc") == F.lit(datetime.date(2024, 1, 1)))
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "date_utc" in pf and "2024-01-01" in pf

    # crash after 2 buckets → resume reruns only the rest, zero duplicates
    out2 = str(tmp_path / "runp2")
    _crash_at_verdicts(monkeypatch, 2, "after_verdicts")
    with pytest.raises(RuntimeError, match="injected crash"):
        pipeline.run_validation(pdocs, DOC_RULES, out2,
                                bucket_col="date_utc", run_id="rp2")
    monkeypatch.undo()
    m2 = pipeline.run_validation(pdocs, DOC_RULES, out2,
                                 bucket_col="date_utc", run_id="rp2")
    assert len(m2["completed"]) == 4
    viol2, verd2 = _outputs(spark, out2)
    assert verd2.count() == 1200
    assert viol2.count() == n_viol
    # same verdict multiset as the uninterrupted run (synthetic data contains
    # intentional doc_id duplicates, so compare whole-row counts, not keys)
    assert (verd2.groupBy("doc_id").count().exceptAll(
        verd.groupBy("doc_id").count()).count()) == 0


def test_streaming_foreachbatch_pipeline(spark, tmp_path):
    """foreachBatch full pipeline: streaming micro-batches produce the same
    violations/verdicts tables as the batch run over identical input."""
    from events_validator_spark.streaming.stream import run_stream_pipeline
    src = str(tmp_path / "sp_src")
    docs = interleaved_docs(spark, 500)
    docs.write.parquet(src)
    out = str(tmp_path / "sp_out")
    res = run_stream_pipeline(spark, src, docs.schema, DOC_RULES, out,
                              checkpoint_dir=str(tmp_path / "sp_ck"))
    assert res["batches"] >= 1
    viol, verd = _outputs(spark, out)
    assert verd.count() == 500
    from events_validator_spark.operators.validation import validate_typed
    batch = validate_typed(interleaved_docs(spark, 500), DOC_RULES)
    expected = batch.select(F.explode("violations")).count()
    assert viol.count() == expected
    assert (verd.where(~F.col("passed")).count()
            == batch.where(F.size("violations") > 0).count())


@pytest.mark.parametrize("crash", ["after_verdicts", "before_verdicts"])
def test_stream_pipeline_replay_after_partial_commit(spark, tmp_path,
                                                     monkeypatch, crash):
    """A micro-batch that crashes right before (or right after) its
    verdicts commit is replayed from the same checkpoint: the replay
    appends nothing already committed, and the verdicts cover every doc
    exactly once."""
    from collections import Counter

    from events_validator_spark.operators.validation import validate_typed
    from events_validator_spark.streaming.stream import run_stream_pipeline
    src = str(tmp_path / "sp_src")
    docs = interleaved_docs(spark, 500)
    docs.coalesce(1).write.parquet(src)           # one file: one batch
    out, ck = str(tmp_path / "sp_out"), str(tmp_path / "sp_ck")

    _crash_at_verdicts(monkeypatch, 1, crash)
    with pytest.raises(Exception, match="injected crash"):
        run_stream_pipeline(spark, src, docs.schema, DOC_RULES, out,
                            checkpoint_dir=ck)
    monkeypatch.undo()
    lh = Lakehouse(spark, out)
    assert len(lh.snapshots("violations")) == 1
    res = run_stream_pipeline(spark, src, docs.schema, DOC_RULES, out,
                              checkpoint_dir=ck)
    assert res["batches"] == (crash == "before_verdicts")
    viol, verd = _outputs(spark, out)
    assert Counter(r[0] for r in verd.select("doc_id").collect()) == \
        Counter(r[0] for r in docs.select("doc_id").collect())
    expected = (validate_typed(docs, DOC_RULES)
                .select(F.explode("violations")).count())
    assert viol.count() == expected
    assert [len(lh.snapshots(t)) for t in ("violations", "verdicts")] == \
        [1, 1]


BQ_DECLARED_COLS = {  # terraform_backend/src/bq_schema/bq_schema.json:1-62
    "event_id", "field", "error_type", "expected", "actual", "timestamp",
    "source_event", "status", "event_name", "event_data", "value", "type",
}


def test_violations_schema_superset_of_declared_bq(spark, tmp_path):
    """Round-3 verdict item 7: the violations sink emits a SUPERSET of the
    reference's declared BQ schema — including the declared-but-never-written
    source_event/type (typed nulls) and value (filled on valid rows)."""
    from events_validator_spark.plans.pipeline import run_validation
    docs = interleaved_docs(spark, 200)
    out = str(tmp_path / "bq_out")
    run_validation(docs, DOC_RULES, out, n_buckets=2,
                   log_payload_when_error=True, log_valid_fields=True)
    viol, _ = _outputs(spark, out)
    assert BQ_DECLARED_COLS <= set(viol.columns)
    rows = viol.collect()
    errs = [r for r in rows if r["status"] == "error"]
    valids = [r for r in rows if r["status"] == "valid"]
    assert errs and valids
    assert all(r["source_event"] is None and r["type"] is None for r in rows)
    assert all(r["value"] is None for r in errs)
    # valid rows carry JSON.stringify(event[field]) (loggingHelpers.js:39):
    # every present field of the synthetic docs serializes non-null
    assert any(r["value"] is not None for r in valids)
    # error rows carry the payload when the flag is on
    assert all(r["event_data"] is not None for r in errs)


def test_batch_stream_v15_flag_parity(spark, tmp_path):
    """Round-3 verdict item 5: with BOTH V15 flags on, streaming foreachBatch
    and the batch pipeline emit identical violation rows (modulo the
    run-dependent timestamp/date/partition/snapshot columns)."""
    from events_validator_spark.plans.pipeline import run_validation
    from events_validator_spark.streaming.stream import run_stream_pipeline
    docs = interleaved_docs(spark, 300)
    src = str(tmp_path / "pv_src")
    docs.write.parquet(src)

    b_out = str(tmp_path / "pv_batch")
    run_validation(docs, DOC_RULES, b_out, n_buckets=2,
                   log_payload_when_error=True, log_valid_fields=True)
    s_out = str(tmp_path / "pv_stream")
    run_stream_pipeline(spark, src, docs.schema, DOC_RULES, s_out,
                        checkpoint_dir=str(tmp_path / "pv_ck"),
                        log_payload_when_error=True, log_valid_fields=True)

    stable = ["event_name", "event_id", "field", "error_type", "expected",
              "actual", "source_event", "status", "event_data", "value",
              "type"]
    b = sorted(map(tuple, _outputs(spark, b_out)[0]
                   .select(*stable).collect()))
    s = sorted(map(tuple, _outputs(spark, s_out)[0]
                   .select(*stable).collect()))
    assert b == s and len(b) > 0


def test_streaming_psi_matches_batch(spark, tmp_path):
    """Windowed streaming PSI (chained stateful aggs + literal baseline)
    must equal the batch PSI of the same window's data vs the same
    baseline histogram."""
    from datetime import datetime, timedelta
    from events_validator_spark.operators.drift import psi_from_histograms
    from events_validator_spark.operators.stats import histogram
    from events_validator_spark.streaming.stream import streaming_psi

    base_rows = [(float(i % 10),) for i in range(1000)]          # uniform
    baseline = histogram(spark.createDataFrame(base_rows, "x double"),
                         "x", nbins=5, lo=0.0, hi=10.0)

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    cur_rows = ([(t0 + timedelta(seconds=i % 50), float(i % 3))  # skewed low
                 for i in range(300)]
                + [(t0 + timedelta(minutes=9), 5.0)])            # seals win 0
    cur = spark.createDataFrame(cur_rows, "ts timestamp, x double")
    src = str(tmp_path / "psisrc")
    cur.write.parquet(src)

    stream = spark.readStream.schema(cur.schema).parquet(src)
    agg = streaming_psi(stream, "ts", "x", baseline, nbins=5, lo=0.0,
                        hi=10.0, window="1 minute", watermark="5 minutes")
    qy = (agg.writeStream.format("memory").queryName("t_psi")
          .outputMode("append").start())
    qy.processAllAvailable(); qy.stop()
    got = {r["win"]["start"].minute: (r["n"], r["psi"])
           for r in spark.sql("SELECT * FROM t_psi").collect()}
    assert 0 in got and got[0][0] == 300

    win0 = cur.where(F.col("ts") < datetime(2024, 1, 1, 0, 1, 0))
    cur_hist = histogram(win0, "x", nbins=5, lo=0.0, hi=10.0)
    batch_psi = psi_from_histograms(cur_hist, baseline).collect()[0]["psi"]
    assert abs(got[0][1] - batch_psi) < 1e-6, (got[0][1], batch_psi)


def test_lakehouse_incremental_read_since(spark, tmp_path):
    """read_since is the snapshot-checkpoint resume primitive: a consumer
    that records the returned cursor re-reads nothing on an unchanged table
    and exactly the new appends after more commits — an incremental
    validation loop processes every row exactly once."""
    from events_validator_spark.sources.catalog import Lakehouse
    from events_validator_spark.operators.validation import validate_typed
    lh = Lakehouse(spark, str(tmp_path / "lh2"))
    s1 = lh.append("docs", spark.range(4).selectExpr("cast(id as string) v"))
    df, cur = lh.read_since("docs", None)
    assert df.count() == 4 and cur == s1
    # unchanged table -> nothing new, cursor stable
    df2, cur2 = lh.read_since("docs", cur)
    assert df2 is None and cur2 == cur
    s2 = lh.append("docs", spark.range(4, 9).selectExpr("cast(id as string) v"))
    s3 = lh.append("docs", spark.range(9, 10).selectExpr("cast(id as string) v"))
    df3, cur3 = lh.read_since("docs", cur)
    assert cur3 == s3 and sorted(r["v"] for r in df3.collect()) == sorted(
        str(i) for i in range(4, 10))
    # incremental validation over only-new rows
    out = validate_typed(df3, {"v": {"type": "string"}})
    assert out.count() == 6
    import pytest as _pytest
    with _pytest.raises(ValueError):
        lh.read_since("docs", "snap-nope")


def test_run_incremental_exactly_once(spark, tmp_path):
    """Continuous-resume loop: each tick validates only the new appends;
    a re-run with the persisted manifest is a no-op; violation rows across
    ticks cover every appended row exactly once."""
    from events_validator_spark.plans.pipeline import run_incremental
    from events_validator_spark.sources.catalog import Lakehouse
    lh = Lakehouse(spark, str(tmp_path / "ilh"))
    out = str(tmp_path / "iout")
    rules = {"doc_id": {"type": "string", "regex": "^doc_[0-9]+$"}}

    def batch(lo, hi, bad=False):
        pre = "bad_" if bad else "doc_"
        return spark.range(lo, hi).selectExpr(
            f"concat('{pre}', id) as doc_id")

    lh.append("docs", batch(0, 50))
    r1 = run_incremental(lh, "docs", rules, out)
    assert r1["rows"] == 50 and r1["violations"] == 0

    r_noop = run_incremental(lh, "docs", rules, out)   # unchanged table
    assert r_noop["rows"] == 0

    lh.append("docs", batch(50, 70, bad=True))         # 20 regex violations
    r2 = run_incremental(lh, "docs", rules, out)
    assert r2["rows"] == 20 and r2["violations"] == 20
    assert r2["cursor"] != r1["cursor"]

    viol, _ = lh.read("docs_violations"), None
    assert viol.count() == 20
    verd = lh.read("docs_verdicts")
    assert verd.count() == 70                          # every row exactly once
    assert verd.select("doc_id").distinct().count() == 70


def test_run_incremental_empty_window(spark, tmp_path):
    """A committed but empty source append is a window of zero rows: the
    tick commits empty outputs and its observed counts are 0, not NULL and
    not a hang (an alarm bounds the wait on the observation)."""
    import signal

    from events_validator_spark.plans.pipeline import run_incremental
    from events_validator_spark.sources.catalog import Lakehouse
    lh = Lakehouse(spark, str(tmp_path / "elh"))
    out = str(tmp_path / "eout")
    docs = interleaved_docs(spark, 30)
    lh.append("docs", docs)
    assert run_incremental(lh, "docs", DOC_RULES, out)["rows"] == 30
    empty = lh.append("docs", docs.limit(0))

    def hung(signum, frame):
        raise TimeoutError("tick did not return")

    old = signal.signal(signal.SIGALRM, hung)
    signal.alarm(120)
    try:
        res = run_incremental(lh, "docs", DOC_RULES, out)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert (res["rows"], res["violations"]) == (0, 0)
    assert res["cursor"] == empty and res["snapshot_id"] is not None
    assert lh.read("docs_verdicts").count() == 30


VERDICT_COLUMNS = ["doc_id", "event_name", "passed", "n_violations",
                   "partition_id", "snapshot_id"]
VIOLATION_COLUMNS = ["event_name", "event_id", "field", "error_type",
                     "expected", "actual", "timestamp", "source_event",
                     "status", "date_utc", "event_data", "value", "type",
                     "partition_id", "snapshot_id"]


def test_run_incremental_commits_empty_violations(spark, tmp_path):
    """A tick whose rows are all valid, and a tick over an empty window,
    each commit a violations snapshot that is empty, readable in the
    table's columns and stamped with the tick's cursor, although the write
    they share with the verdicts holds no violation row."""
    from events_validator_spark.plans.pipeline import run_incremental
    lh = Lakehouse(spark, str(tmp_path / "lh"))
    out = str(tmp_path / "out")
    rules = {"doc_id": {"type": "string", "regex": "^doc_[0-9]+$"}}
    docs = spark.range(20).selectExpr("concat('doc_', id) AS doc_id")
    lh.append("docs", docs)
    r1 = run_incremental(lh, "docs", rules, out)
    assert (r1["rows"], r1["violations"]) == (20, 0)
    viol = lh.read("docs_violations", as_of=r1["snapshot_id"])
    assert viol.columns == VIOLATION_COLUMNS and viol.count() == 0
    assert lh.snapshot_meta("docs_violations", r1["snapshot_id"]) == \
        {"source_cursor": r1["cursor"]}
    empty = lh.append("docs", docs.limit(0))
    r2 = run_incremental(lh, "docs", rules, out)
    assert (r2["rows"], r2["cursor"]) == (0, empty)
    window, cursor = lh.read_since("docs_violations", r1["snapshot_id"])
    assert cursor == r2["snapshot_id"]
    assert window.columns == VIOLATION_COLUMNS and window.count() == 0
    assert lh.read("docs_verdicts").columns == VERDICT_COLUMNS
    assert lh.read("docs_verdicts").count() == 20


def test_output_tables_read_in_their_own_columns(spark, tmp_path):
    """Under ``run_incremental``, ``run_validation`` and the stream sink,
    each output table reads back in exactly its own columns, in order: the
    table tag and the other table's columns, which the shared write's
    files hold, do not leak."""
    from events_validator_spark.plans.pipeline import run_incremental
    from events_validator_spark.streaming.stream import run_stream_pipeline
    docs = interleaved_docs(spark, 200)
    inc = Lakehouse(spark, str(tmp_path / "inc"))
    inc.append("docs", docs)
    run_incremental(inc, "docs", DOC_RULES, str(tmp_path / "out"))
    pipeline.run_validation(docs, DOC_RULES, str(tmp_path / "batch"),
                            n_buckets=2, log_payload_when_error=True,
                            log_valid_fields=True)
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    run_stream_pipeline(spark, src, docs.schema, DOC_RULES,
                        str(tmp_path / "stream"),
                        checkpoint_dir=str(tmp_path / "ck"))
    for lh, prefix in ((inc, "docs_"),
                       (Lakehouse(spark, str(tmp_path / "batch")), ""),
                       (Lakehouse(spark, str(tmp_path / "stream")), "")):
        for table, columns in (("violations", VIOLATION_COLUMNS),
                               ("verdicts", VERDICT_COLUMNS)):
            df = lh.read(prefix + table)
            assert df.columns == columns, (prefix, table)
            assert df.count() > 0


@pytest.mark.parametrize("crash", ["after_verdicts", "before_verdicts",
                                   "manual_append"])
def test_run_incremental_crash_window_exactly_once(spark, tmp_path, crash):
    """A tick that crashes right after its verdicts commit, or between its
    violations and verdicts commits (also with an unstamped manual append
    to the verdicts table before the rerun), then a producer append, a
    rerun and one more tick: violations and verdicts each cover every
    source row exactly once, the rerun reuses a committed violations
    snapshot instead of re-appending it, and nothing is written under
    ``out_dir``."""
    from collections import Counter

    from events_validator_spark.plans.pipeline import run_incremental
    from events_validator_spark.sources.catalog import Lakehouse
    lh = Lakehouse(spark, str(tmp_path / "clh"))
    out = str(tmp_path / "cout")
    rules = {"doc_id": {"type": "string", "regex": "^doc_[0-9]+$"}}

    def batch(lo, hi):                     # one regex violation per row
        return spark.range(lo, hi).selectExpr("concat('bad', id) as doc_id")

    orig_commit = lh._commit
    armed = {"on": False}
    committed = {}

    def flaky_commit(table, snaps):        # the per-table log commit
        hit = armed["on"] and table == "docs_verdicts"
        if hit and crash != "after_verdicts":
            armed["on"] = False
            raise RuntimeError("injected crash before the verdicts commit")
        orig_commit(table, snaps)
        committed[table] = snaps[-1]["snapshot_id"]
        if hit:
            armed["on"] = False
            raise RuntimeError("injected crash after the verdicts commit")

    lh._commit = flaky_commit
    lh.append("docs", batch(0, 10))
    r0 = run_incremental(lh, "docs", rules, out)
    assert r0["rows"] == 10 and r0["violations"] == 10

    lh.append("docs", batch(10, 20))
    armed["on"] = True
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(lh, "docs", rules, out)
    crashed_viol = committed["docs_violations"]
    if crash == "manual_append":
        lh.append("docs_verdicts", spark.createDataFrame(
            [("manual", "manual", True, 0, "manual", "manual")],
            "doc_id string, event_name string, passed boolean, "
            "n_violations int, partition_id string, snapshot_id string"))
    lh.append("docs", batch(20, 30))
    r1 = run_incremental(lh, "docs", rules, out)
    r2 = run_incremental(lh, "docs", rules, out)

    ids = Counter(f"bad{i}" for i in range(30))
    viol = lh.read("docs_violations").select("event_id").collect()
    assert Counter(r[0] for r in viol) == ids
    verd = Counter(r[0] for r in lh.read("docs_verdicts")
                   .select("doc_id").collect())
    assert verd.pop("manual", 0) == (crash == "manual_append")
    assert verd == ids
    if crash == "after_verdicts":          # the crashed tick was complete
        assert (r1["rows"], r2["rows"]) == (10, 0)
    else:                                  # the rerun redoes its window
        assert (r1["rows"], r2["rows"]) == (10, 10)
        assert r1["snapshot_id"] == crashed_viol       # reused
    assert r2["cursor"] == lh.current_snapshot("docs")   # advanced

    # a rerun with nothing new re-appends nothing
    n_commits = len(lh.snapshots("docs_violations"))
    assert run_incremental(lh, "docs", rules, out)["rows"] == 0
    assert len(lh.snapshots("docs_violations")) == n_commits
    assert not os.path.exists(out)


def test_lakehouse_interface_conformance(spark, tmp_path):
    """Executable spec of the 3-method Iceberg-shaped contract (VERDICT r3
    #9): any real catalog binding must pass exactly this function."""
    from events_validator_spark.sources.catalog import Lakehouse

    def conformance(lh):
        # append is atomic and returns a commit id; meta rides the commit
        s1 = lh.append("t", spark.range(0, 5).selectExpr("id as v"),
                       meta={"source_cursor": "c1"})
        s2 = lh.append("t", spark.range(5, 8).selectExpr("id as v"))
        assert lh.current_snapshot("t") == s2
        assert lh.snapshot_meta("t", s1) == {"source_cursor": "c1"}
        assert lh.snapshot_meta("t") == {}             # newest has no meta
        # read = current state; as_of = time travel to a commit
        assert lh.read("t").count() == 8
        assert lh.read("t", as_of=s1).count() == 5
        # read_since = incremental scan strictly after a snapshot
        df, cur = lh.read_since("t", s1)
        assert df.count() == 3 and cur == s2
        none_df, cur2 = lh.read_since("t", s2)
        assert none_df is None and cur2 == s2
        full, _ = lh.read_since("t", None)
        assert full.count() == 8
        # until = end of the window, inclusive
        s3 = lh.append("t", spark.range(8, 10).selectExpr("id as v"))
        mid, cur3 = lh.read_since("t", s1, until=s2)
        assert mid.count() == 3 and cur3 == s2
        head, _ = lh.read_since("t", None, until=s1)
        assert head.count() == 5
        empty, cur4 = lh.read_since("t", s3, until=s3)
        assert empty is None and cur4 == s3
        for bad in ({"until": "snap-nope"}, {"after": s2, "until": s1}):
            with pytest.raises(ValueError):
                lh.read_since("t", **{"after": s1, **bad})
        # an added column reads over older commits, NULL on their rows
        s4 = lh.append("t", spark.range(10, 12).selectExpr(
            "id as v", "cast(id as string) as w"))
        got = sorted(tuple(r) for r in lh.read("t").collect())
        assert got == [(i, None) for i in range(10)] + [(10, "10"),
                                                        (11, "11")]
        window, _ = lh.read_since("t", s2, until=s4)
        assert window.columns == ["v", "w"] and window.count() == 4
        assert lh.read("t", as_of=s3).columns == ["v"]
        # a Column-valued meta entry is an aggregate over the appended rows
        # and the commit stores its value, also over an empty append
        counted = {"n": F.count(F.lit(1)), "s": F.sum("v"), "tag": "x"}
        m1 = lh.append("m", spark.range(12, 15).selectExpr("id as v"),
                       meta=counted)
        m2 = lh.append("m", spark.range(0).selectExpr("id as v"),
                       meta=counted)
        assert lh.snapshot_meta("m", m1) == {"n": 3, "s": 39, "tag": "x"}
        assert lh.snapshot_meta("m", m2) == {"n": 0, "s": None, "tag": "x"}
        assert lh.read("m").count() == 3
        # several tables in one write: each row's ``tag`` names its table;
        # each table commits its own columns, in order (an empty table
        # too), rows of a table not named are not written, and
        # Column-valued meta is observed once over the whole write
        rows = spark.range(0, 6).selectExpr(
            "CASE WHEN id < 3 THEN 'ma' WHEN id < 5 THEN 'mb' ELSE 'mz' END "
            "AS tbl", "id AS v", "IF(id < 3, NULL, id * 10) AS w")
        snaps = lh.append(
            {"ma": (["v"], {"n": F.count_if(F.col("tbl") == "ma"),
                            "k": "x"}),
             "mb": (["w", "v"], {"n": F.count("w")}),
             "mc": (["v"], None)}, rows, tag="tbl")
        assert sorted(snaps) == ["ma", "mb", "mc"]
        assert [lh.current_snapshot(t) for t in ("ma", "mb", "mc")] == \
            [snaps["ma"], snaps["mb"], snaps["mc"]]
        assert lh.snapshot_meta("ma") == {"n": 3, "k": "x"}
        assert lh.snapshot_meta("mb") == {"n": 2}
        assert lh.snapshot_meta("mc") == {}
        assert lh.read("ma").columns == ["v"]
        assert sorted(r[0] for r in lh.read("ma").collect()) == [0, 1, 2]
        assert lh.read("mb").columns == ["w", "v"]
        assert sorted(tuple(r) for r in lh.read("mb").collect()) == \
            [(30, 3), (40, 4)]
        assert lh.read("mc").columns == ["v"] and lh.read("mc").count() == 0
        assert lh.read_since("mc", None)[0].count() == 0
        m3 = lh.append("ma", spark.range(7, 8).selectExpr("id AS v"))
        mid, cur = lh.read_since("ma", None, until=m3)
        assert mid.count() == 4 and cur == m3

    conformance(Lakehouse(spark, str(tmp_path / "conf")))

    # the directory Lakehouse: a counted append is still one Spark job
    lh = Lakehouse(spark, str(tmp_path / "jobs"))
    sc = spark.sparkContext
    sc.setJobGroup("conformance-counted-append", "counted")
    try:
        snap = lh.append("t", spark.range(7), meta={"n": F.count(F.lit(1))})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert lh.snapshot_meta("t", snap) == {"n": 7}
    assert len(sc.statusTracker().getJobIdsForGroup(
        "conformance-counted-append")) == 1
    sc.setJobGroup("conformance-counted-multi-append", "counted")
    try:
        snaps = lh.append({"a": (["id"], {"n": F.count("id")}),
                           "b": (["id"], None)},
                          spark.range(7).selectExpr(
                              "id", "IF(id < 2, 'a', 'b') AS t"), tag="t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert lh.snapshot_meta("a", snaps["a"]) == {"n": 7}
    assert len(sc.statusTracker().getJobIdsForGroup(
        "conformance-counted-multi-append")) == 1

    # a data write whose log commit raises leaves no visible snapshot, and
    # the next append and read ignore its orphan data directory
    lh = Lakehouse(spark, str(tmp_path / "orphan"))
    o1 = lh.append("t", spark.range(3))

    def failing_commit(table, snaps):
        raise OSError("injected failure while committing the log")

    lh._commit = failing_commit
    with pytest.raises(OSError, match="injected"):
        lh.append("t", spark.range(3, 10))
    del lh._commit
    assert [s["snapshot_id"] for s in lh.snapshots("t")] == [o1]
    assert len([d for d in os.listdir(tmp_path / "orphan" / "t")
                if d.startswith("snap-")]) == 2
    assert lh.read("t").count() == 3
    o2 = lh.append("t", spark.range(10, 12))
    assert sorted(r[0] for r in lh.read("t").collect()) == [0, 1, 2, 10, 11]
    df, cur = lh.read_since("t", o1)
    assert df.count() == 2 and cur == o2

    # the directory Lakehouse reads in the schema its log recorded at
    # commit time: the schema parquet inference gives (nested docs, and the
    # violations and verdicts tables), stored once for same-schema appends;
    # a log with its schemas stripped reads by inference. The two output
    # tables share one write, whose files hold the union of their columns
    # (an empty part is an empty directory): each table reads its own
    # columns, typed as the footers of that write infer them
    import json

    from pyspark.sql.types import StructType

    from events_validator_spark.plans.pipeline import (
        VERDICT_COLS, VIOLATION_COLS, run_incremental,
    )
    root = tmp_path / "schema"
    lh = Lakehouse(spark, str(root))
    for _ in range(2):
        lh.append("docs", interleaved_docs(spark, 40))
        run_incremental(lh, "docs", DOC_RULES, str(tmp_path / "out"))
    union = spark.read.parquet(*[
        s["path"] for t in ("docs_violations", "docs_verdicts")
        for s in lh.snapshots(t)]).schema
    for t, cols in (("docs", None), ("docs_violations", VIOLATION_COLS),
                    ("docs_verdicts", VERDICT_COLS)):
        snaps = lh.snapshots(t)
        inferred = (
            spark.read.parquet(*[s["path"] for s in snaps]).schema
            if cols is None else StructType([union[c] for c in cols]))
        assert lh.read(t).schema == inferred
        assert lh.read_since(t, snaps[0]["snapshot_id"])[0].schema == inferred
        assert sum("schema" in s for s in snaps) == 1
    docs_schema = lh.read("docs").schema
    assert docs_schema["spans"].dataType.elementType.typeName() == "struct"
    for i in range(10):
        lh.append("same", spark.range(i, i + 1))
    assert sum("schema" in s for s in lh.snapshots("same")) == 1
    log = root / "docs" / "_snapshots.json"
    log.write_text(json.dumps([{k: v for k, v in s.items() if k != "schema"}
                               for s in json.loads(log.read_text())]))
    assert not any("schema" in s for s in lh.snapshots("docs"))
    assert lh.read("docs").schema == docs_schema
    assert lh.read("docs").count() == 80


def test_streaming_hash_sample(spark, tmp_path):
    """hash_sample is a row-local filter → streaming-safe with identical
    membership to the batch path (a training pipeline can sample the
    stream and the backfill and get the same corpus)."""
    from events_validator_spark.operators import sampling
    src = str(tmp_path / "s_in")
    spark.range(0, 1000).selectExpr("id AS doc_id").write.parquet(src)
    stream = (spark.readStream.schema("doc_id long").parquet(src))
    out = sampling.hash_sample(stream, 0.3, "doc_id")
    q = (out.writeStream.format("memory").queryName("sampled")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM sampled").collect()}
    batch = {r["doc_id"] for r in sampling.hash_sample(
        spark.read.parquet(src), 0.3, "doc_id").collect()}
    assert got == batch and 0 < len(got) < 1000


def test_build_corpus_end_to_end(spark, tmp_path):
    """The composed corpus pipeline: exact dups fold, near-dup clusters keep
    one representative, benchmark-contaminated docs drop, junk drops at the
    quality gate, quotas cap domains, the ledger accounts every stage, and
    the final corpus + ledger land in the lakehouse atomically."""
    from events_validator_spark.plans.corpus_pipeline import build_corpus
    from events_validator_spark.sources.catalog import Lakehouse
    base = "the quick brown fox jumps over the lazy dog again " * 3
    rows = [
        (1, base, "a"), (2, base, "a"),                    # exact dup pair
        (3, base.replace("lazy", "sleepy"), "a"),          # near-dup of 1
        (10, "completely different text about spark shuffles and big joins "
             "partitions executors stages tasks memory spill", "b"),
        (11, "benchmark question: what is the capital of atlantis exactly "
             "and why does it matter for this test", "b"),  # contaminated
        (12, "x 1 2 3", "b"),                               # junk (quality)
    ] + [(100 + i, " ".join("w" + chr(97 + i) + "x" + chr(97 + j)
                            for j in range(20)), "c")
         for i in range(6)]          # 6 mutually-disjoint alpha vocab docs
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(999, "what is the capital of atlantis")], "doc_id long, text string")
    lh = Lakehouse(spark, str(tmp_path / "clh"))
    out, ledger = build_corpus(
        docs, benchmark=bench, decontam_min_overlap=2,
        near_dup_threshold=0.5,
        quality_kwargs={"min_tokens": 5},
        quota=("source", 4), lakehouse=lh)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert 2 not in kept and 3 not in kept      # exact + near dup folded
    assert 11 not in kept                       # contaminated
    assert 12 not in kept                       # junk
    assert 1 in kept and 10 in kept
    assert sum(1 for d in kept if d >= 100) == 4   # quota capped c: 6 -> 4
    stages = [m.stage for m in ledger]
    assert stages == ["exact_dedup", "near_dedup", "decontaminate",
                      "quality_gate", "domain_quota"]
    assert all(m.rows_out <= m.rows_in for m in ledger)
    assert ledger[0].rows_in == 12 and ledger[-1].rows_out == len(kept)
    # lakehouse: corpus + ledger committed, ledger references the snapshot
    assert lh.read("corpus").count() == len(kept)
    led = lh.read("corpus_ledger").collect()
    assert {r["stage"] for r in led} == set(stages)
    assert all(r["snapshot_id"] == lh.snapshots("corpus")[-1]["snapshot_id"]
               for r in led)
    # splits path: disjoint + exhaustive over the final corpus
    parts, _ = build_corpus(docs, near_dup_threshold=None,
                            splits=[0.5, 0.5])
    sets = [{r["doc_id"] for r in p.collect()} for p in parts]
    assert len(sets[0] | sets[1]) == len(sets[0]) + len(sets[1])


def test_stream_dedup_cross_batch(spark, tmp_path):
    """Streaming dedup detects a near-duplicate ACROSS micro-batches via the
    persisted band index, maintains the index per tick, and never re-reports
    a pair on later ticks."""
    from events_validator_spark.sources.catalog import Lakehouse
    from events_validator_spark.streaming.stream import run_stream_dedup

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    src = str(tmp_path / "src")
    schema = "doc_id bigint, text string"
    # batch order is pinned by DRAINING between appends (ADVICE r5): the
    # old single-run shape relied on a 1.1 s sleep producing distinct file
    # mtimes, which flakes on coarse-mtime filesystems — two runs against
    # the same checkpoint make "batch 2 arrives after batch 1 is ingested"
    # a structural fact instead of a timing one
    spark.createDataFrame(
        [(1, base), (2, "totally unrelated content about joins " * 5)],
        schema).coalesce(1).write.mode("append").parquet(src)

    lh = Lakehouse(spark, str(tmp_path / "lake"))
    ckpt = str(tmp_path / "ckpt")
    out1 = run_stream_dedup(spark, src, schema, lh,
                            checkpoint_dir=ckpt, threshold=0.5)
    assert out1["batches"] == 1

    spark.createDataFrame([(10, near)], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    out2 = run_stream_dedup(spark, src, schema, lh,
                            checkpoint_dir=ckpt, threshold=0.5)
    assert out2["batches"] == 1
    pairs = {(r["id_a"], r["id_b"])
             for r in lh.read("dedup_pairs").collect()}
    assert (1, 10) in pairs
    # index holds bands for all three docs
    assert lh.read("dedup_index").select("id").distinct().count() == 3
    # docs table carries the full corpus
    assert lh.read("docs").count() == 3


def test_stream_dedup_replay_after_partial_commit(spark, tmp_path):
    """Crash between the index append and the pairs append, then replay with
    the same checkpoint: the replayed batch must NOT read its own partial
    commits back as corpus (self-pairs / duplicated rows), must not
    re-append docs or index, and must commit the pairs exactly once."""
    import pytest
    from events_validator_spark.sources.catalog import Lakehouse
    from events_validator_spark.streaming.stream import run_stream_dedup

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    src = str(tmp_path / "src")
    schema = "doc_id bigint, text string"
    spark.createDataFrame([(1, base), (2, near)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")

    lh = Lakehouse(spark, str(tmp_path / "lake"))
    orig_append = lh.append
    armed = {"on": True}

    def flaky_append(table, df, meta=None):
        if table == "dedup_pairs" and armed["on"]:
            armed["on"] = False
            raise RuntimeError("injected crash before the pairs commit")
        return orig_append(table, df, meta)

    lh.append = flaky_append
    with pytest.raises(Exception):
        run_stream_dedup(spark, src, schema, lh,
                         checkpoint_dir=ckpt, threshold=0.5)
    # partial state: docs + index committed, pairs missing
    assert lh.read("docs").count() == 2
    assert not lh.snapshots("dedup_pairs")

    out = run_stream_dedup(spark, src, schema, lh,
                           checkpoint_dir=ckpt, threshold=0.5)
    pairs = lh.read("dedup_pairs").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert len(pairs) == 1                       # no duplicated rows
    assert all(r["id_a"] != r["id_b"] for r in pairs)  # no self-pairs
    assert lh.read("docs").count() == 2          # docs not re-appended
    assert lh.read("dedup_index").select("id").distinct().count() == 2
    assert out == {"batches": 1, "pairs": 1}
