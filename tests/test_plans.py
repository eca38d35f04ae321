"""Plan-shape regression tests.

Correctness tests pin WHAT the operators compute; these pin HOW — the plan
properties that make the engine survive a 100 TB input:

* explode over a computed violations array must NOT re-evaluate the
  validation tree in a pushed-down inferred filter (the round-2 6x
  regression: InferFiltersFromGenerate + PushDownPredicates inlined the
  whole producer expression into a Filter below the staged projection);
* the flagship query must not shuffle a splittable input (a corpus-wide
  Exchange before a shuffle-free projection is a scale-killer);
* the staged parse projection must keep the plan's ``parseJson`` count
  independent of the number of checks (validate_json and validate_multi);
* ``dedup.bucket_pairs``' self-join must read its ``capped_buckets``
  shuffle once (exchange reuse), not run the signature pass twice;
* an incremental tick, a ``Lakehouse`` read, a ``run_validation`` bucket
  and the PSI operators run pinned numbers of Spark jobs; a warm tick
  compiles no generated class, and no pipeline unit caches a plan;
* ``lsh_topk`` deduplicates bare id pairs, with no vector or norm in the
  dedup aggregate's input;
* the referential span scan reads only ``spans.media_ref``, and the typed
  clean-element gate is no larger than its minimal form;
* ``duplicate_keys`` shuffles once (one aggregate, no salted phase);
* the LSH signature UDF is the package's one executor-Python site.
"""

import os
import pathlib
import re
import uuid

import pyspark.sql.functions as F
import pytest

from events_validator_spark.operators.validation import (
    explode_violations, validate_json, validate_multi,
)

RULES = {"k": {"type": "number", "regex": "^[0-9]{2}$"}, "u": {"type": "string"}}


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().treeString()


@pytest.fixture()
def events(spark):
    rows = [(i, '{"k": %d}' % (i % 100)) for i in range(100)]
    return spark.createDataFrame(rows, "event_id long, props string")


def test_no_inferred_filter_below_violations(events):
    """The optimized plan must contain NO Filter node at all: the only
    candidate is the InferFiltersFromGenerate size()-filter whose pushdown
    re-inlines the validation tree (evaluating it twice per row)."""
    df = explode_violations(validate_json(events, RULES, "props"),
                            ["event_id"])
    plan = _optimized(df)
    assert "Filter" not in plan, plan


def test_prebind_stages_parse_json_once(events):
    """The staged projection evaluates try_parse_json once per row; per-check
    references read the small struct columns. The optimized plan therefore
    carries exactly ONE Project that mentions parseJson (the stage-1
    projection), and the Generate input does not."""
    df = validate_json(events, RULES, "props")
    plan = _optimized(df)
    staged_lines = [ln for ln in plan.splitlines() if "parseJson" in ln]
    assert len(staged_lines) == 1, plan


def test_validate_multi_stages_parse_json_once(events):
    """validate_multi shares the staged parse: exactly ONE Project mentions
    parseJson however many event types and checks read the payload."""
    rules_by_name = {"a": RULES, "b": {"k": {"type": "string"}},
                     "c": {"u": {"type": "number", "enum": [1, 2]}}}
    df = events.withColumn("name", F.element_at(
        F.array(*[F.lit(n) for n in rules_by_name]),
        (F.col("event_id") % 3 + 1).cast("int")))
    plan = _optimized(validate_multi(df, rules_by_name, "name", "props"))
    staged_lines = [ln for ln in plan.splitlines() if "parseJson" in ln]
    assert len(staged_lines) == 1, plan


def test_flagship_no_exchange_on_splittable_input(spark, tmp_path):
    """q_validate_events must not repartition when the scan already yields
    >= cores partitions (many files): results identical, zero Exchange."""
    import __spark_entry__ as entrymod

    src = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.format_string('{"k": %d}', F.pmod("id", F.lit(100))).alias("props"))
    out_dir = str(tmp_path / "sfX")
    os.makedirs(out_dir, exist_ok=True)
    # many small files => scan parallelism >= the 4 test cores
    src.repartition(8).write.parquet(os.path.join(out_dir, "events.parquet"))

    df = entrymod.q_validate_events(spark, out_dir)
    plan = df._jdf.queryExecution().executedPlan().treeString()
    assert "Exchange" not in plan, plan
    assert df.count() > 0


def test_apply_recommended_conf_merges_not_clobbers(spark):
    """apply_recommended_conf must append the rule to a session's existing
    excludedRules, keep it idempotent, and never drop user-set rules."""
    from events_validator_spark.session import (
        _INFER_FILTERS_RULE, apply_recommended_conf,
    )
    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    try:
        other = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
        spark.conf.set(key, other)
        apply_recommended_conf(spark)
        got = spark.conf.get(key).split(",")
        assert other in got and _INFER_FILTERS_RULE in got
        apply_recommended_conf(spark)  # idempotent
        assert spark.conf.get(key).split(",").count(_INFER_FILTERS_RULE) == 1
    finally:
        if before is None:
            spark.conf.unset(key)
            spark.conf.set(key, _INFER_FILTERS_RULE)
        else:
            spark.conf.set(key, before)


def test_get_spark_keeps_engine_rule_beside_caller_rules(spark):
    """A caller's excludedRules in ``extra_conf`` is merged with the
    engine's InferFiltersFromGenerate exclusion, not written over it."""
    from events_validator_spark.session import _INFER_FILTERS_RULE, get_spark
    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    other = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    try:
        # the same arguments as the suite's session, so getOrCreate hands
        # back that session and re-applies only the caller's rule
        s = get_spark(app_name="evspark-tests", cores=4, shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": "4g", key: other})
        got = s.conf.get(key).split(",")
        assert other in got and _INFER_FILTERS_RULE in got, got
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_get_spark_runs_no_job(spark, monkeypatch):
    """Building a session starts no Spark job: a one-time parse or codegen
    cost is paid by the first query that needs it. The engine's excluded
    rule is still applied."""
    from events_validator_spark import session
    # a module that warms once per process must warm again here
    monkeypatch.setattr(session, "_WARMED", False, raising=False)
    sc = spark.sparkContext
    group = f"get-spark-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "get_spark")
    try:
        s = session.get_spark(app_name="evspark-tests", cores=4,
                              shuffle_partitions=4,
                              extra_conf={"spark.driver.memory": "4g"})
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        rules = s.conf.get("spark.sql.optimizer.excludedRules").split(",")
        assert session._INFER_FILTERS_RULE in rules, rules
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _simhash_candidates(spark):
    import random

    from events_validator_spark.operators import dedup
    rng = random.Random(3)
    words = [f"w{i}" for i in range(50)]
    rows = [(i, " ".join(rng.choice(words) for _ in range(8)))
            for i in range(200)]
    rows += [(1000 + i, rows[i][1]) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return dedup.simhash_dedup_candidates(df)


def _cosine_neardup_pairs(spark):
    import numpy as np

    from events_validator_spark.operators import similarity
    rng = np.random.default_rng(5)
    base = rng.standard_normal((60, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(1000 + i, [float(x) for x in base[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return similarity.cosine_neardup_pairs(df, threshold=0.9, dim=16,
                                           n_planes=6, n_tables=4)


@pytest.mark.parametrize("build", [_simhash_candidates, _cosine_neardup_pairs],
                         ids=["m2_simhash", "ann3_cosine"])
def test_bucket_pairs_self_join_reuses_capped_buckets_exchange(spark, build):
    """The AQE final plan shows the capped_buckets (t, …) shuffle ONCE; the
    bucket_pairs self-join's other side reads it as a ReusedExchange.
    Without reuse the signature pass (SimHash expression, or the
    hyperplane pandas UDF) and its scan would run twice per call."""
    out = build(spark)
    assert len(out.collect()) >= 20
    adaptive = out._jdf.queryExecution().executedPlan()
    assert adaptive.toString().startswith("AdaptiveSparkPlan isFinalPlan=true")
    final = adaptive.executedPlan().treeString()
    bucket_shuffles = [ln for ln in final.splitlines()
                       if "Exchange hashpartitioning(t#" in ln]
    reused = [ln for ln in bucket_shuffles if "ReusedExchange" in ln]
    assert len(bucket_shuffles) == 2 and len(reused) == 1, final


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``, counted by job group."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def _ticks(spark, tmp_path, n):
    """A ``Lakehouse`` with ``n`` ticks run, each over 500 new docs, and a
    function that appends 500 more docs and runs one more tick."""
    from events_validator_spark.plans.pipeline import run_incremental
    from events_validator_spark.sources.catalog import Lakehouse
    from events_validator_spark.sources.synthetic import (
        DOC_RULES, interleaved_docs,
    )
    lh = Lakehouse(spark, str(tmp_path / "lake"))
    out = str(tmp_path / "out")

    def append_and_tick(measure=lambda fn: fn()):
        lh.append("docs", interleaved_docs(spark, 500))
        return measure(lambda: run_incremental(lh, "docs", DOC_RULES, out))

    for _ in range(n):
        append_and_tick()
    return append_and_tick


def test_incremental_tick_spark_jobs(spark, tmp_path):
    """One warm ``run_incremental`` tick runs 1 Spark job: one projection
    emits the verdict and violation rows, and one write partitioned by
    their table feeds both output commits. The source read infers no
    schema (the log holds it), and the rows and violations are observed on
    that write. A counting action, a cache, a second write, or a cursor
    probe or read that touches data, shows up here."""
    res, jobs = _ticks(spark, tmp_path, 1)(lambda fn: _jobs(spark, fn))
    assert res["rows"] == 500 and res["violations"] > 0
    assert jobs == 1


def test_warm_tick_compiles_no_code(spark, tmp_path):
    """A second warm tick compiles no generated class: its generated code
    equals the previous tick's, because the log rows'
    ``current_timestamp()``/``current_date()`` sit in the interpreted
    ``transform`` lambda instead of being inlined into generated code as
    long/int literals, which made every tick miss the code cache."""
    codegen = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME())
    tick = _ticks(spark, tmp_path, 2)
    before = codegen.getCount()
    assert tick()["rows"] == 500
    assert codegen.getCount() - before == 0


def test_pipeline_units_cache_nothing(spark, tmp_path, monkeypatch):
    """A tick, a ``run_validation`` bucket and a stream batch cache no plan:
    Spark's ``CacheManager`` is empty at every log commit of their one
    write and after they return."""
    from events_validator_spark.plans.pipeline import run_validation
    from events_validator_spark.sources.catalog import Lakehouse
    from events_validator_spark.sources.synthetic import (
        DOC_RULES, interleaved_docs,
    )
    from events_validator_spark.streaming.stream import run_stream_pipeline

    def empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    seen = []
    orig = Lakehouse._commit

    def commit(self, table, snaps):
        seen.append((table, empty()))
        orig(self, table, snaps)

    monkeypatch.setattr(Lakehouse, "_commit", commit)
    _ticks(spark, tmp_path, 1)
    docs = interleaved_docs(spark, 200)
    run_validation(docs, DOC_RULES, str(tmp_path / "run"), n_buckets=2)
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    run_stream_pipeline(spark, src, docs.schema, DOC_RULES,
                        str(tmp_path / "stream"),
                        checkpoint_dir=str(tmp_path / "ck"))
    assert {t for t, _ in seen} >= {"docs_violations", "docs_verdicts",
                                    "violations", "verdicts"}
    assert all(ok for _, ok in seen) and empty(), seen


def test_lakehouse_reads_launch_no_spark_job(spark, tmp_path):
    """``read`` and ``read_since`` build their DataFrame from the schema the
    log recorded at commit time: no footer-inference job."""
    from events_validator_spark.sources.catalog import Lakehouse
    from events_validator_spark.sources.synthetic import interleaved_docs
    lh = Lakehouse(spark, str(tmp_path / "lake"))
    s1 = lh.append("docs", interleaved_docs(spark, 50))
    lh.append("docs", interleaved_docs(spark, 50))
    for read in (lambda: lh.read("docs"),
                 lambda: lh.read("docs", as_of=s1),
                 lambda: lh.read_since("docs", s1)[0],
                 lambda: lh.read_since("docs", None, until=s1)[0]):
        df, jobs = _jobs(spark, read)
        assert "spans" in df.columns and jobs == 0


@pytest.mark.parametrize("bucket_col", [None, "bucket"])
def test_run_validation_spark_jobs_per_bucket(spark, tmp_path, bucket_col):
    """``run_validation`` runs 1 Spark job per bucket, the one write that
    feeds its violations and verdicts commits; the bucket's rows,
    violations and passed counts are observed on that write. The
    partition-column path adds one ``distinct`` over the bucket labels (2
    jobs under AQE)."""
    from events_validator_spark.plans.pipeline import run_validation
    from events_validator_spark.sources.synthetic import (
        DOC_RULES, interleaved_docs,
    )
    docs = interleaved_docs(spark, 400).withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(3)))
    m, jobs = _jobs(spark, lambda: run_validation(
        docs, DOC_RULES, str(tmp_path / "out"), n_buckets=3,
        bucket_col=bucket_col))
    assert sum(x["rows"] for x in m["metrics"]) == 400
    assert len(m["completed"]) == 3
    assert jobs == 3 + (0 if bucket_col is None else 2)


def test_psi_spark_jobs(spark):
    """``psi_two_cohorts`` runs 3 Spark jobs with bounds (its per-bucket
    count_if aggregate, then ``_psi``'s one global aggregate and its
    result) and 5 without (plus the min/max probe); ``categorical_psi``
    keeps its distributed sum (no category array in one task): 5."""
    from events_validator_spark.operators import drift
    df = spark.range(2000).select(
        (F.col("id") % 12).alias("x"), (F.col("id") % 2 == 0).alias("c"),
        (F.col("id") % 5).cast("string").alias("k"))
    for run, want in (
            (lambda: drift.psi_two_cohorts(df, "x", F.col("c"), nbins=12,
                                           lo=0.0, hi=12.0), 3),
            (lambda: drift.psi_two_cohorts(df, "x", F.col("c"), nbins=12), 5),
            (lambda: drift.categorical_psi(df, "k", F.col("c")), 5)):
        rows, jobs = _jobs(spark, lambda: run().collect())
        assert rows[0]["psi"] is not None and jobs == want


def test_referential_scan_reads_only_media_ref(spark, tmp_path):
    """The span check explodes ``spans.media_ref``, so nested schema pruning
    leaves the docs scan only that field of each span."""
    from events_validator_spark.operators import referential
    from events_validator_spark.sources.synthetic import (
        interleaved_docs, media_catalog,
    )
    interleaved_docs(spark, 200).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    df = referential.referential_violations_spans(
        docs, media_catalog(spark, 50))
    plan = df._jdf.queryExecution().executedPlan().toString()
    schemas = [ln.split("ReadSchema: ")[1] for ln in plan.splitlines()
               if "ReadSchema: " in ln]
    assert schemas == [
        "struct<doc_id:string,spans:array<struct<media_ref:string>>>"], plan


def _node_count(e) -> int:
    ch = e.children()
    return 1 + sum(_node_count(ch.apply(i)) for i in range(ch.size()))


def _forall_bodies(df) -> list:
    """The lambda bodies of every ``forall`` in the optimized plan."""
    out = []

    def visit(e):
        if e.nodeName() == "forall":
            out.append(e.function().function())
        ch = e.children()
        for i in range(ch.size()):
            visit(ch.apply(i))

    def walk(p):
        ex, ch = p.expressions(), p.children()
        for i in range(ex.size()):
            visit(ex.apply(i))
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def test_typed_gate_is_minimal(spark, tmp_path):
    """On stored docs the optimized ``validate_typed(docs, DOC_RULES)`` binds
    no plain column in a ``transform(array(…))`` let, and its clean-element
    gate is no larger than the hand-written minimal predicate: the enum
    alone for ``kind``, an unguarded regex for the optional ``media_ref``
    and presence for ``offset``. Blank is the JS trim's blank
    (``js_trim_sql``)."""
    import re
    from events_validator_spark.functions.js_compat import js_trim_sql
    from events_validator_spark.operators.validation import validate_typed
    from events_validator_spark.sources.synthetic import (
        DOC_RULES, interleaved_docs,
    )
    interleaved_docs(spark, 100).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    out = validate_typed(docs, DOC_RULES)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"transform\(array\((lambda )?\w+#\d+(\.\w+)*\)",
                         plan), plan
    [gate] = _forall_bodies(out)
    pattern = DOC_RULES["spans"]["nestedSchema"]["media_ref"]["regex"]
    [minimal] = _forall_bodies(docs.select(F.expr(
        "forall(spans, s -> coalesce(s.kind IN ('text', 'media'), false) "
        f"AND (s.media_ref IS NULL OR s.media_ref RLIKE '{pattern}' "
        f"OR {js_trim_sql('s.media_ref')} = '') "
        "AND s.offset IS NOT NULL)")))
    assert _node_count(gate) <= _node_count(minimal), gate.sql()


def test_lsh_topk_dedups_bare_id_pairs(spark):
    """``lsh_topk`` deduplicates the candidates of its ``n_tables``
    signature joins as bare ``(query_id, neighbor_id)`` pairs: no vector or
    norm column reaches the dedup aggregate, and vectors and norms join
    after it."""
    import numpy as np

    from events_validator_spark.operators import similarity
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(rng.standard_normal((40, 8)))]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.where("vec_id < 4").withColumnRenamed("vec_id",
                                                           "query_id")
    out = similarity.lsh_topk(corpus, queries, k=3, dim=8, n_planes=3)
    inputs = []

    def walk(p):
        if p.nodeName() == "Aggregate":
            out_ = p.child().output()
            inputs.append([out_.apply(i).name() for i in range(out_.size())])
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(out._jdf.queryExecution().optimizedPlan())
    assert inputs, "no dedup aggregate"
    vectors = {"__qvec", "__cvec", "__qn", "__cn"}
    assert all(not vectors & set(names) for names in inputs), inputs
    assert 0 < len(out.collect()) <= 12


def test_duplicate_keys_is_one_aggregate(spark):
    """``duplicate_keys`` counts in one aggregate: map-side partial counts,
    then a single shuffle Exchange on the key, whatever ``n_salts`` says
    (no salted second phase)."""
    from events_validator_spark.operators import uniqueness
    df = spark.range(1000).select((F.col("id") % 7).alias("k"))
    plan = uniqueness.duplicate_keys(df, ["k"], n_salts=64) \
        ._jdf.queryExecution().executedPlan().treeString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_one_executor_python_site():
    """Only ``operators/similarity.py`` starts a Python worker (a pandas or
    Arrow UDF, or a Python map/apply over groups) or imports numpy or
    pandas; every other operator is native Spark."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "events_validator_spark"
    site = re.compile(r"pandas_udf|mapInPandas|mapInArrow|applyInPandas"
                      r"|udf\(|^\s*(import|from) (numpy|pandas)\b", re.M)
    hits = sorted(str(f.relative_to(pkg)) for f in pkg.rglob("*.py")
                  if site.search(f.read_text()))
    assert hits == ["operators/similarity.py"], hits
