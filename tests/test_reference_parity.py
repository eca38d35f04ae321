"""Reference-parity operators: multi-schema dispatch (J1), repo lookups (J2/J3),
request gating (V13), payload/valid-field flags (V15), rules loading (S3/S4),
and — when the reference seed corpus is present — the 36 GA4 schemas as
realistic rule specs driven through the Spark↔oracle differential."""

import json
import os

import pyspark.sql.functions as F
import pytest

from events_validator_spark.js_oracle import check_with_schema
from events_validator_spark.operators.schema_sync import (
    check_schema_health, find_impacted_schemas,
)
from events_validator_spark.operators.validation import (
    request_gate, validate_multi,
)
from events_validator_spark.sources.rules_loader import (
    load_repo, load_rules, load_rules_dir,
)

GA4_DIR = "/root/reference/terraform_backend/src/GA4 Recommended/schemas"
GA4_REPO_DIR = "/root/reference/terraform_backend/src/GA4 Recommended"

RULES_BY_TYPE = {
    "purchase": {"k": {"type": "number"},
                 "amount": {"type": "number"}},
    "error": {"k": {"type": "number", "regex": "^[0-9]{2}$"},
              "code": {"type": "string"}},
    "click": {"k": {"type": "number", "optional": True}},
}


def test_validate_multi_json_dispatch(spark):
    rows = [
        (1, "purchase", '{"k": 5, "amount": 9.99}'),
        (2, "purchase", '{"k": 5}'),                  # missing amount
        (3, "error", '{"k": 5}'),                     # regex + missing code
        (4, "click", '{}'),                           # optional k absent → valid
        (5, "unknown_type", '{"k": 1}'),              # no schema → 404
    ]
    df = spark.createDataFrame(rows, ["id", "event_type", "props"])
    out = validate_multi(df, RULES_BY_TYPE, "event_type", json_col="props")
    got = {r["id"]: (r["status"], None if r["violations"] is None else
                     [tuple(v) for v in r["violations"]])
           for r in out.collect()}
    assert got[1] == ("valid", [])
    assert got[2][0] == "validation_failed"
    assert ("amount", "missing", "field present", "field missing") in got[2][1]
    assert got[3][0] == "validation_failed"
    assert ("k", "regex", "^[0-9]{2}$", "5") in got[3][1]
    assert ("code", "missing", "field present", "field missing") in got[3][1]
    assert got[4] == ("valid", [])
    assert got[5] == ("schema_not_found", None)
    # dispatch agrees with per-type oracle
    for r in spark.createDataFrame(rows, ["id", "event_type", "props"]).collect():
        if r["event_type"] in RULES_BY_TYPE:
            expected = check_with_schema(RULES_BY_TYPE[r["event_type"]],
                                         json.loads(r["props"]))
            assert got[r["id"]][1] == expected


def test_validate_multi_union_equivalent(spark, per_type_union):
    rows = [
        (1, "purchase", '{"k": 5, "amount": 9.99}'),
        (2, "purchase", '{"k": 5}'),
        (3, "error", '{"k": 5}'),
        (4, "click", '{}'),
        (5, "unknown_type", '{"k": 1}'),
        (6, None, '{"k": 1}'),
    ]
    df = spark.createDataFrame(rows, ["id", "event_type", "props"])
    chain = validate_multi(df, RULES_BY_TYPE, "event_type", json_col="props")
    union = per_type_union(df, RULES_BY_TYPE, "event_type", "props")
    def norm(out):
        return {r["id"]: (r["status"],
                          None if r["violations"] is None
                          else sorted(tuple(v) for v in r["violations"]))
                for r in out.collect()}
    assert norm(chain) == norm(union)
    assert norm(union)[6][0] == "schema_not_found"


def test_ivf_topk(spark):
    import numpy as np
    rng = np.random.default_rng(5)
    # clustered corpus: 4 clusters of 40 vectors
    centers = rng.standard_normal((4, 16)) * 5
    vecs = np.vstack([c + rng.standard_normal((40, 16)) for c in centers])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    import pyspark.sql.functions as F
    queries = (corpus.where(F.col("vec_id").isin([0, 45, 90]))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    from events_validator_spark.operators.similarity import brute_force_topk, ivf_topk
    exact = brute_force_topk(corpus, queries, k=5)
    approx = ivf_topk(corpus, queries, k=5, n_cells=4, n_probe=2)
    def tops(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out
    e, a = tops(exact), tops(approx)
    # with clustered data and 2 probes, IVF recall should be high
    recall = sum(len(e[q] & a[q]) for q in e) / sum(len(e[q]) for q in e)
    assert recall >= 0.8, (recall, e, a)


def test_request_gate(spark):
    df = spark.createDataFrame(
        [(1, "purchase", "x"), (2, None, "x"), (3, "  ", "x"), (4, "ok", None)],
        ["id", "event_type", "payload"])
    got = {r["id"]: r["gate_status"]
           for r in request_gate(df, "event_type",
                                 required_cols=["payload"]).collect()}
    assert got == {1: "ok", 2: "invalid_request", 3: "invalid_request",
                   4: "invalid_request"}


def test_rules_meta_joins():
    repo = {
        "currency": {"type": "string", "description": "ISO code",
                     "usedInSchemas": ["purchase", "refund"]},
        "value": {"type": "number", "description": "amount",
                  "usedInSchemas": ["purchase"]},
    }
    schemas = {
        "purchase": {"currency": {"type": "string", "description": "ISO code"},
                     "value": {"type": "string"},          # type drift
                     "rogue": {"type": "string"}},          # not in repo
        "refund": {"currency": {"type": "string",
                                "description": "3-letter code"}},  # desc drift
    }
    assert find_impacted_schemas("currency", repo) == ["purchase", "refund"]
    # a corpus-wide report is one check per schema (explorer.py:51-53);
    # purchase.currency is in sync, so it is in neither list, and
    # (updater.py:164-165) the unknown purchase.rogue is SKIPPED
    health = {name: check_schema_health(s, repo)
              for name, s in schemas.items()}
    assert health["purchase"] == {"critical": ["value"], "minor": []}
    assert health["refund"] == {"critical": [], "minor": ["currency"]}


def test_schema_health_reference_parity():
    """Pin the updater.py:151-217 parity points: sentinel/'Any'
    normalisation, float-tolerant numeric compare, nestedSchema drift."""
    repo = {
        "price": {"type": "number", "description": "d", "value": "0.0"},
        "note": {"type": "string", "description": "d", "value": "Any"},
        "items": {"type": "array", "description": "d", "nestedSchema": {
            "id": {"type": "string", "description": "x"},
            "qty": {"type": "number", "description": "y"}}},
        "tags": {"type": "array", "description": "d", "nestedSchema": {
            "id": {"type": "string", "description": "x"}}},
    }
    schemas = {"ev": {
        "price": {"type": "number", "description": "d", "value": 0},  # 0.0==0
        "note": {"type": "string", "description": "d"},        # Any == absent
        "items": {"type": "array", "description": "d", "nestedSchema": {
            "id": {"type": "string", "description": "x"},
            "qty": {"type": "string", "description": "y"}}},   # nested type
        "tags": {"type": "array", "description": "d", "nestedSchema": {
            "id": {"type": "string", "description": "x"},
            "extra": {"type": "string", "description": ""}}},  # nested keyset
    }}
    # price and note are in sync (in neither list); items and tags drift
    assert check_schema_health(schemas["ev"], repo) == {
        "critical": [], "minor": ["items", "tags"]}


def test_pipeline_flags(spark, tmp_path):
    from events_validator_spark.plans import pipeline
    from events_validator_spark.sources.catalog import Lakehouse
    from events_validator_spark.sources.synthetic import DOC_RULES, interleaved_docs
    docs = interleaved_docs(spark, 300)
    out = str(tmp_path / "flags")
    pipeline.run_validation(docs, DOC_RULES, out, n_buckets=2,
                            log_payload_when_error=True,
                            log_valid_fields=True)
    viol = Lakehouse(spark, out).read("violations")
    err = viol.where(F.col("status") == "error")
    ok = viol.where(F.col("status") == "valid")
    assert err.count() > 0 and ok.count() > 0
    # payload attached on error rows and parses back to the doc
    sample = err.first()
    payload = json.loads(sample["event_data"])
    assert payload["doc_id"] == sample["event_id"]
    # valid rows never name a field that has an error row for the same doc
    bad = (ok.select("event_id", F.col("field").alias("ok_field"))
           .join(err.select("event_id",
                            F.regexp_extract("field", r"^[^.\[]+", 0)
                            .alias("ok_field")).distinct(),
                 ["event_id", "ok_field"], "inner"))
    assert bad.count() == 0


@pytest.mark.skipif(not os.path.isdir(GA4_DIR),
                    reason="reference seed corpus not present")
def test_ga4_corpus_multi_schema(spark):
    """The reference's 36 GA4 seed schemas (read in place, never copied) as
    realistic rule specs: synthetic events per schema, Spark vs oracle."""
    rules_by_name = load_rules_dir(GA4_DIR)
    assert len(rules_by_name) >= 30
    assert load_rules(os.path.join(GA4_DIR, "__nope__.json")) is None  # 404
    repo = load_repo(GA4_REPO_DIR)
    assert repo and "usedInSchemas" in next(iter(repo.values()))

    # build one valid-ish and one broken event per schema, deterministically
    def sample_value(rule, broken):
        t = rule.get("type")
        if "value" in rule and not broken:
            return rule["value"]
        if t == "string":
            return 123 if broken else "xyz"
        if t == "number":
            return "not a number" if broken else 7
        if t == "boolean":
            return "true" if broken else True
        if t == "array":
            nested = rule.get("nestedSchema")
            if nested and not broken:
                return [{k: sample_value(r, False) for k, r in nested.items()}]
            return "nope" if broken else ["a"]
        if t == "object":
            nested = rule.get("nestedSchema") or {}
            return ([] if broken else
                    {k: sample_value(r, False) for k, r in nested.items()})
        return None

    rows, expected = [], {}
    i = 0
    for name, rules in sorted(rules_by_name.items()):
        for broken in (False, True):
            ev = {k: sample_value(r, broken) for k, r in rules.items()
                  if k != "version" and isinstance(r, dict)}
            if broken and ev:
                ev.pop(sorted(ev)[0])  # also drop a key → missing row
            rows.append((i, name, json.dumps(ev)))
            expected[i] = check_with_schema(rules, ev)
            i += 1
    df = spark.createDataFrame(rows, ["id", "event_name", "props"])
    out = validate_multi(df, rules_by_name, "event_name", json_col="props")
    got = {r["id"]: [tuple(v) for v in r["violations"]]
           for r in out.collect()}
    mismatches = {k: (got[k], expected[k]) for k in expected
                  if got[k] != expected[k]}
    assert not mismatches, f"{len(mismatches)} GA4 mismatches: " \
                           f"{list(mismatches.items())[:2]}"
    # at least some broken events actually produced violations
    assert sum(bool(v) for v in got.values()) >= len(rules_by_name)
