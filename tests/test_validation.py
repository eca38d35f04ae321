"""M1: the Spark rule compiler must match the pure-Python JS-semantics oracle
row-for-row — on the VARIANT (JSON) path with full fidelity, and on the typed
path under the documented NULL⇒absent mapping.
"""

import json
import random

import pytest

from events_validator_spark.js_oracle import check_with_schema
from events_validator_spark.operators.validation import validate_json, validate_typed
from events_validator_spark.sources.synthetic import (
    DOC_RULES, interleaved_docs, row_to_event,
)

RULES = {
    "event_name": {"type": "string", "value": "purchase"},
    "version": {"type": "number", "value": 1},
    "currency": {"type": "string"},
    "value": {"type": "number"},
    "promo_code": {"type": "string", "optional": True},
    "tracking_id": {"type": "string", "regex": "^trk_[0-9]{6}$"},
    "tags": {"type": "array", "length": 3},
    "flag": {"type": "boolean", "optional": True},
    "kind": {"type": "string", "enum": ["a", "b"], "optional": True},
    "items": {
        "type": "array",
        "nestedSchema": {
            "item_id": {"type": "string"},
            "price": {"type": "number"},
            "in_stock": {"type": "boolean"},
        },
    },
    "user_info": {"type": "object", "nestedSchema": {"user_id": {"type": "string"}}},
}

QUIRK_EVENTS = [
    {"event_name": "purchase", "currency": "USD", "value": 9.99,
     "tracking_id": "trk_123456", "tags": ["a", "b", "c"],
     "items": [{"item_id": "i1", "price": 1.5, "in_stock": True}],
     "user_info": {"user_id": "u1"}},
    {},                                                    # everything missing
    {"event_name": None, "currency": None, "value": None, "tracking_id": None,
     "tags": None, "items": None, "user_info": None},      # everything JSON-null
    {"event_name": "purchase", "currency": "", "value": "9.99",
     "tracking_id": "nope", "tags": ["a", "b"],
     "items": ["scalar", {"item_id": 5, "price": "x", "in_stock": 0}, None],
     "user_info": []},
    {"event_name": 1, "currency": "   ", "value": True, "tracking_id": 123456,
     "tags": "abc", "items": [[1, 2]], "user_info": {"user_id": ""}},
    {"event_name": "purchase", "version": "anything", "currency": "EUR",
     "value": 0, "tracking_id": "xx trk_000000 yy", "tags": ["x", "y", "z"],
     "promo_code": "", "flag": None, "kind": "c",
     "items": [], "user_info": {"user_id": "u", "extra": 1}},
]


def _rand_value(rng, depth=0):
    choices = ["str", "int", "float", "bool", "null", "empty", "ws"]
    if depth < 5:    # arrays nest to depth 5, objects to depth 2
        choices += ["arr", "obj"] if depth < 2 else ["arr"]
    c = rng.choice(choices)
    if c == "str":
        return rng.choice(["trk_000000", "abc", "purchase", "1", "a,b"])
    if c == "int":
        return rng.randint(-5, 5)
    if c == "float":
        return rng.choice([1.0, 9.99, -0.5, 0.0])
    if c == "bool":
        return rng.choice([True, False])
    if c == "null":
        return None
    if c == "empty":
        return ""
    if c == "ws":    # JS whitespace, and two characters JS does not trim
        return rng.choice(["  ", "\t", " \n ", "\xa0", "\u3000", "\ufeff",
                           "\x1c", "\x85"])
    if c == "arr":
        return [_rand_value(rng, depth + 1) for _ in range(rng.randint(0, 4))]
    return {k: _rand_value(rng, depth + 1)
            for k in rng.sample(["item_id", "price", "in_stock", "user_id", "x"],
                                rng.randint(0, 3))}


def _rand_events(n, seed=42):
    rng = random.Random(seed)
    keys = list(RULES.keys()) + ["extra"]
    out = []
    for _ in range(n):
        ev = {k: _rand_value(rng) for k in rng.sample(keys, rng.randint(0, len(keys)))}
        out.append(ev)
    return out


def _spark_violations(spark, events, rules):
    df = spark.createDataFrame([(i, json.dumps(e)) for i, e in enumerate(events)],
                               ["i", "props"])
    out = validate_json(df, rules, "props").select("i", "violations").collect()
    return {r["i"]: [tuple(x) for x in r["violations"]] for r in out}


@pytest.mark.parametrize("batch", ["quirks", "random"])
def test_variant_path_matches_oracle(spark, batch):
    events = QUIRK_EVENTS if batch == "quirks" else _rand_events(120)
    got = _spark_violations(spark, events, RULES)
    for i, ev in enumerate(events):
        expected = check_with_schema(RULES, ev)
        assert got[i] == expected, (
            f"event #{i} mismatch\nevent:    {ev!r}\n"
            f"spark:    {got[i]!r}\noracle:   {expected!r}")


def test_typed_path_matches_oracle_on_interleaved_docs(spark):
    docs = interleaved_docs(spark, 400)
    rows = validate_typed(docs, DOC_RULES).collect()
    n_violating = 0
    for r in rows:
        event = row_to_event(r)
        event.pop("violations", None)
        expected = check_with_schema(DOC_RULES, event)
        got = [tuple(x) for x in r["violations"]]
        assert got == expected, (
            f"doc mismatch\ndoc:    {event!r}\nspark:  {got!r}\noracle: {expected!r}")
        n_violating += bool(got)
    # the generator must actually inject anomalies
    assert n_violating > 0


def test_typed_deep_array_value_matches_oracle(spark):
    """A value check reads the JS toString of a typed array of any depth:
    ``[[[1]]]`` prints as '1', so it passes ``value: "1"`` as in JS."""
    df = spark.createDataFrame(
        [(1, [[[1]]], [[[[1]]]]), (2, [[[1], [2]]], [[[[None]]]]),
         (3, [[], [[1]]], [[[[1], []]]])],
        "i int, k array<array<array<int>>>, "
        "m array<array<array<array<int>>>>")
    rules = {"k": {"type": "array", "value": "1"},
             "m": {"type": "array", "value": "1,"}}
    for r in validate_typed(df, rules).collect():
        event = row_to_event(r)
        event.pop("violations", None)
        assert [tuple(x) for x in r["violations"]] == \
            check_with_schema(rules, event), event


def test_variant_deep_array_value_matches_oracle(spark):
    """A value check reads the JS toString of a JSON array of any depth up
    to the bound: ``[1,[2,[3,[4,[5]]]]]`` prints '1,2,3,4,5'."""
    rules = {"k": {"type": "array", "value": "1,2,3,4,5"},
             "e": {"type": "array", "enum": ["1", ","], "optional": True}}
    events = [{"k": [1, [2, [3, [4, [5]]]]], "e": [[[[[1]]]]]},
              {"k": [[[[[1, 2]]]], 3, [[[4]]], 5], "e": [[[[[]]]], []]},
              {"k": [[[[[1]]]], [], 2], "e": [[[[[None]]]], [[None]]]},
              {"k": [1, 2, 3, 4, [[[[5, []]]]]], "e": [[[[["1"]]]]]}]
    got = _spark_violations(spark, events, rules)
    for i, ev in enumerate(events):
        assert got[i] == check_with_schema(rules, ev), ev
    assert got[0] == [] and got[1] == []


def test_variant_array_beyond_depth_bound_fails_closed(spark):
    """An array nested deeper than validation_sql.D prints as JS undefined:
    the value check fails it with actual NULL, never on a wrong string
    (JS itself prints '7'; a documented bound)."""
    from events_validator_spark.operators.validation_sql import D
    deep = 7
    for _ in range(D + 1):
        deep = [deep]
    rules = {"k": {"type": "array", "value": "7"}}
    assert _spark_violations(spark, [{"k": deep}], rules)[0] == \
        [("k", "value", "7", None)]


@pytest.mark.parametrize("path", ["json", "typed"])
def test_blank_is_js_whitespace(spark, path):
    """Blank means empty after JS ``String.prototype.trim``: ECMA-262
    whitespace and line terminators (tab, newline, no-break space, U+3000,
    U+FEFF, ...), but not U+001C or U+0085. A required string, an optional
    key's skip, a regex's ``empty_value`` and a typed element's clean gate
    (R3, the enum holds a blank member) all read the same set; the oracle
    agrees."""
    rules = {"k": {"type": "string"}, "o": {"type": "number", "optional": True},
             "r": {"regex": "^x"},
             "a": {"type": "array", "nestedSchema": {
                 "m": {"type": "string", "enum": ["\ufeff", "\x85", "b"]}}}}
    blank = ["\t", "\n", " \t ", "\r\n", "\xa0", "\u3000", "\ufeff",
             "\u2028", "\v\f"]
    not_blank = ["\x1c", "\x85", "\u200b"]
    events = [{"k": s, "o": s, "r": s, "a": [{"m": s}]}
              for s in blank + not_blank]
    if path == "json":
        got = _spark_violations(spark, events, rules)
    else:
        df = spark.createDataFrame(
            [(i, e["k"], e["o"], e["r"], [(e["a"][0]["m"],)])
             for i, e in enumerate(events)],
            "i int, k string, o string, r string, a array<struct<m:string>>")
        got = {r["i"]: [tuple(x) for x in r["violations"]]
               for r in validate_typed(df, rules).collect()}
    for i, ev in enumerate(events):
        s = ev["k"]
        if s in blank:
            want = [("k", "type", "non-empty string", "empty string"),
                    ("r", "regex", "^x", "empty_value"),
                    ("a[0].m", "type", "non-empty string", "empty string")]
            if s != "\ufeff":
                want.append(("a[0].m", "enum", "\ufeff,\x85,b", s))
        else:
            want = [("o", "type", "number", "string"), ("r", "regex", "^x", s)]
            if s != "\x85":
                want.append(("a[0].m", "enum", "\ufeff,\x85,b", s))
        assert check_with_schema(rules, ev) == want, repr(s)
        assert got[i] == want, repr(s)


def test_json_nesting_bound(spark):
    """The JSON parser accepts 1,000 nesting levels: 999 arrays under a key
    (1,000 with the enclosing object) parse, 1,000 are malformed JSON
    (``invalid_request`` at ``$``), where JS parses both."""
    rules = {"k": {"type": "array"}}
    df = spark.createDataFrame(
        [(d, '{"k": ' + "[" * d + "]" * d + "}") for d in (999, 1000)],
        "i int, props string")
    got = {r["i"]: [tuple(x) for x in r["violations"]]
           for r in validate_json(df, rules, "props").collect()}
    assert got == {999: [], 1000: [("$", "invalid_request",
                                    "well-formed JSON", "malformed JSON")]}


def test_malformed_json_does_not_abort(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, '{not json'), (3, None)], ["i", "props"])
    rules = {"k": {"type": "number"}}
    got = {r["i"]: [tuple(x) for x in r["violations"]]
           for r in validate_json(df, rules, "props").collect()}
    assert got[1] == []
    assert got[2] == [("$", "invalid_request", "well-formed JSON",
                       "malformed JSON")]
    # NULL payload: no JSON at all → every required key is missing (JS: no body)
    assert got[3] == [("k", "missing", "field present", "field missing")]


def test_violation_content_examples(spark):
    events = [{"currency": "", "value": None,
               "items": ["s"], "tracking_id": "bad"}]
    rules = {"currency": {"type": "string"}, "value": {"type": "number"},
             "tracking_id": {"regex": "^trk_"},
             "items": {"type": "array", "nestedSchema": {"q": {"type": "number"}}}}
    got = _spark_violations(spark, events, rules)[0]
    assert ("currency", "type", "non-empty string", "empty string") in got
    assert ("value", "type", "number", "object") in got
    assert ("tracking_id", "regex", "^trk_", "bad") in got
    assert ("items[0].q", "missing", "field present", "field missing") in got


def test_length_falsy_coercion_variant(spark):
    # JS (v || []).length (js:78): false/0/NaN coerce to [] -> length 0
    rules = {"f": {"length": 0}}
    events = [{"f": False}, {"f": 0}, {"f": 0.0}, {"f": True}, {"f": 5},
              {"f": None}]
    got = _spark_violations(spark, events, rules)
    assert got[0] == got[1] == got[2] == got[5] == []
    assert got[3] == [("f", "length", "0", None)]  # true.length === undefined
    assert got[4] == [("f", "length", "0", None)]
    for i, e in enumerate(events):
        assert check_with_schema(rules, e) == got[i]
    # non-zero expected length: falsy value reports actual 0
    got2 = _spark_violations(spark, [{"f": False}], {"f": {"length": 2}})[0]
    assert got2 == [("f", "length", "2", "0")]
    assert check_with_schema({"f": {"length": 2}}, {"f": False}) == got2


def test_length_falsy_coercion_typed(spark):
    from events_validator_spark.operators.validation import validate_typed
    df = spark.createDataFrame([(False, 0, 1)], "b boolean, n long, m long")
    rules = {"b": {"length": 0}, "n": {"length": 0}, "m": {"length": 0}}
    rows = validate_typed(df, rules).collect()[0]["violations"]
    assert [tuple(x) for x in rows] == [("m", "length", "0", None)]


def test_array_of_array_recurses_directly(spark):
    # js:41-45: a list element is typeof 'object' -> direct recursion; every
    # nested key (including '') is then missing. Scalars still get the wrap.
    rules = {"items": {"type": "array",
                       "nestedSchema": {"": {"type": "string"},
                                        "k": {"type": "number"}}}}
    event = {"items": [["x"], "s", {"": "y", "k": 1}]}
    expected = [
        ("items[0].", "missing", "field present", "field missing"),
        ("items[0].k", "missing", "field present", "field missing"),
        ("items[1].k", "missing", "field present", "field missing"),
    ]
    assert check_with_schema(rules, event) == expected
    assert _spark_violations(spark, [event], rules)[0] == expected


def test_array_of_array_typed_path(spark):
    from events_validator_spark.operators.validation import validate_typed
    df = spark.createDataFrame([([["x"], ["y"]],)], "items array<array<string>>")
    rules = {"items": {"type": "array",
                       "nestedSchema": {"": {"type": "string"}}}}
    rows = validate_typed(df, rules).collect()[0]["violations"]
    assert [tuple(x) for x in rows] == [
        ("items[0].", "missing", "field present", "field missing"),
        ("items[1].", "missing", "field present", "field missing"),
    ]


def test_validate_multi_malformed_json_chain_equals_union(spark, per_type_union):
    from events_validator_spark.operators.validation import validate_multi
    rules_by = {"a": {"k": {"type": "number"}},
                "b": {"k": {"type": "string"}}}
    df = spark.createDataFrame(
        [(1, "a", '{"k": 1}'), (2, "a", "{nope"), (3, "zz", "{nope"),
         (4, "b", '{"k": 1}')],
        ["i", "name", "props"])
    for fn in (validate_multi, per_type_union):
        out = {r["i"]: (r["status"],
                        [tuple(x) for x in (r["violations"] or [])])
               for r in fn(df, rules_by, "name", "props").collect()}
        assert out[1] == ("valid", []), fn.__name__
        assert out[2] == ("validation_failed",
                          [("$", "invalid_request", "well-formed JSON",
                            "malformed JSON")]), fn.__name__
        assert out[3][0] == "schema_not_found", fn.__name__
        assert out[4] == ("validation_failed",
                          [("k", "type", "string", "number")]), fn.__name__


def test_bad_regex_rejected_at_compile_time(spark):
    df = spark.createDataFrame([(1, '{"k": "x"}')], ["i", "props"])
    with pytest.raises(ValueError, match="does not compile"):
        validate_json(df, {"k": {"regex": "[a-"}}, "props")


# In-repo multi-type corpus: GA4-shaped rule sets sharing parameters, with
# every rule kind, nested items, a numeric coupon rule and a NaN value rule.
MULTI_RULES = {
    "purchase": {
        "currency": {"type": "string", "regex": "^[A-Z]{3}$"},
        "value": {"type": "number"},
        "transaction_id": {"type": "string"},
        "coupon": {"type": "string", "optional": True},
        "shipping": {"type": "number", "value": 1e22},
        "items": {"type": "array", "nestedSchema": {
            "item_id": {"type": "string"},
            "quantity": {"type": "number", "optional": True},
            "": {"type": "number", "optional": True}}},
    },
    "refund": {
        "currency": {"type": "string", "enum": ["USD", "EUR"]},
        "value": {"type": "number", "value": float("nan")},
        "transaction_id": {"type": "string", "length": 0},
        "items": {"type": "array", "nestedSchema": {
            "item_id": {"type": "string"},
            "price": {"type": "number", "value": 1.5}}},
    },
    "view_item": {
        "version": {"type": "number"},
        "value": {"type": "number"},
        "coupon": {"type": "number", "value": 17},
        "items": {"type": "array", "length": 3},
        "user_info": {"type": "object",
                      "nestedSchema": {"user_id": {"type": "string"}}},
    },
}

MULTI_PAYLOADS = [
    '{"currency": "USD", "value": 9.5, "transaction_id": "", '
    '"items": [{"item_id": 3, "quantity": "x"}, 7, null], '
    '"shipping": 1e22, "coupon": 17}',
    '{"currency": "usd", "value": "9.5", "transaction_id": "t1", '
    '"items": [{"item_id": "a", "price": 1.5}, {"": 2}], "shipping": 1e21, '
    '"coupon": "", "user_info": {"user_id": ""}}',
    '{"currency": "EUR", "value": 0, "items": [], "coupon": 17.0, '
    '"user_info": null}',
    '{"items": "nope", "user_info": [], "shipping": 10000000000000000000000}',
    '{"currency": "USD", "value": 3, "transaction_id": "t", "shipping": '
    '1e22, "coupon": "SAVE", "items": [{"item_id": "a", "quantity": 2}, '
    '{"item_id": "b", "": 1}], "user_info": {"user_id": "u"}}',
    '{"value": 3, "coupon": 17, "items": [1, 2, 3], '
    '"user_info": {"user_id": "u"}}',
    '{}',
    '{nope',
    None,
]


def test_multi_corpus_matches_oracle(spark):
    """validate_multi over an in-repo multi-type corpus must match the
    oracle row for row: nested items with object/scalar/null elements, '',
    1e22, numeric coupon, NaN value rule, malformed rows, unknown and NULL
    types (the reference's 404), NULL payloads."""
    from events_validator_spark.operators.validation import validate_multi
    names = [*MULTI_RULES, "unknown_type", None]
    rows = [(i * len(names) + j, name, props)
            for i, props in enumerate(MULTI_PAYLOADS)
            for j, name in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, event_name string, props string")
    out = validate_multi(df, MULTI_RULES, "event_name", json_col="props")
    got = {r["id"]: (r["status"], None if r["violations"] is None
                     else [tuple(v) for v in r["violations"]])
           for r in out.collect()}
    invalid = [("$", "invalid_request", "well-formed JSON", "malformed JSON")]
    n_failed = 0
    for i, name, props in rows:
        if name not in MULTI_RULES:
            assert got[i] == ("schema_not_found", None), (name, props)
            continue
        if props == "{nope":
            want = invalid
        else:
            want = check_with_schema(MULTI_RULES[name],
                                     json.loads(props) if props else {})
        status = "validation_failed" if want else "valid"
        assert got[i] == (status, want), (
            f"{name} {props}\nspark:  {got[i]!r}\noracle: {want!r}")
        n_failed += bool(want)
    assert 0 < n_failed < len(MULTI_PAYLOADS) * len(MULTI_RULES)

    # an empty corpus knows no type: every row is schema_not_found
    for json_col in ("props", None):
        empty = validate_multi(df, {}, "event_name", json_col=json_col)
        assert empty.columns == df.columns + ["violations", "status"]
        assert {(r["status"], r["violations"]) for r in empty.collect()} \
            == {("schema_not_found", None)}


def test_helper_columns_never_clobber_input_columns(spark):
    """Staged helper columns are named apart from every input column: an
    input ``__f_note``, ``__ti`` and a json_col named ``__f_parsed`` all come
    back unchanged, with the oracle's violations."""
    from events_validator_spark.operators.validation import validate_multi
    rules = {"k": {"type": "number", "regex": "^[0-9]$"},
             "s": {"type": "string"}}
    rows = [(1, "ev", '{"k": 1, "s": "x"}', "n1", 7),
            (2, "ev", '{"k": "a"}', "n2", 8),
            (3, "ev", "{nope", None, None)]
    df = spark.createDataFrame(
        rows, "id long, name string, __f_parsed string, __f_note string, "
              "__ti int")
    want = {i: check_with_schema(rules, json.loads(p)) for i, _, p, _, _
            in rows if p != "{nope"}
    want[3] = [("$", "invalid_request", "well-formed JSON", "malformed JSON")]
    inputs = {r["id"]: tuple(r) for r in df.collect()}

    single = validate_json(df, rules, "__f_parsed")
    multi = validate_multi(df, {"ev": rules}, "name", json_col="__f_parsed")
    assert single.columns == df.columns + ["violations"]
    assert multi.columns == df.columns + ["violations", "status"]
    for out in (single, multi):
        for r in out.collect():
            assert tuple(r[c] for c in df.columns) == inputs[r["id"]]
            assert [tuple(v) for v in r["violations"]] == want[r["id"]]


def _viol(df):
    return {r["id"]: [tuple(v) for v in r["violations"]] for r in df.collect()}


def test_chain_memo_never_serves_stale_rules(spark):
    """The compiled-check memo must key on rule CONTENT in SPEC ORDER (key
    order sets violation order) and on the field's type: an edited or
    reordered rule set builds fresh checks, and flipping back to the
    original (a memo hit) still yields the original semantics."""
    from events_validator_spark.operators.validation import validate_multi
    df = spark.createDataFrame([(1, "ev", '{"k": 1}')],
                               "id long, event_name string, props string")
    rules_num = {"ev": {"k": {"type": "number"}}}
    rules_str = {"ev": {"k": {"type": "string"}}}
    def status(rules):
        return validate_multi(df, rules, "event_name",
                              json_col="props").collect()[0]["status"]
    assert status(rules_num) == "valid"
    assert status(rules_str) == "validation_failed"   # edit seen, not stale
    assert status(rules_num) == "valid"               # memo hit, not stale

    # key order, top level and nested, on all three entry points
    ab = {"a": {"type": "string"}, "b": {"type": "string"}}
    ba = {"b": {"type": "string"}, "a": {"type": "string"}}
    event = {"items": [{}]}
    payload = spark.createDataFrame([(1, "ev", json.dumps(event))],
                                    "id long, event_name string, props string")
    typed = spark.createDataFrame([(1, [(None, None)])],
                                  "id long, items array<struct<a:string,b:string>>")
    for spec in (ab, ba, ab):
        for rules in ({"items": {"type": "array", "nestedSchema": spec}},
                      {**spec, "items": {"type": "array"}},
                      {"items": {"type": "array"}, **spec}):
            want = check_with_schema(rules, event)
            assert _viol(validate_json(payload, rules, "props"))[1] == want
            assert _viol(validate_multi(payload, {"ev": rules}, "event_name",
                                        json_col="props"))[1] == want
            assert _viol(validate_typed(typed, rules))[1] == want

    # same-named typed columns of different Spark types: own verdicts
    rules = {"k": {"type": "number", "value": 1}}
    as_long = spark.createDataFrame([(1, 1)], "id long, k long")
    as_str = spark.createDataFrame([(1, "1")], "id long, k string")
    assert _viol(validate_typed(as_long, rules))[1] == []
    assert _viol(validate_typed(as_str, rules))[1] == [
        ("k", "type", "number", "string")]
    assert _viol(validate_typed(as_long, rules))[1] == []


def test_typed_memo_hit_is_cheap(spark):
    """A second validate_typed with the same rules on a NEW DataFrame of the
    same schema reuses every compiled check: under 100 py4j round trips
    (building the Column tree cost ~4,300). Only the calling thread's
    commands count: py4j's finalizer thread sends one delete command per
    garbage-collected JavaObject through the same client, at GC's pace."""
    import threading

    from events_validator_spark.operators import validation_sql
    validate_typed(interleaved_docs(spark, 50), DOC_RULES)
    docs = interleaved_docs(spark, 60)
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command
    caller = threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == caller:
            calls.append(1)
        return send(*args, **kwargs)
    memo_size = len(validation_sql._MEMO)
    client.send_command = counting
    try:
        out = validate_typed(docs, DOC_RULES)
    finally:
        del client.send_command
    assert len(calls) < 100, len(calls)
    assert len(validation_sql._MEMO) == memo_size
    rows = out.collect()
    for r in rows:
        event = row_to_event(r)
        event.pop("violations", None)
        assert [tuple(x) for x in r["violations"]] == \
            check_with_schema(DOC_RULES, event)


def test_element_ok_gate_matches_oracle(spark):
    """The typed-array clean-element gate (round 6) must be a pure
    short-circuit: the gated compile matches the JS oracle row for row on a
    corpus covering every anomaly class plus adversarial span shapes (null
    spans array, empty array, null struct element fields, value/length
    rules on nested keys)."""
    docs = interleaved_docs(spark, 20_000)
    # adversarial extras the generator never emits; x5-x9 hit the conjuncts
    # the minimal gate drops (whitespace-only and empty values, a blank
    # enum member, a blank value under a required regex, a required key
    # that is the element's only violation)
    extra = spark.createDataFrame(
        [("x1", None),
         ("x2", []),
         ("x3", [(None, None, None, None)]),
         ("x4", [("media", None, "media_00bad!!!", 0),
                 ("text", "", None, None)]),
         ("x5", [("  ", "  ", "   ", 0)]),
         ("x6", [("", "words", None, 0)]),
         ("x7", [("a", "", None, 0), ("media", " ", "media_0000000a", 0)]),
         ("x8", [("media", "   ", "media_0000000b", 0)]),
         ("x9", [("text", "words", None, None)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    corpus = docs.unionByName(extra)

    rules_extra = {
        "doc_id": DOC_RULES["doc_id"],
        "spans": {
            "type": "array",
            "nestedSchema": {
                "kind": {"type": "string", "enum": ["text", "media"]},
                "text": {"type": "string", "optional": True, "length": 5},
                "media_ref": {"type": "string", "optional": True,
                              "regex": "^media_[0-9a-f]{8}$"},
                "offset": {"type": "number", "value": 0},
            },
        },
    }

    # a blank enum member: the enum no longer implies a non-blank value
    rules_blank_enum = {"spans": {"type": "array", "nestedSchema": {
        "kind": {"type": "string", "enum": ["", "a"]}}}}
    # required keys with a regex that blank values match: only the empty
    # guard reports them
    rules_required_regex = {"spans": {"type": "array", "nestedSchema": {
        "text": {"regex": "^[a-z ]*$"},
        "media_ref": {"type": "string", "regex": "^[a-z0-9_ ]*$"}}}}

    for rules in (DOC_RULES, rules_extra, rules_blank_enum,
                  rules_required_regex):
        violating = set()
        for r in validate_typed(corpus, rules).collect():
            event = row_to_event(r)
            event.pop("violations", None)
            expected = check_with_schema(rules, event)
            got = [tuple(x) for x in r["violations"]]
            assert got == expected, (
                f"doc mismatch\ndoc:    {event!r}\nspark:  {got!r}\n"
                f"oracle: {expected!r}")
            if got:
                violating.add(r["doc_id"])
        assert violating
        assert violating & {"x5", "x6", "x7", "x8", "x9"}
