"""Property-based differential test: hypothesis-generated events and RULE SPECS
must validate identically under the Spark compiler and the pure-Python oracle.

Events are generated in one batch and validated in ONE Spark job (per-example
Spark jobs would be pathologically slow), so hypothesis drives diversity while
Spark cost stays constant.
"""

import json

from hypothesis import given, settings, strategies as st

from events_validator_spark.js_oracle import check_with_schema
from events_validator_spark.operators.validation import validate_json

FIELDS = ["alpha", "beta", "gamma", "delta", ""]

# FULL float range: Number::toString is implemented exactly (shortest digits
# via round-trip search + the ECMA boundary rules), so no range restriction
# remains. NaN/Infinity stay excluded only because JSON cannot carry them.
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False),
    # with JS whitespace (tab, newline, no-break space, U+3000, U+FEFF) and
    # U+0085, which JS does not trim
    st.text(alphabet="ab c_1.ü\t\n\xa0\u3000\ufeff\x85", max_size=8),
)

values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.sampled_from(FIELDS), children, max_size=4)),
    max_leaves=10)

events = st.dictionaries(st.sampled_from(FIELDS), values, max_size=5)


def rule_strategy(depth=0):
    base = {
        "type": st.sampled_from(["string", "number", "boolean", "array",
                                 "object", "weird"]),
        "optional": st.booleans(),
        "required": st.booleans(),
        "value": scalars,
        "length": st.integers(min_value=0, max_value=5),
        "regex": st.sampled_from(["^a", "b+c", "[0-9]{2}", "^$", "\\d"]),
        "enum": st.lists(scalars, min_size=1, max_size=3),
    }
    opt = {k: st.one_of(st.none(), v) for k, v in base.items()}
    d = st.fixed_dictionaries({}, optional=opt).map(
        lambda r: {k: v for k, v in r.items() if v is not None})
    if depth < 1:
        def add_nested(r):
            return r
        nested = st.dictionaries(st.sampled_from(FIELDS), rule_strategy(depth + 1),
                                 max_size=2)
        d = st.tuples(d, st.one_of(st.none(), nested)).map(
            lambda t: {**t[0], **({"nestedSchema": t[1]} if t[1] else {})})
    return d


rules_strategy = st.dictionaries(
    st.sampled_from(FIELDS + ["version"]), rule_strategy(), max_size=4)


@settings(max_examples=50, deadline=None, derandomize=True)
@given(st.lists(events, min_size=1, max_size=4))
def _collect_events(acc, evs):
    acc.extend(evs)


@settings(max_examples=18, deadline=None, derandomize=True)
@given(rules_strategy)
def _collect_specs(acc, spec):
    acc.append(spec)


def test_hypothesis_differential(spark):
    """Cross EVERY generated event with EVERY generated rule spec: each spec
    compiles once (rule compilation plus plan analysis is the expensive
    step) and validates the whole event batch in one job, so coverage is
    #specs × #events differential comparisons for #specs compiles."""
    evs: list[dict] = []
    specs: list[dict] = []
    _collect_events(evs)       # hypothesis fills these deterministically
    _collect_specs(specs)
    uniq = {json.dumps(s, sort_keys=True): s for s in specs if s}
    assert len(evs) > 60 and len(uniq) >= 8

    df = spark.createDataFrame(
        [(i, json.dumps(ev)) for i, ev in enumerate(evs)], ["i", "props"])
    n_checked = 0
    for rules in uniq.values():
        got = {r["i"]: [tuple(x) for x in r["violations"]]
               for r in validate_json(df, rules, "props").collect()}
        for i, ev in enumerate(evs):
            expected = check_with_schema(rules, ev)
            assert got[i] == expected, (
                f"MISMATCH\nrules: {rules!r}\nevent: {ev!r}\n"
                f"spark: {got[i]!r}\noracle: {expected!r}")
            n_checked += 1
    assert n_checked >= len(uniq) * len(evs)


# ---------------------------------------------------------------------------
# Typed leg: random rule specs through validate_typed, the only path with the
# clean-element gate, over a fixed corpus of stored-docs-shaped rows
# ---------------------------------------------------------------------------

SPAN_KEYS = ["kind", "text", "media_ref", "offset", "nope", ""]
# literals the corpus holds (and near misses): blank and empty strings make
# the gate's blank guards and R3's enum condition matter
typed_scalars = ["text", "media", "words", "", "  ", "media_0000000a", 0, 1,
                 "0", True]


def typed_rule_strategy():
    base = {
        "type": st.sampled_from(["string", "number", "boolean", "array",
                                 "object", "weird"]),
        "optional": st.booleans(),
        "required": st.booleans(),
        "value": st.sampled_from(typed_scalars),
        "length": st.integers(min_value=0, max_value=6),
        "regex": st.sampled_from(["^[a-z ]*$", "^$", "^media_[0-9a-f]{8}$",
                                  "t", "^[0-9]+$"]),
        "enum": st.lists(st.sampled_from([None, "text", "media", "", "  ", 0]),
                         min_size=1, max_size=3),
    }
    # each check present or not, or at most three checks: a rule whose only
    # failing check is the one the gate drops by mistake is what exposes it
    any_checks = st.fixed_dictionaries(
        {}, optional={k: st.one_of(st.none(), v) for k, v in base.items()})
    few_checks = st.sets(st.sampled_from(sorted(base)), max_size=3).flatmap(
        lambda ks: st.fixed_dictionaries({k: base[k] for k in sorted(ks)}))
    return st.one_of(any_checks, few_checks).map(
        lambda r: {k: v for k, v in r.items() if v is not None})


typed_specs = st.fixed_dictionaries(
    {"spans": st.fixed_dictionaries(
        {"type": st.just("array"),
         "nestedSchema": st.dictionaries(st.sampled_from(SPAN_KEYS),
                                         typed_rule_strategy(),
                                         min_size=1, max_size=2)},
        optional={"optional": st.booleans()})},
    optional={"doc_id": typed_rule_strategy()})


@settings(max_examples=500, deadline=None, derandomize=True)
@given(typed_specs)
def _collect_typed_specs(acc, spec):
    acc.append(spec)


def _typed_corpus(spark):
    """interleaved_docs rows, the gate test's adversarial x1-x9 rows, and
    single-span rows that each hold exactly one blank, empty or NULL field."""
    from events_validator_spark.sources.synthetic import interleaved_docs
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    extra = [("x1", None), ("x2", []), ("x3", [(None, None, None, None)]),
             ("x4", [("media", None, "media_00bad!!!", 0),
                     ("text", "", None, None)]),
             ("x5", [("  ", "  ", "   ", 0)]),
             ("x6", [("", "words", None, 0)]),
             ("x7", [("a", "", None, 0), ("media", " ", "media_0000000a", 0)]),
             ("x8", [("media", "   ", "media_0000000b", 0)]),
             ("x9", [("text", "words", None, None)])]
    clean = ("text", "words", "media_0000000a", 0)
    for f in range(4):
        for bad in ([None] if f == 3 else ["  ", "", None]):
            span = list(clean)
            span[f] = bad
            extra.append((f"s{len(extra)}", [tuple(span)]))
    rows = [(r["doc_id"], r["spans"])
            for r in interleaved_docs(spark, 400).collect()] + extra
    return spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "i int, " + schema)


def test_hypothesis_differential_typed(spark):
    """Random rule specs over a typed ``spans`` array compile with the
    clean-element gate and must match the oracle row for row, through the
    typed NULL⇒absent mapping (``row_to_event``)."""
    from events_validator_spark.operators.validation import validate_typed
    from events_validator_spark.sources.synthetic import row_to_event

    specs: list[dict] = []
    _collect_typed_specs(specs)
    uniq = {json.dumps(s, sort_keys=True): s for s in specs}
    assert len(uniq) >= 200, len(uniq)

    corpus = _typed_corpus(spark)
    events = {r["i"]: row_to_event(r) for r in corpus.collect()}
    for e in events.values():
        e.pop("i")
    specs = list(uniq.values())
    n_violating = 0
    for start in range(0, len(specs), 10):   # one Spark job per 10 specs
        chunk = specs[start:start + 10]
        out = corpus
        for j, rules in enumerate(chunk):
            out = validate_typed(out, rules, out_col=f"v{j}")
        for r in out.select("i", *[f"v{j}" for j in range(len(chunk))]) \
                .collect():
            for j, rules in enumerate(chunk):
                got = [tuple(x) for x in r[f"v{j}"]]
                expected = check_with_schema(rules, events[r["i"]])
                assert got == expected, (
                    f"MISMATCH\nrules: {rules!r}\n"
                    f"event: {events[r['i']]!r}\n"
                    f"spark: {got!r}\noracle: {expected!r}")
                n_violating += bool(got)
    assert n_violating > 0
