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
    st.text(alphabet="ab c_1.ü", max_size=8),
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
