"""Exact JS Number::toString fidelity over the FULL double range — the
Spark implementation (the SQL-text formatter js_number_to_string_sql), the
pure-Python mirror (py_js_number_repr), and hand-pinned ECMAScript outputs
must all agree; the VARIANT toString must agree with the oracle's
py_js_to_string.
Boundary semantics: decimal notation for -6 < k+1 <= 21, scientific with
'e+'/'e-' outside; NaN/Infinity; -0 prints '0'.
"""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from events_validator_spark.functions.js_compat import (
    js_number_to_string_sql, py_js_number_repr, py_js_to_string,
)

# (input double, String(input) as printed by ECMAScript)
JS_PINNED = [
    (1e21, "1e+21"),
    (1.5e21, "1.5e+21"),
    (2.5e22, "2.5e+22"),          # Java 17 Double.toString is NON-shortest here
    (1e20, "100000000000000000000"),
    (1.1e20, "110000000000000000000"),
    (1.2345678901234568e20, "123456789012345680000"),
    (1e16, "10000000000000000"),
    (12345678.5, "12345678.5"),
    (123.456, "123.456"),
    (0.5, "0.5"),
    (1e-6, "0.000001"),
    (0.00012345, "0.00012345"),
    (1e-7, "1e-7"),
    (1.2e-7, "1.2e-7"),
    (5e-324, "5e-324"),
    (1.7976931348623157e308, "1.7976931348623157e+308"),
    (-1e21, "-1e+21"),
    (-42.0, "-42"),
    (0.0, "0"),
    (-0.0, "0"),
    (float("nan"), "NaN"),
    (float("inf"), "Infinity"),
    (float("-inf"), "-Infinity"),
]


def test_python_mirror_matches_pinned_js():
    for v, want in JS_PINNED:
        assert py_js_number_repr(v) == want, v


def _js_strings(spark, vals):
    """String(v) per value, evaluated by the Spark SQL-text formatter."""
    df = spark.createDataFrame(list(enumerate(vals)), "i int, d double")
    return {r["i"]: r["s"]
            for r in df.select("i", F.expr(js_number_to_string_sql("d"))
                               .alias("s")).collect()}


def test_column_impl_matches_pinned_js(spark):
    got = _js_strings(spark, [v for v, _ in JS_PINNED])
    for i, (v, want) in enumerate(JS_PINNED):
        assert got[i] == want, v


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.floats(allow_nan=False, allow_infinity=False))
def _collect_floats(acc, v):
    acc.append(v)


def test_column_impl_matches_python_mirror_full_range(spark):
    vals: list[float] = []
    _collect_floats(vals)
    got = _js_strings(spark, vals)
    for i, v in enumerate(vals):
        assert got[i] == py_js_number_repr(v), repr(v)


def test_sql_text_formatter_matches_python_mirror_on_bit_patterns(spark):
    """A deterministic corpus of random 64-bit patterns (every exponent,
    subnormals, NaN payloads) plus specials and NULL."""
    import random
    import struct
    random.seed(20240817)
    vals = [0.0, -0.0, 1.5, 0.1, 1e16, 1e16 - 2, 1e21, 2.5e22, 1e-6, 1e-7,
            5e-324, 1.7976931348623157e308, 123456789012345678.0,
            float("inf"), float("-inf"), float("nan"), None]
    vals += [struct.unpack("<d", struct.pack("<Q", random.getrandbits(64)))[0]
             for _ in range(2000)]
    got = _js_strings(spark, vals)
    for i, v in enumerate(vals):
        want = None if v is None else py_js_number_repr(v)
        assert got[i] == want, repr(v)


def _nest(s: str, d: int) -> str:
    return "[" * d + s + "]" * d


def test_sql_text_variant_tostring_matches_python_oracle(spark):
    """The VARIANT toString (validation_sql.variant_to_string_sql) must equal
    the oracle's JS toString of the parsed payload across every variant
    shape, including arrays nested to the depth bound D, and holds one copy
    of the number formatter. An array nested deeper than D prints NULL (JS
    undefined), never a wrong string."""
    import json
    from events_validator_spark.operators.validation_sql import (
        D, variant_to_string_sql,
    )
    chain = "[1,[],null]"
    for _ in range(5):
        chain = f"[1,[],null,{chain}]"
    payloads = ['1.5', '"s"', '[1,2.25,"a",[3,[4,5],"x"],true]', 'null',
                'true', 'false', '{"a":1}', '1e300', '0.1', '[[[1]]]', '[]',
                '-2.5e-8', '""', '[null,1]', '9007199254740993', '1e22',
                '[1e21,{"b":[]},null]', '[1,[2,[3,[4,[5]]]]]', '[[],1]',
                '[[[]]]', '[null,[null]]', '[[],[]]', chain,
                _nest('[2.5,"a"],[]', D - 1), _nest('null,{"a":[1]}', D)]
    payloads += [_nest("7", d) for d in range(4, D + 1)]
    beyond = [_nest("7", D + 1), f"[1,{_nest('2', D)}]"]
    df = spark.createDataFrame(
        [(i, '{"k":' + s + '}') for i, s in enumerate(payloads + beyond)],
        "i int, props string")
    txt = variant_to_string_sql(
        "try_variant_get(try_parse_json(`props`), '$[\"k\"]', 'variant')")
    assert txt.count("format_string") == \
        js_number_to_string_sql("x").count("format_string")
    got = {r["i"]: r["u"]
           for r in df.select("i", F.expr(txt).alias("u")).collect()}
    for i, s in enumerate(payloads):
        assert got[i] == py_js_to_string(json.loads(s)), s
    for i, s in enumerate(beyond, len(payloads)):
        assert got[i] is None, s


def test_typed_tostring_recurses_to_any_array_depth(spark):
    """The typed toString (js_compat.js_to_string_sql) recurses on the Spark
    type, so nested arrays print as JS prints them at every depth: elements
    joined by ',' at each level, null and empty elements as ''."""
    from events_validator_spark.functions.js_compat import js_to_string_sql
    cases = [
        ("array(array(array(1)))", [[[1]]]),
        ("array(array(array(1, 2), array(3)), array(array(CAST(NULL AS INT))))",
         [[[1, 2], [3]], [[None]]]),
        ("array(array(array(array(1))), array(array(array(2, NULL))))",
         [[[[1]]], [[[2, None]]]]),
        ("array(array(array(1.5D, 0.1D)), array(array(1e21D, NULL)))",
         [[[1.5, 0.1]], [[1e21, None]]]),
        ("array(array(array(array(2.5e22D, -0.0D), array(1e-7D))))",
         [[[[2.5e22, -0.0], [1e-7]]]]),
        ("array(array(array(NULL)))", [[[None]]]),
        ("array(array(array(array(NULL, NULL)), CAST(NULL AS "
         "array<array<void>>)))", [[[[None, None]], None]]),
        ("array(array(), array(1))", [[], [1]]),
        ("CAST(NULL AS array<array<array<int>>>)", None),
    ]
    df = spark.range(1).select(
        *[F.expr(sql).alias(f"c{i}") for i, (sql, _) in enumerate(cases)])
    row = df.select(*[F.expr(js_to_string_sql(f"c{i}", df.schema[f"c{i}"]
                                              .dataType)).alias(f"c{i}")
                      for i in range(len(cases))]).first()
    for i, (sql, value) in enumerate(cases):
        assert row[f"c{i}"] == py_js_to_string(value), sql
