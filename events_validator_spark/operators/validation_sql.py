"""The rule compiler: reference rule specs → SQL text, one expression per key.

The reference validates one JSON event at a time with a tree-walking
interpreter (validationHelpers.js:130-164). Here each top-level rule key
compiles ONCE on the driver into SQL text producing
``array<struct<field,error_type,expected,actual>>`` per row; the validators
join the per-key texts and hand each output column to ONE ``F.expr`` — a few
py4j round trips per plan instead of one per expression node (the
Column-builder form cost ~10^3 round trips per key). Catalyst folds the
constants and the whole pass runs as one projection; no per-row Python
anywhere.

Two field views share the compiler:

* :class:`_TypedView` — the field is an ordinary typed (nested) column. JS
  ``typeof`` is a literal from the Spark type; a NULL field is treated as
  *absent* (typed rows cannot distinguish missing-vs-null — documented
  divergence). Struct members are backtick-quoted field accesses, map keys
  ``element_at`` lookups, and scalar array elements get the JS ``{'': item}``
  wrap.
* :class:`_VariantView` — the field is a VARIANT (``try_parse_json`` of the
  event payload). Full JS fidelity: missing key (SQL NULL) vs JSON null
  (``schema_of_variant == 'VOID'`` → ``typeof`` 'object') vs value types,
  exactly matching ``typeof null === 'object'`` (validationHelpers.js:7).

The text resolves by column NAME, so a compiled key check is a pure function
of (field binding, key, rule spec in spec order) and is memoized
(:func:`key_check`): a tick or batch with the same rules and schema rebuilds
nothing on the driver.

Semantics pinned against :mod:`events_validator_spark.js_oracle` by
tests/test_validation.py, tests/test_property_differential.py and
tests/test_reference_parity.py (SURVEY.md §2.2 quirk list V1–V12).
"""

from __future__ import annotations

import copy
import itertools
import json
from typing import Callable, Iterator, Optional

from pyspark.sql import types as T

from events_validator_spark.functions.js_compat import (
    js_number_to_string_sql,
    js_regex_to_java,
    js_to_string_sql,
    py_js_to_string,
    static_js_actual,
    static_js_typeof,
    validate_java_regex,
)

VIOLATION_ARRAY_DDL = \
    "array<struct<field:string,error_type:string,expected:string,actual:string>>"
EMPTY = f"CAST(array() AS {VIOLATION_ARRAY_DDL})"
_NUM_RE = "^(BIGINT|INT|SMALLINT|TINYINT|DOUBLE|FLOAT|DECIMAL)"
_NULL_S = "CAST(NULL AS STRING)"

# flip to False to disable the typed-array clean-element short-circuit (the
# equality tests compare both settings; it is part of the memo key)
_ELEM_OK_GATE = True


def lit(s: str | None) -> str:
    """SQL string literal (NULL for None)."""
    if s is None:
        return _NULL_S
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """Backtick-quoted SQL identifier (one name part)."""
    return "`" + name.replace("`", "``") + "`"


def one(field: str, error_type: str, expected: str, actual: str) -> str:
    """1-element violation array; field/expected/actual are SQL exprs."""
    return (f"array(named_struct("
            f"'field', CAST({field} AS STRING), "
            f"'error_type', {lit(error_type)}, "
            f"'expected', CAST({expected} AS STRING), "
            f"'actual', CAST({actual} AS STRING)))")


def _gate(cond: str, arr: str) -> str:
    return f"CASE WHEN {cond} THEN {arr} ELSE {EMPTY} END"


def concat(parts: list[str]) -> str:
    if not parts:
        return EMPTY
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})"


def _truthy(cond: str) -> str:
    return f"coalesce({cond}, false)"


def _never(cond: str) -> str:
    """cond is not literally TRUE. ``_gate(cond, arr)`` emits rows only for
    a TRUE cond, so every clean-element complement treats NULL as ok."""
    return f"(NOT {_truthy(cond)})"


def _all(conds: list[str]) -> str:
    return "(" + " AND ".join(conds) + ")" if conds else "true"


def json_path(key: str) -> str:
    esc = key.replace("\\", "\\\\").replace('"', '\\"')
    return lit(f'$["{esc}"]')


def _is_optional(rule: dict) -> bool:
    # optional:true OR required:false (validationHelpers.js:12,140)
    return rule.get("optional") is True or rule.get("required") is False


# ---------------------------------------------------------------------------
# Field views: everything a check needs to know about one field, as SQL text
# ---------------------------------------------------------------------------

Scope = Callable[[str], "_View"]


class _View:
    """A statically absent field (key not in the schema / not an object).

    ``binding`` identifies what the view's text depends on besides the key;
    ``typed`` enables the clean-element gate; ``string_is_ref`` says
    ``as_string`` is a plain reference (never worth let-binding)."""

    binding: object = None
    typed = False
    string_is_ref = True
    _s: Optional[str] = None       # staged / let-bound toString reference

    present = "false"
    typeof = actual = "'undefined'"
    is_null = is_falsy = "false"
    str_value = _NULL_S
    js_length = "CAST(NULL AS INT)"
    num_value = "CAST(NULL AS DOUBLE)"

    @property
    def as_string(self) -> str:
        """JS ``v?.toString()`` (NULL for null/undefined)."""
        return self._s or self._to_string()

    def _to_string(self) -> str:
        return _NULL_S

    def fields(self) -> Scope:
        """Members of the value as a JS object (object nestedSchema)."""
        return _absent_scope

    def elements(self) -> Optional[tuple[str, Callable[[str], Scope]]]:
        """(array SQL, element variable → element scope); None when the value
        is statically not an array. The scope applies the JS scalar wrap."""
        return None


_ABSENT = _View()


def _absent_scope(key: str) -> _View:
    return _ABSENT


class _TypedView(_View):
    typed = True

    def __init__(self, c: str, dtype: T.DataType):
        self.c, self.dtype = c, dtype
        self.binding = ("typed", dtype.json())
        is_str = isinstance(dtype, T.StringType)
        self.string_is_ref = is_str
        self.present = f"({c} IS NOT NULL)"
        self.typeof = lit(static_js_typeof(dtype))
        self.actual = lit(static_js_actual(dtype))
        numeric = self.typeof == "'number'"
        if is_str:
            self.str_value = c
            self.js_length = f"length({c})"
        elif isinstance(dtype, T.ArrayType):
            self.js_length = f"size({c})"
        if isinstance(dtype, T.BooleanType):
            self.is_falsy = f"coalesce((NOT {c}), false)"
        elif isinstance(dtype, (T.FloatType, T.DoubleType)):
            self.is_falsy = f"coalesce((({c} = 0) OR isnan({c})), false)"
        elif numeric:
            self.is_falsy = f"coalesce(({c} = 0), false)"
        if numeric:
            self.num_value = f"CAST({c} AS DOUBLE)"

    def _to_string(self) -> str:
        return js_to_string_sql(self.c, self.dtype)

    def fields(self) -> Scope:
        return typed_scope(self.c, self.dtype)

    def elements(self):
        if not isinstance(self.dtype, T.ArrayType):
            return None
        et = self.dtype.elementType
        if isinstance(et, (T.StructType, T.MapType, T.ArrayType)):
            # objects recurse directly (js:41-45); an array element is typeof
            # 'object' too, and string-key indexing into it is undefined, so
            # every nested key — including '' — reports missing
            return self.c, lambda e: typed_scope(e, et)
        # scalar (or null) elements are wrapped {'': item} (js:41-42)
        return self.c, lambda e: (
            lambda key: _TypedView(e, et) if key == "" else _ABSENT)


def typed_scope(c: str | None, dtype: T.DataType) -> Scope:
    """Key → view over a typed value; ``c`` None ⇒ the row's top-level
    columns. A missing map key yields NULL, which the typed model maps to
    absent — the same missing-vs-null divergence as struct fields."""
    if isinstance(dtype, T.StructType):
        names = set(dtype.fieldNames())

        def member(key: str) -> _View:
            if key not in names:
                return _ABSENT
            ref = ident(key) if c is None else f"{c}.{ident(key)}"
            return _TypedView(ref, dtype[key].dataType)
        return member
    if isinstance(dtype, T.MapType):
        return lambda key: _TypedView(f"element_at({c}, {lit(key)})",
                                      dtype.valueType)
    return _absent_scope


def _variant_typeof(v: str, sv: str, array_aware: bool) -> str:
    arr_label = "array" if array_aware else "object"
    return (f"CASE WHEN ({v} IS NULL) THEN 'undefined' "
            f"WHEN ({sv} = 'VOID') THEN 'object' "   # typeof null === 'object'
            f"WHEN ({sv} = 'STRING') THEN 'string' "
            f"WHEN ({sv} = 'BOOLEAN') THEN 'boolean' "
            f"WHEN ({sv} RLIKE '{_NUM_RE}') THEN 'number' "
            f"WHEN startswith({sv}, 'ARRAY') THEN '{arr_label}' "
            f"ELSE 'object' END")


def variant_to_string_sql(v: str, depth: int = 3) -> str:
    """JS ``v?.toString()`` over a VARIANT value."""
    sv = f"schema_of_variant({v})"
    num_s = js_number_to_string_sql(f"try_variant_get({v}, '$', 'double')")
    if depth <= 0:
        arr_s = "''"
    else:
        var = f"_vts{depth}"
        arr_s = (f"array_join(transform("
                 f"try_variant_get({v}, '$', 'array<variant>'), "
                 f"{var} -> coalesce({variant_to_string_sql(var, depth - 1)},"
                 f" '')), ',')")
    return (f"CASE WHEN (({v} IS NULL) OR ({sv} = 'VOID')) THEN {_NULL_S} "
            f"WHEN ({sv} = 'STRING') THEN try_variant_get({v}, '$', 'string') "
            f"WHEN ({sv} = 'BOOLEAN') THEN try_variant_get({v}, '$', 'string') "
            f"WHEN ({sv} RLIKE '{_NUM_RE}') THEN {num_s} "
            f"WHEN startswith({sv}, 'ARRAY') THEN {arr_s} "
            f"ELSE '[object Object]' END")


class _VariantView(_View):
    """A VARIANT field; ``sv``/``s`` may be staged columns (see
    :func:`staged_view`) instead of inline ``schema_of_variant``/toString."""

    def __init__(self, v: str, sv: str | None = None, s: str | None = None):
        self.v = v
        self.sv = sv = sv or f"schema_of_variant({v})"
        self._s = s
        self.string_is_ref = s is not None
        self.present = f"({v} IS NOT NULL)"  # JSON null → VOID (present)
        self.typeof = _variant_typeof(v, sv, array_aware=False)
        self.actual = _variant_typeof(v, sv, array_aware=True)
        self.is_null = f"({sv} = 'VOID')"
        self.str_value = (f"CASE WHEN ({sv} = 'STRING') "
                          f"THEN try_variant_get({v}, '$', 'string') END")
        self.js_length = (
            f"CASE WHEN ({sv} = 'STRING') "
            f"THEN length(try_variant_get({v}, '$', 'string')) "
            f"WHEN startswith({sv}, 'ARRAY') "
            f"THEN size(try_variant_get({v}, '$', 'array<variant>')) "
            f"ELSE CAST(NULL AS INT) END")
        self.is_falsy = (f"coalesce(CASE WHEN ({sv} = 'BOOLEAN') "
                         f"THEN (NOT try_variant_get({v}, '$', 'boolean')) "
                         f"WHEN ({sv} RLIKE '{_NUM_RE}') "
                         f"THEN (try_variant_get({v}, '$', 'double') = 0) "
                         f"ELSE false END, false)")
        self.num_value = (f"CASE WHEN ({sv} RLIKE '{_NUM_RE}') "
                          f"THEN try_variant_get({v}, '$', 'double') END")

    def _to_string(self) -> str:
        return variant_to_string_sql(self.v)

    def fields(self) -> Scope:
        return lambda key: _VariantView(
            f"try_variant_get({self.v}, {json_path(key)}, 'variant')")

    def elements(self):
        return (f"try_variant_get({self.v}, '$', 'array<variant>')",
                _variant_element_scope)


def _variant_element_scope(e: str) -> Scope:
    """JS (validationHelpers.js:41-44): an element that is typeof 'object' and
    non-null recurses directly (ARRAYS too — typeof [] is 'object'); anything
    else is wrapped as ``{'': item}``. ``try_variant_get(e, '$["k"]')`` on a
    non-object is SQL NULL → 'missing', exactly what the wrap yields for every
    key but ``''``; only ``''`` needs a dynamic branch between the element
    itself (wrap) and the object's actual ``''`` member (direct)."""
    def member(key: str) -> _View:
        m = f"try_variant_get({e}, {json_path(key)}, 'variant')"
        if key == "":
            sv_e = f"schema_of_variant({e})"
            direct = (f"(startswith({sv_e}, 'OBJECT') OR "
                      f"startswith({sv_e}, 'ARRAY') OR "
                      f"startswith({sv_e}, 'STRUCT'))")
            m = f"CASE WHEN {direct} THEN {m} ELSE {e} END"
        return _VariantView(m)
    return member


def staged_view(struct_name: str, has_string: bool) -> _View:
    """View over a staged per-field struct ``(v, sv[, s])`` (the VARIANT
    validators stage each top-level field once per row)."""
    n = ident(struct_name)
    view = _VariantView(f"{n}.v", f"{n}.sv", f"{n}.s" if has_string else None)
    view.binding = ("variant", struct_name, has_string)
    return view


# ---------------------------------------------------------------------------
# Checks (validationHelpers.js:130-164)
# ---------------------------------------------------------------------------

def _compile_scope(rules: dict, scope: Scope, parent: str,
                ids: Iterator[int]) -> str:
    """One nested scope's violations: per schema key, in spec order."""
    parts = [_per_key(scope(key), rule,
                         f"concat({parent}, {lit('.' + key)})", ids)
             for key, rule in rules.items() if key != "version"]  # js:134
    return concat(parts)


def _per_key(fv: _View, rule: dict, path: str, ids: Iterator[int]) -> str:
    """Missing gate, optional-empty skip, then independent value/type/
    length/regex/enum checks (nested recursion inside the type check).

    A COMPUTED toString that any check reads is let-bound once for the key
    (``transform(array(s), x -> …)[0]``): smaller text and one evaluation
    per row instead of one per reference. A plain reference is never bound
    — that would only add a lambda."""
    optional = _is_optional(rule)
    needs_s = bool({"value", "regex", "enum"} & rule.keys()) \
        and not fv.string_is_ref
    cv = copy.copy(fv)
    if needs_s:
        cv._s = f"_as{next(ids)}"
    checks: list[str] = []
    if "value" in rule:
        checks.append(_check_value(rule, cv, path))
    if "type" in rule:
        checks.append(_check_type(rule, cv, path, optional, ids))
    if "length" in rule:
        checks.append(_check_length(rule, cv, path))
    if "regex" in rule:
        checks.append(_check_regex(rule, cv, path))
    if "enum" in rule:  # engine extension (north rule): enum membership
        checks.append(_check_enum(rule, cv, path))
    body = concat(checks)
    if needs_s:
        body = f"transform(array({fv.as_string}), {cv.as_string} -> {body})[0]"
    # optional + (null | trimmed-empty string) → skip all checks (js:148-153)
    if optional:
        skip = f"({fv.is_null} OR {_trimmed_empty(fv)})"
        return _gate(f"({fv.present} AND (NOT {skip}))", body)
    missing = one(path, "missing", lit("field present"), lit("field missing"))
    return f"CASE WHEN (NOT {fv.present}) THEN {missing} ELSE {body} END"


def _trimmed_empty(fv: _View, non_null: bool = False) -> str:
    """value is a string AND trims to '' — via the cheap raw-string accessor
    (``non_null``: the value is known present, so no coalesce)."""
    s = fv.str_value if non_null else f"coalesce({fv.str_value}, '')"
    return f"(({fv.typeof} = 'string') AND (trim({s}) = ''))"


def _check_type(rule: dict, fv: _View, path: str, optional: bool,
                ids: Iterator[int]) -> str:
    expected = rule["type"]
    if expected == "string":  # js:10-31 — actual is PLAIN typeof here (js:18)
        wrong = _gate(f"({fv.typeof} != 'string')",
                      one(path, "type", lit("string"), fv.typeof))
        if optional:
            # js:14 — optional + null → no row even from the type check
            return _gate(f"(NOT {fv.is_null})", wrong)
        empty = _gate(_trimmed_empty(fv),
                      one(path, "type", lit("non-empty string"),
                          lit("empty string")))
        return concat([wrong, empty])

    if expected == "array":  # js:33-51
        not_array = one(path, "type", lit("array"), fv.actual)
        nested = rule.get("nestedSchema")
        elems = fv.elements() if nested else None
        if elems is None:
            return _gate(f"({fv.actual} != 'array')", not_array)
        arr, scope_of = elems
        n = next(ids)
        e, i = f"_el{n}", f"_ix{n}"
        ipath = f"concat({path}, '[', CAST({i} AS STRING), ']')"
        sub = _compile_scope(nested, scope_of(e), ipath, ids)
        nested_v = f"flatten(transform({arr}, ({e}, {i}) -> {sub}))"
        if _ELEM_OK_GATE and fv.typed:
            # clean-element gate (round 6): on the TYPED path most elements
            # are clean, the per-element CONDITIONS fold to a handful of
            # cheap comparisons (typeof/actual are literals), and the
            # violation-row machinery (struct + array + concat per check)
            # dominated the scan (measured 5.0 s → 0.7 s at 31.5M spans).
            # `forall(element ok)` short-circuits it for all-clean arrays; a
            # dirty element falls through to the UNCHANGED full build
            # (pinned by tests/test_validation.py::test_element_ok_gate_*)
            all_ok = _all_elements_ok(elems, nested, ids)
            nested_v = (f"CASE WHEN {_truthy(all_ok)} THEN {EMPTY} "
                        f"ELSE {nested_v} END")
        return (f"CASE WHEN ({fv.actual} != 'array') THEN {not_array} "
                f"ELSE coalesce({nested_v}, {EMPTY}) END")

    if expected == "object":  # js:53-67
        bad = _gate(f"({fv.is_null} OR ({fv.actual} != 'object'))",
                    one(path, "type", lit("object"), fv.actual))
        nested = rule.get("nestedSchema")
        if not nested:
            return bad
        sub = _compile_scope(nested, fv.fields(), path, ids)
        return f"CASE WHEN {_object_ok(fv)} THEN {sub} ELSE {bad} END"

    # generic (number / boolean / anything): array-aware actual (js:69-73)
    exp_s = py_js_to_string(expected)
    return _gate(f"({fv.actual} != {lit(exp_s)})",
                 one(path, "type", lit(exp_s), fv.actual))


def _object_ok(fv: _View) -> str:
    return (f"({fv.present} AND (NOT {fv.is_null}) "
            f"AND ({fv.actual} = 'object'))")


def _value_neq(rule: dict, fv: _View) -> str:
    """The value check's failure condition — shared by the violation builder
    and the clean-element gate so the two can never drift."""
    expected = rule["value"]
    expected_s = py_js_to_string(expected)  # driver-side toString
    if expected_s is None:
        return f"({fv.as_string} IS NOT NULL)"  # undefined !== undefined
    str_neq = (f"(({fv.as_string} IS NULL) OR "
               f"({fv.as_string} != {lit(expected_s)}))")
    if (isinstance(expected, (int, float)) and not isinstance(expected, bool)
            and abs(expected) < 1.8e308):  # finite; huge ints: string path
        # numeric literal fast path: String(x) is injective on doubles, so
        # for a NUMBER actual, toString equality ⇔ numeric equality — the
        # (expensive) exact formatter then only evaluates on FAILING rows
        # (the violation's actual string) and on non-number actuals
        return (f"CASE WHEN ({fv.typeof} = 'number') "
                f"THEN ({fv.num_value} != CAST('{float(expected)!r}' AS DOUBLE)) "
                f"ELSE {str_neq} END")
    return str_neq


def _check_value(rule: dict, fv: _View, path: str) -> str:
    expected_s = py_js_to_string(rule["value"])
    return _gate(_value_neq(rule, fv),
                 one(path, "value", lit(expected_s), fv.as_string))


def _length_neq(rule: dict, fv: _View) -> tuple[str, str]:
    """(failure condition, JS-coerced actual length)."""
    expected = int(rule["length"])  # parseInt (js:77)
    # (v || []).length (js:78): EVERY falsy value coerces to [] — null, false,
    # 0, NaN all report length 0 ('' is falsy too but its own length is 0);
    # non-string/array truthy values have undefined length
    actual = (f"CASE WHEN ({fv.is_null} OR {fv.is_falsy}) THEN 0 "
              f"ELSE {fv.js_length} END")
    return f"(({actual} IS NULL) OR ({actual} != {expected}))", actual


def _check_length(rule: dict, fv: _View, path: str) -> str:
    neq, actual = _length_neq(rule, fv)
    return _gate(neq, one(path, "length", lit(str(int(rule["length"]))),
                          actual))


def _enum_ok(rule: dict, fv: _View) -> tuple[str, str]:
    """(membership condition, expected list) of the enum check — by JS
    toString equality, consistent with the reference's value check."""
    allowed = [py_js_to_string(e) for e in rule["enum"]]
    non_null = [a for a in allowed if a is not None]
    ok = (f"({fv.as_string} IN ({', '.join(lit(a) for a in non_null)}))"
          if non_null else "false")
    if len(non_null) < len(allowed):
        ok = f"({ok} OR ({fv.as_string} IS NULL))"
    return ok, ",".join("" if a is None else a for a in allowed)


def _check_enum(rule: dict, fv: _View, path: str) -> str:
    ok, expected = _enum_ok(rule, fv)
    return _gate(_never(ok), one(path, "enum", lit(expected), fv.as_string))


def _regex_java_pattern(rule: dict) -> str:
    """Compile-time-validated Java translation of the rule's JS regex."""
    pattern = rule["regex"]
    java_pat = js_regex_to_java(pattern)
    # fail at COMPILE time (driver), not per-row at runtime: one JS-legal but
    # Java-illegal pattern in a rule spec must not kill a 10^12-row job mid-scan
    err = validate_java_regex(java_pat)
    if err is not None:
        raise ValueError(
            f"rule regex {pattern!r} does not compile as a Java regex "
            f"({err}); rewrite it in the common JS/Java subset "
            "(see functions/js_compat.js_regex_to_java)")
    return java_pat


def _regex_empty(fv: _View) -> str:
    return f"({_trimmed_empty(fv)} OR {fv.is_null})"


def _check_regex(rule: dict, fv: _View, path: str) -> str:
    """``fv.as_string`` is a plain reference here: :func:`_per_key` let-binds
    a computed toString before any check reads it."""
    pattern = rule["regex"]
    java_pat = _regex_java_pattern(rule)
    s = fv.as_string
    fail = _gate(f"(NOT (coalesce({s}, 'undefined') RLIKE {lit(java_pat)}))",
                 one(path, "regex", lit(pattern), s))
    return (f"CASE WHEN {_regex_empty(fv)} "
            f"THEN {one(path, 'regex', lit(pattern), lit('empty_value'))} "
            f"ELSE {fail} END")


# ---------------------------------------------------------------------------
# Clean-element gate (typed path only): boolean complements of the checks
# above. True ⇒ the checks emit NO violation (it may be conservatively false
# — that only costs the full build — but never true for a violating field).
# It runs interpreted inside `forall`, once per element, so it emits only the
# conjuncts a typed value needs. Its views are typed or absent: `typeof` and
# `actual` are literals, `is_null` is false and `present` is never NULL.
#   R1  inside a required key's body, or an optional key's body past its
#       skip, the value is non-NULL: no coalesce(x, …) wrappers there;
#   R2  an optional key's skip already covers NULL and trimmed-empty: its
#       body drops the regex and type empty guards;
#   R3  a typed-string enum whose members are all non-NULL and non-blank
#       implies presence and non-blankness: a required key emits only
#       coalesce(x IN (…), false) for them;
#   R4  an optional key is `NOT present OR body_ok OR skip`, so the common
#       case short-circuits first.
# ---------------------------------------------------------------------------

def _elements_ok(rules: dict, scope: Scope, ids: Iterator[int]) -> str:
    return _all([_per_key_ok(scope(key), rule, ids)
                 for key, rule in rules.items() if key != "version"])


def _all_elements_ok(elems: tuple[str, Callable[[str], Scope]], rules: dict,
                     ids: Iterator[int]) -> str:
    arr, scope_of = elems
    g = f"_ok{next(ids)}"
    return f"forall({arr}, {g} -> {_elements_ok(rules, scope_of(g), ids)})"


def _enum_implies_present(rule: dict, fv: _View) -> bool:
    """R3: the enum check alone fails an absent or blank typed string.
    Python's strip() empties every string Spark's trim() empties."""
    return ("enum" in rule and isinstance(fv, _TypedView)
            and isinstance(fv.dtype, T.StringType)
            and all(a is not None and a.strip()
                    for a in map(py_js_to_string, rule["enum"])))


def _per_key_ok(fv: _View, rule: dict, ids: Iterator[int]) -> str:
    optional = _is_optional(rule)
    implied = not optional and _enum_implies_present(rule, fv)
    no_blank_guard = optional or implied                     # R2 / R3
    oks: list[str] = []
    if "enum" in rule:
        ok = _enum_ok(rule, fv)[0]
        oks.append(_truthy(ok) if implied else ok)           # R3 / R1
    if "value" in rule:
        oks.append(_never(_value_neq(rule, fv)))
    if "type" in rule:
        oks.append(_type_ok(rule, fv, no_blank_guard, ids))
    if "length" in rule:
        oks.append(_never(_length_neq(rule, fv)[0]))
    if "regex" in rule:
        match = f"({fv.as_string} RLIKE {lit(_regex_java_pattern(rule))})"
        oks.append(match if no_blank_guard else
                   f"((NOT {_trimmed_empty(fv, True)}) AND {match})")
    body_ok = _all(oks)
    if optional:                                             # R4
        return (f"((NOT {fv.present}) OR {body_ok} OR "
                f"{_trimmed_empty(fv, True)})")
    return body_ok if implied else f"({fv.present} AND {body_ok})"


def _type_ok(rule: dict, fv: _View, no_blank_guard: bool,
             ids: Iterator[int]) -> str:
    """The type check passes on a present typed value (R1: no NULL case)."""
    expected = rule["type"]
    if expected == "string":
        ok = f"({fv.typeof} = 'string')"
        if no_blank_guard:
            return ok
        return f"({ok} AND (NOT {_trimmed_empty(fv, True)}))"
    if expected == "array":
        is_array = f"({fv.actual} = 'array')"
        nested = rule.get("nestedSchema")
        elems = fv.elements() if nested else None
        if elems is None:
            return is_array
        return f"({is_array} AND {_truthy(_all_elements_ok(elems, nested, ids))})"
    if expected == "object":
        is_object = f"({fv.actual} = 'object')"
        nested = rule.get("nestedSchema")
        if not nested:
            return is_object
        return f"({is_object} AND {_elements_ok(nested, fv.fields(), ids)})"
    return f"({fv.actual} = {lit(py_js_to_string(expected))})"


# ---------------------------------------------------------------------------
# Per-key memo
# ---------------------------------------------------------------------------

# (gate flag, field binding, key, rule spec) → check text. Text, not a
# Column: it holds no JVM object, so it is valid in any session, and F.expr
# parses lazily on every plan build anyway (a cached Column would not skip
# the parse). A hit skips the text generation and the regex compile checks
# on the JVM. Bounded so unbounded rule-set churn cannot leak.
_MEMO: dict = {}
_MEMO_MAX = 8192


def spec_json(rule: dict) -> str:
    """A rule spec's identity for memo and dedup keys. Keys stay in SPEC
    order: key order sets violation order."""
    return json.dumps(rule, default=str)


def key_check(key: str, rule: dict, fv: _View) -> str:
    """One top-level key's full violations expression, memoized."""
    mk = (_ELEM_OK_GATE, fv.binding, key, spec_json(rule))
    sql = _MEMO.get(mk)
    if sql is None:
        sql = _per_key(fv, rule, lit(key), itertools.count())
        if len(_MEMO) >= _MEMO_MAX:
            _MEMO.clear()
        _MEMO[mk] = sql
    return sql
