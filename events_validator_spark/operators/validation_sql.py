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

Like the reference, the compiler walks each rule tree once. Every check
compiles into two forms from the same conditions: its violation rows and
``ok``, a boolean that is TRUE only when those rows are empty. A typed array
folds its elements' ``ok`` into one ``forall`` that skips the row build for
all-clean arrays (the clean-element gate).

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
from typing import Callable, Iterator, NamedTuple, Optional

from pyspark.sql import types as T

from events_validator_spark.functions.js_compat import (
    js_number_to_string_sql,
    js_regex_to_java,
    js_to_string_sql,
    js_trim,
    js_trim_sql,
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


# the deepest array nesting the VARIANT toString prints (see
# variant_to_string_sql); each level adds about 450 characters of text, and
# at 16 levels the analyzer stops at its 100-iteration limit
D = 8


def _element_pairs(x: str) -> str:
    """The elements of the array variant ``x``, each paired with its
    ``schema_of_variant`` (computed once per element, read by every later
    test)."""
    return (f"transform(try_variant_get({x}, '$', 'array<variant>'), _vte -> "
            f"named_struct('v', _vte, 's', schema_of_variant(_vte)))")


def _leaves(y: str, level: int) -> str:
    """The leaves of ``y``, an array of (variant, schema) pairs that sit at
    array nesting ``level``.

    While a pair is still an array, one level replaces every array by its
    elements (an empty array by one NULL leaf) and recurses on the result,
    let-bound so the text stays linear; the first level that finds no array
    returns its input, so deeper levels cost nothing on shallower values.
    Arrays still nested at level D make the whole result NULL."""
    z, x, a = f"_vtl{level}", "_vtx", "_vta"
    more = f"exists({z}, {x} -> startswith({x}.s, 'ARRAY'))"
    if level >= D:
        body = f"CASE WHEN {more} THEN NULL ELSE {z} END"
    else:
        step = (f"flatten(transform({z}, {x} -> "
                f"CASE WHEN startswith({x}.s, 'ARRAY') "
                f"THEN transform(array({_element_pairs(x + '.v')}), {a} -> "
                f"CASE WHEN (size({a}) = 0) THEN array(named_struct("
                f"'v', NULL, 's', NULL)) ELSE {a} END)[0] "
                f"ELSE array({x}) END))")
        body = f"CASE WHEN {more} THEN {_leaves(step, level + 1)} ELSE {z} END"
    return f"transform(array({y}), {z} -> {body})[0]"


def variant_to_string_sql(v: str) -> str:
    """JS ``v?.toString()`` over a VARIANT value (NULL for null/undefined).

    For an array JS prints the comma-join of a depth-first walk over its
    leaves: a scalar prints itself, null '' and an object
    '[object Object]'; an empty array prints like one null leaf, so
    ``[[],1]`` prints ``',1'``. The text builds that walk in two stages:
    first the leaves, flattened level by level (:func:`_leaves`; a number
    or an object is the one-leaf array of itself), then one ``transform``
    formats each leaf, so the JS number formatter appears once whatever the
    depth. A string or boolean value is read directly, with no lambda.
    Arrays nest up to ``D`` levels; a deeper array anywhere in the value
    makes the toString NULL, which every check reads as JS undefined: a
    ``value`` or ``enum`` check then fails the field, never passing it on a
    wrong string."""
    sv, l = f"schema_of_variant({v})", "_vtf"
    leaves = (f"CASE WHEN startswith({sv}, 'ARRAY') "
              f"THEN {_leaves(_element_pairs(v), 1)} "
              f"ELSE array(named_struct('v', {v}, 's', {sv})) END")
    lv, s = f"{l}.v", f"{l}.s"
    num_s = js_number_to_string_sql(f"try_variant_get({lv}, '$', 'double')")
    fmt = (f"CASE WHEN ({s} = 'STRING') OR ({s} = 'BOOLEAN') "
           f"THEN try_variant_get({lv}, '$', 'string') "
           f"WHEN ({s} RLIKE '{_NUM_RE}') THEN {num_s} "
           f"WHEN (({s} IS NULL) OR ({s} = 'VOID')) THEN '' "
           f"ELSE '[object Object]' END")
    return (f"CASE WHEN (({v} IS NULL) OR ({sv} = 'VOID')) THEN {_NULL_S} "
            f"WHEN ({sv} = 'STRING') OR ({sv} = 'BOOLEAN') "
            f"THEN try_variant_get({v}, '$', 'string') "
            f"ELSE array_join(transform({leaves}, {l} -> {fmt}), ',') END")


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
#
# Every check compiles once into both of its forms (:class:`_Check`): ``rows``
# (the violations) and ``ok`` (the clean-element gate's predicate, TRUE only
# when ``rows`` is empty; FALSE is always allowed — it only costs the full
# build). ``ok`` assumes the key is present (``_per_key`` adds presence) and
# is read only over typed or absent views, where `typeof` and `actual` are
# literals and `is_null` is false. It runs interpreted inside `forall`, once
# per element, so it emits only the conjuncts a typed value needs:
#   R1  past presence the value is non-NULL: no coalesce(x, …) wrappers;
#   R2  an optional key's skip already covers NULL and trimmed-empty: its
#       checks drop the regex and type empty guards (``no_blank_guard``);
#   R3  a typed-string enum whose members are all non-NULL and non-blank
#       implies presence and non-blankness: a required key emits only
#       coalesce(x IN (…), false) for them (``implied``);
#   R4  an optional key is `NOT present OR ok OR skip`, so the common case
#       short-circuits first.
# ---------------------------------------------------------------------------

class _Check(NamedTuple):
    rows: str
    ok: str


def _fail(cond: str, row: str) -> _Check:
    """``row`` when cond is TRUE; ok when it is not (a NULL cond emits no
    row, so it counts as ok)."""
    return _Check(_gate(cond, row), f"(NOT {_truthy(cond)})")


def _mismatch(actual: str, expected: str, row: str) -> _Check:
    """A type check: ``row`` when ``actual != expected``. A `typeof`/`actual`
    is never NULL, so ok is the plain equality."""
    return _Check(_gate(f"({actual} != {expected})", row),
                  f"({actual} = {expected})")


def reads_string(rule: dict) -> bool:
    """Whether a check of ``rule`` reads the value's JS toString."""
    return bool({"value", "regex", "enum"} & rule.keys())


def _compile_scope(rules: dict, scope: Scope, parent: str,
                   ids: Iterator[int]) -> _Check:
    """One nested scope: per schema key, in spec order."""
    checks = [_per_key(scope(key), rule,
                       f"concat({parent}, {lit('.' + key)})", ids)
              for key, rule in rules.items() if key != "version"]  # js:134
    return _Check(concat([c.rows for c in checks]),
                  _all([c.ok for c in checks]))


def _enum_implies_present(rule: dict, fv: _View) -> bool:
    """R3: the enum check alone fails an absent or blank typed string
    (blank as JS trims it, the same set as :func:`_trimmed_empty`)."""
    return ("enum" in rule and isinstance(fv, _TypedView)
            and isinstance(fv.dtype, T.StringType)
            and all(a is not None and js_trim(a)
                    for a in map(py_js_to_string, rule["enum"])))


def _per_key(fv: _View, rule: dict, path: str, ids: Iterator[int]) -> _Check:
    """Missing gate, optional-empty skip, then independent value/type/
    length/regex/enum checks (nested recursion inside the type check).

    A COMPUTED toString that any check reads is let-bound once for the key
    (``transform(array(s), x -> …)[0]``), in both forms: smaller text and
    one evaluation per row instead of one per reference. A plain reference
    is never bound — that would only add a lambda."""
    optional = _is_optional(rule)
    implied = not optional and _enum_implies_present(rule, fv)
    no_blank_guard = optional or implied                     # R2 / R3
    bind = reads_string(rule) and not fv.string_is_ref
    cv = copy.copy(fv)
    if bind:
        cv._s = f"_as{next(ids)}"
    checks: list[_Check] = []
    if "value" in rule:
        checks.append(_check_value(rule, cv, path))
    if "type" in rule:
        checks.append(_check_type(rule, cv, path, optional, no_blank_guard,
                                  ids))
    if "length" in rule:
        checks.append(_check_length(rule, cv, path))
    if "regex" in rule:
        checks.append(_check_regex(rule, cv, path, no_blank_guard))
    if "enum" in rule:  # engine extension (north rule): enum membership
        checks.append(_check_enum(rule, cv, path, implied))
    rows, ok = concat([c.rows for c in checks]), _all([c.ok for c in checks])
    if bind:
        rows, ok = (f"transform(array({fv.as_string}), {cv.as_string} -> {b})"
                    f"[0]" for b in (rows, ok))
    # optional + (null | trimmed-empty string) → skip all checks (js:148-153)
    if optional:
        skip = f"({fv.is_null} OR {_trimmed_empty(fv)})"
        return _Check(_gate(f"({fv.present} AND (NOT {skip}))", rows),
                      f"((NOT {fv.present}) OR {ok} OR "       # R4
                      f"{_trimmed_empty(fv, True)})")
    missing = one(path, "missing", lit("field present"), lit("field missing"))
    return _Check(
        f"CASE WHEN (NOT {fv.present}) THEN {missing} ELSE {rows} END",
        ok if implied else f"({fv.present} AND {ok})")


def _trimmed_empty(fv: _View, non_null: bool = False) -> str:
    """value is a string AND JS-trims to '' — via the cheap raw-string
    accessor (``non_null``: the value is known present, so no coalesce)."""
    s = fv.str_value if non_null else f"coalesce({fv.str_value}, '')"
    return f"(({fv.typeof} = 'string') AND ({js_trim_sql(s)} = ''))"


def _check_type(rule: dict, fv: _View, path: str, optional: bool,
                no_blank_guard: bool, ids: Iterator[int]) -> _Check:
    expected = rule["type"]
    if expected == "string":  # js:10-31 — actual is PLAIN typeof here (js:18)
        wrong = _mismatch(fv.typeof, "'string'",
                          one(path, "type", lit("string"), fv.typeof))
        if optional:
            # js:14 — optional + null → no row even from the type check
            return _Check(_gate(f"(NOT {fv.is_null})", wrong.rows), wrong.ok)
        empty = _gate(_trimmed_empty(fv),
                      one(path, "type", lit("non-empty string"),
                          lit("empty string")))
        ok = wrong.ok if no_blank_guard else \
            f"({wrong.ok} AND (NOT {_trimmed_empty(fv, True)}))"
        return _Check(concat([wrong.rows, empty]), ok)

    if expected == "array":  # js:33-51
        not_array = one(path, "type", lit("array"), fv.actual)
        wrong = _mismatch(fv.actual, "'array'", not_array)
        nested = rule.get("nestedSchema")
        elems = fv.elements() if nested else None
        if elems is None:
            return wrong
        # one element scope, one lambda variable, both forms
        arr, scope_of = elems
        n = next(ids)
        e, i = f"_el{n}", f"_ix{n}"
        ipath = f"concat({path}, '[', CAST({i} AS STRING), ']')"
        sub = _compile_scope(nested, scope_of(e), ipath, ids)
        rows = f"flatten(transform({arr}, ({e}, {i}) -> {sub.rows}))"
        all_ok = _truthy(f"forall({arr}, {e} -> {sub.ok})")
        if fv.typed:
            # clean-element gate (round 6): on the TYPED path most elements
            # are clean, the per-element ok folds to a handful of cheap
            # comparisons (typeof/actual are literals), and the violation-row
            # machinery (struct + array + concat per check) dominated the
            # scan (measured 5.0 s → 0.7 s at 31.5M spans). `forall(ok)`
            # short-circuits it for all-clean arrays; a dirty element falls
            # through to the full build (pinned against the oracle by
            # tests/test_validation.py::test_element_ok_gate_matches_oracle)
            rows = f"CASE WHEN {all_ok} THEN {EMPTY} ELSE {rows} END"
        return _Check(f"CASE WHEN ({fv.actual} != 'array') "
                      f"THEN {not_array} ELSE coalesce({rows}, {EMPTY}) END",
                      f"({wrong.ok} AND {all_ok})")

    if expected == "object":  # js:53-67
        bad = _fail(f"({fv.is_null} OR ({fv.actual} != 'object'))",
                    one(path, "type", lit("object"), fv.actual))
        nested = rule.get("nestedSchema")
        if not nested:
            return bad
        sub = _compile_scope(nested, fv.fields(), path, ids)
        is_object = (f"({fv.present} AND (NOT {fv.is_null}) "
                     f"AND ({fv.actual} = 'object'))")
        return _Check(f"CASE WHEN {is_object} THEN {sub.rows} "
                      f"ELSE {bad.rows} END", f"({bad.ok} AND {sub.ok})")

    # generic (number / boolean / anything): array-aware actual (js:69-73)
    exp_s = py_js_to_string(expected)
    return _mismatch(fv.actual, lit(exp_s),
                     one(path, "type", lit(exp_s), fv.actual))


def _check_value(rule: dict, fv: _View, path: str) -> _Check:
    expected = rule["value"]
    expected_s = py_js_to_string(expected)  # driver-side toString
    row = one(path, "value", lit(expected_s), fv.as_string)
    if expected_s is None:
        # undefined !== undefined
        return _fail(f"({fv.as_string} IS NOT NULL)", row)
    neq = (f"(({fv.as_string} IS NULL) OR "
           f"({fv.as_string} != {lit(expected_s)}))")
    if (isinstance(expected, (int, float)) and not isinstance(expected, bool)
            and abs(expected) < 1.8e308):  # finite; huge ints: string path
        # numeric literal fast path: String(x) is injective on doubles, so
        # for a NUMBER actual, toString equality ⇔ numeric equality — the
        # (expensive) exact formatter then only evaluates on FAILING rows
        # (the violation's actual string) and on non-number actuals
        neq = (f"CASE WHEN ({fv.typeof} = 'number') "
               f"THEN ({fv.num_value} != CAST('{float(expected)!r}' AS DOUBLE)) "
               f"ELSE {neq} END")
    return _fail(neq, row)


def _check_length(rule: dict, fv: _View, path: str) -> _Check:
    expected = int(rule["length"])  # parseInt (js:77)
    # (v || []).length (js:78): EVERY falsy value coerces to [] — null, false,
    # 0, NaN all report length 0 ('' is falsy too but its own length is 0);
    # non-string/array truthy values have undefined length
    actual = (f"CASE WHEN ({fv.is_null} OR {fv.is_falsy}) THEN 0 "
              f"ELSE {fv.js_length} END")
    return _fail(f"(({actual} IS NULL) OR ({actual} != {expected}))",
                 one(path, "length", lit(str(expected)), actual))


def _check_enum(rule: dict, fv: _View, path: str, implied: bool) -> _Check:
    """Membership by JS toString equality, consistent with the reference's
    value check."""
    allowed = [py_js_to_string(e) for e in rule["enum"]]
    non_null = [a for a in allowed if a is not None]
    member = (f"({fv.as_string} IN ({', '.join(lit(a) for a in non_null)}))"
              if non_null else "false")
    if len(non_null) < len(allowed):
        member = f"({member} OR ({fv.as_string} IS NULL))"
    expected = ",".join("" if a is None else a for a in allowed)
    return _Check(_gate(f"(NOT {_truthy(member)})",
                        one(path, "enum", lit(expected), fv.as_string)),
                  _truthy(member) if implied else member)      # R3 / R1


def _check_regex(rule: dict, fv: _View, path: str,
                 no_blank_guard: bool) -> _Check:
    """``fv.as_string`` is a plain reference here: :func:`_per_key` let-binds
    a computed toString before any check reads it."""
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
    s = fv.as_string
    fail = _gate(f"(NOT (coalesce({s}, 'undefined') RLIKE {lit(java_pat)}))",
                 one(path, "regex", lit(pattern), s))
    match = f"({s} RLIKE {lit(java_pat)})"
    return _Check(f"CASE WHEN ({_trimmed_empty(fv)} OR {fv.is_null}) "
                  f"THEN {one(path, 'regex', lit(pattern), lit('empty_value'))} "
                  f"ELSE {fail} END",
                  match if no_blank_guard
                  else f"((NOT {_trimmed_empty(fv, True)}) AND {match})")


# ---------------------------------------------------------------------------
# Per-key memo
# ---------------------------------------------------------------------------

# (field binding, key, rule spec) → check text. Text, not a Column: it holds
# no JVM object, so it is valid in any session, and F.expr parses lazily on
# every plan build anyway (a cached Column would not skip the parse). A hit
# skips the text generation and the regex compile checks on the JVM. Bounded
# so unbounded rule-set churn cannot leak.
_MEMO: dict = {}
_MEMO_MAX = 8192


def spec_json(rule: dict) -> str:
    """A rule spec's identity for memo and dedup keys. Keys stay in SPEC
    order: key order sets violation order."""
    return json.dumps(rule, default=str)


def key_check(key: str, rule: dict, fv: _View) -> str:
    """One top-level key's full violations expression, memoized."""
    mk = (fv.binding, key, spec_json(rule))
    sql = _MEMO.get(mk)
    if sql is None:
        sql = _per_key(fv, rule, lit(key), itertools.count()).rows
        if len(_MEMO) >= _MEMO_MAX:
            _MEMO.clear()
        _MEMO[mk] = sql
    return sql
