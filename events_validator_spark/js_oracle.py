"""Pure-Python oracle for the reference validator's JS semantics (M0).

This module is NOT part of the Spark engine. It is a ~150-LoC faithful
reimplementation of the semantics of
``/root/reference/validator_src/helpers/validationHelpers.js`` (checkWithSchema,
checkType, checkValue, checkLength, checkRegex — lines 4-164) used exclusively as a
pytest oracle: the Spark rule compiler in ``operators/validation.py`` must produce
row-identical violation sets on the same (event, rule-spec) inputs.

Pinned quirks (see SURVEY.md §2.2 and FIXTURES.md §3):
  * open world: event keys absent from the schema are ignored (js:133)
  * the reserved key ``version`` is never validated (js:134)
  * ``optional: true`` OR ``required: false`` both mean optional (js:12,140)
  * optional + (missing | null | ''-after-trim) → no rows (js:148-153); trim is
    JS ``String.prototype.trim`` (``js_compat.js_trim``), not ``str.strip()``
  * missing required key → ('missing', 'field present', 'field missing') (js:142-145)
  * required string '' / '  ' → ('type', 'non-empty string', 'empty string') (js:21-26)
  * JS ``typeof null === 'object'`` → null for number/boolean yields actual 'object'
  * string-type check reports plain ``typeof`` (arrays → 'object', js:17-18) while
    the generic check reports the array-aware actual (js:7,69-70)
  * scalar element under array-with-nestedSchema is wrapped ``{'': item}``; every
    nested key logs missing with path ``items[i].key`` (js:41-42)
  * value check is JS toString equality (1 matches "1"); null/undefined toString is
    None so ``value: null`` vs a present array → spurious 'value' row (js:108)
  * regex is an unanchored search; '' (trimmed) or null → actual 'empty_value'
    (js:120-125); non-strings are String()-coerced before the test (js:124)
  * length works on strings and arrays; anything else has undefined length (js:76-85)
  * rule keys value/type/length/regex apply independently when present (js:155-162)
  * expected/actual in a violation row are JS ``?.toString()`` — None stays None
    (loggingHelpers.js:13-14)
"""

from __future__ import annotations

import re
from typing import Any

from events_validator_spark.functions.js_compat import js_trim

# A violation row is (field_path, error_type, expected, actual) — all str-or-None,
# matching logError's ``expected?.toString() / actual?.toString()``.
Violation = tuple[str, str, str | None, str | None]

_MISSING = object()  # JS `undefined` for an absent key


def js_typeof(v: Any) -> str:
    """JS ``typeof`` (validationHelpers.js:7,17): null → 'object'."""
    if v is _MISSING:
        return "undefined"
    if v is None:
        return "object"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float)):
        return "number"
    if isinstance(v, str):
        return "string"
    return "object"  # dict, list (typeof [] === 'object')


def js_actual(v: Any) -> str:
    """Array-aware actual: ``Array.isArray(v) ? 'array' : typeof v`` (js:7)."""
    return "array" if isinstance(v, list) else js_typeof(v)


def js_tostring(v: Any) -> str | None:
    """JS ``v?.toString()`` — None for null/undefined (loggingHelpers.js:13-14).

    Number formatting delegates to the shared exact Number::toString
    implementation (functions/js_compat.py_js_number_repr) — full double
    range, including the e+21 / 1e-7 scientific boundaries.
    """
    if v is None or v is _MISSING:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        from events_validator_spark.functions.js_compat import py_js_number_repr
        return py_js_number_repr(float(v))
    if isinstance(v, list):
        return ",".join("" if x is None else (js_tostring(x) or "") for x in v)
    if isinstance(v, dict):
        return "[object Object]"
    return str(v)


def _is_optional(rule: dict) -> bool:
    return rule.get("optional") is True or rule.get("required") is False


def check_with_schema(schema: dict, data: Any, parent_path: str = "") -> list[Violation]:
    """Recursive descent mirroring checkWithSchema (js:130-164)."""
    out: list[Violation] = []
    for key, rule in schema.items():
        if key == "version":  # js:134
            continue
        path = f"{parent_path}.{key}" if parent_path else key
        has_key = isinstance(data, dict) and key in data
        optional = _is_optional(rule)
        if not has_key:
            if not optional:
                out.append((path, "missing", "field present", "field missing"))
            continue
        val = data[key]
        if optional and (val is None or (isinstance(val, str) and js_trim(val) == "")):
            continue  # js:148-153
        if "value" in rule:
            out.extend(_check_value(rule, val, path))
        if "type" in rule:
            out.extend(_check_type(rule, val, path))
        if "length" in rule:
            out.extend(_check_length(rule, val, path))
        if "regex" in rule:
            out.extend(_check_regex(rule, val, path))
        if "enum" in rule:  # engine extension (north rule): enum membership
            out.extend(_check_enum(rule, val, path))
    return out


def _check_enum(rule: dict, val: Any, path: str) -> list[Violation]:
    allowed = [js_tostring(e) for e in rule["enum"]]
    actual = js_tostring(val)
    if actual not in allowed:
        expected = ",".join("" if a is None else a for a in allowed)
        return [(path, "enum", expected, actual)]
    return []


def _check_type(rule: dict, val: Any, path: str) -> list[Violation]:
    expected = rule["type"]
    if expected == "string":  # js:10-31
        if _is_optional(rule) and val is None:
            return []
        if not isinstance(val, str):
            return [(path, "type", "string", js_typeof(val))]  # plain typeof, js:18
        if js_trim(val) == "":
            if _is_optional(rule):
                return []
            return [(path, "type", "non-empty string", "empty string")]
        return []
    if expected == "array":  # js:33-51
        if not isinstance(val, list):
            return [(path, "type", "array", js_actual(val))]
        nested = rule.get("nestedSchema")
        if nested:
            out: list[Violation] = []
            for i, item in enumerate(val):
                # js:41-45: wrap {'': item} only when typeof !== 'object' OR
                # item is null; dicts AND lists recurse directly (typeof [] is
                # 'object' — string-key lookups then miss every nested key)
                wrapped = item if isinstance(item, (dict, list)) else {"": item}
                out.extend(check_with_schema(nested, wrapped, f"{path}[{i}]"))
            return out
        return []
    if expected == "object":  # js:53-67
        val_type = js_actual(val)
        if val is None or isinstance(val, list) or val_type != "object":
            return [(path, "type", "object", val_type)]
        nested = rule.get("nestedSchema")
        if nested:
            return check_with_schema(nested, val, path)
        return []
    actual = js_actual(val)  # js:69-73 (number, boolean, or any other label)
    if actual != expected:
        return [(path, "type", js_tostring(expected), actual)]
    return []


def _check_value(rule: dict, val: Any, path: str) -> list[Violation]:
    expected = rule["value"]  # js:87-111 — toString equality
    if js_tostring(val) != js_tostring(expected):
        return [(path, "value", js_tostring(expected), js_tostring(val))]
    return []


def _check_length(rule: dict, val: Any, path: str) -> list[Violation]:
    expected = int(rule["length"])  # parseInt, js:77
    # (v || []).length, js:78: EVERY JS-falsy value coerces to [] — null,
    # false, 0, NaN ('' is falsy too, but its own length is already 0)
    falsy = (val is None or val is False
             or (isinstance(val, (int, float)) and not isinstance(val, bool)
                 and (val == 0 or val != val)))
    coerced = [] if falsy else val
    actual = len(coerced) if isinstance(coerced, (str, list)) else None  # undefined
    if actual != expected:
        return [(path, "length", str(expected), None if actual is None else str(actual))]
    return []


def _check_regex(rule: dict, val: Any, path: str) -> list[Violation]:
    pattern = rule["regex"]  # js:113-127
    if (isinstance(val, str) and js_trim(val) == "") or val is None:
        return [(path, "regex", pattern, "empty_value")]
    # String(actual) coercion (js:124): only a true undefined becomes
    # 'undefined' — an empty toString (e.g. String([]) === '') stays ''
    coerced = val if isinstance(val, str) else js_tostring(val)
    if coerced is None:
        coerced = "undefined"
    if re.search(pattern, coerced) is None:
        return [(path, "regex", pattern, js_tostring(val))]
    return []
