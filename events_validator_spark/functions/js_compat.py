"""JS-semantics compatibility shims: Spark SQL text plus driver-side mirrors.

The reference engine runs in Node.js, so its observable outputs (violation rows)
carry JS coercion artifacts: ``typeof null === 'object'``, ``String(1.0) === '1'``,
``[1,null,2].toString() === '1,,2'``, unanchored ``RegExp.test``. These helpers
reproduce those artifacts with built-in Spark SQL functions only (JVM-side,
whole-stage-codegen friendly) — no Python UDFs — emitted as SQL text for the
rule compiler (operators/validation_sql.py).

Reference: /root/reference/validator_src/helpers/validationHelpers.js:7,17,108,124
and loggingHelpers.js:13-14.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Static (compile-time) typeof for typed columns
# ---------------------------------------------------------------------------

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def static_js_actual(dtype: T.DataType) -> str:
    """``Array.isArray(v) ? 'array' : typeof v`` for a statically-typed column."""
    if isinstance(dtype, T.ArrayType):
        return "array"
    return static_js_typeof(dtype)


def static_js_typeof(dtype: T.DataType) -> str:
    """Plain JS ``typeof`` for a statically-typed (non-null) column value."""
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, _NUMERIC):
        return "number"
    # arrays, structs, maps, binary, timestamps… — JSON-side these are objects
    return "object"


# ---------------------------------------------------------------------------
# JS toString as SQL text
# ---------------------------------------------------------------------------

def js_number_to_string_sql(x: str) -> str:
    """JS ``String(number)`` of the SQL expression ``x`` — exact over the
    full double range.

    Integral |v| < 1e16 takes the cheap long-cast path; everything else is
    rebuilt from (shortest digits, exponent) following Number::toString
    (ECMA-262 §6.1.6.1.20): decimal notation for -6 < k+1 ≤ 21, scientific
    ``d.ddde±k`` outside, 'NaN'/'Infinity'/'0' (also for -0) specials. The
    shortest digits are the first ``%.pe`` (p = 0..16, binary-searched:
    round-tripping is monotone in p) that parses back to the exact value —
    this sidesteps Java ≤18's non-shortest ``Double.toString``
    (JDK-4511638) and matches ECMAScript's (and Python repr's) tie rule.
    Pinned against :func:`py_js_number_repr` and hand-checked ECMAScript
    outputs by tests/test_js_numbers.py.

    The input double, its abs, the search result, and the decimal-point
    position are LET-BOUND (``transform(array(e), _v -> …)[0]``): the text
    stays small and each binds once per row instead of once per reference —
    the VARIANT projection runs interpreted, where conditional
    subexpressions are never deduplicated."""
    d, a = "_jsd", "_jsa"
    sign = f"CASE WHEN ({d} < 0) THEN '-' ELSE '' END"

    def cand(p: int) -> str:
        return f"format_string('%.{p}e', {a})"

    def rt(p: int) -> str:
        return f"(try_cast({cand(p)} AS DOUBLE) = {a})"

    def search(lo: int, hi: int) -> str:
        if lo == hi:
            return cand(lo)
        mid = (lo + hi) // 2
        return (f"CASE WHEN {rt(mid)} THEN {search(lo, mid)} "
                f"ELSE {search(mid + 1, hi)} END")

    rep, digits, n = "_jsrep", "_jsdig", "_jsn"
    L = f"length({digits})"
    intpad = f"concat({digits}, repeat('0', CAST(({n} - {L}) AS INT)))"
    point = (f"concat(substr({digits}, 1, {n}), '.', "
             f"substr({digits}, ({n} + 1), ({L} - {n})))")
    small = f"concat('0.', repeat('0', CAST((-{n}) AS INT)), {digits})"
    mant_js = (f"CASE WHEN ({L} = 1) THEN {digits} ELSE "
               f"concat(substr({digits}, 1, 1), '.', "
               f"substr({digits}, 2, ({L} - 1))) END")
    sci = (f"concat({mant_js}, 'e', "
           f"CASE WHEN (({n} - 1) >= 0) THEN '+' ELSE '-' END, "
           f"CAST(abs(({n} - 1)) AS STRING))")
    fmt = (f"CASE WHEN (({L} <= {n}) AND ({n} <= 21)) THEN {intpad} "
           f"WHEN ((0 < {n}) AND ({n} <= 21)) THEN {point} "
           f"WHEN ((-6 < {n}) AND ({n} <= 0)) THEN {small} "
           f"ELSE {sci} END")
    mant = f"substring_index({rep}, 'e', 1)"
    k1 = f"(CAST(substring_index({rep}, 'e', -1) AS INT) + 1)"
    fmt_n = f"transform(array({k1}), {n} -> {fmt})[0]"
    with_digits = (f"transform(array(regexp_replace({mant}, '\\\\.', '')), "
                   f"{digits} -> {fmt_n})[0]")
    body = f"transform(array({search(0, 16)}), {rep} -> {with_digits})[0]"
    full = (f"CASE WHEN ({d} IS NULL) THEN CAST(NULL AS STRING) "
            f"WHEN isnan({d}) THEN 'NaN' "
            f"WHEN ({d} = 0) THEN '0' "
            f"WHEN ({a} = CAST('Infinity' AS DOUBLE)) "
            f"THEN concat({sign}, 'Infinity') "
            f"WHEN (({d} = floor({d})) AND ({a} < 1.0E16)) "
            f"THEN CAST(CAST({d} AS BIGINT) AS STRING) "
            f"ELSE concat({sign}, {body}) END")
    return (f"transform(array(CAST({x} AS DOUBLE)), {d} -> "
            f"transform(array(abs({d})), {a} -> {full})[0])[0]")


def _array_depth(dtype: T.DataType) -> int:
    if isinstance(dtype, T.ArrayType):
        return 1 + _array_depth(dtype.elementType)
    return 0


def js_to_string_sql(c: str, dtype: T.DataType) -> str:
    """JS ``v?.toString()`` of a typed value as SQL text (null → NULL,
    matching ``?.``). Recurses on the Spark type, so it ends at the type's
    finite depth; each nested array's lambda variable is named by its own
    array depth, which keeps the names distinct per level."""
    null = "CAST(NULL AS STRING)"
    if isinstance(dtype, T.StringType):
        return c
    if isinstance(dtype, T.BooleanType):
        return (f"CASE WHEN ({c} IS NULL) THEN {null} "
                f"ELSE CASE WHEN {c} THEN 'true' ELSE 'false' END END")
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return js_number_to_string_sql(c)
    if isinstance(dtype, T.ArrayType):
        x = f"_jts{_array_depth(dtype)}"
        # JS Array.prototype.toString: elements joined by ',', null → ''
        elem = js_to_string_sql(x, dtype.elementType)
        return (f"CASE WHEN ({c} IS NULL) THEN {null} ELSE array_join("
                f"transform({c}, {x} -> coalesce({elem}, '')), ',') END")
    if isinstance(dtype, (T.StructType, T.MapType)):
        return f"CASE WHEN ({c} IS NULL) THEN {null} ELSE '[object Object]' END"
    return f"CAST({c} AS STRING)"  # integral numbers and the rest


def _py_digits_exp(a: float) -> tuple[str, int]:
    """(shortest digits, power-of-ten exponent of the first digit) from
    Python's repr — Python and ECMAScript share the shortest-round-trip
    digit selection (same tie rule)."""
    s = repr(a)
    if "e" in s:
        m, e = s.split("e")
        digits = m.replace(".", "").rstrip("0") or "0"
        return digits, int(e)
    ip, _, fp = s.partition(".")
    if ip == "0":
        stripped = fp.lstrip("0")
        return (stripped.rstrip("0") or "0"), -(len(fp) - len(stripped) + 1)
    return ((ip + fp).rstrip("0") or "0"), len(ip) - 1


def py_js_number_repr(v: float) -> str:
    """JS ``String(number)`` in pure Python — the exact Number::toString
    boundaries (decimal for -6 < k+1 ≤ 21, 'd.ddde±k' outside, NaN/Infinity,
    -0 → '0'); mirrors :func:`js_number_to_string_sql`."""
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "Infinity"
    if v == float("-inf"):
        return "-Infinity"
    if v == 0:
        return "0"
    sign = "-" if v < 0 else ""
    digits, k = _py_digits_exp(abs(v))
    n, L = k + 1, len(digits)
    if L <= n <= 21:
        body = digits + "0" * (n - L)
    elif 0 < n <= 21:
        body = digits[:n] + "." + digits[n:]
    elif -6 < n <= 0:
        body = "0." + "0" * (-n) + digits
    else:
        mant = digits[0] + ("." + digits[1:] if L > 1 else "")
        body = f"{mant}e{'+' if n - 1 >= 0 else '-'}{abs(n - 1)}"
    return sign + body


def py_js_to_string(v: object) -> str | None:
    """Driver-side JS toString for rule-spec literals (expected values)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        # JS numbers are doubles — large JSON ints print like 1e+22
        try:
            return py_js_number_repr(float(v))
        except OverflowError:
            return "Infinity" if v > 0 else "-Infinity"
    if isinstance(v, list):
        return ",".join(
            "" if x is None else (py_js_to_string(x) or "") for x in v)
    if isinstance(v, dict):
        return "[object Object]"
    return str(v)


# ---------------------------------------------------------------------------
# Whitespace
# ---------------------------------------------------------------------------

# what JS String.prototype.trim strips: ECMA-262 WhiteSpace (TAB, VT, FF,
# ZWNBSP U+FEFF and every Unicode "Zs" space) and LineTerminator (LF, CR,
# LS, PS). Python's str.strip() differs both ways: it strips U+001C-U+001F
# and U+0085, and keeps U+FEFF.
JS_WHITESPACE = ("\t\n\v\f\r \xa0\u1680"
                 + "".join(map(chr, range(0x2000, 0x200B)))
                 + "\u2028\u2029\u202f\u205f\u3000\ufeff")


def js_trim(s: str) -> str:
    """JS ``s.trim()``."""
    return s.strip(JS_WHITESPACE)


def js_trim_sql(s: str) -> str:
    """JS ``s.trim()`` of the SQL string ``s`` (the set as ``\\uXXXX``
    escapes, so the text stays ASCII)."""
    chars = "".join(f"\\u{ord(c):04x}" for c in JS_WHITESPACE)
    return f"trim(BOTH '{chars}' FROM {s})"


# ---------------------------------------------------------------------------
# Regex dialect
# ---------------------------------------------------------------------------

def js_regex_to_java(pattern: str) -> str:
    """Translate a JS RegExp source string to Java regex for ``rlike``.

    The common grammar (char classes, anchors, quantifiers, groups, ``\\d \\w \\s``)
    is identical between the dialects. ``rlike`` is already an unanchored *search*,
    matching ``RegExp.test`` (validationHelpers.js:124). The one translation we do:
    JS allows a literal ``/`` escaped as ``\\/``; Java treats ``\\/`` as an error in
    some contexts — unescape it.

    Accepted subset (validated by :func:`validate_java_regex` at rule-compile
    time): everything legal in BOTH dialects. Known JS-only constructs that are
    rejected rather than mistranslated: dangling ``{`` / lone ``]`` literals,
    class range escapes like ``[a-\\d]``, ``\\cX`` control escapes beyond
    [a-zA-Z], and ES2018 ``(?<name>…)`` uses the identical Java syntax so it
    passes through.
    """
    return pattern.replace("\\/", "/")


def validate_java_regex(pattern: str) -> str | None:
    """Driver-side compile check for a translated pattern; None when OK.

    Uses the real ``java.util.regex`` via the active session's JVM when
    available (exactly what ``rlike`` will run), falling back to Python's
    ``re`` (a close dialect) when no JVM is up.
    """
    try:
        from pyspark.sql import SparkSession
        s = SparkSession.getActiveSession()
        jvm = getattr(s, "_jvm", None) if s is not None else None
        if jvm is not None:
            try:
                jvm.java.util.regex.Pattern.compile(pattern)
                return None
            except Exception as e:  # py4j wraps PatternSyntaxException
                return str(e).splitlines()[0][:200]
    except Exception:
        pass
    import re
    try:
        re.compile(pattern)
        return None
    except re.error as e:
        return str(e)
