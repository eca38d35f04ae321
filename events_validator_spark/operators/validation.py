"""Validation entry points: typed columns, JSON payloads, many event types.

The reference validates one JSON event at a time with a tree-walking
interpreter (/root/reference/validator_src/helpers/validationHelpers.js:130-164).
Here the rule spec compiles ONCE on the driver — by the single SQL-text
compiler in :mod:`validation_sql`, memoized per (rules, schema) — into one
``array<struct<field,error_type,expected,actual>>`` column per row; Catalyst
folds the constants and the whole validation pass runs as one projection over
the table — no per-row Python anywhere.

This module binds rule keys to fields and assembles the per-key checks:

* :func:`validate_typed` — events live in ordinary typed (nested) columns,
  e.g. the interleaved-docs table ``(doc_id, spans: array<struct<...>>)``;
  NULL ⇒ absent (documented divergence).
* :func:`validate_json` — events live in a JSON string column, parsed once
  per row into a VARIANT with full JS fidelity.
* :func:`validate_multi` — per-row event type selects its rule set.

Helper columns are staged under a prefix no input column starts with and
only those are dropped again, so input columns always come back unchanged.

Semantics pinned against :mod:`events_validator_spark.js_oracle` by
tests/test_validation*.py (SURVEY.md §2.2 quirk list V1–V12).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from events_validator_spark.operators.validation_sql import (
    EMPTY,
    VIOLATION_ARRAY_DDL,
    concat,
    ident,
    json_path,
    key_check,
    lit,
    one,
    reads_string,
    spec_json,
    staged_view,
    typed_scope,
    variant_to_string_sql,
)

# the reference 400s a malformed payload (validator_src/index.js:28-37)
_INVALID = one("'$'", "invalid_request", lit("well-formed JSON"),
               lit("malformed JSON"))


def _fresh_prefix(names: list[str], base: str = "__f") -> str:
    """A helper-column prefix no given name starts with (case-insensitive,
    as Spark resolves names)."""
    prefix = base
    while any(n.lower().startswith(prefix + "_") for n in names):
        prefix += "x"
    return prefix


def _checks(rules: dict, view_for: Callable[[str], object]) -> str:
    # 'version' is never validated (js:134)
    return concat([key_check(key, rule, view_for(key))
                   for key, rule in rules.items() if key != "version"])


def validate_typed(df: DataFrame, rules: dict,
                   out_col: str = "violations") -> DataFrame:
    """Validate typed (nested) columns of ``df`` against ``rules``.

    One projection; no shuffle; whole-stage codegen end to end.
    """
    checks = _checks(rules, typed_scope(None, df.schema))
    return df.withColumn(out_col, F.expr(checks))


def _stage_json(df: DataFrame, json_col: str, rule_sets: list[dict],
                prefix: str) -> tuple[DataFrame, dict, str, list[str]]:
    """Stage-1 projection for the VARIANT validators.

    The PARSE is its own column, then per top-level rule key one struct of
    the field's variant, its ``schema_of_variant``, and — for keys a value/
    regex/enum check reads — its JS toString. Variant expressions are
    CodegenFallback, so neither codegen subexpression elimination nor the
    interpreter dedups an inlined ``try_parse_json``/``try_variant_get``:
    staged, each evaluates once per row (validate_events ~1.9 s → ~1.1 s at
    1M events), and per-check text references the small struct columns.
    CollapseProject keeps the stages apart because the aliases are
    non-trivial and referenced many times.

    Returns (staged df, key → staged view, malformed-JSON flag column name,
    names of the added columns).
    """
    keys = sorted({k for rules in rule_sets for k in rules if k != "version"})
    string_keys = {k for rules in rule_sets for k, r in rules.items()
                   if k != "version" and isinstance(r, dict)
                   and reads_string(r)}
    parsed = f"{prefix}_parsed"
    df = df.withColumn(parsed, F.try_parse_json(F.col(json_col)))
    cols, views = {}, {}
    for i, k in enumerate(keys):
        name = f"{prefix}_{i}"
        v = f"try_variant_get({ident(parsed)}, {json_path(k)}, 'variant')"
        parts = [f"{v} AS v", f"schema_of_variant({v}) AS sv"]
        if k in string_keys:
            parts.append(f"{variant_to_string_sql(v)} AS s")
        cols[name] = F.expr(f"struct({', '.join(parts)})")
        views[k] = staged_view(name, k in string_keys)
    # the malformed-JSON flag is staged too: re-parsing in the consumer
    # projection would cost one extra try_parse_json per row
    bad = f"{prefix}_bad"
    cols[bad] = F.col(json_col).isNotNull() & F.col(parsed).isNull()
    return df.withColumns(cols).drop(parsed), views, bad, list(cols)


def validate_json(df: DataFrame, rules: dict, json_col: str,
                  out_col: str = "violations") -> DataFrame:
    """Validate a JSON-string column with full JS fidelity via VARIANT.

    Malformed JSON does NOT abort the job (one bad row must not kill a
    10^12-row pass): such rows get a single ``invalid_request`` violation —
    the reference 400s them (validator_src/index.js:28-37).
    """
    prefix = _fresh_prefix([*df.columns, out_col])
    staged, views, bad, added = _stage_json(df, json_col, [rules], prefix)
    out = (f"CASE WHEN {ident(bad)} THEN {_INVALID} "
           f"ELSE {_checks(rules, views.__getitem__)} END")
    return staged.withColumn(out_col, F.expr(out)).drop(*added)


def validate_multi(df: DataFrame, rules_by_name: dict[str, dict],
                   name_col: str, json_col: str | None = None,
                   out_col: str = "violations",
                   status_col: str = "status") -> DataFrame:
    """Dynamic multi-schema dispatch (SURVEY.md §2.3 J1).

    The reference resolves ``<event_name>.json`` per request
    (validator_src/index.js:45). Here every DISTINCT (key, rule) check
    compiles once and is staged as ONE projected column, gated on an integer
    type id (one string compare chain per row, then O(1) set probes), and
    the row's type concatenates its checks' columns — one pass, no join, no
    shuffle. The JVM analyzes each shared subtree once instead of once per
    event type (the GA4 corpus' nested-items subtree alone cost ~4.5 s per
    plan build inlined per type). A row still evaluates exactly the checks
    its own type declares: rows of other types, unknown types and malformed
    payloads see the gate fail.

    An unknown type — or an empty ``rules_by_name`` — yields NULL violations
    and status 'schema_not_found' (the reference's HTTP 404,
    index.js:47-50); otherwise status is 'validation_failed' / 'valid'
    (index.js:54-75). With ``json_col``, a malformed payload of a KNOWN type
    gets validate_json's ``invalid_request`` violation.
    """
    names = list(rules_by_name)
    prefix = _fresh_prefix([*df.columns, out_col, status_col])
    if not names:
        out = df.withColumn(out_col, F.lit(None).cast(VIOLATION_ARRAY_DDL))
    else:
        if json_col is None:
            staged, bad, added = df, None, []
            view_for = typed_scope(None, df.schema)
        else:
            staged, views, bad, added = _stage_json(
                df, json_col, list(rules_by_name.values()), prefix)
            view_for = views.__getitem__
        # one string compare chain per row; every gate is then an int probe
        ti = f"{prefix}_ti"
        ti_col = F.when(F.col(name_col) == names[0], 0)
        for i, name in enumerate(names[1:], 1):
            ti_col = ti_col.when(F.col(name_col) == name, i)

        reg: dict = {}   # (key, rule spec) → [column name, check, type ids]
        per_type: list[list[str]] = []
        for tid, rules in enumerate(rules_by_name.values()):
            cols = []
            for key, rule in rules.items():
                if key == "version":
                    continue
                ck = (key, spec_json(rule))
                if ck not in reg:
                    reg[ck] = [f"{prefix}_chk_{len(reg)}",
                               key_check(key, rule, view_for(key)), []]
                reg[ck][2].append(tid)
                cols.append(reg[ck][0])
            per_type.append(cols)

        proj = []
        for name, check, tids in reg.values():
            gate = (f"{ident(ti)} IN ({', '.join(map(str, tids))})"
                    if len(tids) < len(names) else f"{ident(ti)} != -1")
            if bad is not None:
                gate += f" AND NOT {ident(bad)}"
            proj.append(F.expr(f"CASE WHEN {gate} THEN {check} ELSE {EMPTY} END")
                        .alias(name))
        staged = staged.withColumn(ti, ti_col.otherwise(-1)).select("*", *proj)
        branches = " ".join(
            f"WHEN {tid} THEN {concat([ident(n) for n in cols])}"
            for tid, cols in enumerate(per_type))
        dispatch = F.expr(f"CASE {ident(ti)} {branches} "
                          f"ELSE CAST(NULL AS {VIOLATION_ARRAY_DDL}) END")
        if bad is not None:
            known = F.col(name_col).isin(names)
            dispatch = F.when(known & F.col(bad), F.expr(_INVALID)) \
                .otherwise(dispatch)
        out = staged.withColumn(out_col, dispatch).drop(
            *added, ti, *[e[0] for e in reg.values()])
    return out.withColumn(
        status_col,
        F.when(F.col(out_col).isNull(), "schema_not_found")
        .when(F.size(out_col) > 0, "validation_failed")
        .otherwise("valid"))


def request_gate(df: DataFrame, name_col: str,
                 required_cols: list[str] | None = None) -> DataFrame:
    """Pre-flight gating (SURVEY.md §2.2 V13): the reference 400s requests with
    no body / no event data / no event name (validator_src/index.js:24-43).
    Batch equivalent: rows failing the gate get status 'invalid_request' and
    are excluded from validation by the caller."""
    cond = F.col(name_col).isNull() | (F.trim(F.col(name_col)) == "")
    for c in required_cols or []:
        cond = cond | F.col(c).isNull()
    return df.withColumn("gate_status",
                         F.when(cond, "invalid_request").otherwise("ok"))


def explode_violations(df: DataFrame, id_cols: list[str],
                       violations_col: str = "violations") -> DataFrame:
    """violations array → one row per violation (the reference's log-row shape)."""
    v = F.explode(F.col(violations_col)).alias("v")
    return (df.select(*id_cols, v)
            .select(*id_cols, "v.field", "v.error_type", "v.expected", "v.actual"))
