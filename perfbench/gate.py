"""The oracle side of the correctness gate.

The engine's violations for a row must equal what the pure Python oracle
(``events_validator_spark.js_oracle``) reports for the same row.
"""

from __future__ import annotations

from events_validator_spark.js_oracle import check_with_schema
from events_validator_spark.sources.synthetic import row_to_event


def typed_mismatches(rows, rules: dict) -> list[str]:
    """Rows carrying their source columns plus the engine's ``violations``:
    every row whose violations differ from the oracle's."""
    out = []
    for row in rows:
        d = row.asDict()
        got = [tuple(v) for v in d.pop("violations")]
        want = check_with_schema(rules, row_to_event(type(row)(**d)))
        if got != want:
            out.append(f"{d.get('doc_id')}: engine {got} oracle {want}")
    return out


def grouped_mismatches(rows, got: dict, rules: dict) -> list[str]:
    """Source rows against violation rows keyed by doc id (``got``: doc id ->
    list of (field, error_type, expected, actual)). Several rows may share a
    doc id, so each side is compared as a multiset per id."""
    want: dict = {}
    for row in rows:
        want.setdefault(row["doc_id"], []).extend(
            check_with_schema(rules, row_to_event(row)))
    out = [f"{k}: engine {sorted(got.get(k, []))} oracle {sorted(v)}"
           for k, v in want.items() if sorted(got.get(k, [])) != sorted(v)]
    out += [f"{k}: engine rows for a doc id not among the source rows"
            for k in got if k not in want]
    return out
