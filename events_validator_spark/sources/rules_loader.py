"""Rule-spec loading: the reference's GCS schema bucket as a local JSON dir.

Maps SURVEY.md §2.1 S3/S4/S5: ``loadJsonFromGCS`` fetches ``<event_name>.json``
per request with 404→None (validator_src/helpers/cloudHelpers.js:12-23);
``listAllSchemas`` lists the bucket filtering ``*.json``
(streamlit_ev/app/helpers/gcp.py:92-101). Here the whole rule corpus loads
once on the driver (it is tiny — rule specs, not data) and rides into compiled
Column expressions; Spark broadcasts the closures to executors for free. The
parameter repository (repo.json) loads the same way, with the reference's
load-time type normalization.
"""

from __future__ import annotations

import glob
import json
import os

from events_validator_spark.operators.schema_sync import (
    clean_repo_types, coerce_value,
)


def normalize_rule_spec(rules: dict) -> dict:
    """Rule normalization (SURVEY §2.6 F8): the reference UI writes 'Any' /
    blank as "no pinned value" and may store numbers/booleans as strings
    (repo.py:24-42, updater.py:19-43). Applied before compile: sentinel
    values are DROPPED (a dropped key ≠ ``value: null``, which is a real JS
    pin); typed strings are coerced so the value check compares like the
    reference. Recurses into nestedSchema.
    """
    out: dict = {}
    for key, rule in rules.items():
        if not isinstance(rule, dict):
            out[key] = rule
            continue
        r = dict(rule)
        if "value" in r:
            raw = r["value"]
            if isinstance(raw, str) and (raw == "Any" or raw.strip() == ""):
                r.pop("value")
            else:
                r["value"] = coerce_value(raw, r.get("type", ""))
        if isinstance(r.get("nestedSchema"), dict):
            r["nestedSchema"] = normalize_rule_spec(r["nestedSchema"])
        out[key] = r
    return out


def load_rules(path: str, normalize: bool = False) -> dict | None:
    """One rule spec; missing file → None (the reference's 404 → null)."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rules = json.load(f)
    return normalize_rule_spec(rules) if normalize else rules


def load_rules_dir(dir_path: str, normalize: bool = False) -> dict[str, dict]:
    """All ``*.json`` rule specs in a directory, keyed by event name
    (the file stem, exactly as the reference keys its bucket objects)."""
    out: dict[str, dict] = {}
    for p in sorted(glob.glob(os.path.join(dir_path, "*.json"))):
        name = os.path.splitext(os.path.basename(p))[0]
        if name == "repo":  # the parameter repository is not an event schema
            continue
        with open(p) as f:
            rules = json.load(f)
        out[name] = normalize_rule_spec(rules) if normalize else rules
    return out


def load_repo(dir_path: str) -> dict | None:
    """The parameter repository (repo.json) with numeric strings coerced as
    the reference's ``ensure_repo_loaded`` does (repo.py:44-48,
    schema_sync.clean_repo_types); missing file → None (404 → null)."""
    repo = load_rules(os.path.join(dir_path, "repo.json"))
    return None if repo is None else clean_repo_types(repo)
