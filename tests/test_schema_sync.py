"""Schema-sync semantics vs the reference (updater.py / test_updater.py).

The first two tests mirror streamlit_ev/tests/test_updater.py:14-87 case for
case; the rest pin check_schema_health / update_schema_full / the storage
round-trip (S8) and rule normalization (F8).
"""

import pytest

from events_validator_spark.operators import schema_sync as ss
from events_validator_spark.sources.rules_loader import (
    load_repo, load_rules, load_rules_dir, normalize_rule_spec,
)


def test_find_impacted_schemas():
    repo = {"param1": {"usedInSchemas": ["s1.json", "s2.json"]}, "param2": {}}
    assert ss.find_impacted_schemas("param1", repo) == ["s1.json", "s2.json"]
    assert ss.find_impacted_schemas("param2", repo) == []
    assert ss.find_impacted_schemas("missing", repo) == []


def test_rebuild_schema_dry_run_simple():
    # mirrors test_updater.py:23-57
    schema = {
        "event_name": {"value": "test"},
        "version": {"value": 1},
        "my_param": {"type": "string", "value": "initial",
                     "description": "old desc", "regex": "old regex"},
    }
    new_param = {"type": "string", "description": "new desc",
                 "regex": "new regex", "value": "repo default"}
    orig, new = ss.rebuild_schema_dry_run(schema, "my_param", new_param)
    assert new["my_param"]["description"] == "new desc"
    assert new["my_param"]["regex"] == "new regex"
    # value preserved because the type matched and it existed
    assert new["my_param"]["value"] == "initial"
    # deep copy: the original is untouched
    assert orig["my_param"]["description"] == "old desc"


def test_rebuild_schema_dry_run_type_change():
    # mirrors test_updater.py:60-87
    schema = {"my_param": {"type": "string", "value": "some string"}}
    new_param = {"type": "number", "value": 42}
    _, new = ss.rebuild_schema_dry_run(schema, "my_param", new_param)
    assert new["my_param"]["type"] == "number"
    # type changed -> old value NOT preserved; repo default wins
    assert new["my_param"]["value"] == 42


def test_rebuild_missing_schema():
    assert ss.rebuild_schema_dry_run(None, "p", {}) == ({}, {})
    assert ss.rebuild_schema_dry_run({}, "p", {}) == ({}, {})


def test_construct_schema_definition_sentinels_and_casts():
    assert ss.construct_schema_definition(
        {"type": "number", "description": "d", "value": "42"}
    ) == {"type": "number", "description": "d", "value": 42}
    assert ss.construct_schema_definition(
        {"type": "number", "description": "d", "value": "4.5"}
    )["value"] == 4.5
    # 'Any' / blank sentinel -> no value key at all
    assert "value" not in ss.construct_schema_definition(
        {"type": "string", "value": "Any"})
    assert "value" not in ss.construct_schema_definition(
        {"type": "string", "value": "   "})
    assert ss.construct_schema_definition(
        {"type": "boolean", "value": "True"})["value"] is True
    # arrays: nestedSchema rebuilt with the same coercion
    built = ss.construct_schema_definition(
        {"type": "array", "nestedSchema": {
            "qty": {"type": "number", "value": "3", "description": "q"}}})
    assert built["nestedSchema"]["qty"] == {
        "type": "number", "description": "q", "value": 3}


def test_check_schema_health_mirrors_reference():
    repo = {
        "ok_p": {"type": "string", "description": "d", "value": "v"},
        "crit_p": {"type": "number", "description": "d"},
        "minor_desc": {"type": "string", "description": "new"},
        "minor_val": {"type": "number", "description": "d", "value": "2"},
        "tol_val": {"type": "number", "description": "d", "value": "0.0"},
        "str_5": {"type": "string", "description": "d", "value": 5},
        "arr_empty": {"type": "array", "description": "d", "nestedSchema": {}},
        "not_dict": {"type": "string", "description": "d"},
    }
    schema = {
        "event_name": {"value": "e"}, "version": {"value": 1},
        "ok_p": {"type": "string", "description": "d", "value": "v"},
        "crit_p": {"type": "string", "description": "d"},
        "minor_desc": {"type": "string", "description": "old"},
        "minor_val": {"type": "number", "description": "d", "value": 3},
        "tol_val": {"type": "number", "description": "d", "value": 0},
        "unknown_p": {"type": "string"},        # not in repo -> skipped
        "str_5": {"type": "string", "description": "d", "value": "5"},
        "arr_empty": {"type": "array", "description": "d"},
        "not_dict": "oops",                     # no type -> critical
    }
    h = ss.check_schema_health(schema, repo)
    assert h["critical"] == ["crit_p", "not_dict"]
    # a string param compares values as stored (5 != "5"); an empty repo
    # nestedSchema matches a schema with none (no keys on either side)
    assert sorted(h["minor"]) == ["minor_desc", "minor_val", "str_5"]


def test_check_schema_health_nested_drift():
    repo = {"items": {"type": "array", "description": "d", "nestedSchema": {
        "id": {"type": "string", "description": "x"},
        "qty": {"type": "number", "description": "y"}}}}
    in_sync = {"items": {"type": "array", "description": "d", "nestedSchema": {
        "id": {"type": "string", "description": "x"},
        "qty": {"type": "number", "description": "y"}}}}
    assert ss.check_schema_health(in_sync, repo) == {
        "critical": [], "minor": []}
    for bad_nested in (
        {"id": {"type": "string", "description": "x"}},               # count
        {"id": {"type": "string", "description": "x"},
         "QQ": {"type": "number", "description": "y"}},               # key set
        {"id": {"type": "string", "description": "x"},
         "qty": {"type": "string", "description": "y"}},              # type
        {"id": {"type": "string", "description": "x"},
         "qty": {"type": "number", "description": "CHANGED"}},        # desc
    ):
        drifted = {"items": {"type": "array", "description": "d",
                             "nestedSchema": bad_nested}}
        assert ss.check_schema_health(drifted, repo)["minor"] == ["items"]


def test_update_schema_full_smart_preservation():
    repo = {
        "kept": {"type": "string", "description": "new d", "value": "repo v"},
        "retyped": {"type": "number", "description": "d", "value": "7"},
        "arr": {"type": "array", "description": "d", "nestedSchema": {
            "q": {"type": "number", "description": "nd", "value": "1"}}},
    }
    schema = {
        "version": {"value": 3},
        "kept": {"type": "string", "description": "old d", "value": "mine"},
        "retyped": {"type": "string", "value": "stale"},
        "arr": {"type": "array", "description": "old", "nestedSchema": {
            "q": {"type": "number", "description": "x", "value": 99}}},
        "unknown": {"type": "string", "value": "untouched"},
        "not_dict": "oops",
    }
    repo["not_dict"] = {"type": "string", "description": "nd", "value": "r"}
    new, updated = ss.update_schema_full(schema, repo)
    assert updated
    assert new["version"] == {"value": 3}                 # reserved untouched
    assert new["unknown"] == {"type": "string", "value": "untouched"}
    assert new["kept"]["description"] == "new d"
    assert new["kept"]["value"] == "mine"                 # type match -> keep
    assert new["retyped"]["type"] == "number"
    assert new["retyped"]["value"] == 7                   # repo wins on retype
    assert new["arr"]["nestedSchema"]["q"]["value"] == 99  # nested keep
    assert new["arr"]["nestedSchema"]["q"]["description"] == "nd"
    # a non-dict param has no type: the repo's definition replaces it
    assert new["not_dict"] == {"type": "string", "description": "nd",
                               "value": "r"}

    assert ss.update_schema_full(None, repo) == ({}, False)
    assert ss.update_schema_full({"version": {"value": 1}}, repo)[1] is False


def test_save_load_roundtrip_and_compile(tmp_path, spark):
    """S8: write -> list -> load -> compile round trip."""
    from events_validator_spark.operators.validation import validate_json
    schema = {"k": {"type": "number"}, "u": {"type": "string",
                                             "value": "Any"}}
    d = str(tmp_path / "bucket")
    p = ss.save_schema(schema, d, "my_event")
    assert p.endswith("my_event.json")
    ss.save_repo({"k": {"type": "number", "usedInSchemas": ["my_event"]}}, d)
    loaded = load_rules_dir(d, normalize=True)
    assert list(loaded) == ["my_event"]                  # repo.json excluded
    assert "value" not in loaded["my_event"]["u"]        # F8 sentinel dropped
    df = spark.createDataFrame([(1, '{"k": "oops"}')], ["i", "props"])
    out = validate_json(df, loaded["my_event"], "props").collect()[0]
    kinds = {tuple(v)[:2] for v in out["violations"]}
    assert ("k", "type") in kinds and ("u", "missing") in kinds
    assert load_rules(str(tmp_path / "nope.json")) is None


def test_normalize_rule_spec_f8():
    rules = {
        "a": {"type": "number", "value": "42"},
        "b": {"type": "number", "value": "4.5"},
        "c": {"type": "string", "value": "Any"},
        "d": {"type": "boolean", "value": "true"},
        "e": {"type": "string", "value": None},      # real JS null pin: kept
        "arr": {"type": "array", "nestedSchema": {
            "q": {"type": "number", "value": "7"}}},
        "version": 2,
    }
    n = normalize_rule_spec(rules)
    assert n["a"]["value"] == 42 and n["b"]["value"] == 4.5
    assert "value" not in n["c"]
    assert n["d"]["value"] is True
    assert "value" in n["e"] and n["e"]["value"] is None
    assert n["arr"]["nestedSchema"]["q"]["value"] == 7
    assert n["version"] == 2


def test_export_schema_report(tmp_path):
    schema = {
        "event_name": {"type": "string", "value": "purchase"},
        "version": {"type": "number", "value": 2},
        "currency": {"type": "string", "value": "USD",
                     "description": "ISO\ncode"},
        "items": {"type": "array", "description": "cart", "nestedSchema": {
            "item_id": {"type": "string", "description": "sku"}}},
    }
    md = ss.export_schema_report(schema)
    assert md.startswith("Schema name: purchase version: 2")
    assert "| **currency** | string | Yes | USD | ISO<br>code |" in md
    assert "## items: nested keys" in md
    assert "| **item_id** | string | Yes |  | sku |" in md
    p = ss.save_schema_report(schema, str(tmp_path), "purchase")
    assert open(p).read() == md
    # missing header fields fall back like the reference
    assert ss.export_schema_report({}).startswith(
        "Schema name: not provided version: not provided")


def test_used_in_schemas_maintenance(tmp_path):
    """Round-3 verdict item 4: saving a schema that references param p must
    add the schema to p's usedInSchemas (helpers.py:353-397), so
    find_impacted_schemas stays truthful after saves."""
    repo = {"price": {"type": "number", "description": "d"},
            "color": {"type": "string", "description": "c",
                      "usedInSchemas": ["old_event"]}}
    schema = {"event_name": {"value": "purchase"},
              "price": {"type": "number"},
              "color": {"type": "string"},
              "unknown_param": {"type": "string"}}
    path = ss.save_schema(schema, str(tmp_path), "purchase", repo=repo)
    assert path.endswith("purchase.json")
    assert ss.find_impacted_schemas("price", repo) == ["purchase"]
    assert ss.find_impacted_schemas("color", repo) == ["old_event", "purchase"]
    assert "unknown_param" not in repo  # unknown params are ignored, not added
    # the repo was re-persisted next to the schema
    import json as _json
    with open(tmp_path / "repo.json") as f:
        on_disk = _json.load(f)
    assert on_disk["price"]["usedInSchemas"] == ["purchase"]
    # idempotent: a second save changes nothing
    ss.save_schema(schema, str(tmp_path), "purchase", repo=repo)
    assert ss.find_impacted_schemas("price", repo) == ["purchase"]


def test_save_schema_refuses_the_repo_name(tmp_path):
    """``repo`` names the parameter repository (repo.json), which the
    loaders skip as a schema: saving an event schema under it raises and
    leaves the directory as it was."""
    from events_validator_spark.sources.rules_loader import load_rules_dir
    repo = {"p": {"type": "string", "description": "d"}}
    ss.save_schema({"p": {"type": "string"}}, str(tmp_path), "ev", repo=repo)
    before = {f.name: f.read_bytes() for f in tmp_path.iterdir()}
    with pytest.raises(ValueError):
        ss.save_schema({"p": {"type": "string"}}, str(tmp_path), "repo",
                       repo=repo)
    assert {f.name: f.read_bytes() for f in tmp_path.iterdir()} == before
    assert list(load_rules_dir(str(tmp_path))) == ["ev"]


def test_sync_repo_usage_index_matches_ground_truth():
    """After sync_repo_usage, the cached reverse index
    (find_impacted_schemas) agrees with the ground truth (the repo params
    each schema declares) for every repo param."""
    repo = {"price": {"type": "number"}, "color": {"type": "string"},
            "unused": {"type": "string", "usedInSchemas": []}}
    rules_by_name = {
        "purchase": {"price": {"type": "number"}, "color": {"type": "string"}},
        "view_item": {"color": {"type": "string"}, "version": {"value": 1}},
    }
    assert ss.sync_repo_usage(repo, rules_by_name) is True
    truth = {(p, name) for name, s in rules_by_name.items() for p in s
             if p in repo}
    cached = {(p, name) for p in repo
              for name in ss.find_impacted_schemas(p, repo)}
    assert cached == truth
    assert not ss.sync_repo_usage(repo, rules_by_name)  # converged


def test_schema_health_raw_fallback_for_noncastable_numbers():
    """ADVICE r2: two DIFFERENT non-castable strings on a number param must
    flag drift (the reference's except-fallback compares raw); identical
    junk strings stay 'ok'."""
    repo = {"a": {"type": "number", "value": "abc"},
            "b": {"type": "number", "value": "junk"},
            "c": {"type": "number", "value": "2.0"}}
    rules_by_name = {"e": {
        "a": {"type": "number", "value": "def"},    # junk vs junk, different
        "b": {"type": "number", "value": "junk"},   # junk vs junk, identical
        "c": {"type": "number", "value": "2"},      # numeric-tolerant equal
    }}
    # single except-fallback like updater.py:186-192: only "a" drifts
    h = ss.check_schema_health(rules_by_name["e"], repo)
    assert h == {"critical": [], "minor": ["a"]}


def test_clean_repo_types_load_time_normalization(tmp_path):
    """Port of repo.py:24-48: numeric strings coerce on load (top-level and
    nested), junk/blank strings pass through, round trip via save_repo."""
    repo = {
        "price": {"type": "number", "value": "3.5"},
        "count": {"type": "number", "value": "7"},
        "junk": {"type": "number", "value": "abc"},
        "blank": {"type": "number", "value": "  "},
        "items": {"type": "array", "nestedSchema": {
            "qty": {"type": "number", "value": "2"},
            "name": {"type": "string", "value": "5"},  # not a number param
        }},
    }
    ss.save_repo(repo, str(tmp_path))
    loaded = load_repo(str(tmp_path))
    assert loaded["price"]["value"] == 3.5
    assert loaded["count"]["value"] == 7
    assert loaded["junk"]["value"] == "abc"
    assert loaded["blank"]["value"] == "  "
    assert loaded["items"]["nestedSchema"]["qty"]["value"] == 2
    assert loaded["items"]["nestedSchema"]["name"]["value"] == "5"
    assert load_repo(str(tmp_path / "empty")) is None  # 404 -> null
    assert ss.available_categories(
        {"a": {"category": "ecom"}, "b": {"category": "core"},
         "c": {}, "d": {"category": ""}}) == ["core", "ecom"]


def test_editor_model_round_trip_on_ga4():
    """convert_export_to_internal / export_internal_schema are each other's
    inverse on normalized export documents: round-tripping every GA4 seed
    schema through the editor model is a fixed point (the reference's own
    save path), and the editor normalizations (blank-key skip, sentinel
    drop, numeric coercion, array value/regex drop) match helpers.py."""
    import glob
    import json as _json
    files = sorted(glob.glob(
        "/root/reference/terraform_backend/src/GA4 Recommended/schemas/*.json"))
    assert len(files) >= 30
    for path in files:
        with open(path) as f:
            export = _json.load(f)
        internal = ss.convert_export_to_internal(export)
        back = ss.export_internal_schema(internal)
        for key, props in export.items():
            if key in ("event_name", "version"):
                continue
            got = back[key]
            assert got.get("type", "") == props.get("type", ""), (path, key)
            assert got.get("value") == props.get("value"), (path, key)
            assert got.get("regex") == props.get("regex"), (path, key)
            if "nestedSchema" in props:
                assert set(got["nestedSchema"]) == set(props["nestedSchema"])
    # editor normalizations on a crafted internal doc
    internal = {
        0: {"key": "event_name", "value": "e", "description": ""},
        1: {"key": "version", "value": 1, "description": ""},
        2: {"key": "  ", "type": "string"},                    # blank: skipped
        3: {"key": "n", "type": "number", "value": "2.5"},     # coerced
        4: {"key": "s", "type": "string", "value": "Any"},     # sentinel drop
        5: {"key": "a", "type": "array", "value": "x",         # array: no value
            "regex": "^x$", "nestedSchema": {
                0: {"key": "k", "type": "number", "value": "3"},
                1: {"key": "", "type": "string"}}},            # blank nested
    }
    out = ss.export_internal_schema(internal)
    assert "  " not in out and out["n"]["value"] == 2.5
    assert "value" not in out["s"]
    assert "value" not in out["a"] and "regex" not in out["a"]
    assert out["a"]["nestedSchema"] == {
        "k": {"type": "number", "description": "", "value": 3}}
