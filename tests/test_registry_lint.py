"""Registration hygiene: every function name registered exactly once.

Round-7 hit silently-shadowed duplicate registrations (window fns,
toJSONString, isConstant defined in two places — whichever loaded last
won and the other definition was dead code). These lints make the class
impossible to reintroduce:

- REGISTRY duplicates are tracked at registration time
  (``registry.DUPLICATE_REGISTRATIONS``).
- Dict-literal duplicate keys are invisible at runtime (the literal
  itself collapses them), so the AGGREGATES literal and any other big
  dict literal in the function modules is AST-checked.
"""

from __future__ import annotations

import ast
import os
import re

import clickhouse_from_scratch_spark.functions.aggregates as _aggs  # noqa: F401
from clickhouse_from_scratch_spark.functions.registry import (
    DUPLICATE_REGISTRATIONS,
    REGISTRY,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "clickhouse_from_scratch_spark")


def test_no_duplicate_registry_registrations():
    assert DUPLICATE_REGISTRATIONS == [], (
        "these names are registered more than once — one definition "
        f"silently shadows the other: {sorted(set(DUPLICATE_REGISTRATIONS))}")


def test_registry_is_populated():
    assert len(REGISTRY) > 900


def _dict_literal_dups(path: str) -> list[str]:
    tree = ast.parse(open(path).read())
    dups: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            seen: set = set()
            for k in node.keys:
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    if k.value in seen:
                        dups.append(k.value)
                    seen.add(k.value)
    return dups


def test_no_duplicate_dict_literal_keys():
    for mod in ("functions/aggregates.py", "functions/registry.py",
                "functions/typemap.py", "plans/builder.py"):
        p = os.path.join(PKG, mod)
        if os.path.exists(p):
            assert _dict_literal_dups(p) == [], f"duplicate keys in {mod}"


def test_aggregate_subscript_assignments_unique():
    """AGGREGATES[x] = ... assignments must not re-assign a dict-literal
    key (the -Stable loop etc. must only add NEW names)."""
    p = os.path.join(PKG, "functions/aggregates.py")
    tree = ast.parse(open(p).read())
    literal_keys: set = set()
    assigned: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict) and len(node.keys) > 20:
            literal_keys |= {k.value for k in node.keys
                             if isinstance(k, ast.Constant)}
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if (isinstance(t, ast.Subscript)
                        and isinstance(t.value, ast.Name)
                        and t.value.id == "AGGREGATES"
                        and isinstance(t.slice, ast.Constant)):
                    assigned.append(t.slice.value)
    overlap = literal_keys & set(assigned)
    dup_assigned = [a for i, a in enumerate(assigned) if a in assigned[:i]]
    assert not overlap, f"AGGREGATES[...] reassigns literal keys: {overlap}"
    assert not dup_assigned, f"AGGREGATES[...] assigned twice: {dup_assigned}"


def test_conversion_family_completeness():
    """Every numeric width has its full to<T> / OrZero / OrNull /
    OrDefault family (the r10 verdict's alias-hole class)."""
    from clickhouse_from_scratch_spark.functions.registry import REGISTRY
    widths = ["Int8", "Int16", "Int32", "Int64", "Int128", "Int256",
              "UInt8", "UInt16", "UInt32", "UInt64", "UInt128", "UInt256",
              "Float32", "Float64"]
    missing = [f"to{w}{sfx}" for w in widths
               for sfx in ("", "OrZero", "OrNull", "OrDefault")
               if f"to{w}{sfx}" not in REGISTRY]
    assert missing == [], missing


def test_simplejson_visitparam_parity():
    """simpleJSON* and visitParam* mirror the JSONExtract family for
    every published member (UInt included since r11)."""
    from clickhouse_from_scratch_spark.functions.registry import REGISTRY
    members = ["ExtractInt", "ExtractUInt", "ExtractFloat", "ExtractBool",
               "ExtractString", "ExtractRaw", "Has"]
    missing = []
    for m in members:
        for fam in ("simpleJSON", "visitParam"):
            if fam + m not in REGISTRY:
                missing.append(fam + m)
        if m.startswith("Extract") and "JSON" + m not in REGISTRY:
            missing.append("JSON" + m)
    assert missing == [], missing


def test_empty_array_family():
    from clickhouse_from_scratch_spark.functions.registry import REGISTRY
    kinds = ["UInt8", "UInt16", "UInt32", "UInt64", "Int8", "Int16",
             "Int32", "Int64", "Float32", "Float64", "Date", "DateTime",
             "String"]
    missing = [f"emptyArray{k}" for k in kinds
               if f"emptyArray{k}" not in REGISTRY]
    assert missing == [], missing


def test_lowering_table_keys_are_canonical():
    # _call_fn canonicalises the name before the table lookup, so a
    # handler keyed by an alias would never run
    from clickhouse_from_scratch_spark.functions.registry import CANONICAL
    from clickhouse_from_scratch_spark.plans.builder import _LOWERINGS
    assert _LOWERINGS
    aliased = sorted(k for k in _LOWERINGS
                     if k in CANONICAL and CANONICAL[k] != k)
    assert aliased == [], f"lowerings keyed by alias names: {aliased}"


# Spark type names, as DataType.simpleString() spells them
_SPARK_NAMES = {"tinyint", "smallint", "int", "bigint", "long", "float",
                "double", "boolean", "string", "binary", "date",
                "timestamp", "timestamp_ntz"}


def test_one_spark_to_ch_type_spelling():
    """Only functions/typemap.py spells a Spark type in CH: no other
    package module holds a dict literal like {"bigint": "Int64"}."""
    from clickhouse_from_scratch_spark.functions.typemap import (
        ch_type_to_spark)

    def is_ch_type(v):
        if not (isinstance(v, str) and v[:1].isupper()):
            return False
        try:
            ch_type_to_spark(v)
        except ValueError:
            return False
        return True

    owner = os.path.join(PKG, "functions", "typemap.py")
    twins = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == owner:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Dict) and any(
                        isinstance(k, ast.Constant) and k.value in _SPARK_NAMES
                        and isinstance(v, ast.Constant) and is_ch_type(v.value)
                        for k, v in zip(node.keys, node.values)):
                    twins.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert twins == [], f"Spark → CH type spellings outside typemap: {twins}"


_INPUT_RULES = {"BYTE_DECODERS", "tsv_unescape_columns", "_unescape",
                "_typed"}
_TEMP_FILES = {"NamedTemporaryFile", "TemporaryFile", "SpooledTemporaryFile",
               "mkstemp"}
# Spark's FORMAT readers; stored parquet (table parts, detached
# partitions, backups, datasets) is storage, not FORMAT input
_FORMAT_READERS = {"format", "load", "csv", "json", "text", "orc"}


def test_one_input_path():
    """Only sources/ reads FORMAT input: no other package module calls
    one of Spark's format readers, writes format data to a temp file, or
    takes a per-format input rule from sources.formats."""
    sources = os.path.join(PKG, "sources")
    found = set()
    for root, _, files in os.walk(PKG):
        if root == sources or root.startswith(sources + os.sep):
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            where = os.path.relpath(path, PKG)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in _FORMAT_READERS
                        and re.search(r"spark\w*\.read\b",
                                      ast.unparse(node.func.value), re.I)):
                    found.add(f"{where}:{node.lineno} spark.read")
                elif (isinstance(node, ast.Attribute)
                      and node.attr in _TEMP_FILES):
                    found.add(f"{where}:{node.lineno} {node.attr}")
                elif isinstance(node, ast.ImportFrom):
                    found.update(f"{where}:{node.lineno} imports {a.name}"
                                 for a in node.names
                                 if a.name in _INPUT_RULES | _TEMP_FILES)
    assert not found, f"input rules outside sources/: {sorted(found)}"


def test_one_ch_type_inference():
    """In the builder only ``_ch_type`` reads a column's declared CH type
    (``ctx.ch_types``) and only ``_declare`` writes it, so every
    question about an expression's CH type goes through one inference."""
    path = os.path.join(PKG, "plans", "builder.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    found = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        if owner in ("_ch_type", "_declare"):
            continue
        found += [f"{owner}:{node.lineno}" for node in ast.walk(top)
                  if isinstance(node, ast.Attribute)
                  and node.attr == "ch_types"]
    assert found == [], f"ctx.ch_types read outside _ch_type: {found}"
