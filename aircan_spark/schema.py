"""Frictionless Table Schema <-> Spark StructType, name sanitization, keys.

Reference behavior mirrored (not copied) from
``/root/reference/aircan/dependencies/utils/schema.py``:

- type map (schema.py:13-33) — frictionless type -> warehouse type; here the
  warehouse is Spark, so the map targets Spark types (SURVEY.md §1.3).
- ``sanitize_column_name`` (schema.py:51-58): normalize to
  ``[A-Za-z0-9_]``, collapse underscores, must not start with a digit,
  max 128 chars.
- collision detection on sanitized names (schema.py:75-78).
- unique-key extraction from ``constraints.unique`` (schema.py:89-109).
- required -> nullability (schema.py:122-124); description carried into
  StructField metadata (schema.py:125-131).
- engine-managed system columns (reference: build_schema_fields,
  schema.py:135-145) are not declared: ``rownum`` prepends `_id` and
  every load adds `_updated_at`.

Pure Python — no SparkSession needed, unit-testable in isolation.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import types as T

from aircan_spark import ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN

# frictionless type -> Spark type (SURVEY.md §1.3 "Spark type" column).
# `number` targets DoubleType by default; pass decimal_number=True for
# BigQuery-NUMERIC fidelity (DecimalType(38, 9)).
_FRICTIONLESS_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "any": T.StringType(),
    "number": T.DoubleType(),
    "integer": T.LongType(),
    "boolean": T.BooleanType(),
    "object": T.StringType(),  # JSON text; parse with from_json on demand
    "array": T.StringType(),  # JSON text
    "list": T.StringType(),
    "datetime": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "date": T.DateType(),
    "time": T.StringType(),  # Spark has no TIME type
    "year": T.IntegerType(),
    "yearmonth": T.StringType(),
    "duration": T.StringType(),  # ISO-8601 duration text
    "geopoint": T.StringType(),  # "lon,lat" / WKT text
    "geojson": T.StringType(),  # GeoJSON text
}

_SPARK_TO_FRICTIONLESS: list[tuple[type, str]] = [
    (T.BooleanType, "boolean"),
    (T.ByteType, "integer"),
    (T.ShortType, "integer"),
    (T.IntegerType, "integer"),
    (T.LongType, "integer"),
    (T.FloatType, "number"),
    (T.DoubleType, "number"),
    (T.DecimalType, "number"),
    (T.DateType, "date"),
    (T.TimestampNTZType, "datetime"),
    (T.TimestampType, "timestamptz"),
    (T.ArrayType, "array"),
    (T.MapType, "object"),
    (T.StructType, "object"),
    (T.StringType, "string"),
]

MAX_COLUMN_NAME_LENGTH = 128

_INVALID_CHARS = re.compile(r"[^A-Za-z0-9_]+")
_UNDERSCORE_RUNS = re.compile(r"_{2,}")


class SchemaError(ValueError):
    """Raised on invalid descriptors or sanitization collisions."""


def frictionless_to_spark_type(ftype: str, decimal_number: bool = False) -> T.DataType:
    """Map a frictionless field type to a Spark type. Unknown -> StringType
    (reference: unknown types default to STRING, schema.py:33)."""
    if ftype == "number" and decimal_number:
        return T.DecimalType(38, 9)
    return _FRICTIONLESS_TO_SPARK.get(ftype, T.StringType())


def spark_to_frictionless_type(dtype: T.DataType) -> str:
    """Reverse map (reference analog: dependencies_legacy/utils.py:47-65)."""
    for cls, name in _SPARK_TO_FRICTIONLESS:
        if isinstance(dtype, cls):
            return name
    return "string"


def sanitize_column_name(name: str) -> str:
    """Normalize a column name to an identifier-safe form.

    Mirrors reference rules (schema.py:51-58): non ``[A-Za-z0-9_]`` runs
    become ``_``, runs of ``_`` collapse, leading/trailing ``_`` trimmed,
    a leading digit gets a ``f_`` prefix, and the result is clipped to 128
    chars. An empty result raises.
    """
    out = _INVALID_CHARS.sub("_", name.strip())
    out = _UNDERSCORE_RUNS.sub("_", out).strip("_")
    if not out:
        raise SchemaError(f"column name {name!r} sanitizes to empty string")
    if out[0].isdigit():
        out = "f_" + out
    return out[:MAX_COLUMN_NAME_LENGTH]


def sanitize_descriptor(descriptor: dict[str, Any]) -> dict[str, Any]:
    """Return a copy of the descriptor with sanitized field names.

    Raises SchemaError when two distinct source names collide after
    sanitization (reference: schema.py:75-78).
    """
    fields = descriptor.get("fields", [])
    seen: dict[str, str] = {}
    out_fields = []
    for field in fields:
        raw = field["name"]
        clean = sanitize_column_name(raw)
        if clean in seen and seen[clean] != raw:
            raise SchemaError(
                f"sanitized column collision: {raw!r} and {seen[clean]!r} "
                f"both map to {clean!r}"
            )
        seen[clean] = raw
        out_fields.append({**field, "name": clean})
    return {**descriptor, "fields": out_fields}


def unique_keys(descriptor: dict[str, Any]) -> list[str]:
    """Field names marked ``constraints.unique: true`` — the upsert keys
    (reference: schema.py:89-109)."""
    keys = []
    for field in descriptor.get("fields", []):
        constraints = field.get("constraints") or {}
        if constraints.get("unique") is True:
            keys.append(field["name"])
    return keys


def descriptor_to_struct(
    descriptor: dict[str, Any], *, decimal_number: bool = False
) -> T.StructType:
    """Build a StructType of a frictionless descriptor's declared fields.
    The system columns are not declared: the numbering prepends `_id` and
    the load appends `_updated_at`."""
    fields: list[T.StructField] = []
    for f in descriptor.get("fields", []):
        constraints = f.get("constraints") or {}
        metadata: dict[str, Any] = {}
        if f.get("description"):
            metadata["description"] = f["description"]
        if constraints.get("unique"):
            metadata["unique"] = True
        fields.append(
            T.StructField(
                f["name"],
                frictionless_to_spark_type(f.get("type", "any"), decimal_number),
                nullable=not constraints.get("required", False),
                metadata=metadata or None,
            )
        )
    return T.StructType(fields)


def struct_to_descriptor(schema: T.StructType) -> dict[str, Any]:
    """Inverse of descriptor_to_struct for inferred DataFrames (system
    columns excluded)."""
    fields = []
    for f in schema.fields:
        if f.name in (ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN):
            continue
        entry: dict[str, Any] = {"name": f.name, "type": spark_to_frictionless_type(f.dataType)}
        constraints: dict[str, Any] = {}
        if not f.nullable:
            constraints["required"] = True
        if f.metadata.get("unique"):
            constraints["unique"] = True
        if constraints:
            entry["constraints"] = constraints
        if f.metadata.get("description"):
            entry["description"] = f.metadata["description"]
        fields.append(entry)
    return {"fields": fields}


class SchemaDriftError(ValueError):
    """Prohibited schema drift (reference: AirflowCKANException on type
    change for an append-enabled resource, api_loader.py:133-136)."""


# Overrides the reference ignores when diffing against the stored type
# (api_loader.py:114-117): synthetic frictionless types with no storage
# analog, and 'integer' re-declared over an already-integer column.
_OVERRIDE_IGNORED_TYPES = frozenset({"year", "yearmonth", "geopoint"})
_INTEGER_SPARK_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def decide_schema_action(
    old: T.StructType,
    new: T.StructType,
    *,
    type_overrides: dict[str, str] | None = None,
    append_enabled: bool = False,
) -> dict[str, Any]:
    """Recreate-vs-append decision tree (reference: compare_schema,
    dependencies_legacy/api_loader.py:70-150).

    ``type_overrides``: per-column frictionless types a curator declared in
    the data dictionary (the CKAN ``info.type`` analog). An override wins
    over the incoming schema's inferred type — except the reference's
    ignore rules: synthetic types (year/yearmonth/geopoint) and 'integer'
    over an already-integer column are no-ops.

    ``append_enabled``: resources loaded incrementally must never change an
    existing column's type (previous data would be silently reinterpreted)
    -> SchemaDriftError, mirroring api_loader.py:133-136.

    Returns ``{'action': 'append'|'recreate', 'schema': effective new
    StructType (overrides applied), 'type_changed': [...], 'added': [...],
    'removed': [...]}``. Column-set drift (added OR removed columns) =>
    recreate, matching the reference's set-equality test — the engine's
    additive-append evolution (D3) remains available to callers that skip
    this gate.
    """
    overrides = type_overrides or {}
    system = {ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN}
    old_map = {f.name: f.dataType for f in old.fields if f.name not in system}
    new_map = {f.name: f.dataType for f in new.fields if f.name not in system}

    # effective incoming type: data-dictionary override wins (ignore rules
    # applied against the OLD stored type, as the reference does)
    effective: dict[str, T.DataType] = {}
    type_changed: list[str] = []
    for name, new_t in new_map.items():
        old_t = old_map.get(name)
        ov = overrides.get(name)
        eff = new_t
        if ov is not None:
            if ov in _OVERRIDE_IGNORED_TYPES:
                pass
            elif ov == "integer" and isinstance(old_t, _INTEGER_SPARK_TYPES):
                pass
            else:
                eff = frictionless_to_spark_type(ov)
        effective[name] = eff
        if old_t is not None and old_t != eff:
            type_changed.append(name)

    added = [c for c in new_map if c not in old_map]
    removed = [c for c in old_map if c not in new_map]

    if type_changed and not added and not removed and append_enabled:
        raise SchemaDriftError(
            f"cannot change type of existing fields in an append-enabled "
            f"resource: {type_changed}"
        )
    action = "recreate" if (added or removed or type_changed) else "append"
    fields = [
        T.StructField(f.name, effective.get(f.name, f.dataType), f.nullable, f.metadata)
        for f in new.fields
    ]
    return {
        "action": action,
        "schema": T.StructType(fields),
        "type_changed": type_changed,
        "added": added,
        "removed": removed,
    }
