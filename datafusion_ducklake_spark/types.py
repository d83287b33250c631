"""DuckLake ↔ Spark type mapping, normalization, and promotion rules.

Reference parity: src/types.rs — ducklake_to_arrow_type (12-90),
arrow_to_ducklake_type (95-164), decimal parsing/validation (166-251),
list parsing (253-297), normalization (299-308), promotion (310-400),
types_compatible (402-423), build_arrow_schema (425+).

Documented semantic gaps vs the reference (Spark has no unsigned ints and
caps decimals at precision 38):
- uint8→short, uint16→int, uint32→long, uint64→decimal(20,0)
- decimal(p>38, s) → rejected (reference supports Decimal256 up to 76)
- time → TimeType (µs — lossless; matches the reference's Time64(µs).
  Requires spark.sql.timeType.enabled, set by the engine's conf
  chokepoints)
- interval → struct<months:int, days:int, micros:long> (the reference
  maps to Arrow Interval(MonthDayNano), types.rs:56; Spark's
  CalendarIntervalType is not a first-class column type, so the scan
  reads the parquet FIXED_LEN_BYTE_ARRAY(12) physically as binary and
  decodes the three little-endian u32 components JVM-side — see
  sources/scan.py. Lossless w.r.t. file contents: the parquet INTERVAL
  physical type itself stores millis, is unsigned, and DuckDB truncates
  sub-milli on write. READ-ONLY: neither Spark nor pyarrow can emit the
  parquet INTERVAL logical type, so inserts/rewrites are rejected —
  top-level columns only.)
Conversely Spark-native struct/map could exceed the reference; we reject
them for parity (ref: types.rs:74-88).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import types as T

from .errors import UnsupportedType

# canonical name -> Spark type factory
_SIMPLE = {
    "boolean": T.BooleanType,
    "int8": T.ByteType,
    "int16": T.ShortType,
    "int32": T.IntegerType,
    "int64": T.LongType,
    "float32": T.FloatType,
    "float64": T.DoubleType,
    "date": T.DateType,
    "varchar": T.StringType,
    "blob": T.BinaryType,
}

_ALIASES = {
    "bool": "boolean",
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32", "integer": "int32", "signed": "int32",
    "bigint": "int64", "long": "int64",
    "float": "float32", "real": "float32",
    "double": "float64",
    "text": "varchar", "string": "varchar",
    "binary": "blob", "bytea": "blob",
    "numeric": "decimal",
}

_UNSIGNED = {
    # DuckLake type -> (Spark type, widened canonical name note)
    "uint8": T.ShortType, "utinyint": T.ShortType,
    "uint16": T.IntegerType, "usmallint": T.IntegerType,
    "uint32": T.LongType, "uinteger": T.LongType,
}

_GEOMETRY = {
    "point", "linestring", "polygon", "multipoint", "multilinestring",
    "multipolygon", "geometrycollection", "geometry",
}

# Logical Spark representation of a DuckLake INTERVAL column (reference:
# Arrow Interval(MonthDayNano), types.rs:56). The parquet physical layout
# is FIXED_LEN_BYTE_ARRAY(12) = 3 little-endian u32 (months, days, millis);
# the scan reads it as binary and decodes into this struct JVM-side.
INTERVAL_SPARK_TYPE = T.StructType([
    T.StructField("months", T.IntegerType(), True),
    T.StructField("days", T.IntegerType(), True),
    T.StructField("micros", T.LongType(), True),
])
# StructField metadata key marking a column as a decoded INTERVAL — the
# scan keys its binary→struct rewrite on this (a user struct with the
# same field shape must NOT be decoded).
INTERVAL_MARK = "ducklake.interval"
# StructField metadata key marking a TIME column. The scan reads these
# physically as int64 and converts µs-of-day → TimeType ABOVE the scan,
# which makes the read era-proof: pre-r8 data files stored time as a
# bare un-annotated int64 (µs of day), and Spark's native TimeType read
# of such a column would silently interpret the values as NANOSECONDS —
# 1000× too small. The uniform long read gives µs for both the old
# bare-int64 files and the new TIME(µs)-annotated files.
TIME_MARK = "ducklake.time"

_DECIMAL_RE = re.compile(r"^(?:decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_LIST_RE = re.compile(r"^(?:list|array)\s*<(.+)>$")
_TRAILING_ARRAY_RE = re.compile(r"^(.+)\[\s*\]$")


def _reject_nested_geometry(child_canonical: str, full_type: str) -> None:
    """GEOMETRY only at top level (geo corpus: ducklake_geometry_nested
    .test — 'GEOMETRY type is only supported as a top-level type').
    INTERVAL likewise: the scan's binary→struct decode (sources/scan.py)
    only rewrites top-level columns, so a nested interval would read the
    raw FLBA(12) through Spark's parquet reader and fail at runtime —
    reject it loudly at type-parse time instead."""
    if child_canonical in _GEOMETRY:
        raise UnsupportedType(
            f"GEOMETRY type is only supported as a top-level type: "
            f"{full_type}")
    if child_canonical == "interval":
        raise UnsupportedType(
            f"INTERVAL is only supported as a top-level column type: "
            f"{full_type}")


def _split_type_args(s: str) -> list[str]:
    """Split a nested type's argument list on TOP-LEVEL commas only
    (respects <...> and (...) nesting and double-quoted names)."""
    parts, depth, cur, quoted = [], 0, [], False
    for ch in s:
        if quoted:
            cur.append(ch)
            if ch == '"':
                quoted = False
        elif ch == '"':
            quoted = True
            cur.append(ch)
        elif ch in "<(":
            depth += 1
            cur.append(ch)
        elif ch in ">)":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


@dataclass(frozen=True)
class MappedType:
    spark_type: T.DataType
    canonical: str          # canonical DuckLake type string
    lossless: bool = True   # False where Spark widens (unsigned ints, time)


def ducklake_to_spark_type(type_str: str, _nested: bool = False
                           ) -> MappedType:
    """Parse a DuckLake catalog type string into a Spark DataType
    (ref: types.rs:12-90 for the supported surface).

    ``_nested`` (internal): set on recursive calls so context-dependent
    mappings apply — TIME maps to TimeType at top level but keeps the
    pre-r8 µs-of-day long representation when nested (the scan's
    era-proof long-read rewrite only reaches top-level columns, and a
    native nested TimeType read would misinterpret pre-r8 bare-int64
    fields as nanoseconds)."""
    s = type_str.strip().lower()

    # list<T> / array<T> / T[] — element may itself be nested (struct/
    # map/list): a deliberate EXTENSION over the reference, which rejects
    # all nesting (types.rs:74-90); Spark's parquet reader/writer handles
    # nested columns natively, so the engine supports them end-to-end.
    m = _LIST_RE.match(s) or _TRAILING_ARRAY_RE.match(s)
    if m:
        elem = ducklake_to_spark_type(m.group(1).strip(), _nested=True)
        _reject_nested_geometry(elem.canonical, type_str)
        return MappedType(T.ArrayType(elem.spark_type, True),
                          f"list<{elem.canonical}>", elem.lossless)

    # struct<name:type,...> / struct(name type, ...) — both the flat
    # canonical form this writer stores and DuckDB's SQL rendering
    m = re.match(r"^struct\s*[<(](.*)[>)]$", s)
    if m:
        fields = []
        lossless = True
        for part in _split_type_args(m.group(1)):
            name, sep, t = part.partition(":")
            if not sep or "<" in name or "(" in name:
                name, _, t = part.strip().partition(" ")
            name = name.strip().strip('"')
            if not name or not t.strip():
                raise UnsupportedType(f"Malformed struct type: {type_str}")
            child = ducklake_to_spark_type(t.strip(), _nested=True)
            _reject_nested_geometry(child.canonical, type_str)
            lossless = lossless and child.lossless
            fields.append((name, child))
        if not fields:
            raise UnsupportedType(f"Malformed struct type: {type_str}")
        return MappedType(
            T.StructType([T.StructField(n, c.spark_type, True)
                          for n, c in fields]),
            "struct<" + ",".join(f"{n}:{c.canonical}"
                                 for n, c in fields) + ">",
            lossless)

    # map<key,value> / map(key, value)
    m = re.match(r"^map\s*[<(](.*)[>)]$", s)
    if m:
        parts = _split_type_args(m.group(1))
        if len(parts) != 2:
            raise UnsupportedType(f"Malformed map type: {type_str}")
        k = ducklake_to_spark_type(parts[0].strip(), _nested=True)
        v = ducklake_to_spark_type(parts[1].strip(), _nested=True)
        _reject_nested_geometry(k.canonical, type_str)
        _reject_nested_geometry(v.canonical, type_str)
        return MappedType(
            T.MapType(k.spark_type, v.spark_type, True),
            f"map<{k.canonical},{v.canonical}>",
            k.lossless and v.lossless)

    if s.startswith("union"):
        raise UnsupportedType(
            f"Unsupported DuckLake type: {type_str} "
            f"(union rejected — reference parity, types.rs:74-90)")

    s = _ALIASES.get(s, s)

    if s in _SIMPLE:
        return MappedType(_SIMPLE[s](), s)

    if s in _UNSIGNED:
        canon = {"utinyint": "uint8", "usmallint": "uint16",
                 "uinteger": "uint32"}.get(s, s)
        return MappedType(_UNSIGNED[s](), canon, lossless=False)
    if s in ("uint64", "ubigint"):
        return MappedType(T.DecimalType(20, 0), "uint64", lossless=False)

    if s == "json":
        return MappedType(T.StringType(), "json")
    if s == "uuid":
        return MappedType(T.BinaryType(), "uuid", lossless=False)
    if s in _GEOMETRY:
        return MappedType(T.BinaryType(), s, lossless=False)
    if s == "timetz" or s == "time with time zone":
        return MappedType(T.StringType(), "timetz", lossless=False)
    if s == "time":
        if _nested:
            # NESTED time keeps the pre-r8 µs-of-day long
            # representation: the scan's era-proof long-read rewrite
            # (sources/scan.py) only reaches top-level columns, and a
            # native nested TimeType read of a pre-r8 bare-int64 field
            # would silently misinterpret the values as nanoseconds.
            # Both file eras (bare int64 and TIME(µs)-annotated) read
            # correctly as long µs.
            return MappedType(T.LongType(), "time", lossless=False)
        # Spark 4.x TimeType, µs precision — the same unit as DuckDB
        # TIME and the reference's Time64(µs) (types.rs:46). Reads and
        # writes require spark.sql.timeType.enabled, set at the engine's
        # conf chokepoints (DuckLakeSession init, scan conf, build_spark).
        return MappedType(T.TimeType(), "time")

    if s in ("timestamptz", "timestamp with time zone"):
        return MappedType(T.TimestampType(), "timestamptz")
    if s in ("timestamp", "datetime", "timestamp_s", "timestamp_ms",
             "timestamp_ns", "timestamp without time zone"):
        # All units normalize to Spark µs TimestampNTZ (ref maps to
        # Timestamp(unit, None), types.rs:48,53-55); _ns loses sub-µs.
        return MappedType(T.TimestampNTZType(), "timestamp",
                          lossless=s not in ("timestamp_ns",))

    if s == "interval":
        # Reference: Arrow Interval(MonthDayNano) (types.rs:56). Spark
        # has no interval COLUMN type readable from parquet, so the scan
        # decodes the FLBA(12) (months, days, millis — LE u32 each, the
        # parquet INTERVAL physical layout) into this struct; micros =
        # millis*1000 (DuckDB itself truncates sub-milli on COPY TO).
        # lossless=False: the unsigned u32 months/days narrow to int32
        # (values ≥ 2^31 months ≈ 178M years are unrepresentable).
        return MappedType(INTERVAL_SPARK_TYPE, "interval", lossless=False)

    m = _DECIMAL_RE.match(s)
    if m or s == "decimal":
        if not m:
            p, sc = 18, 3  # DuckDB's default DECIMAL(18,3)
        else:
            p, sc = int(m.group(1)), int(m.group(2))
        if p < 1:
            raise UnsupportedType(f"Decimal precision must be >= 1: {type_str}")
        if sc > p:
            raise UnsupportedType(
                f"Decimal scale {sc} exceeds precision {p}: {type_str}")
        if p > 38:
            raise UnsupportedType(
                f"Decimal precision {p} exceeds Spark's maximum of 38 "
                f"(reference supports up to 76 via Decimal256; documented gap)")
        return MappedType(T.DecimalType(p, sc), f"decimal({p},{sc})")

    raise UnsupportedType(f"Unsupported DuckLake type: {type_str}")


def spark_to_ducklake_type(dt: T.DataType) -> str:
    """Map a Spark DataType to the canonical DuckLake type string for the
    write path (ref: arrow_to_ducklake_type, types.rs:95-164)."""
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.ByteType):
        return "int8"
    if isinstance(dt, T.ShortType):
        return "int16"
    if isinstance(dt, T.IntegerType):
        return "int32"
    if isinstance(dt, T.LongType):
        return "int64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimeType):
        # µs TimeType round-trips as DuckLake time (parquet TIME(µs) —
        # readable as TIME by DuckDB, unlike the pre-r8 int64 encoding)
        return "time"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.StringType):
        return "varchar"
    if isinstance(dt, T.BinaryType):
        return "blob"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_to_ducklake_type(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        # beyond-reference extension (the reference rejects nesting,
        # types.rs:95-164); canonical flat rendering, parsed back by
        # ducklake_to_spark_type
        inner = ",".join(
            f"{f.name}:{spark_to_ducklake_type(f.dataType)}"
            for f in dt.fields)
        return f"struct<{inner}>"
    if isinstance(dt, T.MapType):
        return (f"map<{spark_to_ducklake_type(dt.keyType)},"
                f"{spark_to_ducklake_type(dt.valueType)}>")
    raise UnsupportedType(f"Spark type not writable to DuckLake: {dt}")


def normalize_ducklake_type(type_str: str) -> str:
    """Alias/case normalization via round-trip (ref: types.rs:299-308)."""
    return ducklake_to_spark_type(type_str).canonical


_INT_RANK = {"int8": 0, "int16": 1, "int32": 2, "int64": 3}
_UINT_RANK = {"uint8": 0, "uint16": 1, "uint32": 2, "uint64": 3}


def is_promotable(from_type: str, to_type: str) -> bool:
    """Safe-widening check for schema evolution (ref: types.rs:310-400)."""
    try:
        f = normalize_ducklake_type(from_type)
        t_ = normalize_ducklake_type(to_type)
    except UnsupportedType:
        return False
    if f == t_:
        return True
    if f in _INT_RANK and t_ in _INT_RANK:
        return _INT_RANK[f] < _INT_RANK[t_]
    if f in _UINT_RANK and t_ in _UINT_RANK:
        return _UINT_RANK[f] < _UINT_RANK[t_]
    if f == "float32" and t_ == "float64":
        return True
    if f in _INT_RANK and t_ == "float64":
        return True
    if f == "timestamp" and t_ == "timestamptz":
        return True
    if f == "varchar" and t_ == "json":
        # parquet has no JSON logical type in DuckDB's writer output (a
        # JSON column lands as a plain String) — string files register
        # into JSON columns; validity surfaces at query time, as with any
        # string-backed JSON store (sql/add_files/
        # add_files_type_check_string_blob.test json section)
        return True
    if f == "blob" and t_ == "uuid":
        # uuid is stored as 16-byte binary (types.py MappedType) — blob
        # payloads register/insert into uuid columns the same way
        # varchar does into json (sql/types/json.test analog)
        return True
    fm, tm = _DECIMAL_RE.match(f), _DECIMAL_RE.match(t_)
    if fm and tm:
        fp, fs = int(fm.group(1)), int(fm.group(2))
        tp, ts = int(tm.group(1)), int(tm.group(2))
        return ts >= fs and (tp - ts) >= (fp - fs)
    return False


def is_geometry_type(type_str: str) -> bool:
    """True for the GEOMETRY family (stored as WKB blobs in parquet —
    geo corpus: tests/sqllogictests/sql/geo/)."""
    return type_str.strip().lower() in _GEOMETRY


def is_interval_type(type_str: str) -> bool:
    """True for the INTERVAL type (scan decodes FLBA(12) to the struct
    representation; every write re-encodes it through the duckdb-backed
    executor staging — see table_writer.stage_files)."""
    return type_str.strip().lower() == "interval"


def is_interval_repr_type(type_str: str) -> bool:
    """True when ``type_str`` is the engine's in-memory INTERVAL
    representation as a DuckLake type string — what a frame that scanned
    an interval column derives via spark_to_ducklake_type. Accepted on
    INSERT into an interval column (representation-compatible payload,
    like varchar→json); NOT wired into types_compatible on purpose:
    add_files must keep rejecting struct-typed parquet files for
    interval columns (the scan reads interval physically as FLBA(12)
    binary, and a struct column in the file would break that read)."""
    try:
        norm = normalize_ducklake_type(type_str)
    except UnsupportedType:
        return False
    return norm == "struct<months:int32,days:int32,micros:int64>"


def reject_interval_rewrite(columns, op: str) -> None:
    """Refuse PRIMARY cluster_by on tables with INTERVAL columns — since
    r9 the only remaining interval rewrite boundary: every other write
    (INSERT/CTAS/UPDATE/MERGE/compact/merge_adjacent_files/
    rewrite_data_files) stages through the duckdb-backed writer
    (table_writer._write_interval_distributed), but a primary clustered
    export registers as ducklake_data_file rows, which must carry the
    parquet INTERVAL logical type Spark's bucketBy writer cannot emit —
    and Spark's parquet reader rejects FLBA(12)/INTERVAL anyway, so
    duckdb-staged files renamed to bucket naming could never serve the
    bucketed scan (r10 probe, PLANS.md). REPLICA families are allowed:
    catalog-invisible, so they store the decoded struct
    representation."""
    for c in columns:
        if is_interval_type(c.column_type):
            raise UnsupportedType(
                f"{op} is not supported on tables with INTERVAL columns "
                f"(column {c.column_name!r}): the clustered export must "
                "be written by Spark's bucketed writer, which cannot "
                "emit the parquet INTERVAL logical type. Build a "
                "replica family instead (replica=True): catalog-"
                "invisible, it serves table(name, cluster_key=...) "
                "while the live files stay genuine parquet INTERVAL.")


def _nested_types_compatible(from_type: str, to_type: str) -> bool:
    """Order-insensitive, name-keyed nested compatibility: every FROM
    struct field must exist in TO (case-insensitive) with a compatible
    type; fields FROM lacks read NULL (add_files_missing_fields.test);
    list/map slots recurse; leaves follow the scalar promotion rules.
    The shape add_files_nested.test requires — a file whose columns AND
    struct fields are permuted still registers, because resolution is by
    name at every level."""
    fk, tk = _type_kind(from_type), _type_kind(to_type)
    if fk != tk:
        return False
    if fk == "leaf":
        if from_type == "int64" and to_type == "time":
            # representation-compatible write at NESTED level only:
            # nested time is REPRESENTED as µs-of-day long (this
            # engine's own scans return it that way), so a rewrite
            # frame's int64 payload appends into a nested time field —
            # the same store-as-declared rule as varchar→json. Top-level
            # long→time stays incompatible (top-level time is TimeType
            # and writing bare int64 would degrade cross-engine reads).
            return True
        return from_type == to_type or is_promotable(from_type, to_type)
    fs, ts = nested_child_slots(from_type), nested_child_slots(to_type)
    if fk in ("list", "map"):
        return all(_nested_types_compatible(f[1], t[1])
                   for f, t in zip(fs, ts))
    to_map = {n.lower(): t for n, t in ts}
    return all(n.lower() in to_map
               and _nested_types_compatible(t, to_map[n.lower()])
               for n, t in fs)


def missing_nested_fields(file_type: str, table_type: str,
                          prefix: str = "") -> list[str]:
    """Dotted paths of struct fields the TABLE type declares but the FILE
    type lacks (sql/add_files/add_files_missing_fields.test: an absent
    nested field is an error unless allow_missing — it would silently
    read NULL otherwise). Shape mismatches are reported by the
    compatibility check, not here."""
    try:
        f = normalize_ducklake_type(file_type)
        t = normalize_ducklake_type(table_type)
    except UnsupportedType:
        return []
    fk, tk = _type_kind(f), _type_kind(t)
    if fk != tk or fk == "leaf":
        return []
    fs, ts = nested_child_slots(f), nested_child_slots(t)
    out: list[str] = []
    if fk in ("list", "map"):
        for (fn_, ft), (tn, tt) in zip(fs, ts):
            out.extend(missing_nested_fields(
                ft, tt, f"{prefix}.{tn}" if prefix else tn))
        return out
    f_map = {n.lower(): ft for n, ft in fs}
    for tn, tt in ts:
        path = f"{prefix}.{tn}" if prefix else tn
        if tn.lower() not in f_map:
            out.append(path)
        else:
            out.extend(missing_nested_fields(f_map[tn.lower()], tt, path))
    return out


def types_compatible(existing_type: str, new_type: str) -> bool:
    """Compatibility = same canonical type or promotable
    (ref: types.rs:402-423). A WKB blob frame appends into a GEOMETRY
    column (Spark has no geometry DataType, so every geometry value
    arrives as binary); the catalog keeps the geometry type. Nested
    types compare name-keyed and order-insensitively."""
    _blobs = ("blob", "binary", "bytea")
    if is_geometry_type(existing_type) and \
            new_type.strip().lower() in _blobs:
        return True
    if is_geometry_type(new_type) and \
            existing_type.strip().lower() in _blobs:
        # a plain-WKB blob file registers into a GEOMETRY column
        # (add_files; geo corpus ducklake_geometry_add_files.test)
        return True
    try:
        f = normalize_ducklake_type(existing_type)
        t = normalize_ducklake_type(new_type)
    except UnsupportedType:
        return False
    if f == t:
        return True
    if _type_kind(f) != "leaf" and _type_kind(f) == _type_kind(t):
        return _nested_types_compatible(f, t)
    return is_promotable(existing_type, new_type)


# ---------------------------------------------------------------------------
# Nested (struct/list/map) field identity — the machinery behind DuckLake
# struct field evolution (reference corpus: sql/alter/struct_evolution*.test;
# DuckDB records one ducklake_column row per nested child with parent_column
# set — metadata_provider.rs:361-410 reads the same shape back).
# Child-slot naming follows the catalog convention: struct children by field
# name, list element 'element', map children 'key'/'value'.
# ---------------------------------------------------------------------------

def nested_child_slots(canonical: str) -> list[tuple[str, str]]:
    """Immediate child slots of a canonical nested type as
    (slot_name, child_canonical) pairs; [] for leaves."""
    s = canonical.strip().lower()
    m = _LIST_RE.match(s) or _TRAILING_ARRAY_RE.match(s)
    if m:
        return [("element", normalize_ducklake_type(m.group(1).strip()))]
    m = re.match(r"^struct\s*[<(](.*)[>)]$", s)
    if m:
        out = []
        for part in _split_type_args(m.group(1)):
            name, sep, t = part.partition(":")
            if not sep or "<" in name or "(" in name:
                name, _, t = part.strip().partition(" ")
            out.append((name.strip().strip('"'),
                        normalize_ducklake_type(t.strip())))
        return out
    m = re.match(r"^map\s*[<(](.*)[>)]$", s)
    if m:
        parts = _split_type_args(m.group(1))
        return [("key", normalize_ducklake_type(parts[0].strip())),
                ("value", normalize_ducklake_type(parts[1].strip()))]
    return []


def nested_tree_paths(canonical: str) -> list[tuple[tuple, str]]:
    """DFS enumeration of every nested slot: (path_tuple, child_canonical),
    parents before children — the order child catalog rows are written in."""
    out: list[tuple[tuple, str]] = []

    def walk(prefix: tuple, t: str) -> None:
        for name, child in nested_child_slots(t):
            p = prefix + (name,)
            out.append((p, child))
            walk(p, child)

    walk((), normalize_ducklake_type(canonical))
    return out


def _type_kind(canonical: str) -> str:
    s = canonical.strip().lower()
    if _LIST_RE.match(s) or _TRAILING_ARRAY_RE.match(s):
        return "list"
    if re.match(r"^struct\s*[<(]", s):
        return "struct"
    if re.match(r"^map\s*[<(]", s):
        return "map"
    return "leaf"


def check_nested_evolution(old_type: str, new_type: str) -> None:
    """Validate a nested SET DATA TYPE as DuckLake struct field evolution
    (ref corpus: sql/alter/struct_evolution*.test): struct fields may be
    added, dropped, or safely promoted; list/map recurse into their slots;
    leaves follow the scalar promotion rules. Shape changes (struct vs
    list vs map vs scalar) and lossy promotions raise UnsupportedType."""
    old = normalize_ducklake_type(old_type)
    new = normalize_ducklake_type(new_type)
    if old == new:
        return
    ok, nk = _type_kind(old), _type_kind(new)
    if ok != nk:
        raise UnsupportedType(
            f"Type promotion from {old} to {new} is not allowed "
            "(shape change)")
    if ok == "leaf":
        if not is_promotable(old, new):
            raise UnsupportedType(
                f"Type promotion from {old} to {new} is not allowed "
                "(only safe widenings)")
        return
    old_slots = nested_child_slots(old)
    new_slots = nested_child_slots(new)
    if ok in ("list", "map"):
        for (_, o), (_, n) in zip(old_slots, new_slots):
            check_nested_evolution(o, n)
        return
    # struct: match fields by (case-insensitive) name; added and dropped
    # fields are fine, kept fields recurse
    old_map = {n.lower(): t for n, t in old_slots}
    if not new_slots:
        raise UnsupportedType(f"struct type must keep at least one field: {new}")
    for n, t in new_slots:
        if n.lower() in old_map:
            check_nested_evolution(old_map[n.lower()], t)


def _rebuild_nested(kind: str, slots: list[tuple[str, str]]) -> str:
    if kind == "struct":
        return "struct<" + ",".join(f"{n}:{t}" for n, t in slots) + ">"
    if kind == "list":
        return f"list<{slots[0][1]}>"
    return f"map<{slots[0][1]},{slots[1][1]}>"


def edit_nested_type(canonical: str, path: tuple, action: str,
                     new_type: str = None) -> str:
    """Apply a targeted nested ALTER (corpus: sql/alter/
    struct_evolution_*_alter.test — ``ADD COLUMN col.path.field T`` /
    ``DROP COLUMN col.path.field``) to a canonical type string and
    return the new canonical string. ``path`` addresses struct fields by
    name and list/map slots as 'element'/'key'/'value' (case-insensitive);
    the final component is the struct field to add or drop."""
    canon = normalize_ducklake_type(canonical)
    kind = _type_kind(canon)
    if len(path) == 1:
        if kind != "struct":
            raise UnsupportedType(
                f"Cannot {action} field '{path[0]}': type {canon} is not "
                "a struct")
        slots = nested_child_slots(canon)
        names = [n.lower() for n, _ in slots]
        if action == "add":
            if path[0].lower() in names:
                raise UnsupportedType(
                    f"Field '{path[0]}' already exists in struct")
            slots.append((path[0].lower(),
                          normalize_ducklake_type(new_type)))
        elif action == "rename":
            if path[0].lower() not in names:
                raise UnsupportedType(
                    f"Field '{path[0]}' does not exist in struct")
            if new_type.lower() in names:
                raise UnsupportedType(
                    f"Field '{new_type}' already exists in struct")
            slots = [(new_type.lower() if n.lower() == path[0].lower()
                      else n, t) for n, t in slots]
        else:
            if path[0].lower() not in names:
                raise UnsupportedType(
                    f"Field '{path[0]}' does not exist in struct")
            if len(slots) == 1:
                raise UnsupportedType(
                    "Cannot drop the last field of a struct")
            slots = [s for s in slots if s[0].lower() != path[0].lower()]
        return _rebuild_nested("struct", slots)
    head = path[0].lower()
    if kind == "leaf":
        raise UnsupportedType(
            f"Cannot traverse into '{head}': type {canon} has no nested "
            "fields")
    slots = nested_child_slots(canon)
    for i, (n, t) in enumerate(slots):
        if n.lower() == head:
            slots[i] = (n, edit_nested_type(t, path[1:], action, new_type))
            return _rebuild_nested(kind, slots)
    raise UnsupportedType(
        f"Field '{head}' does not exist in {kind} type {canon}")


def annotate_nested_ids(dt: T.DataType, prefix: tuple, id_map: dict,
                        begin_map: Optional[dict] = None) -> T.DataType:
    """Stamp ``parquet.field.id`` (and, when known, the identity's first
    ``ducklake.field.begin`` snapshot) metadata on nested struct fields
    from {path_tuple: value} maps (paths per nested_tree_paths). Only
    struct fields can carry Spark metadata; list/map hops are
    traversal-only (their parquet repetition nodes need no id for
    resolution)."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            p = prefix + (f.name.lower(),)
            md = dict(f.metadata or {})
            if p in id_map:
                md["parquet.field.id"] = id_map[p]
            if begin_map and p in begin_map:
                md["ducklake.field.begin"] = begin_map[p]
            fields.append(T.StructField(
                f.name, annotate_nested_ids(f.dataType, p, id_map,
                                            begin_map),
                f.nullable, metadata=md))
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            annotate_nested_ids(dt.elementType, prefix + ("element",),
                                id_map, begin_map),
            dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            annotate_nested_ids(dt.keyType, prefix + ("key",), id_map,
                                begin_map),
            annotate_nested_ids(dt.valueType, prefix + ("value",), id_map,
                                begin_map),
            dt.valueContainsNull)
    return dt


def build_spark_schema(columns) -> T.StructType:
    """StructType from DuckLake column metadata, stamping the DuckLake
    column_id as the parquet field id so Spark's field-id-aware reader
    (spark.sql.parquet.fieldId.read.enabled) matches renamed columns
    (ref: build_arrow_schema types.rs:425+, field-id stamping
    table_writer.rs:303-317)."""
    fields = []
    for col in columns:
        mapped = ducklake_to_spark_type(col.column_type)
        spark_type = mapped.spark_type
        nested = getattr(col, "nested_ids", ()) or ()
        if nested:
            begins = dict(getattr(col, "nested_begins", ()) or ())
            spark_type = annotate_nested_ids(spark_type, (), dict(nested),
                                             begins or None)
        metadata = {"parquet.field.id": col.column_id}
        if mapped.canonical == "interval":
            # tells the scan to read this column's FLBA(12) physically
            # as binary and decode to the months/days/micros struct
            metadata[INTERVAL_MARK] = True
        elif mapped.canonical == "time":
            # tells the scan to read physically as int64 µs-of-day and
            # convert to TimeType above the scan (era-proof — see
            # TIME_MARK)
            metadata[TIME_MARK] = True
        fields.append(T.StructField(
            col.column_name, spark_type, col.nulls_allowed,
            metadata=metadata))
    return T.StructType(fields)


def normalize_legacy_arrow_lists(at):
    """Collapse parquet legacy 2-level LIST wrappers out of a pyarrow
    type. Old writers (Hive, Avro, Spark's ``writeLegacyFormat``) emit
    ``<name> (LIST) { repeated group array { ... } }``; pyarrow surfaces
    the repeated group as a single-field struct named ``array``/``bag``/
    ``<name>_tuple`` (parquet-format LogicalTypes.md backward-compat
    rules), while Spark's reader collapses it to the plain list.
    ``add_files`` retries its footer type check through this
    normalization so legacy files register with the schema the scan will
    actually read (reference corpus: sql/add_files/add_old_list.test).
    Only used as a fallback after the direct check fails — a genuine
    ``list<struct<array: T>>`` column therefore never collapses."""
    import pyarrow as pa

    def _is_legacy_wrapper(v) -> bool:
        return (pa.types.is_struct(v) and v.num_fields == 1 and
                (v.field(0).name in ("array", "bag") or
                 v.field(0).name.endswith("_tuple")))

    def norm(t):
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            v = t.value_type
            if _is_legacy_wrapper(v):
                return pa.list_(norm(v.field(0).type))
            return pa.list_(norm(v))
        if pa.types.is_struct(t):
            return pa.struct([pa.field(f.name, norm(f.type), f.nullable)
                              for f in t])
        if pa.types.is_map(t):
            return pa.map_(norm(t.key_type), norm(t.item_type))
        return t

    return norm(at)
