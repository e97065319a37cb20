"""a3_kv_flatten — the json2hbase core operator (SURVEY.md §2 A3).

Flattens an arbitrarily nested DataFrame row (struct/array/map/scalar)
into HBase-cell long format::

    rowkey STRING | cf STRING | qualifier STRING | value STRING

Semantics (pinned by the golden fixture in FIXTURES.md §2):
- nested object keys concatenate into a dotted qualifier path
  (``address.geo.lat``)
- array elements get 0-based index segments (``tags.0``, ``orders.1.qty``)
- map entries contribute their key as a path segment
- scalar leaves are canonical strings (booleans ``true``/``false``,
  numbers via CAST AS STRING, binary as base64, timestamps ISO)
- null leaves / empty objects / empty arrays produce NO cell
- a literal ``.`` inside a field or map key is escaped as ``\\.`` so the
  flattened path stays unambiguous (golden-tested)
- duplicate-after-flatten collisions are kept as distinct cells (the
  HBase sink's last-write-wins applies at write time, not here)

Architecture note (100 TB posture): the plan-construction-time schema
walk emits the whole cell array as ONE SQL expression, parsed once by a
single ``selectExpr``, so building the plan costs a constant number of
JVM round trips whatever the schema's width or depth (not a dozen Py4J
``Column`` calls per leaf). Static path segments fold into one literal
per leaf; only array indexes and map keys concatenate at run time.
Literals are ``CAST(X'<utf-8 hex>' AS STRING)`` and identifiers are
backtick-quoted, so ``spark.sql.parser.escapedStringLiterals`` cannot
change the parse. Only native Catalyst expressions (``transform``/
``flatten``/``map_entries``/``explode``): zero Python UDFs, zero
shuffles, a narrow map that keeps whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, BinaryType, BooleanType, DataType, MapType, StructType

from json2hbase_spark.operators.hbase import SALT_LEN_KEY

CELL_TYPE = "array<struct<qualifier:string,value:string>>"
EMPTY_CELLS = f"CAST(array() AS {CELL_TYPE})"
SEP = "."
BACKSLASH = "\\"
# backslash first, then '.': no field name or map key can fake a path separator
ESCAPES = ((BACKSLASH, BACKSLASH * 2), (SEP, BACKSLASH + SEP))


class _Sql(str):
    """A path segment computed at run time (SQL text, not a literal)."""


def _escape_static(key: str) -> str:
    for old, new in ESCAPES:
        key = key.replace(old, new)
    return key


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _str(s: str) -> str:
    """A string literal whose meaning no parser setting can change."""
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def _qualifier(path: tuple[str, ...]) -> str:
    """SEP-joined ``path``, each run of static segments folded into one
    literal and the runtime segments concatenated in between."""
    args, text = [], ""
    for n, seg in enumerate(path):
        text += SEP if n else ""
        if isinstance(seg, _Sql):
            args += [_str(text), seg] if text else [seg]
            text = ""
        else:
            text += seg
    if text or not args:
        args.append(_str(text))
    return args[0] if len(args) == 1 else f"concat({', '.join(args)})"


def _concat_cells(parts: list[str]) -> str:
    if not parts:
        return EMPTY_CELLS
    merged = f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]
    # a NULL struct yields NULL children -> empty parts, but concat of
    # empties is already empty; coalesce guards the all-NULL edge.
    return f"coalesce({merged}, {EMPTY_CELLS})"


def _canonical(ref: str, dtype: DataType) -> str:
    """Canonical string form of a scalar leaf."""
    if isinstance(dtype, BinaryType):
        return f"base64({ref})"
    if isinstance(dtype, BooleanType):
        return f"CASE WHEN {ref} THEN 'true' ELSE 'false' END"
    return f"CAST({ref} AS STRING)"  # numbers, strings, dates, timestamps


def _cells(ref: str, dtype: DataType, path: tuple[str, ...], depth: int = 0) -> str:
    """Recursive schema walk returning the SQL of an
    array<struct<qualifier,value>> holding every non-null scalar leaf
    under ``ref``. Lambda variables are numbered by nesting depth, so an
    inner lambda can still read the index of an outer one."""
    if isinstance(dtype, StructType):
        return _concat_cells([
            _cells(f"{ref}.{_ident(f.name)}", f.dataType, path + (_escape_static(f.name),), depth)
            for f in dtype.fields
        ])
    if isinstance(dtype, (ArrayType, MapType)):
        x, i = f"x{depth}", f"i{depth}"
        if isinstance(dtype, ArrayType):
            key, elem, etype = f"CAST({i} AS STRING)", x, dtype.elementType
            source, params = ref, f"({x}, {i})"
        else:
            key = f"CAST({x}.`key` AS STRING)"
            for old, new in ESCAPES:
                key = f"replace({key}, {_str(old)}, {_str(new)})"
            elem, etype = f"{x}.`value`", dtype.valueType
            source, params = f"map_entries({ref})", x
        body = _cells(elem, etype, path + (_Sql(key),), depth + 1)
        return f"coalesce(flatten(transform({source}, {params} -> {body})), {EMPTY_CELLS})"
    # scalar leaf
    cell = f"named_struct('qualifier', {_qualifier(path)}, 'value', {_canonical(ref, dtype)})"
    return f"CASE WHEN {ref} IS NOT NULL THEN array({cell}) ELSE {EMPTY_CELLS} END"


def kv_flatten(
    df: DataFrame,
    rowkey_col: str,
    cf: str = "d",
    exclude: tuple[str, ...] = (),
) -> DataFrame:
    """Flatten every column except ``rowkey_col``/``exclude`` into
    HBase-cell long format (rowkey, cf, qualifier, value). A salt tag
    on ``rowkey_col`` (``hbase.SALT_LEN_KEY`` metadata, set by
    ``derive_rowkey``) is carried onto ``rowkey``; the CAST to string
    drops any other metadata."""
    skip = set(exclude) | {rowkey_col}
    meta = next((f.metadata for f in df.schema.fields if f.name == rowkey_col), {})
    salt = {SALT_LEN_KEY: meta[SALT_LEN_KEY]} if SALT_LEN_KEY in meta else {}
    cells = _concat_cells([
        _cells(_ident(f.name), f.dataType, (_escape_static(f.name),))
        for f in df.schema.fields
        if f.name not in skip
    ])
    exploded = df.selectExpr(
        f"CAST({_ident(rowkey_col)} AS STRING) AS rowkey",
        f"explode({cells}) AS cell",
    )
    out = exploded.selectExpr(
        "rowkey", f"{_str(cf)} AS cf", "cell.qualifier AS qualifier", "cell.value AS value"
    )
    return out.withMetadata("rowkey", salt) if salt else out
