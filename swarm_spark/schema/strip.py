"""Null/empty stripping (operator T1).

Semantics pinned by the reference's table-driven tests
(/root/reference/pkg/usecase/utils_test.go:11-85, impl
pkg/usecase/utils.go:14-154):

- map entries whose value is null are dropped;
- nulls inside lists are dropped (list keeps remaining order);
- empty lists and empty maps are dropped from their parent map;
- nested cleaning happens first, so a map that becomes empty after its
  null-valued entries are removed is itself dropped — EXCEPT a map that
  contained only nulls still appears as ``{}`` one level up (fixture F7:
  ``{"nested": {"sub": null}}`` → ``{"nested": {}}``) because the drop
  decision uses the *original* emptiness, not the post-clean one.

Two implementations:
- :func:`strip_record` — driver-side, for plain decoded-JSON records
  (unit-test parity + the canonical-id path);
- :func:`strip_void_columns` — DataFrame-side equivalent for schema
  inference: drops columns that carry no typed information anywhere in
  the frame (all-null, or always-empty arrays/structs), which is what
  per-record stripping achieves before per-record inference+merge in the
  reference (pkg/usecase/load.go:222-241).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def strip_record(value: Any) -> Any:
    """Deep-copy ``value`` dropping nils/empties per reference semantics.

    Returns the cleaned value. A top-level scalar (incl. None) is
    returned unchanged; dropping only happens inside containers.
    """
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            if v is None:
                continue
            if isinstance(v, (dict, list)) and len(v) == 0:
                continue
            out[k] = strip_record(v)
        return out
    if isinstance(value, list):
        return [strip_record(v) for v in value if v is not None]
    return value


def _nonvoid_count(col: Column, dtype: T.DataType) -> Column:
    """Count of rows where this column carries typed information."""
    if isinstance(dtype, T.ArrayType):
        return F.count(F.when(col.isNotNull() & (F.size(col) > 0), 1))
    return F.count(col)


def _leaf_columns(schema: T.StructType, prefix: str = "") -> list[tuple[str, T.DataType]]:
    out: list[tuple[str, T.DataType]] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out.append((path, f.dataType))
            out.extend(_leaf_columns(f.dataType, prefix=path + "."))
        else:
            out.append((path, f.dataType))
    return out


def leaf_counts(schema: T.StructType, prefix: str = "") -> list[tuple[str, Column]]:
    """Every non-struct leaf under ``schema`` as ``(path, aggregate)``,
    where the aggregate (aliased ``c0``, ``c1``, ... in order) counts
    the rows in which that leaf is not void. The one leaf-count
    definition: the strip functions below and the ingest destination
    plan (``pipeline/ingest.py``, grouped by destination) all evaluate
    these aggregates."""
    leaves = [(p, d) for p, d in _leaf_columns(schema, prefix) if not isinstance(d, T.StructType)]
    return [(p, _nonvoid_count(F.col(p), d).alias(f"c{i}")) for i, (p, d) in enumerate(leaves)]


def kept_leaves(counts: list[tuple[str, Column]], row) -> set[str]:
    """The leaf paths whose count in the aggregate ``row`` is above zero."""
    return {p for i, (p, _) in enumerate(counts) if row[f"c{i}"] > 0}


def _count_kept(df: DataFrame, counts: list[tuple[str, Column]]) -> set[str]:
    return kept_leaves(counts, df.agg(*[c for _, c in counts]).collect()[0])


def _rebuild(schema: T.StructType, prefix: str, keep: set[str]) -> list[Column] | None:
    cols: list[Column] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            sub = _rebuild(f.dataType, path + ".", keep)
            if sub:
                cols.append(F.struct(*sub).alias(f.name))
        elif path in keep:
            cols.append(F.col(path).alias(f.name))
    return cols or None


def strip_void_columns(df: DataFrame) -> DataFrame:
    """Drop columns (recursively) that are void across the whole frame.

    A column is void when every row is null — or, for arrays, null or
    empty. A struct is void when all of its fields are void. One
    aggregation pass computes all counts (single job, no per-column
    scans), then the frame is re-projected without the void columns.
    This is the DataFrame analogue of per-record ``cloneWithoutNil``
    feeding schema inference.
    """
    counts = leaf_counts(df.schema)
    if not counts:
        return df
    cols = _rebuild(df.schema, "", _count_kept(df, counts))
    if cols is None:
        raise ValueError("all columns are void after stripping")
    return df.select(*cols)


def strip_struct_column(
    df: DataFrame, col: str = "data", keep: set[str] | None = None
) -> DataFrame:
    """Rebuild one struct column without its void nested fields, leaving
    every other column untouched (used on the rule-output ``data``
    struct before inference/evolution).

    ``keep`` is the set of leaf paths (``data.a.b``) that carry a value,
    as :func:`leaf_counts` aggregates find them. Without it, one
    aggregate job over ``df`` computes the set. The ingest pipeline and
    ``swarm schema`` pass the set their destination plan already holds,
    so there the rebuild is a projection and runs no job."""
    dtype = df.schema[col].dataType
    if not isinstance(dtype, T.StructType):
        raise TypeError(f"{col} is not a struct")
    counts = leaf_counts(dtype, prefix=col + ".")
    if not counts:
        return df
    if keep is None:
        keep = _count_kept(df, counts)
    inner = _rebuild(dtype, col + ".", keep)
    if inner is None:
        raise ValueError(f"struct column {col!r} is entirely void")
    rebuilt = F.when(F.col(col).isNull(), F.lit(None)).otherwise(F.struct(*inner))
    others = [F.col(c) for c in df.columns if c != col]
    return df.select(*others, rebuilt.alias(col))
