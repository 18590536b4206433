"""Schema rules (operators R2/R3): per-record transform + routing.

Reference: Rego ``data.schema.<name>`` runs per record and emits a set
of Logs ``{dataset, table, partition, id, timestamp, data}`` — possibly
fanning one record out to N rows (CloudTrail ``input.Records[_]``) and
reshaping ``data`` (``json.patch`` removes)
(/root/reference/pkg/usecase/load.go:205-245, docs/rule.md:126-183).

Spark-first re-expression: a schema rule is a **DataFrame → DataFrame**
transform. Instead of evaluating a rule engine per record (a Python UDF
— the slow path), rules are written against the DataFrame API, so
fan-out is ``explode``, reshaping is struct rebuild/``dropFields``, and
routing columns are literals or expressions — all Catalyst-visible and
codegen'd. The output contract is RULE_OUTPUT_COLUMNS:

- dataset: string (non-null)           - id: string or null
- table: string (non-null)             - timestamp: double unix-sec > 0
- partition: '', hour|day|month|year   - data: struct (non-null)

:func:`rule_output` builds a conforming frame; :func:`output_violation`
is the R3 predicate (pkg/domain/model/policy.go:73-89) that
:func:`validate_output` and the ingest destination plan share.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import RULE_OUTPUT_COLUMNS, ModelError, TimeUnit
from ..functions.timeutils import validate_partition_unit


class RuleOutputError(ModelError):
    """Schema-rule output violates the Log contract (R3)."""


def rule_output(
    df: DataFrame,
    *,
    dataset: str | Column,
    table: str | Column,
    data: Column,
    timestamp: Column,
    id: Column | None = None,
    partition: str | Column = TimeUnit.NONE.value,
) -> DataFrame:
    """Project a transformed frame onto the rule-output contract."""
    if isinstance(partition, str):
        validate_partition_unit(partition)
        partition = F.lit(partition)
    return df.select(
        (F.lit(dataset) if isinstance(dataset, str) else dataset).cast("string").alias("dataset"),
        (F.lit(table) if isinstance(table, str) else table).cast("string").alias("table"),
        partition.cast("string").alias("partition"),
        (F.lit(None) if id is None else id).cast("string").alias("id"),
        timestamp.cast("double").alias("timestamp"),
        data.alias("data"),
    )


@dataclass(frozen=True)
class SchemaRule:
    """Named record transform: raw parsed frame → routed Log frame."""

    name: str
    transform: Callable[[DataFrame], DataFrame]

    def apply(self, df: DataFrame) -> DataFrame:
        out = self.transform(df)
        missing = [c for c in RULE_OUTPUT_COLUMNS if c not in out.columns]
        if missing:
            raise RuleOutputError(f"rule {self.name!r} output missing columns: {missing}")
        if not isinstance(out.schema["data"].dataType, T.StructType):
            raise RuleOutputError(f"rule {self.name!r}: data must be a struct")
        return out.select(*RULE_OUTPUT_COLUMNS)


class SchemaRuleRegistry:
    """``data.schema.<name>`` analogue: name → rule lookup."""

    def __init__(self):
        self._rules: dict[str, SchemaRule] = {}

    def register(self, rule: SchemaRule) -> SchemaRule:
        if rule.name in self._rules:
            raise ModelError(f"duplicate schema rule: {rule.name}")
        self._rules[rule.name] = rule
        return rule

    def rule(self, name: str, fn: Callable[[DataFrame], DataFrame] | None = None):
        """Direct or decorator registration."""
        if fn is not None:
            return self.register(SchemaRule(name, fn))

        def deco(f: Callable[[DataFrame], DataFrame]):
            self.register(SchemaRule(name, f))
            return f

        return deco

    def get(self, name: str) -> SchemaRule:
        if name not in self._rules:
            raise ModelError(f"unknown schema rule: {name!r}")
        return self._rules[name]

    def names(self) -> list[str]:
        return sorted(self._rules)


def output_violation() -> Column:
    """The R3 predicate (pkg/domain/model/policy.go:73-89): true on a
    rule-output row with an empty dataset or table, a timestamp that is
    not > 0, or no data. :func:`validate_output` and the ingest
    destination plan (``pipeline/ingest.py``) both evaluate this one
    expression."""
    return (
        F.col("dataset").isNull()
        | (F.col("dataset") == "")
        | F.col("table").isNull()
        | (F.col("table") == "")
        | F.col("timestamp").isNull()
        | (F.col("timestamp") <= 0)
        | F.col("data").isNull()
    )


def invalid_output_error(violating: DataFrame) -> RuleOutputError:
    """The strict-mode error, naming up to three violating rows. The
    sample query is the only job it runs, and only on this failure
    path."""
    return RuleOutputError(f"invalid rule output rows, e.g. {violating.limit(3).collect()}")


def validate_output(df: DataFrame, strict: bool = True) -> DataFrame:
    """R3 validation: dataset/table non-empty, timestamp > 0, data set.

    Strict mode probes for a violating row (one short job) and raises
    :class:`RuleOutputError`; lenient mode filters violating rows out
    lazily, with no job. The ingest pipeline calls this only in lenient
    mode: in strict mode it counts :func:`output_violation` inside its
    one destination-plan aggregate instead, and raises the same error
    before any write.
    """
    bad = output_violation()
    if not strict:
        return df.where(~bad)
    if df.where(bad).limit(1).count():
        raise invalid_output_error(df.where(bad))
    return df


# ---- reshaping helpers (json.patch analogues, docs/rule.md:126-183) ----


def drop_fields(data: Column, *paths: str) -> Column:
    """Remove nested fields from a struct column (json.patch remove)."""
    out = data
    for p in paths:
        out = out.dropFields(p)
    return out


def fanout(df: DataFrame, array_field: str, alias: str = "record") -> DataFrame:
    """``input.Records[_]`` analogue: one row per array element."""
    return df.select(F.explode(F.col(array_field)).alias(alias))
