"""SQL pass-through migrate + schema-only apply (operators M1, Q1-Q4).

Reference ``migrate`` (/root/reference/pkg/usecase/migrate.go:14-73):
ensure the destination table exists with the source's (optionally
merged) schema and partitioning, then run a user SQL — default
``INSERT INTO dst SELECT * FROM src``. Spark SQL supersedes the
BigQuery pass-through: any registered table is queryable.

``apply_schema`` is the ``swarm schema`` command
(pkg/usecase/schema.go:13-90): run routing + transform + inference and
evolve destination schemas WITHOUT inserting rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import ModelError, ObjectMeta, TableDest
from ..pipeline.ingest import IngestPipeline, plan_destinations
from ..schema.strip import strip_struct_column
from ..sinks.table import TableSink


def migrate(
    spark: SparkSession,
    sink: TableSink,
    src: TableDest,
    dst: TableDest,
    query: str | None = None,
) -> int:
    """Ensure dst (schema merged from src), then run the migration SQL.

    The query sees the source as view ``src`` and must produce rows in
    the destination's full row shape; default is ``SELECT * FROM src``.
    """
    src_df = sink.read_table(src)
    data_schema = src_df.schema["data"].dataType
    merged = sink.ensure_table(dst, data_schema)

    src_df.createOrReplaceTempView("src")
    out: DataFrame = spark.sql(query or "SELECT * FROM src")
    if set(out.columns) != set(src_df.columns):
        raise ModelError(
            f"migrate query must produce the row envelope {src_df.columns}, got {out.columns}"
        )
    from ..schema.infer import _align_expr  # align data struct to merged
    from pyspark.sql import functions as F

    aligned = out.select(
        "id",
        "ingest_id",
        "timestamp",
        "ingested_at",
        _align_expr(F.col("data"), out.schema["data"].dataType, merged).alias("data"),
    )
    return sink.append(dst, aligned)


def apply_schema(pipeline: IngestPipeline, objs: list[ObjectMeta]) -> list[TableDest]:
    """Evolve destination schemas from the objects' inferred shapes
    without writing any rows. Returns the destinations touched.

    One job: the ingest destination plan finds every destination and its
    void ``data`` leaves (and, in strict mode, rejects invalid rule
    output); each destination's stripped schema is then derived from
    the plan without touching the data again."""
    enveloped = pipeline.envelope_objects(objs)
    if enveloped is None:
        return []
    touched = []
    for plan in plan_destinations(enveloped):
        data = strip_struct_column(enveloped.select("data"), "data", keep=plan.keep)
        pipeline.sink.ensure_table(plan.dest, data.schema["data"].dataType)
        touched.append(plan.dest)
    return touched
