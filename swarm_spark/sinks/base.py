"""Sink abstraction (operators W1-W6, Q4).

The reference makes itself testable by putting a dump sink behind the
same interface as the BigQuery sink
(/root/reference/pkg/infra/dump/client.go:21-104 vs pkg/infra/bq). Same
move here: the ingest pipeline talks to a :class:`Sink`; local runs use
the evolving-parquet :class:`~swarm_spark.sinks.table.TableSink` or the
:class:`~swarm_spark.sinks.dump.DumpSink`, cloud runs plug a BigQuery
connector sink with the identical contract.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import TableDest


class Sink:
    def ensure_table(self, dest: TableDest, data_schema: T.StructType) -> T.StructType:
        """Create the destination if absent, else strict-merge its data
        schema with ``data_schema`` (error on conflict). Returns the
        merged data schema the append must conform to (Q4)."""
        raise NotImplementedError

    def append(self, dest: TableDest, df: DataFrame) -> int:
        """Append an envelope frame (id, ingest_id, timestamp,
        ingested_at, data) already aligned to the evolved schema.
        Returns the row count written."""
        raise NotImplementedError


def write_counted(df: DataFrame, write: Callable[[DataFrame], None]) -> int:
    """Run ``write`` on ``df`` and return the rows it wrote, counted by an
    :class:`Observation` on the write job itself rather than by a
    ``count()`` job before it."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return int(obs.get["rows"])
