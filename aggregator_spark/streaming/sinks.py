"""Streaming sink beyond the built-ins: an idempotent foreachBatch
writer.

Structured Streaming's file sink is append-only; real pipelines need
exactly-once file output under retries. That rides ``foreachBatch``:
the function receives (micro-batch DataFrame, batch_id), and
*idempotence on batch_id* is what turns at-least-once execution into
exactly-once output — a retried batch overwrites its own directory
instead of duplicating rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def batch_partitioned_parquet_sink(base_path: str):
    """foreachBatch writer: each micro-batch lands in
    ``{base}/batch_id=N`` with overwrite — a retry of batch N replaces
    its own output (idempotent), never duplicates. Readers see the
    whole dataset via ``spark.read.parquet(base)`` (batch_id becomes a
    partition column)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{base_path}/batch_id={batch_id}"
        )

    return write
