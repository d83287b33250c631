"""Exactly-once Structured Streaming SINK into a DuckLake table.

Spark's streaming contract is at-least-once at the sink: after a crash,
``foreachBatch`` re-delivers the last un-checkpointed epoch with the
SAME batch_id. Exactly-once therefore needs a transactional marker on
the sink side: this sink records ``(source_id, batch_id)`` as a catalog
option IN THE SAME catalog transaction that commits the batch's
snapshot and registers its data files (table_writer.create_or_insert(
commit_marker=...) — the write's one commit transaction), so a batch is
either fully visible WITH its marker or not at all, and a replay of an
already-committed batch_id is skipped.

Spark-first shape: the data plane is the ordinary distributed parquet
append (executors stage files); only the tiny marker check/commit is
driver-side catalog work. Complements streaming/cdc_source.py (the
exactly-once READ side) — together: DuckLake-to-DuckLake streaming
pipelines with end-to-end exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ducklake_sink(catalog_path: str, table: str,
                  source_id: str = "default"):
    """A ``foreachBatch``-compatible callable writing each micro-batch
    into ``table`` exactly once.

    Usage::

        (stream.writeStream
           .foreachBatch(ducklake_sink("/path/cat.sqlite", "main.events"))
           .option("checkpointLocation", ckpt)
           .start())
    """
    marker_key = f"stream_sink:{source_id}:{table}"

    def write_batch(df: DataFrame, batch_id: int) -> None:
        from ..catalog import DuckLakeSession
        from ..table_writer import create_or_insert
        dl = DuckLakeSession(df.sparkSession, catalog_path)
        last = dl.provider.get_option(marker_key)
        if last is not None and int(last) >= int(batch_id):
            return                     # replayed epoch: already committed
        create_or_insert(dl, table, df, mode="append", single_file=False,
                         commit_marker=(marker_key, str(batch_id)))

    return write_batch
