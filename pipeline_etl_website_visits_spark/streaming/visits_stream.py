"""Streaming mode of the visits ETL (SURVEY §7 phase 4).

The reference's file-per-micro-batch dispatcher (README.md:43-47,
flows/orchestrator_flow.py:36-45) maps 1:1 onto a Structured Streaming file
source: the checkpoint gives exactly-once file tracking (replacing the
missing processed-file filter, defect D13), ``maxFilesPerTrigger`` bounds
per-trigger work (O2), and ``Trigger.AvailableNow`` drains the backlog then
stops — the daily-02:00 batch run, expressed as a stream.

Each micro-batch runs the same transform as batch mode inside
``foreachBatch``; the visitantes upsert is a stateful merge the sink applies
per batch (the J2 running counters ARE a streaming stateful aggregation —
SURVEY §2.10). Limitation vs the batch driver: a file stream has one fixed
schema, so layout deviations (missing/extra columns) are a batch-driver
concern; this path assumes the declared layout.

End-to-end semantics: the checkpoint makes the SOURCE exactly-once (each
file enters exactly one micro-batch), but ``foreachBatch`` side effects are
at-least-once — a replayed batch after a sink-side crash would re-run. The
sink therefore keys its non-idempotent effects on ``batch_id``:
estadisticas/errores use per-file dynamic partition overwrite (idempotent),
the additive visitantes merge is skipped when ``batch:<id>`` is already in
the snapshot's ``_applied`` manifest, and bitacora rows are skipped for
files that already carry a completion marker. A batch's bitacora rows (ok
and layout-fail alike) are written last, as one append, so a crash leaves
all of them or none. Replays are thus no-ops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pipeline_etl_website_visits_spark.etl import schema as S
from pipeline_etl_website_visits_spark.etl import transform as T
from pipeline_etl_website_visits_spark.etl.load import Warehouse


def read_report_stream(spark: SparkSession, input_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.format("csv")
        .option("header", True)
        .option("pathGlobFilter", "report_*.txt")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(S.RAW_SCHEMA)
        .load(input_dir)
        .withColumn("__path", F.col("_metadata.file_path"))
        .withColumn("nombreArchivo", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1))
    )


def _process_micro_batch(warehouse: Warehouse, process_date: str | None):
    def inner(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # sink-side idempotence for replayed micro-batches (at-least-once
        # foreachBatch): skip already-merged batches / already-marked files
        batch_key = f"batch:{batch_id}"
        merge_done = batch_key in warehouse.visitantes_applied()
        marked = warehouse.processed_files()
        # The fixed stream schema applies positionally, so a file whose
        # header deviates from the declared layout would misparse. Peek the
        # headers of this micro-batch's files (driver-side, O(1) per file —
        # same check as the batch driver) and quarantine layout failures.
        spark = batch_df.sparkSession
        paths = [r[0] for r in batch_df.select("__path").distinct().collect()]
        bad_files = []
        for p in paths:
            from pipeline_etl_website_visits_spark.etl.pipeline import read_header

            ok_layout, _, _ = T.validate_layout(read_header(spark, p))
            if not ok_layout:
                bad_files.append(p.rsplit("/", 1)[-1])
        # every bitacora row of the batch goes out as ONE append at the end
        markers = [(f, 0, 0, S.STATUS_LAYOUT_FAIL) for f in sorted(bad_files) if f not in marked]
        names = sorted({p.rsplit("/", 1)[-1] for p in paths} - set(bad_files))
        if not names:
            warehouse.log_bitacora(markers)
            return
        batch_df = batch_df.drop("__path")
        if bad_files:
            batch_df = batch_df.filter(~F.col("nombreArchivo").isin(bad_files))
        flagged = T.with_validity_flags(batch_df)
        ok, bad = T.split_valid_invalid(flagged)
        errores = T.expand_errors(bad, "nombreArchivo")
        stats = T.normalize_and_cast(ok)

        # per-file bitacora counts come back from the appends themselves
        ok_counts = warehouse.append_rows(stats, "estadisticas", names)
        err_counts = warehouse.append_rows(errores, "errores", names)

        if not merge_done:
            visitors = T.visitors_aggregate(stats)
            # incremental: touches only the hash buckets of this batch's emails
            warehouse.merge_visitantes(visitors, process_date=process_date, applied_key=batch_key)

        for fname in names:
            if fname in marked:
                continue  # replay: completion marker already written
            e = err_counts[fname]
            status = S.STATUS_OK_WITH_ERRORS if e > 0 else S.STATUS_OK
            markers.append((fname, ok_counts[fname], e, status))
        warehouse.log_bitacora(markers)

    return inner


def start_visits_stream(
    spark: SparkSession,
    input_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    process_date: str | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the ETL as a stream; with ``available_now`` it drains and stops."""
    warehouse = Warehouse(spark, warehouse_root)
    stream = read_report_stream(spark, input_dir, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(_process_micro_batch(warehouse, process_date))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
