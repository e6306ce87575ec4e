"""Batch driver for the visits ETL (SURVEY §3.2-§3.3 rebuilt Spark-first).

The reference's Prefect dispatcher/performer (flows/orchestrator_flow.py:36-45)
collapses into: list files → per-file layout check on the header (driver-side,
O(1) per file) → transform + load per file. Per-file isolation (O4) is a
try/except around each file; a failing file records FALLO_SISTEMA and the run
continues. Already-processed files are skipped via the bitacora commit marker
(fixing reference defect D13).

Scale notes: the per-file loop is about *file-granular semantics* (each file
is its own commit unit, like the reference). A file costs the Spark jobs of
its data writes only — the two appends and the merge; the header peek, the
schema, the ok/error counts and the control rows (the bitacora marker and
the trail, each one parquet file the driver writes) add none — so at small
files that fixed per-job cost dominates. The two appends and the merge run
at once (:meth:`Warehouse.write_upstream`), so a file pays the slowest of
the three rather than their sum; the marker, then the trail, follow them.
With millions of small files you would instead group valid files by header
signature and process each group as ONE job with ``_metadata.file_path``
lineage — ``transform_group`` implements that path.
"""

from __future__ import annotations

import csv
import io
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from pipeline_etl_website_visits_spark.etl import schema as S
from pipeline_etl_website_visits_spark.etl import transform as T
from pipeline_etl_website_visits_spark.etl.load import Warehouse
from pipeline_etl_website_visits_spark.functions import sql_ident

# the declared layout, projected by name in one selectExpr
_LAYOUT_SQL = [sql_ident(c) for c in S.VALID_COLUMNS]


@dataclass
class FileResult:
    filename: str
    status: str
    ok_count: int = 0
    err_count: int = 0
    missing_columns: list[str] = field(default_factory=list)
    extra_columns: list[str] = field(default_factory=list)


def list_report_files(spark: SparkSession, input_dir: str, glob: str = "report_*.txt") -> list[str]:
    """S1: directory listing + glob filter via the Hadoop FS API (portable
    to hdfs/s3a; the reference listed an SFTP dir, tasks/pre_processing.py:8-21)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(os.path.join(input_dir, glob))
    fs = path.getFileSystem(conf)
    statuses = fs.globStatus(path)
    if statuses is None:
        return []
    return sorted(str(s.getPath()) for s in statuses)


def read_header(spark: SparkSession, filepath: str) -> list[str]:
    """First line of the file via Hadoop FS (no Spark job)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(filepath)
    fs = p.getFileSystem(conf)
    stream = fs.open(p)
    try:
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
        line = reader.readLine() or ""
    finally:
        stream.close()
    return next(csv.reader(io.StringIO(line)), [])


def _safe_header(header: list[str]) -> list[str]:
    """Column names Spark's CSV reader derives from a header line: an empty
    name becomes ``_c<index>`` and every copy of a (case-insensitively)
    repeated name gets its index appended."""
    lower = [c.lower() for c in header if c]
    dups = {c for c in lower if lower.count(c) > 1}
    return [
        f"_c{i}" if not c else f"{c}{i}" if c.lower() in dups else c
        for i, c in enumerate(header)
    ]


def read_report(spark: SparkSession, filepath: str, header: list[str] | None = None) -> DataFrame:
    """S3: header-ful CSV scan, all columns as raw strings, projected to the
    declared layout by name (extra columns tolerated and dropped).

    The all-string schema is built from ``header`` (read with
    :func:`read_header` when not given), so the scan needs no schema
    inference job."""
    if header is None:
        header = read_header(spark, filepath)
    schema = StructType([StructField(c, StringType()) for c in _safe_header(header)])
    df = spark.read.option("header", True).schema(schema).csv(filepath)
    return df.selectExpr(*_LAYOUT_SQL)


def _flush_trail(warehouse: Warehouse, trail: list[tuple[str, str, str, str]]) -> None:
    """Best-effort flush of the per-file log trail (O6). Informational logging
    must never fail the run: if the logs append itself throws (e.g. the same
    storage fault that caused the failure being logged), the exception would
    otherwise escape process_file and abort the whole directory run,
    defeating the O4 per-file isolation."""
    try:
        warehouse.log_file_events(trail)
    except Exception:  # noqa: BLE001 — deliberately swallowed
        pass


def process_file(
    spark: SparkSession,
    warehouse: Warehouse,
    filepath: str,
    process_date: str | None = None,
    reapply_merge: bool = False,
) -> FileResult:
    """Full per-file ETL: validate layout → transform → load → bitacora.

    Spark jobs run only inside the estadisticas/errores appends and the
    visitantes merge: the ok/error counts for the trail and the bitacora row
    come back from the appends (:meth:`Warehouse.append_rows`), and nothing
    is cached. (Not a :class:`pyspark.sql.Observation`: on Spark 4.1 its
    first use leaves the session unserializable, which breaks later ML
    closures that capture the session.)

    The estadisticas and errores appends and the visitantes merge run
    concurrently in :meth:`Warehouse.write_upstream`; the bitacora row
    (marker or FALLO_SISTEMA) waits until all three have ended, so the
    marker stays the last upstream write (K4).

    O6: every stage appends to a per-file event buffer, flushed as ONE
    parquet append at the end of the file's run (success or failure) — the
    structured replacement for the reference's logs/DDMMYY/<file>.log. On
    success the trail is written right after the marker, so it is readable
    when ``process_file`` returns; a crash between the two can leave a
    committed file without its trail, the same loss as a failed trail
    append. Neither control write runs a Spark job.
    """
    filename = os.path.basename(filepath)
    trail: list[tuple[str, str, str, str]] = [(filename, "RECIBIDO", "INFO", filepath)]
    header = read_header(spark, filepath)
    ok_layout, missing, extra = validate_layout_or_log(warehouse, filename, header)
    if not ok_layout:
        trail.append(
            (filename, "LAYOUT", "ERROR", f"missing={missing} extra={extra}")
        )
        _flush_trail(warehouse, trail)
        return FileResult(filename, S.STATUS_LAYOUT_FAIL, missing_columns=missing, extra_columns=extra)
    trail.append((filename, "LAYOUT", "INFO", "layout ok"))
    try:
        raw = read_report(spark, filepath, header)
        stats, visitors, errores = T.transform_file(raw, filename)
        # redo-safety: if a prior run crashed AFTER merging this file into
        # visitantes but BEFORE the bitacora marker, the snapshot manifest
        # already lists the file — re-applying would double-count. An explicit
        # reprocess (reapply_merge=True) is a deliberate re-merge and skips
        # the guard.
        merge = reapply_merge or filename not in warehouse.visitantes_applied()
        # incremental merge: reads and rewrites only the hash buckets
        # containing this file's emails (load.merge_visitantes)
        ok_counts, err_counts = warehouse.write_upstream(
            stats, errores, visitors if merge else None, [filename], filename, process_date
        )
        ok_count, err_count = ok_counts[filename], err_counts[filename]
        trail.append(
            (filename, "TRANSFORMADO", "INFO", f"ok={ok_count} errores={err_count}")
        )
        trail.append(
            (filename, "MERGE", "INFO", "visitantes merged" if merge else "skipped (already applied)")
        )

        status = S.STATUS_OK_WITH_ERRORS if err_count > 0 else S.STATUS_OK  # D9 fixed
        trail.append((filename, "CARGADO", "INFO", status))
        # the commit marker stays the last upstream write (K4); the trail
        # follows it, and the flush swallows its own failures, so a failing
        # logs append cannot mark a committed file FALLO
        warehouse.log_bitacora([(filename, ok_count, err_count, status)])
        _flush_trail(warehouse, trail)
        return FileResult(filename, status, ok_count, err_count, extra_columns=extra)
    except Exception as e:  # noqa: BLE001 — per-file isolation (O4)
        warehouse.log_bitacora([(filename, 0, 0, S.STATUS_SYSTEM_FAIL)])
        trail.append((filename, "FALLO", "ERROR", f"{type(e).__name__}: {e}"))
        _flush_trail(warehouse, trail)
        return FileResult(filename, S.STATUS_SYSTEM_FAIL)


def validate_layout_or_log(warehouse: Warehouse, filename: str, header: list[str]):
    ok_layout, missing, extra = T.validate_layout(header)
    if not ok_layout:
        warehouse.log_bitacora([(filename, 0, 0, S.STATUS_LAYOUT_FAIL)])
    return ok_layout, missing, extra


def process_directory(
    spark: SparkSession,
    input_dir: str,
    warehouse_root: str,
    process_date: str | None = None,
    reprocess: bool = False,
    backup_dir: str | None = None,
    quarantine_dir: str | None = None,
) -> list[FileResult]:
    """O1: process every report file in a directory, skipping completed ones.

    ``backup_dir`` (optional, local-filesystem paths only) runs the O5
    epilogue after the batch: committed files move to ``backup_dir`` and are
    bundled into the daily ``backup_DDMMYY.zip`` (reference
    utils/utils_postprocessing.py:8-50), with retention pruning.

    ``quarantine_dir`` (optional, local-filesystem) enables the reference's
    escalation ladder (README.md:110-115): files ending the run in
    FALLO_SISTEMA/FALLO_LAYOUT move to quarantine; quarantined files are
    automatically re-queued (and re-attempted, bypassing their failure
    marker) on runs within 2 days of first failure, then left in quarantine
    for manual inspection. ``process_date`` pins "today" for the 2-day clock
    (deterministic tests); otherwise the wall clock rules.
    """
    import datetime as _dt

    warehouse = Warehouse(spark, warehouse_root)
    today = _dt.date.fromisoformat(process_date) if process_date else None
    forced: set[str] = set()
    if quarantine_dir is not None:
        from pipeline_etl_website_visits_spark.etl.backup import requeue_quarantined

        forced = set(requeue_quarantined(input_dir, quarantine_dir, today=today)["requeued"])
    # the markers are read once: without reprocess, the set after the run is
    # this one plus the files the run marked
    done = set() if reprocess else warehouse.processed_files()
    results = []
    for filepath in list_report_files(spark, input_dir):
        filename = os.path.basename(filepath)
        if filename in done and filename not in forced:
            continue
        results.append(
            process_file(
                spark, warehouse, filepath, process_date=process_date, reapply_merge=reprocess
            )
        )
    if quarantine_dir is not None:
        from pipeline_etl_website_visits_spark.etl.backup import quarantine_failures

        failed = [
            r.filename
            for r in results
            if r.status in (S.STATUS_SYSTEM_FAIL, S.STATUS_LAYOUT_FAIL)
        ]
        quarantine_failures(input_dir, quarantine_dir, failed, today=today)
    if backup_dir is not None:
        from pipeline_etl_website_visits_spark.etl.backup import archive_processed

        # a reprocess read no markers, and a file whose reprocess failed
        # keeps its earlier completion marker: read them now
        marked = {r.filename for r in results if r.status in S.STATUS_DONE}
        committed = warehouse.processed_files() if reprocess else done | marked
        archive_processed(input_dir, backup_dir, committed)
    return results


def transform_group(spark: SparkSession, filepaths: list[str]) -> tuple[DataFrame, DataFrame]:
    """Scale path: N same-layout files as ONE job with per-file lineage.

    Returns (estadisticas, errores) across all files, with nombreArchivo
    derived from ``_metadata.file_path`` — no per-file scheduling overhead;
    Spark packs the files into splits. The per-file bitacora rows come from
    one aggregate over nombreArchivo instead of N count() actions.
    """
    df = spark.read.option("header", True).option("inferSchema", False).csv(filepaths)
    raw = df.selectExpr(
        *_LAYOUT_SQL, "element_at(split(_metadata.file_path, '/'), -1) AS nombreArchivo"
    )
    flagged = T.with_validity_flags(raw)
    ok, bad = T.split_valid_invalid(flagged)
    errores = T.expand_errors(bad, "nombreArchivo")
    # normalize_and_cast passes unknown columns (nombreArchivo) through.
    stats = T.normalize_and_cast(ok)
    return stats, errores
