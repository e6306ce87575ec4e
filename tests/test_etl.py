"""ETL-semantics golden tests (SURVEY §5.2) over FIXTURES.md variants."""

import datetime
import os

import pyspark.sql.functions as F
import pytest

from pipeline_etl_website_visits_spark.etl import schema as S
from pipeline_etl_website_visits_spark.etl.load import VISITANTES_SCHEMA, Warehouse
from pipeline_etl_website_visits_spark.etl.pipeline import (
    list_report_files,
    process_directory,
    process_file,
    read_header,
    read_report,
    transform_group,
)
from pipeline_etl_website_visits_spark.etl.transform import (
    transform_file,
    validate_layout,
    with_validity_flags,
)

from tests import fixtures as FX


@pytest.fixture()
def report_dir(tmp_path):
    d = tmp_path / "reports"
    d.mkdir()
    return str(d)


def test_layout_validation():
    ok, missing, extra = validate_layout(FX.HEADER)
    assert ok and not missing and not extra
    ok, missing, extra = validate_layout([c for c in FX.HEADER if c != "Opens"])
    assert not ok and missing == ["Opens"]
    ok, missing, extra = validate_layout(FX.HEADER + ["Extra"])
    assert ok and extra == ["Extra"]


def test_allvalid_counts_and_agg(spark, report_dir):
    path = FX.make_allvalid(report_dir)
    stats, visitors, errores = transform_file(read_report(spark, path), "report_allvalid.txt")
    assert stats.count() == 100
    assert errores.count() == 0
    v = {r["email"]: r for r in visitors.collect()}
    assert len(v) == 10
    assert all(r["visitasTotales"] == 10 for r in v.values())
    # D20 ruling: dates derive from the batch's fechaEnvio, not today.
    assert all(r["fechaPrimeraVisita"].month == 3 for r in v.values())


def test_mixed_error_expansion(spark, report_dir):
    """FIXTURES F-B: 30 invalid source rows expand to exactly 50 error rows."""
    path = FX.make_mixed(report_dir)
    stats, visitors, errores = transform_file(read_report(spark, path), "report_mixed.txt")
    assert stats.count() == 70
    err = errores.collect()
    assert len(err) == 50
    by_type = errores.groupBy("tipoError").count().collect()
    counts = {r["tipoError"]: r["count"] for r in by_type}
    assert counts == {"Email": 20, "Fecha envio": 20, "Fecha open": 10}
    # row-count conservation: |ok| + |distinct err rows| = |input|
    flagged = with_validity_flags(read_report(spark, path))
    assert flagged.filter(~F.col("is_valid")).count() == 30


def test_empty_file(spark, report_dir):
    path = FX.make_empty(report_dir)
    stats, visitors, errores = transform_file(read_report(spark, path), "report_empty.txt")
    assert stats.count() == 0 and errores.count() == 0 and visitors.count() == 0


def test_placeholder_normalization(spark, report_dir):
    path = FX.make_placeholders(report_dir)
    stats, _, _ = transform_file(read_report(spark, path), "report_placeholders.txt")
    rows = stats.collect()
    assert all(r["jyv"] is None for r in rows)          # "-" -> NULL
    assert all(r["badMail"] is None for r in rows)      # "0" -> NULL (str col)
    assert all(r["navegadores"] is None for r in rows)
    assert any(r["opens"] == 0 for r in rows)           # int 0 survives (D7)
    # strict-format dates parsed to real timestamps
    assert all(r["fechaEnvio"] is not None for r in rows)


def test_date_validation_strictness(spark, report_dir):
    """F2 is stricter than the cast: lax formats must be *invalid*, not parsed."""
    rows = [FX.valid_row(0)]
    rows[0][4] = "1/1/2024 10:00"  # would parse, but fails the strict regex
    path = FX.write_csv(os.path.join(report_dir, "report_lax.txt"), FX.HEADER, rows)
    flagged = with_validity_flags(read_report(spark, path))
    assert flagged.filter(F.col("is_valid")).count() == 0


def test_process_directory_end_to_end(spark, report_dir, tmp_path):
    FX.make_allvalid(report_dir)
    FX.make_mixed(report_dir)
    FX.make_badlayout(report_dir)
    FX.make_extracol(report_dir)
    FX.make_empty(report_dir)
    wh_root = str(tmp_path / "wh")

    results = process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    by_name = {r.filename: r for r in results}
    assert by_name["report_allvalid.txt"].status == S.STATUS_OK
    assert by_name["report_mixed.txt"].status == S.STATUS_OK_WITH_ERRORS
    assert by_name["report_badlayout.txt"].status == S.STATUS_LAYOUT_FAIL
    assert by_name["report_badlayout.txt"].missing_columns == ["Opens"]
    assert by_name["report_extracol.txt"].status == S.STATUS_OK
    assert by_name["report_extracol.txt"].extra_columns == ["Extra"]
    assert by_name["report_empty.txt"].status == S.STATUS_OK

    wh = Warehouse(spark, wh_root)
    assert wh.read("estadisticas").count() == 100 + 70 + 5 + 0
    assert wh.read("errores").count() == 50
    bit = {r["nombreArchivo"]: r for r in wh.read("bitacora").collect()}
    assert bit["report_mixed.txt"]["registrosExitosos"] == 70
    assert bit["report_mixed.txt"]["registrosFallidos"] == 50
    vis = wh.read_visitantes()
    # user0@example.com: 10 rows in allvalid + 1 in mixed + 1 in extracol,
    # merged across the three per-file upserts.
    assert vis.filter(F.col("email") == "user0@example.com").first()["visitasTotales"] == 12

    # idempotency: re-run skips everything (bitacora commit markers, D13 fix)
    results2 = process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    assert results2 == []
    assert wh.read("estadisticas").count() == 175


def test_reprocess_overwrites_not_duplicates(spark, report_dir, tmp_path):
    FX.make_allvalid(report_dir)
    wh_root = str(tmp_path / "wh")
    process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    wh = Warehouse(spark, wh_root)
    assert wh.read("estadisticas").count() == 100
    # forced reprocess: dynamic partition overwrite keeps counts stable
    process_directory(spark, report_dir, wh_root, process_date="2026-03-28", reprocess=True)
    assert wh.read("estadisticas").count() == 100
    # but visitantes was merged twice (totals add) — documented K4 semantics:
    # idempotency is provided by the bitacora skip, reprocess=True is a
    # deliberate re-merge.
    assert (
        wh.read_visitantes().filter(F.col("email") == "user0@example.com").first()["visitasTotales"] == 20
    )


def test_transform_group_matches_per_file(spark, report_dir):
    FX.make_allvalid(report_dir)
    FX.make_mixed(report_dir)
    files = list_report_files(spark, report_dir)
    stats, errores = transform_group(spark, files)
    assert stats.count() == 170
    assert errores.count() == 50
    per_file = stats.groupBy("nombreArchivo").count().collect()
    assert {r["nombreArchivo"]: r["count"] for r in per_file} == {
        "report_allvalid.txt": 100,
        "report_mixed.txt": 70,
    }


def test_header_peek(spark, report_dir):
    path = FX.make_allvalid(report_dir)
    assert read_header(spark, path) == FX.HEADER


def test_system_failure_isolation(spark, report_dir, tmp_path, monkeypatch):
    """A file that explodes mid-transform records FALLO_SISTEMA and does not
    stop the run (reference O4 per-file isolation, flows/etl_flow.py:45-47)."""
    import pipeline_etl_website_visits_spark.etl.pipeline as P

    FX.make_allvalid(report_dir)
    FX.make_mixed(report_dir)
    wh_root = str(tmp_path / "wh")

    real_transform = P.T.transform_file

    def exploding(raw, filename):
        if filename == "report_allvalid.txt":
            raise RuntimeError("injected mid-transform failure")
        return real_transform(raw, filename)

    monkeypatch.setattr(P.T, "transform_file", exploding)
    results = P.process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    by_name = {r.filename: r for r in results}
    assert by_name["report_allvalid.txt"].status == S.STATUS_SYSTEM_FAIL
    assert by_name["report_mixed.txt"].status == S.STATUS_OK_WITH_ERRORS

    from pipeline_etl_website_visits_spark.etl.load import Warehouse

    wh = Warehouse(spark, wh_root)
    bit = {r["nombreArchivo"]: r["estatus"] for r in wh.read("bitacora").collect()}
    assert bit["report_allvalid.txt"] == S.STATUS_SYSTEM_FAIL
    # FALLO_SISTEMA is NOT a completion marker: the file is retried next run
    monkeypatch.setattr(P.T, "transform_file", real_transform)
    results2 = P.process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    assert [r.filename for r in results2] == ["report_allvalid.txt"]
    assert results2[0].status == S.STATUS_OK


def test_per_file_log_trail(spark, report_dir, tmp_path, monkeypatch):
    """O6: every processed file leaves a structured stage trail in the logs
    table — RECIBIDO→LAYOUT→TRANSFORMADO→MERGE→CARGADO for good files, a
    LAYOUT ERROR row for layout rejects, and a FALLO ERROR row with the
    exception text for mid-transform crashes."""
    FX.make_allvalid(report_dir)
    FX.make_badlayout(report_dir)
    FX.make_mixed(report_dir)
    wh_root = str(tmp_path / "wh")

    # make report_mixed.txt explode mid-transform (same trick as the
    # isolation test): break transform_file for that one file
    import pipeline_etl_website_visits_spark.etl.pipeline as P

    real_transform = P.T.transform_file

    def exploding(raw, filename):
        if filename == "report_mixed.txt":
            raise RuntimeError("boom in transform")
        return real_transform(raw, filename)

    monkeypatch.setattr(P.T, "transform_file", exploding)
    process_directory(spark, report_dir, wh_root)

    wh = Warehouse(spark, wh_root)
    ok_trail = [
        (r["etapa"], r["nivel"])
        for r in wh.file_log("report_allvalid.txt").collect()
    ]
    assert ("RECIBIDO", "INFO") in ok_trail
    assert ("TRANSFORMADO", "INFO") in ok_trail
    assert ("CARGADO", "INFO") in ok_trail

    bad_layout = wh.file_log("report_badlayout.txt").collect()
    assert any(r["etapa"] == "LAYOUT" and r["nivel"] == "ERROR" for r in bad_layout)
    assert not any(r["etapa"] == "CARGADO" for r in bad_layout)

    crashed = wh.file_log("report_mixed.txt").collect()
    fallo = [r for r in crashed if r["etapa"] == "FALLO"]
    assert len(fallo) == 1 and "boom in transform" in fallo[0]["mensaje"]

    # trail rows carry the DDMMYY partition the reference used for log dirs
    assert all(len(r["fecha"]) == 6 for r in crashed)


def _control_rows(wh):
    wh.log_file_events([("f.txt", "RECIBIDO", "INFO", "x"), ("f.txt", "CARGADO", "INFO", None)])
    wh.log_bitacora([("f.txt", 3, 1, S.STATUS_OK_WITH_ERRORS), ("g.txt", 0, 0, S.STATUS_LAYOUT_FAIL)])


def _visible(table_dir):
    """The names in ``table_dir`` (recursively) that Spark's readers see."""
    return sorted(
        os.path.relpath(os.path.join(d, f), table_dir)
        for d, _, files in os.walk(table_dir)
        for f in files
        if not f.startswith(("_", "."))
    )


def test_control_writes_run_no_spark_job(spark, tmp_path, job_groups):
    """The trail and bitacora appends schedule no Spark job, so no task and
    no Python worker runs for them; the empty-snapshot frame is planned
    without an RDD scan of Python rows. Each call adds one file."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    j0 = job_groups.next_job()
    _control_rows(wh)
    assert job_groups.next_job() == j0
    qe = wh.read_visitantes()._jdf.queryExecution()
    plan = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    for python_scan in ("ExistingRDD", "LogicalRDD", "PythonRDD"):
        assert python_scan not in plan, plan
    assert len(_visible(wh.path("bitacora"))) == 1
    assert len(_visible(wh.path("logs"))) == 1

    bit = {r["nombreArchivo"]: r for r in wh.read("bitacora").collect()}
    assert (bit["f.txt"]["registrosExitosos"], bit["f.txt"]["registrosFallidos"]) == (3, 1)
    assert bit["g.txt"]["estatus"] == S.STATUS_LAYOUT_FAIL
    assert bit["g.txt"]["fechaProceso"] == bit["f.txt"]["fechaProceso"]  # one stamp per call
    trail = [(r["etapa"], r["mensaje"]) for r in wh.file_log("f.txt").collect()]
    assert trail == [("RECIBIDO", "x"), ("CARGADO", None)]
    assert wh.read_visitantes().count() == 0


def test_control_row_types(spark, tmp_path):
    """The logs and bitacora files carry the declared types and nullability,
    stamps included (non-null fields are ``required`` in the footers), and
    read back through ``Warehouse.read`` with the declared types."""
    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path / "wh"))
    _control_rows(wh)

    def footer(table):
        [name] = _visible(wh.path(table))
        schema = pq.read_schema(os.path.join(wh.path(table), name))
        return [(f.name, str(f.type), f.nullable) for f in schema]

    stamp = "timestamp[us, tz=UTC]"
    assert _visible(wh.path("logs"))[0].startswith("fecha=")
    assert footer("logs") == [
        ("nombreArchivo", "string", False),
        ("etapa", "string", False),
        ("nivel", "string", False),
        ("mensaje", "string", True),
        ("seq", "int64", False),
        ("fechaProceso", stamp, False),
    ]
    assert footer("bitacora") == [
        ("nombreArchivo", "string", False),
        ("registrosExitosos", "int64", True),
        ("registrosFallidos", "int64", True),
        ("estatus", "string", False),
        ("fechaProceso", stamp, False),
    ]

    def types(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert types(wh.read("logs")) == [
        ("nombreArchivo", "string"), ("etapa", "string"), ("nivel", "string"),
        ("mensaje", "string"), ("seq", "bigint"), ("fechaProceso", "timestamp"),
        ("fecha", "string"),
    ]
    assert types(wh.read("bitacora")) == [
        ("nombreArchivo", "string"), ("registrosExitosos", "bigint"),
        ("registrosFallidos", "bigint"), ("estatus", "string"), ("fechaProceso", "timestamp"),
    ]
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in wh.read_visitantes().schema] == [
        (f.name, f.dataType.simpleString(), f.nullable) for f in VISITANTES_SCHEMA.fields
    ]


def test_control_tables_mix_spark_and_driver_files(spark, tmp_path):
    """An upgraded warehouse holds Spark-written control files (INT96
    stamps) beside driver-written ones: both read back as one table with
    the declared types, and the markers of both count."""
    from pipeline_etl_website_visits_spark.etl.load import BITACORA_SCHEMA, LOGS_SCHEMA

    wh = Warehouse(spark, str(tmp_path / "wh"))
    stamped = "current_timestamp() AS fechaProceso"
    spark.createDataFrame([("old.txt", 5, 0, S.STATUS_OK)], BITACORA_SCHEMA[:4]).selectExpr(
        "*", stamped
    ).write.mode("append").parquet(wh.path("bitacora"))
    spark.createDataFrame([("old.txt", "RECIBIDO", "INFO", "o", 1)], LOGS_SCHEMA).selectExpr(
        "*", stamped, "date_format(current_date(), 'ddMMyy') AS fecha"
    ).write.mode("append").partitionBy("fecha").parquet(wh.path("logs"))
    assert spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
    _control_rows(wh)

    bit = wh.read("bitacora")
    assert [f.dataType.simpleString() for f in bit.schema.fields] == [
        "string", "bigint", "bigint", "string", "timestamp"
    ]
    got = {r["nombreArchivo"]: (r["registrosExitosos"], r["estatus"]) for r in bit.collect()}
    assert got == {
        "old.txt": (5, S.STATUS_OK),
        "f.txt": (3, S.STATUS_OK_WITH_ERRORS),
        "g.txt": (0, S.STATUS_LAYOUT_FAIL),
    }
    assert all(r["fechaProceso"] is not None for r in bit.collect())
    assert wh.processed_files() == {"old.txt", "f.txt", "g.txt"}
    logs = wh.read("logs")
    assert logs.schema["fechaProceso"].dataType.simpleString() == "timestamp"
    assert logs.schema["seq"].dataType.simpleString() == "bigint"
    assert [r["etapa"] for r in wh.file_log("old.txt").collect()] == ["RECIBIDO"]
    assert [r["etapa"] for r in wh.file_log("f.txt").collect()] == ["RECIBIDO", "CARGADO"]


def test_control_write_failing_before_rename_leaves_no_visible_file(spark, tmp_path, monkeypatch):
    """A control write that fails after its file is written and before the
    rename leaves only a hidden file: readers see no row of it."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    real_write = Warehouse._write_small_file

    def write_then_fail(self, p, data):
        real_write(self, p, data)
        raise OSError("injected failure before the rename")

    monkeypatch.setattr(Warehouse, "_write_small_file", write_then_fail)
    with pytest.raises(OSError, match="before the rename"):
        wh.log_bitacora([("f.txt", 3, 1, S.STATUS_OK_WITH_ERRORS)])
    with pytest.raises(OSError, match="before the rename"):
        wh.log_file_events([("f.txt", "RECIBIDO", "INFO", "x")])
    assert os.listdir(wh.path("bitacora"))  # the hidden file is there
    assert _visible(wh.path("bitacora")) == [] and _visible(wh.path("logs")) == []
    assert wh.read("bitacora") is None and wh.read("logs") is None
    assert wh.processed_files() == set()


def test_null_in_non_null_control_field_raises_before_writing(spark, tmp_path):
    """A None in a field the schema declares NOT NULL raises before any file
    is written; a None in a nullable field is written as NULL."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="estatus"):
        wh.log_bitacora([("f.txt", 3, 1, S.STATUS_OK), ("g.txt", 0, 0, None)])
    with pytest.raises(ValueError, match="etapa"):
        wh.log_file_events([("f.txt", None, "INFO", "x")])
    assert not os.path.exists(wh.path("bitacora")) and not os.path.exists(wh.path("logs"))
    wh.log_bitacora([("f.txt", None, None, S.STATUS_SYSTEM_FAIL)])
    r = wh.read("bitacora").first()
    assert (r["registrosExitosos"], r["registrosFallidos"]) == (None, None)


@pytest.mark.parametrize("tz", ["Pacific/Kiritimati", "-11:00"])
def test_trail_fecha_is_the_session_time_zone_date(spark, tmp_path, tz):
    """The trail's fecha is Spark's ``date_format(current_date(), 'ddMMyy')``
    under a non-UTC session time zone, given as a region or as an offset
    (UTC+14 and UTC-11: one of the two is a different date from UTC at any
    hour), and fechaProceso reads back as the current instant."""
    import time

    wh = Warehouse(spark, str(tmp_path / "wh"))
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        today = "date_format(current_date(), 'ddMMyy')"
        before = spark.sql(f"SELECT {today}").first()[0]
        wh.log_file_events([("f.txt", "RECIBIDO", "INFO", "x")])
        after = spark.sql(f"SELECT {today}").first()[0]
        row = wh.file_log("f.txt").selectExpr(
            "fecha", "date_format(fechaProceso, 'ddMMyy') AS stamped", "unix_micros(fechaProceso) AS us"
        ).first()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert row["fecha"] in (before, after)
    assert row["stamped"] == row["fecha"]
    assert abs(row["us"] / 1e6 - time.time()) < 60


def test_process_file_runs_jobs_only_in_warehouse_writes(spark, report_dir, tmp_path, job_groups):
    """process_file itself schedules no Spark job (no schema inference, no
    count()) and caches nothing: every job of a file runs inside the
    estadisticas/errores appends or the visitantes merge, and the counts
    come back from the appends. The applied-keys lookup and the control
    writes run none. Jobs are told apart by job group, because the upstream
    writes overlap."""
    job_groups.mark("append_rows", "merge_visitantes")
    path = FX.make_mixed(report_dir)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spark.catalog.clearCache()
    j0 = job_groups.next_job()
    res = process_file(spark, wh, path, process_date="2026-03-28")
    groups = job_groups.of(j0, job_groups.next_job())
    assert (res.status, res.ok_count, res.err_count) == (S.STATUS_OK_WITH_ERRORS, 70, 50)
    assert groups.count(job_groups.MARK) > 0
    outside = len(groups) - groups.count(job_groups.MARK)
    assert outside == 0  # no schema inference job, no count() actions
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    trail = {r["etapa"]: r["mensaje"] for r in wh.file_log("report_mixed.txt").collect()}
    assert trail["TRANSFORMADO"] == "ok=70 errores=50"
    # the session stays serializable: ML closures that capture it still ship
    spark.sparkContext._jvm.org.apache.spark.util.Utils.serialize(spark._jsparkSession)


def test_upstream_writes_overlap(spark, report_dir, tmp_path, monkeypatch):
    """The visitantes merge starts while the estadisticas append is still
    running: the append waits for the merge to start, which it can only do
    in time if the two run at once. The trail keeps its stage order."""
    import threading

    merge_started = threading.Event()
    real_append, real_merge = Warehouse.append_rows, Warehouse.merge_visitantes

    def append_rows(self, df, table, keys):
        if table == "estadisticas" and not merge_started.wait(30):
            raise TimeoutError("the merge did not start while the append ran")
        return real_append(self, df, table, keys)

    def merge_visitantes(self, *args, **kwargs):
        merge_started.set()
        return real_merge(self, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "append_rows", append_rows)
    monkeypatch.setattr(Warehouse, "merge_visitantes", merge_visitantes)
    path = FX.make_mixed(report_dir)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    res = process_file(spark, wh, path, process_date="2026-03-28")
    assert (res.status, res.ok_count, res.err_count) == (S.STATUS_OK_WITH_ERRORS, 70, 50)
    trail = [(r["etapa"], r["mensaje"]) for r in wh.file_log("report_mixed.txt").collect()]
    assert trail == [
        ("RECIBIDO", path),
        ("LAYOUT", "layout ok"),
        ("TRANSFORMADO", "ok=70 errores=50"),
        ("MERGE", "visitantes merged"),
        ("CARGADO", S.STATUS_OK_WITH_ERRORS),
    ]


def test_trail_is_written_after_the_marker(spark, report_dir, tmp_path, monkeypatch):
    """The bitacora marker is written first and the trail right after it,
    both on the calling thread, and the trail reads back as soon as
    process_file returns."""
    import threading

    calls = []
    real_log, real_bitacora = Warehouse.log_file_events, Warehouse.log_bitacora

    def log_file_events(self, events):
        calls.append(("trail", threading.get_ident()))
        return real_log(self, events)

    def log_bitacora(self, rows):
        calls.append(("marker", threading.get_ident()))
        return real_bitacora(self, rows)

    monkeypatch.setattr(Warehouse, "log_file_events", log_file_events)
    monkeypatch.setattr(Warehouse, "log_bitacora", log_bitacora)
    path = FX.make_mixed(report_dir)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    res = process_file(spark, wh, path, process_date="2026-03-28")
    assert res.status == S.STATUS_OK_WITH_ERRORS
    me = threading.get_ident()
    assert calls == [("marker", me), ("trail", me)]
    trail = [r["etapa"] for r in wh.file_log("report_mixed.txt").collect()]
    assert trail == ["RECIBIDO", "LAYOUT", "TRANSFORMADO", "MERGE", "CARGADO"]
    assert wh.processed_files() == {"report_mixed.txt"}


def test_failing_trail_append_still_commits(spark, report_dir, tmp_path, monkeypatch):
    """The trail is informational: a logs append that fails leaves the file
    committed, with its marker and no trail."""

    def log_file_events(self, events):
        raise RuntimeError("injected logs failure")

    monkeypatch.setattr(Warehouse, "log_file_events", log_file_events)
    path = FX.make_allvalid(report_dir)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    res = process_file(spark, wh, path, process_date="2026-03-28")
    assert (res.status, res.ok_count, res.err_count) == (S.STATUS_OK, 100, 0)
    bit = [(r["nombreArchivo"], r["estatus"]) for r in wh.read("bitacora").collect()]
    assert bit == [("report_allvalid.txt", S.STATUS_OK)]
    assert wh.read("logs") is None


def test_failing_marker_marks_the_file_failed(spark, report_dir, tmp_path, monkeypatch):
    """A commit marker that fails leaves FALLO_SISTEMA in bitacora and a
    trail that ends in a FALLO row."""
    real_bitacora = Warehouse.log_bitacora

    def log_bitacora(self, rows):
        if rows[0][3] != S.STATUS_SYSTEM_FAIL:
            raise RuntimeError("injected marker failure")
        return real_bitacora(self, rows)

    monkeypatch.setattr(Warehouse, "log_bitacora", log_bitacora)
    path = FX.make_mixed(report_dir)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert process_file(spark, wh, path, process_date="2026-03-28").status == S.STATUS_SYSTEM_FAIL
    bit = [(r["nombreArchivo"], r["estatus"]) for r in wh.read("bitacora").collect()]
    assert bit == [("report_mixed.txt", S.STATUS_SYSTEM_FAIL)]
    trail = [(r["etapa"], r["mensaje"]) for r in wh.file_log("report_mixed.txt").collect()]
    assert [e for e, _ in trail] == ["RECIBIDO", "LAYOUT", "TRANSFORMADO", "MERGE", "CARGADO", "FALLO"]
    assert "injected marker failure" in trail[-1][1]
    assert wh.processed_files() == set()


def test_upstream_jobs_keep_the_callers_job_group(spark, report_dir, tmp_path, job_groups):
    """The appends' pool threads take the caller's local properties, so a
    stream query's job group (which stopping the query cancels) covers
    every job of the unit."""
    path = FX.make_mixed(report_dir)
    stats, visitors, errores = transform_file(read_report(spark, path), "report_mixed.txt")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "one-commit-unit")
    try:
        j0 = job_groups.next_job()
        counts = wh.write_upstream(stats, errores, visitors, ["report_mixed.txt"], "report_mixed.txt")
        j1 = job_groups.next_job()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == ({"report_mixed.txt": 70}, {"report_mixed.txt": 50})
    assert j1 > j0
    assert set(job_groups.of(j0, j1)) == {"one-commit-unit"}


def test_per_file_writes_leave_no_success_marker(spark, report_dir, tmp_path):
    """The per-file writes skip the _SUCCESS marker: the pointer and the
    bitacora row are the commit points, and each marker is two more files
    (the marker and its checksum) on the local filesystem."""
    FX.make_allvalid(report_dir)
    FX.make_mixed(report_dir)
    FX.make_badlayout(report_dir)
    wh_root = str(tmp_path / "wh")
    process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    tables = set(os.listdir(wh_root))
    assert {"estadisticas", "errores", "logs", "bitacora", "visitantes_v1"} <= tables
    markers = [
        os.path.join(d, f)
        for d, _, files in os.walk(wh_root)
        for f in files
        if f in ("_SUCCESS", "._SUCCESS.crc")
    ]
    assert markers == []


def test_append_rows_counts_what_the_write_added(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    key = "report_a b:1.txt"  # escaped in the partition dir name
    rows = spark.range(7).select(F.col("id"), F.lit(key).alias("nombreArchivo"))
    assert wh.append_rows(rows.repartition(3), "t", [key]) == {key: 7}
    assert wh.append_rows(rows.limit(4), "t", [key]) == {key: 4}  # overwrite: the new files only
    assert wh.append_rows(rows.limit(0), "t", [key]) == {key: 0}  # no rows: old partition stays
    assert wh.read("t").count() == 4
    # several partitions in one write, each counted on its own
    two = spark.range(5).selectExpr("id", "IF(id < 2, 'a.txt', 'b.txt') AS nombreArchivo")
    assert wh.append_rows(two, "t", ["a.txt", "b.txt", "c.txt"]) == {"a.txt": 2, "b.txt": 3, "c.txt": 0}


def test_reordered_header_maps_by_name(spark, report_dir, tmp_path):
    """Columns are matched by header name, not position."""
    rows = [FX.valid_row(i) for i in range(20)]
    rows[3][0] = "not-an-email"
    order = list(reversed(range(len(FX.HEADER))))
    FX.write_csv(os.path.join(report_dir, "report_a.txt"), FX.HEADER, rows)
    FX.write_csv(
        os.path.join(report_dir, "report_b.txt"),
        [FX.HEADER[j] for j in order],
        [[r[j] for j in order] for r in rows],
    )
    results = process_directory(spark, report_dir, str(tmp_path / "wh"), process_date="2026-03-28")
    assert [(r.status, r.ok_count, r.err_count) for r in results] == [
        (S.STATUS_OK_WITH_ERRORS, 19, 1)
    ] * 2
    stats = Warehouse(spark, str(tmp_path / "wh")).read("estadisticas")

    def rows_of(name):
        return sorted(
            tuple(r) for r in stats.filter(F.col("nombreArchivo") == name).drop("nombreArchivo").collect()
        )

    assert rows_of("report_a.txt") == rows_of("report_b.txt")


def test_duplicated_header_column_status(spark, report_dir, tmp_path):
    """A repeated declared column is a system failure (Spark renames both
    copies, so the declared name no longer resolves); a repeated extra
    column is tolerated like any extra column."""
    rows = [FX.valid_row(i) for i in range(5)]
    FX.write_csv(
        os.path.join(report_dir, "report_dupdecl.txt"),
        FX.HEADER + ["email"],
        [r + [r[0]] for r in rows],
    )
    FX.write_csv(
        os.path.join(report_dir, "report_dupextra.txt"),
        FX.HEADER + ["Extra", "extra"],
        [r + ["x", "y"] for r in rows],
    )
    results = process_directory(spark, report_dir, str(tmp_path / "wh"), process_date="2026-03-28")
    by_name = {r.filename: r for r in results}
    assert by_name["report_dupdecl.txt"].status == S.STATUS_SYSTEM_FAIL
    assert by_name["report_dupextra.txt"].status == S.STATUS_OK
    assert by_name["report_dupextra.txt"].ok_count == 5


@pytest.fixture()
def py4j_calls(spark, monkeypatch):
    """``py4j_calls()`` is the number of commands sent to the JVM so far
    from any thread, the pool threads of ``Warehouse.write_upstream``
    included. py4j's finalizer thread, which releases garbage-collected
    Java references at its own pace, is not counted."""
    import threading

    from py4j.clientserver import FinalizerWorker

    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = [0]
    lock = threading.Lock()

    def counting(*args, **kwargs):
        if not isinstance(threading.current_thread(), FinalizerWorker):
            with lock:
                sent[0] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    return lambda: sent[0]


def test_per_file_plans_build_in_few_jvm_calls(spark, report_dir, tmp_path, py4j_calls):
    """Tripwire on driver-side construction: each step is SQL text the JVM
    parses in one call, not a chain of Column calls at a dozen py4j round
    trips each. Bounds are a quarter of what the Column chains needed
    (transform_file 2,108, visitantes_merge 873), and 1,200 for a whole
    steady-state process_file (about 4,360 with the Column chains)."""
    from pipeline_etl_website_visits_spark.operators.merge import visitantes_merge

    FX.make_allvalid(report_dir)
    mixed = FX.make_mixed(report_dir)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    process_file(spark, wh, os.path.join(report_dir, "report_allvalid.txt"), process_date="2026-03-28")
    raw = read_report(spark, mixed)
    target = wh.read_visitantes()

    def calls(build):
        n0 = py4j_calls()
        out = build()
        return py4j_calls() - n0, out

    n_transform, (_, visitors, _) = calls(lambda: transform_file(raw, "report_mixed.txt"))
    n_merge, _ = calls(lambda: visitantes_merge(target, visitors, "2026-03-28"))
    n_file, res = calls(lambda: process_file(spark, wh, mixed, process_date="2026-03-28"))
    assert res.status == S.STATUS_OK_WITH_ERRORS
    assert n_transform <= 2108 // 4
    assert n_merge <= 873 // 4
    assert n_file <= 1200


def test_repeat_process_file_compiles_no_code(spark, report_dir, tmp_path):
    """Every per-file plan is the same code from one file to the next: the
    control rows carry their timestamps inside a folded literal, which
    generated code holds by reference instead of inlining it."""
    path = FX.make_mixed(report_dir)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    process_file(spark, Warehouse(spark, str(tmp_path / "wh1")), path, process_date="2026-03-28")
    before = compiled.getCount()
    res = process_file(spark, Warehouse(spark, str(tmp_path / "wh2")), path, process_date="2026-03-28")
    assert res.status == S.STATUS_OK_WITH_ERRORS
    assert compiled.getCount() - before == 0


def test_manifest_read_is_one_jvm_call(spark, tmp_path, py4j_calls):
    """The _applied manifest grows a line per committed file; reading it
    costs the same round trips at any length."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    short, long_ = str(tmp_path / "one"), str(tmp_path / "many")
    wh._write_small_text(short, "a.txt\n")
    wh._write_small_text(long_, "".join(f"report_{i}.txt\n" for i in range(1000)))

    def calls(p):
        n0 = py4j_calls()
        lines = wh._read_small_text(p)
        return py4j_calls() - n0, len(lines)

    calls(short)  # looks the JVM classes up
    n_short, n_lines_short = calls(short)
    n_long, n_lines_long = calls(long_)
    assert (n_lines_short, n_lines_long) == (1, 1000)
    assert n_long == n_short


ADVERSARIAL_FILE = "report_d'arc.txt"


def _write_adversarial_report(dirpath: str) -> str:
    """Cells with quotes, backslashes, % and _, blanks around values,
    placeholders ("-", "0", "") and non-ASCII text, in a file whose name
    carries a quote."""

    def row(**cells):
        r = FX.valid_row(1)
        for k, v in cells.items():
            r[FX.HEADER.index(k.replace("_", " "))] = v
        return r

    rows = [
        row(email="o.brien%1@example.com", jyv="O'Brien", Badmail="back\\slash", Baja="100%",
            Fecha_envio=" 05/03/2026 14:30 ", Opens=" 7 ", Fecha_click="06/03/2026 09:15",
            Clicks="0", Links="http://x.com/a?b='c'&d=\\d", IPs="  1.2.3.4  ",
            Navegadores="-", Plataformas="0"),
        row(email="  ana@example.com  ", jyv="ñandú café", Badmail="日本語", Baja="  ",
            Opens="12", Links="%_\\%", IPs="'", Navegadores="\\", Plataformas="\\'"),
        row(email="o.brien%1@example.com", Fecha_envio="01/03/2026 08:00", Baja="-"),
        row(email="o'brien@example.com"),
        row(email="a\\b@example.com", Fecha_envio="-", Fecha_open="0"),
        row(email="", Fecha_click="\\d\\d/03/2026 10:00"),
        row(email="ñ@example.com", Fecha_open=" - "),
        row(email="UPPER@Example.COM", jyv="", Badmail="0 ", Baja=" -"),
    ]
    return FX.write_csv(os.path.join(dirpath, ADVERSARIAL_FILE), FX.HEADER, rows)


# what the ETL wrote for this file when its steps were built Column by Column
_ADVERSARIAL_ESTADISTICAS = [
    ('UPPER@Example.COM', None, None, None, datetime.datetime(2026, 3, 2, 14, 1), datetime.datetime(2026, 3, 2, 15, 1), 1, 1, None, 1, 1, 'http://example.com/a', '1.2.3.4; 5.6.7.8', 'Chrome', 'Windows', "report_d'arc.txt"),
    ('ana@example.com', 'ñandú café', '日本語', None, datetime.datetime(2026, 3, 2, 14, 1), datetime.datetime(2026, 3, 2, 15, 1), 12, 1, None, 1, 1, '%_\\%', "'", '\\', "\\'", "report_d'arc.txt"),
    ('o.brien%1@example.com', "O'Brien", 'back\\slash', '100%', datetime.datetime(2026, 3, 5, 14, 30), datetime.datetime(2026, 3, 2, 15, 1), 7, 1, datetime.datetime(2026, 3, 6, 9, 15), 0, 1, "http://x.com/a?b='c'&d=\\d", '1.2.3.4', None, None, "report_d'arc.txt"),
    ('o.brien%1@example.com', 'j', None, None, datetime.datetime(2026, 3, 1, 8, 0), datetime.datetime(2026, 3, 2, 15, 1), 1, 1, None, 1, 1, 'http://example.com/a', '1.2.3.4; 5.6.7.8', 'Chrome', 'Windows', "report_d'arc.txt"),
]
_ADVERSARIAL_ERRORES = [
    ("o'brien@example.com", 'Email', "report_d'arc.txt"),
    ('a\\b@example.com', 'Email', "report_d'arc.txt"),
    ('a\\b@example.com', 'Fecha envio', "report_d'arc.txt"),
    ('a\\b@example.com', 'Fecha open', "report_d'arc.txt"),
    ('ñ@example.com', 'Email', "report_d'arc.txt"),
    ('ñ@example.com', 'Fecha open', "report_d'arc.txt"),
    (None, 'Email', "report_d'arc.txt"),
    (None, 'Fecha click', "report_d'arc.txt"),
]
_ADVERSARIAL_VISITANTES = [
    ('UPPER@Example.COM', datetime.date(2026, 3, 2), datetime.date(2026, 3, 2), 1, 1, 1),
    ('ana@example.com', datetime.date(2026, 3, 2), datetime.date(2026, 3, 2), 1, 1, 1),
    ('o.brien%1@example.com', datetime.date(2026, 3, 1), datetime.date(2026, 3, 5), 2, 2, 2),
]
_ADVERSARIAL_BITACORA = [
    ("report_d'arc.txt", 4, 8, 'Completado con errores'),
]


def test_adversarial_cells_golden(spark, report_dir, tmp_path):
    """Every value reaches the SQL text through one escaping helper, so
    quotes, backslashes and regex-looking cells come out as they went in."""
    _write_adversarial_report(report_dir)
    wh_root = str(tmp_path / "wh")
    results = process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    assert [(r.filename, r.status, r.ok_count, r.err_count) for r in results] == [
        (ADVERSARIAL_FILE, S.STATUS_OK_WITH_ERRORS, 4, 8)
    ]
    wh = Warehouse(spark, wh_root)

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    assert rows(wh.read("estadisticas")) == _ADVERSARIAL_ESTADISTICAS
    assert rows(wh.read("errores")) == _ADVERSARIAL_ERRORES
    assert rows(wh.read_visitantes()) == _ADVERSARIAL_VISITANTES
    assert sorted(tuple(r)[:4] for r in wh.read("bitacora").collect()) == _ADVERSARIAL_BITACORA
