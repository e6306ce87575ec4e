"""Crash/replay idempotence (K4 redo-safety) and the O5 backup epilogue.

Covers the round-1 ADVICE findings: (a) a crash between the visitantes merge
and the bitacora commit marker must not double-count on retry; (b) a
replayed foreachBatch micro-batch (at-least-once sink semantics) must be a
no-op; (c) the reference's backup/zip/retention post-processing
(utils/utils_postprocessing.py:8-50).
"""

import datetime
import os
import shutil
import threading
import zipfile

import pyspark.sql.functions as F
import pytest

from pipeline_etl_website_visits_spark.etl import schema as S
from pipeline_etl_website_visits_spark.etl.backup import archive_processed
from pipeline_etl_website_visits_spark.etl.load import Warehouse
from pipeline_etl_website_visits_spark.etl.pipeline import process_directory, process_file, read_report
from pipeline_etl_website_visits_spark.etl.transform import transform_file
from pipeline_etl_website_visits_spark.streaming.visits_stream import _process_micro_batch

from tests import fixtures as FX


def _totals(wh, email="user0@example.com"):
    return wh.read_visitantes().filter(F.col("email") == email).first()["visitasTotales"]


def test_crash_between_merge_and_marker_does_not_double_count(spark, tmp_path):
    rep = tmp_path / "in"
    rep.mkdir()
    path = FX.make_allvalid(str(rep))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    process_file(spark, wh, path, process_date="2026-03-28")
    assert _totals(wh) == 10

    # simulate a crash AFTER write_visitantes but BEFORE the bitacora commit
    # marker: wipe bitacora so the retry does not get skipped up front
    shutil.rmtree(wh.path("bitacora"))
    assert wh.processed_files() == set()
    process_file(spark, wh, path, process_date="2026-03-28")

    # the _applied manifest blocks the re-merge: totals unchanged, marker back
    assert _totals(wh) == 10
    assert "report_allvalid.txt" in wh.processed_files()

    # a deliberate reprocess is still allowed to re-merge
    process_file(spark, wh, path, process_date="2026-03-28", reapply_merge=True)
    assert _totals(wh) == 20


def _visitantes(wh):
    return sorted(tuple(r) for r in wh.read_visitantes().collect())


def _stages(wh, filename):
    return [r["etapa"] for r in wh.file_log(filename).collect()]


def _clean_run(spark, tmp_path, path):
    wh = Warehouse(spark, str(tmp_path / "clean"))
    assert process_file(spark, wh, path, process_date="2026-03-28").status == S.STATUS_OK_WITH_ERRORS
    return _visitantes(wh)


def test_failed_merge_is_marked_after_both_appends(spark, tmp_path, monkeypatch):
    """A merge that fails while the appends run: the FALLO_SISTEMA row is
    written only after both appends have returned, and the retry commits
    the file as a clean run would."""
    rep = tmp_path / "in"
    rep.mkdir()
    path = FX.make_mixed(str(rep))
    clean = _clean_run(spark, tmp_path, path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    events = []
    merge_failed = threading.Event()
    real_append, real_bitacora = Warehouse.append_rows, Warehouse.log_bitacora

    def append_rows(self, df, table, keys):
        merge_failed.wait(30)  # the appends start once the merge has failed
        out = real_append(self, df, table, keys)
        events.append(f"append {table}")
        return out

    def merge_visitantes(self, *args, **kwargs):
        merge_failed.set()
        raise RuntimeError("injected merge failure")

    def log_bitacora(self, rows):
        events.append(f"bitacora {rows[0][3]}")
        return real_bitacora(self, rows)

    monkeypatch.setattr(Warehouse, "append_rows", append_rows)
    monkeypatch.setattr(Warehouse, "merge_visitantes", merge_visitantes)
    monkeypatch.setattr(Warehouse, "log_bitacora", log_bitacora)
    assert process_file(spark, wh, path, process_date="2026-03-28").status == S.STATUS_SYSTEM_FAIL
    assert sorted(events[:2]) == ["append errores", "append estadisticas"]
    assert events[2:] == [f"bitacora {S.STATUS_SYSTEM_FAIL}"]
    assert _stages(wh, "report_mixed.txt") == ["RECIBIDO", "LAYOUT", "FALLO"]
    assert wh.read_visitantes().count() == 0

    monkeypatch.undo()
    res = process_file(spark, wh, path, process_date="2026-03-28")
    assert (res.status, res.ok_count, res.err_count) == (S.STATUS_OK_WITH_ERRORS, 70, 50)
    assert _visitantes(wh) == clean


def test_failed_append_after_merge_retry_skips_merge(spark, tmp_path, monkeypatch):
    """An append that fails while the merge commits: the file is marked
    FALLO_SISTEMA, and the retry skips the merge through the _applied
    manifest instead of counting the file twice."""
    rep = tmp_path / "in"
    rep.mkdir()
    path = FX.make_mixed(str(rep))
    clean = _clean_run(spark, tmp_path, path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    merged = threading.Event()
    real_append, real_merge = Warehouse.append_rows, Warehouse.merge_visitantes

    def append_rows(self, df, table, keys):
        if table == "errores":
            merged.wait(30)  # fail once the merge has committed
            raise RuntimeError("injected append failure")
        return real_append(self, df, table, keys)

    def merge_visitantes(self, *args, **kwargs):
        try:
            return real_merge(self, *args, **kwargs)
        finally:
            merged.set()

    monkeypatch.setattr(Warehouse, "append_rows", append_rows)
    monkeypatch.setattr(Warehouse, "merge_visitantes", merge_visitantes)
    assert process_file(spark, wh, path, process_date="2026-03-28").status == S.STATUS_SYSTEM_FAIL
    assert "report_mixed.txt" in wh.visitantes_applied()
    assert _visitantes(wh) == clean

    monkeypatch.undo()
    res = process_file(spark, wh, path, process_date="2026-03-28")
    assert (res.status, res.ok_count, res.err_count) == (S.STATUS_OK_WITH_ERRORS, 70, 50)
    trail = [(r["etapa"], r["mensaje"]) for r in wh.file_log("report_mixed.txt").collect()]
    assert ("MERGE", "skipped (already applied)") in trail
    assert _visitantes(wh) == clean
    assert wh.read("errores").count() == 50


def test_missing_applied_manifest_fails_loudly(spark, tmp_path):
    """A pointer-listed version without its _applied manifest is damage:
    read as empty, it would let a redo merge a merged file again."""
    rep = tmp_path / "in"
    rep.mkdir()
    path = FX.make_allvalid(str(rep))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    process_file(spark, wh, path, process_date="2026-03-28")
    before = _visitantes(wh)
    vdir = wh.path(wh._current_visitantes_version())
    for name in ("_applied", "._applied.crc"):
        os.remove(os.path.join(vdir, name))

    with pytest.raises(FileNotFoundError, match="_applied"):
        wh.visitantes_applied()
    _, visitors, _ = transform_file(read_report(spark, path), "report_allvalid.txt")
    with pytest.raises(FileNotFoundError, match="_applied"):
        wh.merge_visitantes(visitors, process_date="2026-03-28", applied_key="report_allvalid.txt")
    assert process_file(spark, wh, path, process_date="2026-03-28").status == S.STATUS_SYSTEM_FAIL
    assert _visitantes(wh) == before
    assert _totals(wh) == 10


def test_stream_microbatch_replay_is_noop(spark, tmp_path):
    rep = tmp_path / "in"
    rep.mkdir()
    FX.make_allvalid(str(rep))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    batch = (
        spark.read.format("csv")
        .option("header", True)
        .schema(S.RAW_SCHEMA)
        .load(str(rep))
        .withColumn("__path", F.col("_metadata.file_path"))
        .withColumn("nombreArchivo", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1))
    )
    inner = _process_micro_batch(wh, "2026-03-28")
    inner(batch, 7)
    est = wh.read("estadisticas").count()
    bit = wh.read("bitacora").count()
    tot = _totals(wh)
    assert tot == 10

    # replay the SAME micro-batch (at-least-once foreachBatch): all no-ops
    inner(batch, 7)
    assert wh.read("estadisticas").count() == est
    assert wh.read("bitacora").count() == bit
    assert _totals(wh) == tot


def test_backup_epilogue_zips_and_purges(tmp_path):
    ind = tmp_path / "in"
    ind.mkdir()
    bkd = str(tmp_path / "bk")
    processed = {f"report_f{i}.txt" for i in range(3)}
    for fname in sorted(processed) + ["report_pending.txt"]:
        (ind / fname).write_text("Email\n")
    os.makedirs(bkd)
    # a stale zip past the 90-day retention window
    old_name = "backup_" + datetime.date(2026, 1, 1).strftime("%d%m%y") + ".zip"
    with zipfile.ZipFile(os.path.join(bkd, old_name), "w") as zf:
        zf.writestr("x.txt", "x")

    out = archive_processed(
        str(ind), bkd, processed, today=datetime.date(2026, 8, 13), retention_days=90
    )
    assert sorted(out["archived"]) == sorted(processed)
    with zipfile.ZipFile(out["zip"]) as zf:
        assert sorted(zf.namelist()) == sorted(processed)
    # unprocessed file untouched; loose copies removed after zipping
    assert (ind / "report_pending.txt").exists()
    assert not any(f.endswith(".txt") for f in os.listdir(bkd))
    assert out["purged"] == [old_name]


def test_process_directory_backup_flag(spark, tmp_path):
    rep = tmp_path / "in"
    rep.mkdir()
    FX.make_allvalid(str(rep))
    bkd = str(tmp_path / "bk")
    process_directory(
        spark, str(rep), str(tmp_path / "wh"), process_date="2026-03-28", backup_dir=bkd
    )
    assert not (rep / "report_allvalid.txt").exists()
    zips = [f for f in os.listdir(bkd) if f.endswith(".zip")]
    assert len(zips) == 1
    with zipfile.ZipFile(os.path.join(bkd, zips[0])) as zf:
        assert zf.namelist() == ["report_allvalid.txt"]


def test_process_directory_reads_the_markers_once(spark, tmp_path, monkeypatch):
    """A backup run reads bitacora once: the files it archives are the
    markers read at its start plus the files it marked itself. A file
    committed by an earlier run, one committed now and one marked
    FALLO_LAYOUT are archived; one that failed is not."""
    import pipeline_etl_website_visits_spark.etl.pipeline as P

    rep = tmp_path / "in"
    rep.mkdir()
    wh_root = str(tmp_path / "wh")
    FX.make_allvalid(str(rep), name="report_earlier.txt", n=5)
    process_directory(spark, str(rep), wh_root, process_date="2026-03-28")
    FX.make_allvalid(str(rep), n=5)
    FX.make_badlayout(str(rep))
    FX.make_mixed(str(rep))

    reads = []
    real_processed, real_transform = Warehouse.processed_files, P.T.transform_file

    def processed_files(self):
        reads.append(1)
        return real_processed(self)

    def exploding(raw, filename):
        if filename == "report_mixed.txt":
            raise RuntimeError("boom in transform")
        return real_transform(raw, filename)

    monkeypatch.setattr(Warehouse, "processed_files", processed_files)
    monkeypatch.setattr(P.T, "transform_file", exploding)
    bkd = str(tmp_path / "bk")
    res = process_directory(spark, str(rep), wh_root, process_date="2026-03-28", backup_dir=bkd)
    assert len(reads) == 1
    assert {r.filename: r.status for r in res} == {
        "report_allvalid.txt": S.STATUS_OK,
        "report_badlayout.txt": S.STATUS_LAYOUT_FAIL,
        "report_mixed.txt": S.STATUS_SYSTEM_FAIL,
    }
    archived = ["report_allvalid.txt", "report_badlayout.txt", "report_earlier.txt"]
    assert sorted(real_processed(Warehouse(spark, wh_root))) == archived
    [zip_name] = [f for f in os.listdir(bkd) if f.endswith(".zip")]
    with zipfile.ZipFile(os.path.join(bkd, zip_name)) as zf:
        assert sorted(zf.namelist()) == archived
    assert sorted(os.listdir(rep)) == ["report_mixed.txt"]


def test_quarantine_ladder_bad_layout_file(spark, tmp_path):
    """Reference escalation ladder (README.md:110-115): a bad-layout file is
    quarantined, re-attempted automatically on runs within 2 days of first
    failure, and left in quarantine (not re-listed) after that."""
    from pipeline_etl_website_visits_spark.etl.backup import _load_ledger

    rep = tmp_path / "in"
    rep.mkdir()
    FX.make_badlayout(str(rep))
    qd = str(tmp_path / "quarantine")
    wh_root = str(tmp_path / "wh")

    # day 0: layout fails -> file physically moves to quarantine, ledger stamped
    res = process_directory(spark, str(rep), wh_root, process_date="2026-03-28", quarantine_dir=qd)
    assert [r.status for r in res] == [S.STATUS_LAYOUT_FAIL]
    assert not (rep / "report_badlayout.txt").exists()
    assert os.path.isfile(os.path.join(qd, "report_badlayout.txt"))
    assert _load_ledger(qd) == {"report_badlayout.txt": "2026-03-28"}

    # day 1: automatic retry — requeued and re-attempted (bypassing the
    # FALLO_LAYOUT completion marker), fails again, back to quarantine with
    # the ORIGINAL first-failure date
    res = process_directory(spark, str(rep), wh_root, process_date="2026-03-29", quarantine_dir=qd)
    assert [r.status for r in res] == [S.STATUS_LAYOUT_FAIL]
    assert os.path.isfile(os.path.join(qd, "report_badlayout.txt"))
    assert _load_ledger(qd) == {"report_badlayout.txt": "2026-03-28"}

    # day 3 (> 2 days after first failure): abandoned — not re-listed, no run
    res = process_directory(spark, str(rep), wh_root, process_date="2026-03-31", quarantine_dir=qd)
    assert res == []
    assert os.path.isfile(os.path.join(qd, "report_badlayout.txt"))


def test_quarantine_retry_succeeds_after_fix(spark, tmp_path):
    """A quarantined file whose layout is fixed in place (re-delivered) loads
    normally on its retry day and is NOT re-quarantined."""
    rep = tmp_path / "in"
    rep.mkdir()
    FX.make_badlayout(str(rep), name="report_fixme.txt")
    qd = str(tmp_path / "quarantine")
    wh_root = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_root)

    process_directory(spark, str(rep), wh_root, process_date="2026-03-28", quarantine_dir=qd)
    assert os.path.isfile(os.path.join(qd, "report_fixme.txt"))

    # operator fixes the file inside quarantine (re-delivery in place)
    os.unlink(os.path.join(qd, "report_fixme.txt"))
    FX.make_allvalid(str(qd), name="report_fixme.txt")

    res = process_directory(spark, str(rep), wh_root, process_date="2026-03-29", quarantine_dir=qd)
    assert [r.status for r in res] == [S.STATUS_OK]
    assert (rep / "report_fixme.txt").exists()  # back in the input dir, committed
    assert not os.path.isfile(os.path.join(qd, "report_fixme.txt"))
    assert _totals(wh) == 10


def _parquet_files(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


def _rows_key(df):
    return sorted(tuple(r) for r in df.collect())


def test_compact_coalesces_small_partitions(spark, tmp_path):
    """N per-file appends -> compact -> identical rows, fewer files; later
    appends stay visible and a re-compact absorbs them (idempotent)."""
    rep = tmp_path / "in"
    rep.mkdir()
    # n=3 -> each file spans the same 3 fechaEnvio dates, so 4 live files
    # compact into 3 date buckets (at real scale: thousands/day into a few)
    for i in range(4):
        FX.make_allvalid(str(rep), name=f"report_f{i}.txt", n=3)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    process_directory(spark, str(rep), str(tmp_path / "wh"), process_date="2026-03-28")

    before = _rows_key(wh.read("estadisticas"))
    files_before = _parquet_files(wh.path("estadisticas"))
    assert len(files_before) >= 4  # one partition (>=1 file) per report

    out = wh.compact("estadisticas", target_mb=128)
    assert sorted(out["absorbed"]) == [f"report_f{i}.txt" for i in range(4)]
    after = _rows_key(wh.read("estadisticas"))
    assert after == before  # same rows, byte-for-byte values
    live_files = _parquet_files(wh.path("estadisticas"))
    comp_files = _parquet_files(wh.path(out["version"]))
    assert live_files == []  # absorbed live partitions GC'd
    assert len(comp_files) < len(files_before)

    # idempotent: nothing to absorb -> no-op, same version
    again = wh.compact("estadisticas", target_mb=128)
    assert again["version"] == out["version"] and again["absorbed"] == []

    # a new append lands live and is visible alongside the compacted region
    FX.make_allvalid(str(rep), name="report_f9.txt", n=3)
    process_directory(spark, str(rep), str(tmp_path / "wh"), process_date="2026-03-28")
    assert wh.read("estadisticas").count() == 15
    # re-compact absorbs it
    out2 = wh.compact("estadisticas", target_mb=128)
    assert out2["absorbed"] == ["report_f9.txt"]
    assert wh.read("estadisticas").count() == 15

    # errores table (no fechaEnvio column) compacts through the plain path
    errs_before = _rows_key(wh.read("errores")) if wh.read("errores") is not None else []
    wh.compact("errores")
    errs_after = _rows_key(wh.read("errores")) if wh.read("errores") is not None else []
    assert errs_after == errs_before


@pytest.mark.parametrize("table", ["bitacora", "logs"])
def test_compact_refuses_tables_without_per_file_partitions(spark, tmp_path, table):
    """bitacora (flat files) and logs (fecha dirs) have no nombreArchivo
    partitions to absorb: compacting one raises before it writes anything,
    and reads are unchanged."""
    rep = tmp_path / "in"
    rep.mkdir()
    FX.make_allvalid(str(rep), n=5)
    FX.make_badlayout(str(rep))
    wh_root = str(tmp_path / "wh")
    process_directory(spark, str(rep), wh_root, process_date="2026-03-28")
    wh = Warehouse(spark, wh_root)
    before = _rows_key(wh.read(table))
    roots_before = sorted(os.listdir(wh_root))
    with pytest.raises(ValueError, match="nombreArchivo"):
        wh.compact(table)
    assert _rows_key(wh.read(table)) == before
    assert sorted(os.listdir(wh_root)) == roots_before
    assert wh._current_compact_version(table) is None


def test_compact_live_wins_over_stale_compacted_rows(spark, tmp_path):
    """A deliberate reprocess after compaction shadows the stale compacted
    copy of that file until the next compact absorbs the fresh rows."""
    rep = tmp_path / "in"
    rep.mkdir()
    FX.make_allvalid(str(rep), name="report_a.txt", n=5)
    FX.make_allvalid(str(rep), name="report_b.txt", n=5)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    process_directory(spark, str(rep), str(tmp_path / "wh"), process_date="2026-03-28")
    wh.compact("estadisticas")
    assert wh.read("estadisticas").count() == 10

    # reprocess report_a: dynamic partition overwrite recreates its live
    # partition; read must not double-count (live shadows compacted)
    process_directory(
        spark, str(rep), str(tmp_path / "wh"), process_date="2026-03-28", reprocess=True
    )
    assert wh.read("estadisticas").count() == 10
    wh.compact("estadisticas")
    assert wh.read("estadisticas").count() == 10


def test_compact_cluster_by_produces_tight_file_envelopes(spark, tmp_path):
    """compact(cluster_by=[k]) = OPTIMIZE ... CLUSTER BY: same rows, and
    each output file's parquet footer min/max on k covers a narrow,
    non-overlapping range — the file-skipping contract."""
    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path / "wh_cl"))
    # 6 tiny appends, k interleaved across appends so pre-compact files all
    # span the whole k range (worst case for skipping)
    for i in range(6):
        df = spark.createDataFrame(
            [(k, f"v{k}", f"part{i}.txt") for k in range(i, 600, 6)],
            "k long, v string, nombreArchivo string",
        )
        wh.append_partitioned(df, "clustered")
    before = sorted((r["k"], r["v"]) for r in wh.read("clustered").select("k", "v").collect())

    out = wh.compact("clustered", target_mb=1, cluster_by=["k"])
    after = sorted((r["k"], r["v"]) for r in wh.read("clustered").select("k", "v").collect())
    assert after == before

    import glob

    files = sorted(glob.glob(str(tmp_path / "wh_cl" / out["version"] / "*.parquet")))
    assert files
    envelopes = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        ks = [
            (md.row_group(g).column(c).statistics.min, md.row_group(g).column(c).statistics.max)
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
            if md.row_group(g).column(c).path_in_schema == "k"
        ]
        envelopes.append((min(lo for lo, _ in ks), max(hi for _, hi in ks)))
    envelopes.sort()
    # non-overlapping contiguous ranges across files (range partitioning)
    for (lo1, hi1), (lo2, hi2) in zip(envelopes, envelopes[1:]):
        assert hi1 <= lo2, envelopes
    # each envelope is narrow: far below the full 0..599 span
    if len(envelopes) > 1:
        assert all(hi - lo < 600 / len(envelopes) * 2 for lo, hi in envelopes), envelopes


def test_cli_compact_mode(spark, tmp_path):
    """python -m ...etl --compact TABLE drives the maintenance path."""
    import json as _json

    from pipeline_etl_website_visits_spark.etl.__main__ import main

    wh = Warehouse(spark, str(tmp_path / "wh_cli"))
    for i in range(3):
        df = spark.createDataFrame(
            [(k, f"part{i}.txt") for k in range(10)], "k long, nombreArchivo string"
        )
        wh.append_partitioned(df, "estadisticas")
    args = ["--input", "unused", "--warehouse", str(tmp_path / "wh_cli")]
    rc = main(args + ["--compact", "estadisticas", "--cluster-by", "k", "--target-mb", "1"])
    assert rc == 0
    assert wh.read("estadisticas").count() == 30
    assert wh._current_compact_version("estadisticas") is not None
    # only the per-file partitioned tables can be compacted
    with pytest.raises(SystemExit):
        main(args + ["--compact", "bitacora"])


def test_forget_erases_email_everywhere(spark, tmp_path):
    """GDPR erasure: after forget(email), the email is gone from
    visitantes/estadisticas/errores; every other row survives byte-equal;
    visitantes rewrote ONE bucket; re-running is a no-op."""
    from pipeline_etl_website_visits_spark.etl.pipeline import process_directory

    rep = tmp_path / "in"
    rep.mkdir()
    FX.make_allvalid(str(rep), name="report_a.txt", n=5)
    FX.make_mixed(str(rep), name="report_b.txt")
    wh = Warehouse(spark, str(tmp_path / "wh_forget"), n_buckets=8)
    process_directory(spark, str(rep), str(tmp_path / "wh_forget"), process_date="2026-03-28")

    target = "user0@example.com"
    est_before = wh.read("estadisticas")
    others_est = sorted(
        map(tuple, est_before.filter(F.col("email") != target).collect())
    )
    vis_before = wh.read_visitantes()
    assert vis_before.filter(F.col("email") == target).count() == 1
    n_vis_others = vis_before.filter(F.col("email") != target).count()

    out = wh.forget(target)
    assert out["visitantes"].startswith("bucket=")

    assert wh.read_visitantes().filter(F.col("email") == target).count() == 0
    assert wh.read_visitantes().count() == n_vis_others
    est_after = wh.read("estadisticas")
    assert est_after.filter(F.col("email") == target).count() == 0
    assert sorted(map(tuple, est_after.collect())) == others_est
    err = wh.read("errores")
    if err is not None:
        assert err.filter(F.col("email") == target).count() == 0

    out2 = wh.forget(target)  # idempotent re-run
    assert wh.read_visitantes().count() == n_vis_others
    assert wh.read("estadisticas").filter(F.col("email") == target).count() == 0


def test_forget_keeps_null_email_rows(spark, tmp_path):
    """Erasure must be NULL-safe: errores retains rows that FAILED email
    validation (Spark CSV reads empty fields as NULL), so a NULL-email
    row must survive forget() — `email == 'x'` evaluates to NULL there,
    and an un-coalesced `~NULL` filter would silently delete it."""
    wh = Warehouse(spark, str(tmp_path / "wh_nullsafe"))
    err = spark.createDataFrame(
        [
            ("a@example.com", "bad date", "f.txt"),
            (None, "bad email", "f.txt"),
            ("b@example.com", "bad flag", "f.txt"),
        ],
        "email string, error string, nombreArchivo string",
    )
    est = spark.createDataFrame(
        [("a@example.com", 3, "f.txt"), (None, 1, "f.txt"), ("b@example.com", 2, "f.txt")],
        "email string, visitas int, nombreArchivo string",
    )
    wh.append_partitioned(err, "errores")
    wh.append_partitioned(est, "estadisticas")

    wh.forget("a@example.com")

    err_after = wh.read("errores")
    assert err_after.filter(F.col("email").isNull()).count() == 1
    assert err_after.filter(F.col("email") == "a@example.com").count() == 0
    assert err_after.count() == 2
    est_after = wh.read("estadisticas")
    assert est_after.filter(F.col("email").isNull()).count() == 1
    assert est_after.count() == 2


def test_cli_forget_mode(spark, tmp_path):
    """python -m ...etl --forget EMAIL drives the erasure path."""
    from pipeline_etl_website_visits_spark.etl.__main__ import main
    from pipeline_etl_website_visits_spark.etl.pipeline import process_directory

    rep = tmp_path / "in"
    rep.mkdir()
    FX.make_allvalid(str(rep), name="report_a.txt", n=5)
    wh_root = str(tmp_path / "wh_cli_forget")
    process_directory(spark, str(rep), wh_root, process_date="2026-03-28")
    wh = Warehouse(spark, wh_root)
    assert wh.read_visitantes().filter(F.col("email") == "user0@example.com").count() == 1

    rc = main(["--warehouse", wh_root, "--forget", "user0@example.com"])
    assert rc == 0
    assert wh.read_visitantes().filter(F.col("email") == "user0@example.com").count() == 0
    assert wh.read("estadisticas").filter(F.col("email") == "user0@example.com").count() == 0


def test_clustered_compaction_skips_row_groups_on_read(spark, tmp_path):
    """The read-side payoff of compact(cluster_by=): with tight per-file
    envelopes, a selective filter on the cluster key makes the parquet
    reader skip whole row groups — the SCAN emits only the matching
    files' rows, while the same data compacted without clustering scans
    everything. Asserted on the executed plan's scan metric, not on
    wall-clock."""
    import pyspark.sql.functions as F

    # ~2 KB high-entropy payload per row so compact's byte-based sizing
    # yields multiple output files even at test scale
    base = spark.range(3000).select(
        "id",
        (F.col("id") % 600).alias("k"),
        F.concat_ws(
            "", *[F.md5(F.concat(F.col("id").cast("string"), F.lit(f"s{i}"))) for i in range(32)]
        ).alias("v"),
    )

    def scan_output_rows(df):
        # scan+filter+collect has no exchange, so the executed plan is
        # non-adaptive and its leaves are the parquet scans
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numOutputRows"):
                total += m.apply("numOutputRows").value()
        return total

    results = {}
    for mode, cluster in (("plain", None), ("clustered", ["k"])):
        wh = Warehouse(spark, str(tmp_path / f"wh_{mode}"))
        for i in range(6):
            wh.append_partitioned(
                base.filter(F.col("id") % 6 == i)
                .drop("id")
                .withColumn("nombreArchivo", F.lit(f"part{i}.txt")),
                "t",
            )
        out = wh.compact("t", target_mb=1, cluster_by=cluster)
        assert out["files"] >= 2, f"{mode}: need >1 file for a skipping test"
        q = wh.read("t").filter((F.col("k") >= 100) & (F.col("k") <= 110))
        assert q.count() == 55  # 11 keys x 5 copies
        results[mode] = scan_output_rows(
            wh.read("t").filter((F.col("k") >= 100) & (F.col("k") <= 110))
        )

    # plain layout: every file spans the whole key range -> no skipping;
    # clustered: only the file(s) owning k in [100, 110] are decoded
    assert results["clustered"] * 3 <= results["plain"], results


def test_append_schema_evolution_additive_column(spark, tmp_path):
    """A later file may carry a column earlier files lack (the V1
    warn-only extra-column ruling): read() surfaces the union schema with
    NULLs for old rows, through live reads, compaction, and the mixed
    live+compacted window."""
    import pyspark.sql.functions as F

    wh = Warehouse(spark, str(tmp_path / "wh_evo"))
    wh.append_partitioned(
        spark.createDataFrame([(1, "a", "f1.txt")], "k long, v string, nombreArchivo string"),
        "t",
    )
    wh.append_partitioned(
        spark.createDataFrame(
            [(2, "b", "x", "f2.txt")], "k long, v string, extra string, nombreArchivo string"
        ),
        "t",
    )
    live = wh.read("t")
    assert "extra" in live.columns
    got = {r["k"]: r["extra"] for r in live.collect()}
    assert got == {1: None, 2: "x"}

    # compaction absorbs the union schema
    wh.compact("t")
    assert {r["k"]: r["extra"] for r in wh.read("t").collect()} == {1: None, 2: "x"}

    # mixed window: new live file with yet another column over the
    # compacted region
    wh.append_partitioned(
        spark.createDataFrame(
            [(3, "c", 7, "f3.txt")], "k long, v string, extra2 int, nombreArchivo string"
        ),
        "t",
    )
    mixed = wh.read("t")
    rows = {r["k"]: (r["extra"], r["extra2"]) for r in mixed.collect()}
    assert rows == {1: (None, None), 2: ("x", None), 3: (None, 7)}


def test_visitantes_change_feed_between_versions(spark, tmp_path):
    """Change data feed over the versioned snapshots: merging a second
    batch classifies overlapping emails as updates and new ones as
    inserts; forget() surfaces as a delete in the next feed. Unchanged
    rows stay out of the feed unless include_same is set."""
    from pipeline_etl_website_visits_spark.etl.pipeline import process_directory

    rep1 = tmp_path / "in1"
    rep1.mkdir()
    FX.make_allvalid(str(rep1), name="report_a.txt", n=5)
    root = str(tmp_path / "wh_cdf")
    wh = Warehouse(spark, root, n_buckets=8)
    process_directory(spark, str(rep1), root, process_date="2026-03-28")

    # batch 2: same 5 emails again (updates) — a fresh version
    rep2 = tmp_path / "in2"
    rep2.mkdir()
    FX.make_allvalid(str(rep2), name="report_b.txt", n=5)
    process_directory(spark, str(rep2), root, process_date="2026-03-29")

    feed = wh.visitantes_changes().collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["change_type"], []).append(r)
    assert set(by_type) == {"update"}
    assert len(by_type["update"]) == 5
    r0 = {r["email"]: r for r in by_type["update"]}["user0@example.com"]
    assert r0["visitasTotales_after"] == r0["visitasTotales_before"] * 2

    # include_same=False filtered nothing else out here (all 5 changed);
    # the full feed with include_same carries the same rows plus none
    assert len(wh.visitantes_changes(include_same=True).collect()) == 5

    # erasure shows up as a delete in the next feed
    wh.forget("user0@example.com")
    feed2 = {r["email"]: r for r in wh.visitantes_changes().collect()}
    assert feed2["user0@example.com"]["change_type"] == "delete"
    assert feed2["user0@example.com"]["visitasTotales_after"] is None


def test_concurrent_compactions_serialize_and_keep_every_row(spark, tmp_path):
    """Two drivers compacting the same table at once (VERDICT r6 item 8):
    without the per-table lease both compute version n+1 and interleave
    the pointer flip + GC — the loser's rewrite (possibly an erasure)
    silently vanishes. With it they serialize: distinct versions, the
    later one wins the pointer, zero row loss, and the erasure compaction
    actually erases."""
    import threading

    rep = tmp_path / "in"
    rep.mkdir()
    for i in range(4):
        FX.make_allvalid(str(rep), name=f"report_c{i}.txt", n=3)
    wh = Warehouse(spark, str(tmp_path / "whcc"))
    process_directory(spark, str(rep), str(tmp_path / "whcc"), process_date="2026-03-28")
    before = _rows_key(wh.read("estadisticas"))

    results = []
    threads = [
        threading.Thread(
            target=lambda: results.append(wh.compact("estadisticas", target_mb=128))
        )
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert len(results) == 2
    # serialized: the two runs produced an ordered version chain (the
    # second saw the first's pointer — either a fresh version or the
    # idempotent no-op), and every row survived
    assert _rows_key(wh.read("estadisticas")) == before
    versions = {r["version"] for r in results}
    assert wh._current_compact_version("estadisticas") in versions

    # erasure racing a plain compaction must still erase
    some_email = wh.read("estadisticas").select("email").first()["email"]
    t1 = threading.Thread(target=lambda: wh.compact("estadisticas", target_mb=128))
    t1.start()
    wh.compact("estadisticas", drop_where=F.col("email") == some_email)
    t1.join(timeout=180)
    emails = {r["email"] for r in wh.read("estadisticas").collect()}
    assert some_email not in emails
