"""Golden tests for the visitantes merge (FIXTURES.md §F-C seed rows).

Every MERGE branch of reference utils/utils_load.py:50-81 (with the
SURVEY D21/D22 rulings): matched same-month, matched new-month, matched
new-year, matched older-incoming-last-visit, and not-matched insert.
"""

import datetime

import pytest

from pipeline_etl_website_visits_spark.etl.load import VISITANTES_SCHEMA
from pipeline_etl_website_visits_spark.operators.merge import merge_upsert, visitantes_merge
import pyspark.sql.functions as F

D = datetime.date
PROCESS_DATE = "2026-08-28"  # fixes "current" year/month = 2026-08


@pytest.fixture()
def target(spark):
    rows = [
        ("match-same-month@example.com", D(2026, 7, 1), D(2026, 8, 2), 10, 6, 2),
        ("match-prev-month@example.com", D(2025, 1, 1), D(2026, 7, 30), 20, 8, 8),
        ("match-prev-year@example.com", D(2024, 5, 5), D(2025, 12, 31), 30, 30, 5),
        ("match-older-last@example.com", D(2026, 1, 1), D(2026, 8, 20), 5, 5, 5),
    ]
    return spark.createDataFrame(rows, VISITANTES_SCHEMA)


@pytest.fixture()
def source(spark):
    # one batch: every target email gets 3 visits on 2026-08-15, plus a new
    # visitor; match-older-last's batch dates are *earlier* than its target
    # fechaUltimaVisita.
    rows = [
        ("match-same-month@example.com", D(2026, 8, 10), D(2026, 8, 15), 3, 3, 3),
        ("match-prev-month@example.com", D(2026, 8, 10), D(2026, 8, 15), 3, 3, 3),
        ("match-prev-year@example.com", D(2026, 8, 10), D(2026, 8, 15), 3, 3, 3),
        ("match-older-last@example.com", D(2026, 8, 10), D(2026, 8, 15), 3, 3, 3),
        ("new-visitor@example.com", D(2026, 8, 12), D(2026, 8, 14), 2, 2, 2),
    ]
    return spark.createDataFrame(rows, VISITANTES_SCHEMA)


def test_merge_branches(spark, target, source):
    out = {r["email"]: r for r in visitantes_merge(target, source, PROCESS_DATE).collect()}
    assert len(out) == 5

    r = out["match-same-month@example.com"]  # same year+month: all add
    assert (r["visitasTotales"], r["visitasAnioActual"], r["visitasMesActual"]) == (13, 9, 5)
    assert r["fechaPrimeraVisita"] == D(2026, 7, 1)  # D22 keep-first
    assert r["fechaUltimaVisita"] == D(2026, 8, 15)

    r = out["match-prev-month@example.com"]  # same year, new month: mes resets
    assert (r["visitasTotales"], r["visitasAnioActual"], r["visitasMesActual"]) == (23, 11, 3)

    r = out["match-prev-year@example.com"]  # new year: anio+mes reset
    assert (r["visitasTotales"], r["visitasAnioActual"], r["visitasMesActual"]) == (33, 3, 3)

    r = out["match-older-last@example.com"]  # greatest(): keep target last-visit
    assert r["fechaUltimaVisita"] == D(2026, 8, 20)
    # target last visit is in current year+month => counters add
    assert (r["visitasTotales"], r["visitasAnioActual"], r["visitasMesActual"]) == (8, 8, 8)

    r = out["new-visitor@example.com"]  # not matched: insert
    assert (r["visitasTotales"], r["visitasAnioActual"], r["visitasMesActual"]) == (2, 2, 2)
    assert r["fechaPrimeraVisita"] == D(2026, 8, 12)


def test_merge_empty_target(spark, source):
    empty = spark.createDataFrame([], VISITANTES_SCHEMA)
    out = visitantes_merge(empty, source, PROCESS_DATE)
    assert out.count() == 5
    r = out.filter(F.col("email") == "new-visitor@example.com").first()
    assert r["visitasTotales"] == 2


def test_merge_idempotent_shape(spark, target, source):
    """Merging twice adds counters twice (reference semantics); row count stays keyed."""
    once = visitantes_merge(target, source, PROCESS_DATE)
    twice = visitantes_merge(once, source, PROCESS_DATE)
    assert twice.count() == 5
    r = twice.filter(F.col("email") == "match-same-month@example.com").first()
    assert r["visitasTotales"] == 16


def test_generic_merge_upsert(spark):
    from pipeline_etl_website_visits_spark.operators.merge import add_counters, greatest_of, keep_target

    t = spark.createDataFrame([("a", 1, D(2020, 1, 1)), ("b", 2, D(2021, 1, 1))], "k string, n int, d date")
    s = spark.createDataFrame([("b", 5, D(2022, 2, 2)), ("c", 7, D(2023, 3, 3))], "k string, n int, d date")
    out = {
        r["k"]: r
        for r in merge_upsert(t, s, "k", {"n": add_counters, "d": greatest_of}).collect()
    }
    assert out["a"]["n"] == 1 and out["b"]["n"] == 7 and out["c"]["n"] == 7
    assert out["b"]["d"] == D(2022, 2, 2)


# ---------------------------------------------------------------------------
# Incremental bucketed snapshot (VERDICT r3 item 1): a merge must rewrite
# ONLY the hash buckets containing batch emails; untouched buckets are
# carried by manifest reference to earlier version dirs.
# ---------------------------------------------------------------------------
import os

from pipeline_etl_website_visits_spark.etl.load import Warehouse


def _bucket_dirs(root, version):
    vdir = os.path.join(root, version)
    return sorted(d for d in os.listdir(vdir) if d.startswith("bucket="))


def test_incremental_merge_rewrites_only_touched_buckets(spark, tmp_path, target, source):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, n_buckets=16)
    wh.write_visitantes(target, applied_key="seed")
    v0 = wh._current_visitantes_version()
    seeded_buckets = _bucket_dirs(root, v0)
    assert len(seeded_buckets) >= 2  # 4 distinct emails spread over 16 buckets

    one = source.filter(F.col("email") == "match-same-month@example.com")
    wh.merge_visitantes(one, process_date=PROCESS_DATE, applied_key="one")
    v1 = wh._current_visitantes_version()
    assert v1 != v0

    # file-level check: the new version materializes EXACTLY one bucket dir
    assert len(_bucket_dirs(root, v1)) == 1

    # manifest: the touched bucket points at v1, every other bucket still
    # points at v0 (carried by reference, zero bytes rewritten)
    n_buckets, refs = wh._visitantes_manifest(v1)
    assert n_buckets == 16
    assert sorted(v for v in refs.values() if v == v1) == [v1]
    assert {v for b, v in refs.items() if v != v1} == {v0}

    # logical contents identical to a full merge
    merged = {r["email"]: r for r in wh.read_visitantes().collect()}
    assert merged["match-same-month@example.com"]["visitasTotales"] == 13
    assert merged["match-prev-month@example.com"]["visitasTotales"] == 20  # untouched
    assert len(merged) == 4

    # second single-email merge: new visitor creates a bucket that never
    # existed; all prior refs carry over
    new = source.filter(F.col("email") == "new-visitor@example.com")
    wh.merge_visitantes(new, process_date=PROCESS_DATE, applied_key="two")
    v2 = wh._current_visitantes_version()
    assert len(_bucket_dirs(root, v2)) == 1
    assert wh.read_visitantes().count() == 5
    assert wh.visitantes_applied() == {"seed", "one", "two"}


def test_incremental_merge_pruned_read(spark, tmp_path, target, source):
    """The merge's target-side scan must read only the touched buckets."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, n_buckets=16)
    wh.write_visitantes(target)
    one = source.filter(F.col("email") == "match-prev-year@example.com")
    b = int(
        one.select(wh._bucket_col(16).alias("b")).first()["b"]
    )
    pruned = wh.read_visitantes(buckets={b})
    emails = {r["email"] for r in pruned.collect()}
    assert "match-prev-year@example.com" in emails
    assert len(emails) < 4  # strictly fewer rows than the full snapshot


def test_merge_writes_one_file_per_bucket(spark, tmp_path, target, source):
    """Every bucket dir a publish writes holds exactly one parquet file,
    however many partitions the merged frame arrives in."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, n_buckets=4)
    many = spark.range(200).select(
        F.concat(F.lit("u"), F.col("id").cast("string"), F.lit("@example.com")).alias("email"),
        F.lit(D(2026, 8, 1)).alias("fechaPrimeraVisita"),
        F.lit(D(2026, 8, 2)).alias("fechaUltimaVisita"),
        F.lit(1).cast("long").alias("visitasTotales"),
        F.lit(1).cast("long").alias("visitasAnioActual"),
        F.lit(1).cast("long").alias("visitasMesActual"),
    ).repartition(8)
    wh.write_visitantes(target.unionByName(many), applied_key="seed")
    wh.merge_visitantes(source.unionByName(many), process_date=PROCESS_DATE, applied_key="b1")
    for version in wh.visitantes_versions():
        buckets = _bucket_dirs(root, version)
        assert len(buckets) == 4
        for b in buckets:
            files = [f for f in os.listdir(os.path.join(root, version, b)) if f.endswith(".parquet")]
            assert len(files) == 1, (version, b, files)
    assert wh.read_visitantes().count() == 205


def test_legacy_flat_snapshot_upgrades_to_bucketed(spark, tmp_path, target, source):
    """A snapshot written by the pre-bucketed layout (flat dir, no _buckets
    manifest) must keep working: first merge does a one-time full rebucket."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, n_buckets=16)
    # simulate the legacy layout by hand: flat parquet dir + pointer
    target.write.parquet(os.path.join(root, "visitantes_v0"))
    wh._write_small_text(os.path.join(root, "visitantes_CURRENT"), "visitantes_v0")
    assert wh._visitantes_manifest("visitantes_v0") is None

    wh.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="up")
    v1 = wh._current_visitantes_version()
    assert wh._visitantes_manifest(v1) is not None  # now bucketed
    out = {r["email"]: r for r in wh.read_visitantes().collect()}
    assert len(out) == 5
    assert out["match-same-month@example.com"]["visitasTotales"] == 13


def test_gc_keeps_referenced_versions(spark, tmp_path, target, source):
    """Version dirs still referenced by the current manifest must survive GC;
    fully superseded ones must be deleted."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, n_buckets=4)
    wh.write_visitantes(target)
    v0 = wh._current_visitantes_version()
    for i, email in enumerate(
        ["match-same-month@example.com", "new-visitor@example.com", "match-prev-year@example.com"]
    ):
        wh.merge_visitantes(
            source.filter(F.col("email") == email), process_date=PROCESS_DATE, applied_key=f"k{i}"
        )
    cur = wh._current_visitantes_version()
    _, refs = wh._visitantes_manifest(cur)
    on_disk = {d for d in os.listdir(root) if d.startswith("visitantes_v")}
    # every referenced version dir exists
    assert set(refs.values()) <= on_disk
    # full snapshot still correct after three incremental merges + GC
    out = {r["email"]: r["visitasTotales"] for r in wh.read_visitantes().collect()}
    assert out["match-same-month@example.com"] == 13
    assert out["new-visitor@example.com"] == 2
    assert out["match-prev-year@example.com"] == 33
    assert out["match-prev-month@example.com"] == 20
    assert out["match-older-last@example.com"] == 5


def test_bucketed_warehouse_merge_semantics(spark, tmp_path, target, source):
    """Warehouse(bucketed=True): same merge semantics through the
    catalog-bucketed snapshot path, with versioning/applied bookkeeping."""
    wh = Warehouse(spark, str(tmp_path / "whb"), n_buckets=8, bucketed=True)
    wh.write_visitantes(target, applied_key="seed")
    assert wh._current_visitantes_version().startswith("tbl:")
    wh.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="b1")
    out = {r["email"]: r for r in wh.read_visitantes().collect()}
    assert len(out) == 5
    assert out["match-same-month@example.com"]["visitasTotales"] == 13
    assert out["new-visitor@example.com"]["visitasTotales"] == 2
    assert wh.visitantes_applied() == {"seed", "b1"}


def test_bucketed_merge_join_has_no_target_side_exchange(spark, tmp_path, target, source):
    """The SURVEY §4.3 shuffle-free story as product code: the bucketed
    snapshot side of the merge join must plan with NO exchange (only the
    small batch side shuffles to match the bucket spec)."""
    from pipeline_etl_website_visits_spark.operators.merge import visitantes_merge

    wh = Warehouse(spark, str(tmp_path / "whb"), n_buckets=8, bucketed=True)
    wh.write_visitantes(target)
    merged = visitantes_merge(wh.read_visitantes(), source, PROCESS_DATE, null_safe=False)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) == 1, plan  # batch side only; bucketed target side clean
    assert "Bucketed: true" in plan, plan


def test_bucketed_merge_is_exchange_free_AND_touched_bucket(spark, tmp_path, target, source):
    """VERDICT r4 item 3: the two round-4 merge wins in the SAME mode —
    the bucketed merge join plans with no target-side exchange (pruned
    catalog scan stays Bucketed) AND a 1-email batch rewrites exactly one
    bucket's files, untouched buckets carried by partition-location
    reference."""
    from pipeline_etl_website_visits_spark.operators.merge import visitantes_merge

    root = str(tmp_path / "whbi")
    wh = Warehouse(spark, root, n_buckets=8, bucketed=True)
    wh.write_visitantes(target, applied_key="seed")
    v0 = wh._current_visitantes_version()
    assert v0.startswith("tbl:")
    n_buckets, refs0 = wh._visitantes_manifest(v0)
    assert n_buckets == 8

    one = source.filter(F.col("email") == "match-same-month@example.com")
    # plan check on the exact join the incremental path runs: pruned
    # bucketed target, batch source
    b = int(one.select(wh._bucket_col(8).alias("b")).first()["b"])
    merged = visitantes_merge(
        wh.read_visitantes(buckets={b}), one, PROCESS_DATE, null_safe=False
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) == 1, plan  # batch side only
    assert "Bucketed: true" in plan, plan

    wh.merge_visitantes(one, process_date=PROCESS_DATE, applied_key="one")
    v1 = wh._current_visitantes_version()
    assert v1 != v0 and v1.startswith("tbl:")
    # file-level: the new version dir materializes EXACTLY one bucket dir
    assert _bucket_dirs(root, wh._version_dir(v1)) == [f"bucket={b}"]
    # manifest: touched bucket points at v1's dir, others carried at v0's
    _, refs1 = wh._visitantes_manifest(v1)
    assert refs1[b] == wh._version_dir(v1)
    assert {v for bb, v in refs1.items() if bb != b} == {wh._version_dir(v0)}
    # logical contents identical to a full merge
    out = {r["email"]: r for r in wh.read_visitantes().collect()}
    assert out["match-same-month@example.com"]["visitasTotales"] == 13
    assert out["match-prev-month@example.com"]["visitasTotales"] == 20  # untouched
    assert len(out) == 4
    assert wh.visitantes_applied() == {"seed", "one"}


def test_bucketed_gc_keeps_partition_referenced_dirs(spark, tmp_path, target, source):
    """Version dirs still referenced by the current bucketed manifest (via
    ALTER TABLE partition locations) must survive GC across several
    incremental merges; the snapshot stays correct throughout."""
    import os

    root = str(tmp_path / "whbgc")
    wh = Warehouse(spark, root, n_buckets=4, bucketed=True)
    wh.write_visitantes(target, applied_key="seed")
    for i, email in enumerate(
        ["match-same-month@example.com", "new-visitor@example.com", "match-prev-year@example.com"]
    ):
        wh.merge_visitantes(
            source.filter(F.col("email") == email),
            process_date=PROCESS_DATE,
            applied_key=f"k{i}",
        )
    cur = wh._current_visitantes_version()
    _, refs = wh._visitantes_manifest(cur)
    on_disk = {d for d in os.listdir(root) if d.startswith("visitantes_v")}
    assert set(refs.values()) <= on_disk
    out = {r["email"]: r["visitasTotales"] for r in wh.read_visitantes().collect()}
    assert out["match-same-month@example.com"] == 13
    assert out["new-visitor@example.com"] == 2
    assert out["match-prev-year@example.com"] == 33
    assert out["match-prev-month@example.com"] == 20
    assert out["match-older-last@example.com"] == 5


def test_bucketed_publish_crash_window_retry(
    spark, tmp_path, target, source, any_commit_backend
):
    """Crash between the new bucketed version's table/dir creation and the
    pointer flip: the old version stays current (readers never see a
    half-published snapshot) and re-running the SAME merge completes with
    correct totals — the retry overwrites the orphaned table/dir. Runs
    under BOTH commit backends (VERDICT r8 item 2)."""
    root = str(tmp_path / "whbc")
    wh = Warehouse(spark, root, n_buckets=8, bucketed=True)
    wh.write_visitantes(target, applied_key="seed")
    v0 = wh._current_visitantes_version()
    base = {r["email"]: r["visitasTotales"] for r in wh.read_visitantes().collect()}

    one = source.filter(F.col("email") == "match-same-month@example.com")
    wh.merge_visitantes(one, process_date=PROCESS_DATE, applied_key="one")
    # simulate the crash: rewind the pointer to v0 (as if the flip never
    # happened; the v1 dir + catalog table are orphaned on disk) — through
    # the backend, where the pointer actually lives
    wh._publish_pointer(wh.path(wh._POINTER), v0 + "\n")
    assert wh._current_visitantes_version() == v0
    assert {
        r["email"]: r["visitasTotales"] for r in wh.read_visitantes().collect()
    } == base  # readers still see the pre-merge snapshot
    assert "one" not in wh.visitantes_applied()  # redo is not blocked

    wh.merge_visitantes(one, process_date=PROCESS_DATE, applied_key="one")
    out = {r["email"]: r["visitasTotales"] for r in wh.read_visitantes().collect()}
    assert out["match-same-month@example.com"] == 13  # applied exactly once
    assert out["match-prev-month@example.com"] == base["match-prev-month@example.com"]
    assert "one" in wh.visitantes_applied()


def test_bucketed_forget_rewrites_one_bucket(spark, tmp_path, target, source):
    """GDPR erasure in bucketed mode is bucket-cost too (it previously
    forced a full-snapshot rewrite)."""
    root = str(tmp_path / "whbf")
    wh = Warehouse(spark, root, n_buckets=8, bucketed=True)
    wh.write_visitantes(target, applied_key="seed")
    out = wh.forget("match-prev-month@example.com")
    assert out["visitantes"].startswith("bucket=")
    v = wh._current_visitantes_version()
    assert v.startswith("tbl:")
    emails = {r["email"] for r in wh.read_visitantes().collect()}
    assert "match-prev-month@example.com" not in emails
    assert len(emails) == 3


def test_partitioned_to_bucketed_migration(spark, tmp_path, target, source):
    """Opting INTO bucketed mode over an existing hash-partitioned snapshot
    must full-rewrite into the bucketed layout — carrying plain parquet
    files into a catalog-bucketed table by partition reference would make
    the scan throw 'Invalid bucket file' (bucket ids come from file
    names). The snapshot must stay readable and correct."""
    root = str(tmp_path / "whm2")
    whp = Warehouse(spark, root, n_buckets=8)
    whp.write_visitantes(target, applied_key="seed")
    assert not whp._current_visitantes_version().startswith("tbl:")

    whb = Warehouse(spark, root, n_buckets=8, bucketed=True)
    whb.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="m1")
    v = whb._current_visitantes_version()
    assert v.startswith("tbl:")
    out = {r["email"]: r["visitasTotales"] for r in whb.read_visitantes().collect()}
    assert out["match-same-month@example.com"] == 13 and len(out) == 5
    assert whb.visitantes_applied() == {"seed", "m1"}
    # and the NEXT merge in bucketed mode is incremental (layout matches)
    one = source.filter(F.col("email") == "new-visitor@example.com")
    whb.merge_visitantes(one, process_date=PROCESS_DATE, applied_key="m2")
    v2 = whb._current_visitantes_version()
    assert len(_bucket_dirs(root, whb._version_dir(v2))) == 1
    assert whb.read_visitantes().count() == 5


def test_bucketed_to_partitioned_migration(spark, tmp_path, target, source):
    """Opting back out of bucketed mode migrates on the next merge."""
    root = str(tmp_path / "whm")
    whb = Warehouse(spark, root, n_buckets=8, bucketed=True)
    whb.write_visitantes(target, applied_key="seed")
    whp = Warehouse(spark, root, n_buckets=8)
    whp.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="m1")
    v = whp._current_visitantes_version()
    assert not v.startswith("tbl:")
    assert whp._visitantes_manifest(v) is not None  # hash-partitioned again
    out = {r["email"]: r["visitasTotales"] for r in whp.read_visitantes().collect()}
    assert out["match-same-month@example.com"] == 13 and len(out) == 5
    assert whp.visitantes_applied() == {"seed", "m1"}


def test_agg_state_merge_is_iterable_and_exact(spark):
    """Folding batches into the aggregate state one at a time (the
    incremental-MV loop) must equal a full recompute, regardless of how
    history is split into batches."""
    import pyspark.sql.functions as F
    from pipeline_etl_website_visits_spark.operators import merge as M

    rows = [(k, float(v), d) for i, (k, v, d) in enumerate(
        [(1, 10.0, "2024-01-01"), (1, 5.5, "2024-02-01"), (2, 7.0, "2024-01-15"),
         (1, 2.25, "2024-03-01"), (3, 9.0, "2024-01-20"), (2, 1.0, "2024-04-02")]
    )]
    df = spark.createDataFrame(rows, "k int, v double, d string")

    def state(b):
        return b.groupBy("k").agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("tot"),
            F.max(F.col("d").cast("date")).alias("last"),
        )

    rules = {"cnt": M.add_counters, "tot": M.add_counters, "last": M.greatest_of}
    acc = None
    for i in range(3):
        batch = state(df.filter(F.col("d").substr(6, 2).cast("int") % 3 == i))
        acc = batch if acc is None else M.merge_upsert(acc, batch, "k", rules)

    got = {r["k"]: (r["cnt"], float(r["tot"]), str(r["last"])) for r in acc.collect()}
    want = {r["k"]: (r["cnt"], float(r["tot"]), str(r["last"])) for r in state(df).collect()}
    assert got == want


def test_visitantes_time_travel_reads_previous_snapshot(spark, tmp_path, target, source):
    """read_visitantes(version=...) serves the retained previous version:
    after a merge, the pre-merge counters are still readable; versions
    older than the two-deep retention window raise."""
    import pytest

    root = str(tmp_path / "wh_tt")
    wh = Warehouse(spark, root, n_buckets=8)
    wh.write_visitantes(target, applied_key="seed")
    v0 = wh._current_visitantes_version()

    wh.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="b1")
    v1 = wh._current_visitantes_version()
    assert wh.visitantes_versions() == [v0, v1]

    email = "match-same-month@example.com"
    now = wh.read_visitantes().filter(F.col("email") == email).first()
    then = wh.read_visitantes(version=v0).filter(F.col("email") == email).first()
    assert now["visitasTotales"] > then["visitasTotales"]
    # the time-travel read is the full old snapshot, not a delta
    assert wh.read_visitantes(version=v0).count() == target.count()

    # a third publish rotates v0 out of the retention window
    wh.merge_visitantes(
        source.filter(F.col("email") == email), process_date=PROCESS_DATE, applied_key="b2"
    )
    v2 = wh._current_visitantes_version()
    assert wh.visitantes_versions() == [v1, v2]
    with pytest.raises(ValueError):
        wh.read_visitantes(version=v0)
    # previous still readable after rotation
    assert wh.read_visitantes(version=v1).count() >= target.count()


def test_scd2_apply_versions_and_noops(spark):
    """SCD2: changed rows close+reopen at the effective date; identical
    (no-op) updates and history rows pass through; NULL attr == NULL attr
    counts as unchanged; re-applying the same batch creates nothing new."""
    from pipeline_etl_website_visits_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [
            # key, seg, from, to, current
            (1, "A", "1990-01-01", "9999-12-31", True),
            (2, "B", "1990-01-01", "9999-12-31", True),
            (2, "Z", "1980-01-01", "1990-01-01", False),  # history row
            (3, None, "1990-01-01", "9999-12-31", True),  # null attr
        ],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr("k", "seg", "CAST(valid_from AS DATE) valid_from", "CAST(valid_to AS DATE) valid_to", "is_current")
    updates = spark.createDataFrame(
        [(1, "A2"), (2, "B"), (3, None)], "k long, seg string"
    )  # 1 changes; 2 and 3 are no-ops (3 via NULL==NULL)

    def snap(df):
        return sorted(
            (r["k"], r["seg"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
            for r in df.collect()
        )

    out = scd2_apply(dim, updates, "k", ["seg"], "2000-06-01")
    got = snap(out)
    assert got == sorted(
        [
            (1, "A", "1990-01-01", "2000-06-01", False),
            (1, "A2", "2000-06-01", "9999-12-31", True),
            (2, "B", "1990-01-01", "9999-12-31", True),
            (2, "Z", "1980-01-01", "1990-01-01", False),
            (3, None, "1990-01-01", "9999-12-31", True),
        ]
    )
    # re-apply: the changed row is now current with the new value => no-op
    assert snap(scd2_apply(out, updates, "k", ["seg"], "2001-01-01")) == got


def test_scd2_apply_inserts_new_members(spark):
    """Standard SCD2 MERGE inserts update keys absent from the dimension
    as brand-new current rows (valid_from = effective date, open-ended
    valid_to); re-applying the same batch then no-ops."""
    from pipeline_etl_website_visits_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A", "1990-01-01", "9999-12-31", True)],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "k", "seg", "CAST(valid_from AS DATE) valid_from",
        "CAST(valid_to AS DATE) valid_to", "is_current",
    )
    updates = spark.createDataFrame([(1, "A"), (9, "NEW")], "k long, seg string")

    def snap(df):
        return sorted(
            (r["k"], r["seg"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
            for r in df.collect()
        )

    out = scd2_apply(dim, updates, "k", ["seg"], "2000-06-01")
    assert snap(out) == sorted(
        [
            (1, "A", "1990-01-01", "9999-12-31", True),
            (9, "NEW", "2000-06-01", "9999-12-31", True),
        ]
    )
    # idempotent re-apply: key 9 is now a current no-op, nothing inserts twice
    assert snap(scd2_apply(out, updates, "k", ["seg"], "2001-01-01")) == snap(out)
    # open_end=None uses a NULL open-ended marker instead of the sentinel
    out_null = scd2_apply(dim, updates, "k", ["seg"], "2000-06-01", open_end=None)
    assert (9, "NEW", "2000-06-01", "None", True) in snap(out_null)


def test_scd2_apply_rejects_duplicate_update_keys(spark):
    """Two updates for one key would multiply each current dim row into
    conflicting closed/open pairs — the batch must fail fast, in both the
    matched path and the insert path."""
    import pytest

    from pipeline_etl_website_visits_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A", "1990-01-01", "9999-12-31", True)],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "k", "seg", "CAST(valid_from AS DATE) valid_from",
        "CAST(valid_to AS DATE) valid_to", "is_current",
    )
    dup_matched = spark.createDataFrame([(1, "X"), (1, "Y")], "k long, seg string")
    with pytest.raises(Exception, match="duplicate update-batch key"):
        scd2_apply(dim, dup_matched, "k", ["seg"], "2000-06-01").collect()
    dup_new = spark.createDataFrame([(9, "X"), (9, "Y")], "k long, seg string")
    with pytest.raises(Exception, match="duplicate update-batch key"):
        scd2_apply(dim, dup_new, "k", ["seg"], "2000-06-01").collect()


def test_concurrent_merges_serialize_under_the_writer_lease(
    spark, tmp_path, target, any_commit_backend
):
    """Two drivers merging at once (VERDICT r6 item 8): without the lease
    both read the same pointer, both publish version n+1, and the loser's
    batch silently vanishes in the pointer flip. With it, the loser blocks
    until the winner's flip and merges on top — BOTH batches land."""
    import threading
    import time

    wh = Warehouse(spark, str(tmp_path / "whc"), n_buckets=8)
    wh.write_visitantes(target)

    def batch(email, n):
        return spark.createDataFrame(
            [(email, D(2026, 8, 10), D(2026, 8, 15), n, n, n)], VISITANTES_SCHEMA
        )

    # deterministic half: a merge attempted while the lease is held blocks
    done = []
    t = threading.Thread(
        target=lambda: (
            wh.merge_visitantes(batch("a@x.com", 1), process_date=PROCESS_DATE, applied_key="a"),
            done.append(1),
        )
    )
    with wh._lease("visitantes-writer"):
        t.start()
        time.sleep(1.0)
        assert t.is_alive() and not done, "merge proceeded under a held lease"
    t.join(timeout=120)
    assert done == [1]

    # concurrency half: N merges fired together — every batch must survive
    emails = [f"race{i}@x.com" for i in range(3)]
    threads = [
        threading.Thread(
            target=wh.merge_visitantes,
            args=(batch(e, i + 1),),
            kwargs={"process_date": PROCESS_DATE, "applied_key": f"r{i}"},
        )
        for i, e in enumerate(emails)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=180)
    snap = {r["email"]: r["visitasTotales"] for r in wh.read_visitantes().collect()}
    assert snap["a@x.com"] == 1
    for i, e in enumerate(emails):
        assert snap[e] == i + 1, (e, snap.get(e))
    # and the applied-key manifest carried every batch
    assert {"a", "r0", "r1", "r2"} <= wh.visitantes_applied()


def test_two_process_merges_share_one_snapshot(spark, tmp_path, target):
    """The warehouse lease/pointer protocol across TWO DRIVER PROCESSES
    (the test_dedup_index two-process golden's merge twin — VERDICT r7
    item 2): driver B (a real subprocess, separate JVM and catalog)
    merges into the same warehouse root while driver A holds the
    visitantes-writer lease. B must BLOCK on the cross-process lease,
    then both batches must land — additive counters on a shared email,
    both applied keys in the manifest, one consistent pointer."""
    import os
    import subprocess
    import sys
    import time

    root = str(tmp_path / "whx")
    wh = Warehouse(spark, root, n_buckets=8)
    wh.write_visitantes(target)
    ready = str(tmp_path / "b_ready")
    merged = str(tmp_path / "b_merged")
    script = tmp_path / "driver_b_merge.py"
    script.write_text(
        f"""
import datetime
import sys
sys.path.insert(0, {repr(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))})
from pipeline_etl_website_visits_spark.session import get_spark
from pipeline_etl_website_visits_spark.etl.load import Warehouse, VISITANTES_SCHEMA

spark = get_spark(
    "driver-b-merge", master="local[2]", shuffle_partitions=2,
    extra_conf={{"spark.ui.enabled": "false",
                 "spark.sql.warehouse.dir": {repr(str(tmp_path / "wh_b"))}}},
)
spark.sparkContext.setLogLevel("ERROR")
wh = Warehouse(spark, {repr(root)}, n_buckets=8)
batch = spark.createDataFrame(
    [("shared@x.com", datetime.date(2026, 8, 10), datetime.date(2026, 8, 15), 7, 7, 7)],
    VISITANTES_SCHEMA,
)
open({repr(ready)}, "w").write("ready")
wh.merge_visitantes(batch, process_date={repr(PROCESS_DATE)}, applied_key="xpB")
open({repr(merged)}, "w").write("done")
spark.stop()
"""
    )
    proc = subprocess.Popen(
        [sys.executable, str(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        with wh._lease("visitantes-writer"):
            deadline = time.monotonic() + 240
            while not os.path.exists(ready) and time.monotonic() < deadline:
                time.sleep(0.2)
            assert os.path.exists(ready), proc.stderr and "driver B never started"
            # B is now inside merge_visitantes, blocked on OUR lease file
            time.sleep(2.0)
            assert not os.path.exists(merged), "B merged under a held lease"
        # lease released: A and B contend for real; both must land
        batch_a = spark.createDataFrame(
            [("shared@x.com", D(2026, 8, 11), D(2026, 8, 15), 5, 5, 5)],
            VISITANTES_SCHEMA,
        )
        wh.merge_visitantes(batch_a, process_date=PROCESS_DATE, applied_key="xpA")
        out, err = proc.communicate(timeout=300)
        assert os.path.exists(merged), err[-2000:]
        snap = {r["email"]: r["visitasTotales"] for r in wh.read_visitantes().collect()}
        assert snap["shared@x.com"] == 12, snap  # 5 (A) + 7 (B), additive
        assert snap["match-same-month@example.com"] == 10  # untouched carry
        # the applied manifest is PROCESS-independent: B's key, committed
        # from the other driver, is visible to A's redo check — so the K4
        # caller discipline (pipeline.py: merge only if the key is absent;
        # the merge itself is additive BY DESIGN, reapply_merge exists)
        # no-ops a cross-process replay of B's batch
        assert {"xpA", "xpB"} <= wh.visitantes_applied()
        if "xpB" not in wh.visitantes_applied():  # the caller-side guard
            wh.merge_visitantes(
                spark.createDataFrame(
                    [("shared@x.com", D(2026, 8, 10), D(2026, 8, 15), 7, 7, 7)],
                    VISITANTES_SCHEMA,
                ),
                process_date=PROCESS_DATE,
                applied_key="xpB",
            )
        snap2 = {r["email"]: r["visitasTotales"] for r in wh.read_visitantes().collect()}
        assert snap2["shared@x.com"] == 12, snap2
    finally:
        if proc.poll() is None:
            proc.kill()


def test_retention_knob_time_travel_window_and_sweep(spark, tmp_path, target, source):
    """VERDICT r9 item 7: `retention` is the VACUUM knob. With
    retention=3 a third-back version still serves; the fourth publish
    rotates it out (read raises, dir swept once unreferenced). Lowering
    retention on reopen takes effect at the next publish."""
    import pytest

    root = str(tmp_path / "wh_ret")
    wh = Warehouse(spark, root, n_buckets=2, retention=3)
    wh.write_visitantes(target, applied_key="seed")
    v0 = wh._current_visitantes_version()
    # every merge carries the FULL source (touches all buckets), so a
    # rotated-out version's dir loses every manifest reference and the
    # sweep can be asserted at the directory level too
    wh.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="b1")
    v1 = wh._current_visitantes_version()
    wh.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="b2")
    v2 = wh._current_visitantes_version()
    assert wh.visitantes_versions() == [v0, v1, v2]
    # third-back serves under retention=3 (the two-deep default would raise)
    assert wh.read_visitantes(version=v0).count() == target.count()

    wh.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="b3")
    v3 = wh._current_visitantes_version()
    assert wh.visitantes_versions() == [v1, v2, v3]
    with pytest.raises(ValueError, match="not retained"):
        wh.read_visitantes(version=v0)
    assert not os.path.exists(os.path.join(root, v0)), (
        "rotated-out, fully-rewritten version dir must be swept"
    )
    # retained ones serve with full content
    assert wh.read_visitantes(version=v1).count() == target.count() + 1

    # LOWER retention on reopen: next publish trims to the new window
    wh1 = Warehouse(spark, root, n_buckets=2, retention=1)
    wh1.merge_visitantes(source, process_date=PROCESS_DATE, applied_key="b4")
    v4 = wh1._current_visitantes_version()
    assert wh1.visitantes_versions() == [v4]
    with pytest.raises(ValueError, match="not retained"):
        wh1.read_visitantes(version=v3)
    for old in (v1, v2, v3):
        assert not os.path.exists(os.path.join(root, old))

    with pytest.raises(ValueError, match="retention"):
        Warehouse(spark, root, retention=0)


def test_retention_knob_compact_chain(spark, tmp_path):
    """The compacted append-table chain honors the same retention knob:
    with retention=3, versions v0..v2 coexist; the v3 compaction sweeps
    only v0."""
    import pyspark.sql.functions as F2

    root = str(tmp_path / "wh_cret")
    wh = Warehouse(spark, root, retention=3)
    for i in range(4):
        df = (
            spark.range(5)
            .select(
                F2.concat(F2.lit(f"e{i}-"), F2.col("id").cast("string")).alias("email"),
                F2.lit(f"f{i}.txt").alias("nombreArchivo"),
            )
        )
        wh.append_partitioned(df, "t")
        out = wh.compact("t", target_mb=64)
        assert out["version"] == f"t_compact_v{i}"
    names = sorted(d for d in os.listdir(root) if d.startswith("t_compact_v"))
    assert names == ["t_compact_v1", "t_compact_v2", "t_compact_v3"]
    # rows all present through the read path
    assert wh.read("t").count() == 20
