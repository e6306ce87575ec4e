"""Tests of the benchmark itself, at a tiny size.

    python3 -m pytest perfbench -q

Each workload runs once untraced and once traced, in one Spark session
shared by the module, and must report every metric with its unit and pass
its output checks; a tampered expectation must be counted as a failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from perfbench import reports, run, workloads
from pipeline_etl_website_visits_spark.etl import schema as S


@pytest.fixture(scope="module")
def session():
    os.makedirs(run.WORK_ROOT, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="test-", dir=run.WORK_ROOT)
    spark = run.start_session(workdir)
    try:
        yield spark, workdir
    finally:
        run.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def _run(session, name: str, trace: bool, seed: int = 3) -> dict:
    spark, root = session
    workdir = tempfile.mkdtemp(dir=root)
    ctx = workloads.Ctx(spark, seed, 0.0, trace, workdir, os.path.join(workdir, "spans.jsonl"), workloads.TINY)
    res = workloads.WORKLOADS[name](ctx, session_s=1.0)
    return run.report(name, res, run.peak_rss_mb(spark), trace)


def _assert_metrics(out: dict, expected: dict[str, str]) -> None:
    assert out["correct"], out
    assert out["failed"] == 0 and out["attempted"] > 0
    assert {k: m["unit"] for k, m in out["metrics"].items()} == expected
    json.dumps(out)  # one JSON object, as the last line prints it


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_reports_every_end_to_end_metric(session, name, capsys):
    out = _run(session, name, trace=False)
    _assert_metrics(out, run.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())
    lines = capsys.readouterr().out.splitlines()
    for metric, unit in run.END_TO_END.items():
        assert any(ln.startswith(f"{name} {metric} = ") and ln.endswith(f" {unit}") for ln in lines), metric


def test_etl_trace_splits_layers(session):
    out = _run(session, "etl", trace=True)
    _assert_metrics(out, workloads.LAYERS)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["pipeline.files"] == workloads.ETL_FILES
    # the stream driver merges once per micro-batch, the batch driver per file
    assert 0 < m["stream.merge_calls"] < m["pipeline.files"]
    assert m["pipeline.self_jobs"] >= 2  # process_file's own count() actions
    for k in ("load.merge_s", "load.append_s", "load.log_s", "transform.build_s", "backup.archive_s"):
        assert m[k] > 0, k
    assert m["load.files_per_input_file"] > 1 and m["exec.stages"] > 0
    assert m["stream.source_rows_per_input_row"] >= 1


def test_queries_trace_splits_layers(session):
    out = _run(session, "queries", trace=True)
    _assert_metrics(out, workloads.LAYERS)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["queries.core.construct_jobs"] == 0
    assert m["queries.iterative.construct_jobs"] > 0
    assert m["plan.s"] > 0 and m["exec.jobs"] > 0 and m["exec.tasks"] > 0
    assert m["artifacts.build_s"] > 0


def test_tampered_expectation_is_a_failure(session, monkeypatch):
    real = reports.write_reports

    def tampered(*args, **kwargs):
        exp = real(*args, **kwargs)
        name = sorted(exp.bitacora)[0]
        ok, err, status = exp.bitacora[name]
        exp.bitacora[name] = (ok + 1, err, status)
        return exp

    monkeypatch.setattr(reports, "write_reports", tampered)
    out = _run(session, "etl", trace=False)
    assert not out["correct"] and out["failed"] > 0


def test_generator_is_seeded_and_covers_the_merge_and_error_paths(tmp_path):
    a = reports.write_reports(str(tmp_path / "a"), 5, 3, 60)
    b = reports.write_reports(str(tmp_path / "b"), 5, 3, 60)
    assert a == b
    assert sorted(os.listdir(tmp_path / "a")) == sorted(a.bitacora)
    for f in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()
    assert reports.write_reports(str(tmp_path / "c"), 6, 3, 60) != a
    # emails seen in more than one file reach the merge's matched branch
    assert any(first != last for first, last, *_ in a.visitantes.values())
    assert all(err >= len(S.ERROR_TYPES) for _, err, _ in a.bitacora.values())
    assert all(status == S.STATUS_OK_WITH_ERRORS for *_, status in a.bitacora.values())


def test_tail_keeps_ten_samples_beyond_it():
    assert run.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)
    xs = [float(i) for i in range(100)]
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 90.0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails and
    prints no result."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(root, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
