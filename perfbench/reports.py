"""Seeded ``report_*.txt`` generator for the ETL workload.

Each call writes a fresh set of report files and returns the outcome the
ETL must produce from them: the bitacora row of every file and the final
``visitantes`` snapshot. The expectation is computed here, in plain Python,
from the rows as written, so it does not share code with the program.

Input properties the ETL's behaviour depends on, and how they are set:

- every file carries invalid rows of all four ``tipoError`` kinds, some rows
  with several failed checks, so the error expansion and the
  "Completado con errores" status are exercised;
- emails are drawn from a pool larger than one file, so later merges hit
  the matched branch of the ``visitantes`` upsert, not only inserts;
- file ``k`` holds visits of day ``k + 1`` of one month, and file
  modification times follow the file order, so the first/last visit dates
  do not depend on how files are grouped into commit units (one file per
  commit in batch mode, several per micro-batch in stream mode).
"""

from __future__ import annotations

import csv
import datetime
import os
import random
from dataclasses import dataclass, field

from pipeline_etl_website_visits_spark.etl import schema as S

YEAR, MONTH = 2026, 3
# Pins the merge's "current" month to the data's month, so the year and
# month counters of ``visitantes`` equal the total visit count.
PROCESS_DATE = f"{YEAR}-{MONTH:02d}-28"
VALID_SHARE = 0.85
POOL_PER_FILE = 1.5  # email pool size as a multiple of the rows in one file
# modification time of report_00000.txt; later files are one second newer
_MTIME0 = 1_767_225_600

_BAD_EMAILS = ("no-at-sign.example.com", ".leading@dot.com", "user@host", "two@@ats.com")
_BAD_DATES = ("2026-03-05 14:30", "5/3/2026 9:05", "05/03/2026 24:01", "32/03/2026 10:00")


@dataclass
class Expected:
    """What the ETL must commit for one generated input set."""

    # file name -> (registrosExitosos, registrosFallidos, estatus)
    bitacora: dict[str, tuple[int, int, str]] = field(default_factory=dict)
    # email -> (first visit, last visit, total, this year, this month)
    visitantes: dict[str, tuple[datetime.date, datetime.date, int, int, int]] = field(
        default_factory=dict
    )
    rows: int = 0
    bytes: int = 0


def _date(day: int, rng: random.Random) -> str:
    return f"{day:02d}/{MONTH:02d}/{YEAR} {rng.randrange(23):02d}:{rng.randrange(60):02d}"


def _valid_row(email: str, day: int, rng: random.Random) -> list[str]:
    return [
        email,
        rng.choice(("j", "v", "-")),
        rng.choice(("", "0", "si")),
        rng.choice(("-", "no")),
        _date(day, rng),
        _date(day, rng),
        str(rng.randrange(50)),
        str(rng.randrange(10)),
        rng.choice(("", _date(day, rng))),
        str(rng.randrange(30)),
        str(rng.randrange(5)),
        f"http://example.com/{rng.randrange(100)}",
        f"10.0.{rng.randrange(256)}.{rng.randrange(256)}",
        rng.choice(("Chrome", "Firefox", "Safari")),
        rng.choice(("Windows", "Linux", "Android")),
    ]


# column index in VALID_COLUMNS of each tipoError's source column
_ERROR_COLUMN = {kind: S.VALID_COLUMNS.index(kind if kind != "Email" else "email") for kind in S.ERROR_TYPES}


def _invalid_row(email: str, day: int, kinds: list[str], rng: random.Random) -> list[str]:
    row = _valid_row(email, day, rng)
    for kind in kinds:
        bad = _BAD_EMAILS if kind == "Email" else _BAD_DATES
        row[_ERROR_COLUMN[kind]] = rng.choice(bad)
    return row


def write_reports(dirpath: str, seed: int, n_files: int, rows_per_file: int, prefix: str = "report_") -> Expected:
    """Write ``n_files`` report files of ``rows_per_file`` rows into ``dirpath``."""
    if not 1 <= n_files <= 28:
        raise ValueError(f"n_files must be 1..28 (one day of the month each), got {n_files}")
    if rows_per_file < 2 * len(S.ERROR_TYPES):
        raise ValueError(f"rows_per_file must be >= {2 * len(S.ERROR_TYPES)}, got {rows_per_file}")
    os.makedirs(dirpath, exist_ok=True)
    rng = random.Random(seed)
    pool = [f"v{seed}.{i}@site{i % 13}.example.com" for i in range(int(rows_per_file * POOL_PER_FILE))]
    exp = Expected()
    visits: dict[str, list] = {}
    for k in range(n_files):
        day = k + 1
        name = f"{prefix}{k:05d}.txt"
        rows, ok, err = [], 0, 0
        for i in range(rows_per_file):
            email = rng.choice(pool)
            if i < len(S.ERROR_TYPES):  # one row of each error kind per file
                kinds = [S.ERROR_TYPES[i]]
            elif i < 2 * len(S.ERROR_TYPES) or rng.random() >= VALID_SHARE:
                kinds = [t for t in S.ERROR_TYPES if rng.random() < 0.4] or [rng.choice(S.ERROR_TYPES)]
            else:
                kinds = []
            if kinds:
                rows.append(_invalid_row(email, day, kinds, rng))
                err += len(kinds)
                continue
            rows.append(_valid_row(email, day, rng))
            ok += 1
            v = visits.setdefault(email, [day, day, 0])
            v[1] = day
            v[2] += 1
        rng.shuffle(rows)
        path = os.path.join(dirpath, name)
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(S.VALID_COLUMNS)
            w.writerows(rows)
        os.utime(path, (_MTIME0 + k, _MTIME0 + k))
        status = S.STATUS_OK_WITH_ERRORS if err else S.STATUS_OK
        exp.bitacora[name] = (ok, err, status)
        exp.rows += rows_per_file
        exp.bytes += os.path.getsize(path)
    for email, (first, last, n) in visits.items():
        exp.visitantes[email] = (
            datetime.date(YEAR, MONTH, first),
            datetime.date(YEAR, MONTH, last),
            n,
            n,
            n,
        )
    return exp
