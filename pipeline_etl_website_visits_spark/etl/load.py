"""Warehouse sinks for the visits ETL (SURVEY §2.8).

Reference sinks were MySQL tables (database/schema.sql); here they are
parquet table directories under a warehouse root:

- ``estadisticas/`` — valid rows, partitioned by nombreArchivo (K1)
- ``errores/``      — expanded error rows, partitioned by nombreArchivo (K2)
- ``visitantes/``   — consolidated per-email snapshot maintained by the
                      merge operator (J2)
- ``bitacora/``     — one control row per processed file (K3)
- ``logs/``         — the per-file stage trail (O6), partitioned by fecha

Control schemas (``BITACORA_SCHEMA``, ``LOGS_SCHEMA``):

- ``bitacora``: nombreArchivo string, registrosExitosos long,
  registrosFallidos long, estatus string, fechaProceso timestamp. Both
  drivers take the two counts from the estadisticas/errores appends
  themselves (:meth:`Warehouse.append_rows` reads the written files'
  footers, per file; no extra job); the stream driver writes all of a
  micro-batch's rows as one append.
- ``logs``: nombreArchivo string, etapa string (RECIBIDO, LAYOUT,
  TRANSFORMADO, MERGE, CARGADO or FALLO), nivel string (INFO/ERROR),
  mensaje string, seq long (orders one flush's rows), plus fechaProceso
  timestamp and the fecha (DDMMYY) partition column. The TRANSFORMADO row
  carries ``ok=<n> errores=<n>``, the same counts as the bitacora.

Both are appended from the driver without a Spark job
(:meth:`Warehouse._append_control`): a call's rows are encoded as one parquet
file in driver memory (pyarrow, with the types and nullability of the schemas
above, timestamps as UTC-adjusted microseconds) and written through the
warehouse's Hadoop FS under a hidden name, then renamed into the table, so a
reader sees all of a call's rows or none. One driver-clock instant per call,
in ``spark.sql.session.timeZone``, stamps fechaProceso and the trail's fecha.
Spark reads these files and its own (INT96 timestamps) as one table.

Atomicity (K4): Spark has no cross-table transactions; the protocol is
(1) per-file idempotent writes — estadisticas/errores use dynamic partition
overwrite keyed by nombreArchivo, so re-running a file replaces its own
output instead of duplicating it; (2) the visitantes merge is additive
(counters), NOT naturally redo-safe, so each snapshot version carries an
``_applied`` manifest of the batch keys merged into it — a redo whose key is
already in the manifest skips the merge instead of double-counting;
(3) the bitacora row is written LAST as the commit marker — a file is
"processed" iff its bitacora row exists, and with (1)+(2) every upstream
write is safe to redo. Since no upstream write depends on another, a commit
unit runs all three at once (:meth:`Warehouse.write_upstream`, called by
both drivers) and writes no control row until all three have ended; a merge
that lands while an append fails is covered by (2), as the retry skips it.
The logs trail is not an upstream write: it is informational, and the batch
driver appends it right after the marker; a crash between the two can leave
a committed file without its trail.
At 100 TB the same layout holds with date partitioning on top (partition by
fechaProceso/nombreArchivo) or Delta tables for real ACID.

Scale (SURVEY §4.3): the visitantes snapshot is hash-bucket partitioned
(``bucket = pmod(hash(email), N)``) with a per-version bucket manifest, so
``merge_visitantes`` reads and rewrites ONLY the buckets containing a
batch's emails — per-batch write cost is ∝ touched buckets, independent of
snapshot size, matching the reference MERGE's touched-rows-only semantics
(utils/utils_load.py:43-84). Untouched buckets carry across versions by
manifest reference.
"""

from __future__ import annotations

import datetime
import functools
import os
import re
import uuid
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.util import inheritable_thread_target

from pipeline_etl_website_visits_spark.etl import schema as S
from pipeline_etl_website_visits_spark.functions import sql_string

BITACORA_SCHEMA = StructType(
    [
        StructField("nombreArchivo", StringType(), False),
        StructField("registrosExitosos", LongType(), True),
        StructField("registrosFallidos", LongType(), True),
        StructField("estatus", StringType(), False),
        StructField("fechaProceso", TimestampType(), False),
    ]
)

LOGS_SCHEMA = StructType(
    [
        StructField("nombreArchivo", StringType(), False),
        StructField("etapa", StringType(), False),
        StructField("nivel", StringType(), False),
        StructField("mensaje", StringType(), True),
        StructField("seq", LongType(), False),
    ]
)

VISITANTES_SCHEMA = StructType(
    [
        StructField("email", StringType(), False),
        StructField("fechaPrimeraVisita", DateType(), True),
        StructField("fechaUltimaVisita", DateType(), True),
        StructField("visitasTotales", LongType(), True),
        StructField("visitasAnioActual", LongType(), True),
        StructField("visitasMesActual", LongType(), True),
    ]
)


# a logs row as its file holds it: LOGS_SCHEMA plus its fechaProceso stamp
# (the fecha stamp is the file's partition dir)
_LOGS_ROW_SCHEMA = StructType(
    LOGS_SCHEMA.fields + [StructField("fechaProceso", TimestampType(), False)]
)


# Write options of the per-file writes: no _SUCCESS marker. Nothing reads
# one (the pointer and the bitacora row are the commit points), and without
# native libhadoop every file the local filesystem creates forks a chmod for
# itself and one for its .crc sidecar. Compaction keeps its markers.
_NO_SUCCESS_MARKER = {"mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty DataFrame of ``schema``, as a local relation built in the
    JVM: ``createDataFrame`` on a Python list plans an RDD scan whose task
    starts a Python worker."""
    jschema = spark._jsparkSession.parseDataType(schema.json())
    jrows = spark._jvm.java.util.ArrayList()
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema), spark)


def _parquet_bytes(schema: StructType, rows: list[tuple]) -> bytes:
    """``rows`` (in ``schema`` order) encoded as one snappy parquet file.
    Strings, longs and timestamps (aware datetimes) map to arrow string,
    int64 and UTC microseconds. A non-null field is written ``required``,
    and a None in one raises here, before anything is written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {
        "string": pa.string(),
        "bigint": pa.int64(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }
    columns = dict(zip(schema.fieldNames(), map(list, zip(*rows))))
    for f in schema.fields:
        if not f.nullable and None in columns[f.name]:
            raise ValueError(f"control row field {f.name!r} is NOT NULL, got None")
        if f.dataType.simpleString() == "timestamp":
            # pyarrow would take an aware datetime's wall clock as UTC
            utc = datetime.timezone.utc
            columns[f.name] = [v and v.astimezone(utc) for v in columns[f.name]]
    arrow_schema = pa.schema(
        [pa.field(f.name, types[f.dataType.simpleString()], f.nullable) for f in schema.fields]
    )
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table(columns, schema=arrow_schema), sink, compression="snappy")
    return sink.getvalue().to_pybytes()


def _bucket_sql(n_buckets: int) -> str:
    # coalesce: hash(NULL) is NULL and a NULL bucket would fall out of
    # every partition dir; valid rows always carry an email, but the
    # layout must not depend on that.
    return f"pmod(hash(coalesce(email, '')), {int(n_buckets)})"


class _Snapshot(NamedTuple):
    """The visitantes pointer and the current version's two manifests."""

    versions: list[str]  # retained versions, current first
    n_buckets: int
    refs: dict[int, str]  # bucket -> version dir holding it
    applied: set[str]  # batch keys merged into the current version

    @property
    def current(self) -> str | None:
        return self.versions[0] if self.versions else None


class Warehouse:
    """Parquet-backed warehouse with the four ETL tables.

    The visitantes snapshot has one layout: versioned dirs of hash-bucket
    partitions (``bucket=<pmod(hash(email), n_buckets)>``), each version
    with a ``_buckets`` manifest naming the dir that holds every bucket,
    and a pointer file listing the retained versions. ``n_buckets`` sets
    the bucket count of a new snapshot; an existing snapshot's count always
    wins over the constructor value, so readers/mergers of a table created
    with a different N stay consistent. Sized so one bucket is a few
    hundred MB at the target scale (100 TB / 4096 buckets ≈ 25 GB — at that
    scale use thousands; the test default keeps directories readable).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 16,
        retention: int = 2,
    ):
        """``retention`` is the snapshot-retention contract (VERDICT r9
        item 7 — the VACUUM knob): how many snapshot VERSIONS each GC
        sweep keeps readable — the current one plus ``retention - 1``
        time-travel predecessors (:meth:`visitantes_versions` /
        :meth:`read_visitantes`), and likewise how deep the compacted
        append-tables' version chain stays for post-crash inspection.
        Every publish trims the pointer to the newest ``retention``
        versions and sweeps the rest, so LOWERING retention on an
        existing warehouse takes effect at the next merge/compact/forget.
        ``retention=1`` keeps only the current version (no time travel,
        no post-crash previous to inspect) — legal, but 2+ is what a
        production deployment wants."""
        if int(retention) < 1:
            raise ValueError(f"retention must be >= 1 version, got {retention}")
        self.spark = spark
        self.root = root
        self.n_buckets = int(n_buckets)
        self.retention = int(retention)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _lease(self, name: str):
        """Writer lease scoped to this warehouse root: serializes the
        versioned-pointer writers (merge / snapshot publish / compact /
        forget) so two concurrent drivers cannot interleave a
        read-pointer→publish→flip sequence and silently drop the first
        writer's batch (lost update). Same primitive as the stored
        indexes (:func:`operators.ledger.writer_lease`); the loser simply
        blocks and then runs against the winner's pointer."""
        from pipeline_etl_website_visits_spark.operators import ledger

        return ledger.writer_lease(self._local(self.root), name=name)

    def _local(self, p: str) -> str:
        """Strip the ``file:`` scheme for the commit backend's path
        world. Any OTHER scheme (hdfs://, s3a://, ...) fails LOUDLY:
        letting it through would make the pointer read degrade to
        'no snapshot yet' and a merge silently rebuild the table from
        scratch (ADVICE r8). A non-POSIX deployment swaps the commit
        backend (operators.ledger.set_commit_backend), which owns path
        interpretation end to end."""
        if p.startswith("file:"):
            return p[len("file:"):]
        if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", p):
            raise NotImplementedError(
                f"warehouse pointer protocol needs a POSIX-visible root or a "
                f"matching commit backend; got {p!r} — swap the backend via "
                f"operators.ledger.set_commit_backend instead of pointing the "
                f"default LocalCommitBackend at a remote filesystem"
            )
        return p

    def _publish_pointer(self, pointer: str, content: str) -> None:
        """Atomic pointer flip through the commit backend
        (:func:`operators.ledger.publish_pointer`). Replaces the old
        Hadoop-FS ``create tmp → delete pointer → rename`` dance, whose
        delete-to-rename crash window left NO pointer at all — and a
        missing pointer reads as "no snapshot yet", so the next merge
        would silently restart the table from scratch with every
        committed version still on disk but unreferenced. ``os.replace``
        (POSIX backend) overwrites atomically: readers see the old
        pointer or the new one, never nothing. Same POSIX-visible-root
        requirement the warehouse leases already impose; an object-store
        deployment swaps the backend, not this call site."""
        from pipeline_etl_website_visits_spark.operators import ledger

        ledger.publish_pointer(self._local(pointer), content)

    @functools.cached_property
    def _jclasses(self) -> SimpleNamespace:
        """The JVM classes and Hadoop conf the warehouse uses, looked up
        once: every hop of ``jvm.org.apache...`` is a py4j round trip."""
        jvm = self.spark._jvm
        return SimpleNamespace(
            jvm=jvm,
            conf=self.spark._jsc.hadoopConfiguration(),
            Path=jvm.org.apache.hadoop.fs.Path,
            IOUtils=jvm.org.apache.commons.io.IOUtils,
            escapePathName=jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName,
            ParquetFileReader=jvm.org.apache.parquet.hadoop.ParquetFileReader,
            HadoopInputFile=jvm.org.apache.parquet.hadoop.util.HadoopInputFile,
            getZoneId=jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId,
            Instant=jvm.java.time.Instant,
        )

    def _fs(self, p: str):
        j = self._jclasses
        hpath = j.Path(p)
        return hpath.getFileSystem(j.conf), hpath, j.jvm

    def _exists(self, table: str) -> bool:
        fs, hpath, _ = self._fs(self.path(table))
        return fs.exists(hpath)

    def _has_data(self, table: str) -> bool:
        """True when the table dir holds any partition dir or data file
        (ignores the names Spark's readers skip: commit markers like
        _SUCCESS, checksum sidecars and unpublished control files)."""
        fs, hpath, _ = self._fs(self.path(table))
        for st in fs.listStatus(hpath):
            if not str(st.getPath().getName()).startswith(("_", ".")):
                return True
        return False

    # -- stored vector index (encode once / search many; VERDICT r4 item 6,
    #    docs/SCALE.md "deployed index") ----------------------------------
    def write_vector_index(self, vectors: DataFrame, name: str = "embeddings", **kw) -> dict:
        """Build + persist an IVF-PQ index under the warehouse root
        (``vindex_<name>/codes`` partitioned by coarse cell + ``meta``).
        One corpus scan, map-only; see operators/vector_index.py."""
        from pipeline_etl_website_visits_spark.operators.vector_index import (
            build_ivfpq_index,
        )

        return build_ivfpq_index(vectors, self.path(f"vindex_{name}"), **kw)

    def search_vector_index(
        self, queries: DataFrame, name: str = "embeddings", **kw
    ) -> DataFrame:
        """ADC top-k over the STORED codes — no re-encode, partition-pruned
        to the probed cells (plan-asserted in tests)."""
        from pipeline_etl_website_visits_spark.operators.vector_index import (
            ivfpq_search,
        )

        return ivfpq_search(self.spark, self.path(f"vindex_{name}"), queries, **kw)

    # -- stored gram index (incremental-dedup counterpart of the vector
    #    index: shingle the corpus once, score every batch against it) ---
    def _root_tag(self) -> str:
        """Short warehouse-root hash that namespaces the gram-index catalog
        table names."""
        import hashlib

        return hashlib.md5(self.root.encode("utf-8")).hexdigest()[:8]

    def write_gram_index(
        self, corpus: DataFrame, name: str = "documents", text_col: str = "text",
        id_col: str = "doc_id", **kw,
    ) -> str:
        """Persist the corpus inverted gram index under the warehouse root
        as a gram-bucketed catalog table; returns the table name (pass it
        to :meth:`dedup_against_gram_index` / ``dedup.append_to_gram_index``)."""
        from pipeline_etl_website_visits_spark.operators.dedup import save_gram_index

        table = f"gramidx_{self._root_tag()}_{name}"
        save_gram_index(
            corpus, table, self.path(f"gramidx_{name}"), text_col, id_col, **kw
        )
        return table

    def dedup_against_gram_index(
        self, incoming: DataFrame, table: str, text_col: str = "text",
        id_col: str = "doc_id", n: int = 3, **kw,
    ) -> DataFrame:
        """Incremental containment dedup of a batch vs the STORED index —
        only the batch's grams shuffle (the index side reads
        bucket-aligned; see operators/dedup.py). Validates ``n`` against
        the index's stored geometry: a mismatch would not error, it would
        silently score every duplicate ~0."""
        from pipeline_etl_website_visits_spark.operators.dedup import (
            containment_dedup_vs_stored,
            gram_index_n,
        )

        stored_n = gram_index_n(self.spark, table)
        if stored_n is not None and stored_n != n:
            raise ValueError(
                f"gram index {table} was built with n={stored_n}, search called with n={n}"
            )
        return containment_dedup_vs_stored(
            incoming, self.spark.table(table), text_col, id_col, n=n, **kw
        )

    def read(self, table: str) -> DataFrame | None:
        """Current contents of an append table: live per-file partitions plus
        the compacted region (if :meth:`compact` has run), LIVE WINS — a
        nombreArchivo present as a live partition shadows its compacted copy,
        which makes the read consistent in every compact crash window (rows
        briefly present in both regions resolve to the live copy) and keeps
        deliberate reprocesses visible (a re-written live partition beats the
        stale compacted rows until the next compact absorbs it).

        Additive schema evolution: a later file may carry columns earlier
        files lack (the reference tolerates extra input columns — V1's
        warn-only path). The LIVE region is read with ``mergeSchema`` — it
        only ever holds the recent, not-yet-compacted micro-batches, so the
        footer-merge cost is bounded by the compaction cadence, never by
        table size. The compacted region is written by a single job per
        version (one schema — the union of everything absorbed), so it
        needs no footer merge, and the two regions reconcile with
        ``unionByName(allowMissingColumns=True)`` (absent columns read as
        NULL)."""
        comp_version = self._current_compact_version(table)
        live = None
        # a table dir can exist with no data at all (an all-valid run writes
        # an empty errores table; compaction GCs every live partition) —
        # reading it would fail schema inference, so check for content first
        if self._exists(table) and self._has_data(table):
            live = self.spark.read.option("mergeSchema", "true").parquet(self.path(table))
        comp = None
        if comp_version is not None:
            comp = self.spark.read.parquet(self.path(comp_version))
            if "fecha" in comp.columns:
                comp = comp.drop("fecha")
        if live is None and comp is None:
            return None
        if comp is None:
            return live
        if live is None:
            return comp
        shadowed = sorted(self._live_partitions(table))
        comp = comp.filter(~F.col("nombreArchivo").isin(shadowed))
        return live.unionByName(comp, allowMissingColumns=True)

    # -- append sinks (K1/K2), idempotent per file ---------------------------
    def append_partitioned(self, df: DataFrame, table: str) -> None:
        # dynamic overwrite scoped to THIS write (session conf untouched):
        # re-running a file replaces only its own partition.
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .options(**_NO_SUCCESS_MARKER)
            .partitionBy("nombreArchivo")
            .parquet(self.path(table))
        )

    def append_rows(self, df: DataFrame, table: str, keys: list[str]) -> dict[str, int]:
        """:meth:`append_partitioned` for rows whose nombreArchivo is one of
        ``keys``, returning how many rows the write added to each key's
        partition. The counts are summed from the parquet footers of the
        files the write put there — driver-side metadata reads, no Spark
        job. Files that were there before the write belong to an earlier
        run: a write with no rows for a key leaves its old partition in
        place, and adds 0."""
        j = self._jclasses
        parts = {
            k: self._fs(os.path.join(self.path(table), f"nombreArchivo={j.escapePathName(k)}"))
            for k in keys
        }

        def files(fs, part) -> dict:
            if not fs.exists(part):
                return {}
            return {str(st.getPath().getName()): st for st in fs.listStatus(part)}

        before = {k: files(fs, part) for k, (fs, part, _) in parts.items()}
        self.append_partitioned(df, table)
        counts = dict.fromkeys(keys, 0)
        for k, (fs, part, _) in parts.items():
            for name, st in files(fs, part).items():
                if name in before[k] or not name.endswith(".parquet"):
                    continue
                reader = j.ParquetFileReader.open(j.HadoopInputFile.fromStatus(st, j.conf))
                try:
                    counts[k] += reader.getRecordCount()
                finally:
                    reader.close()
        return counts

    # -- one commit unit's upstream writes (K4 (1) and (2)) ------------------
    def write_upstream(
        self,
        stats: DataFrame,
        errores: DataFrame,
        visitors: DataFrame | None,
        keys: list[str],
        applied_key: str,
        process_date: str | None = None,
    ) -> tuple[dict[str, int], dict[str, int]]:
        """Run a commit unit's three upstream writes at once: the
        estadisticas and errores appends of ``keys`` (:meth:`append_rows`)
        on two pool threads, and the visitantes merge of ``visitors`` under
        ``applied_key`` on the calling thread, under its writer lease
        (``visitors=None`` skips the merge). At per-file sizes each write is
        mostly fixed cost (planning, job scheduling, the commit protocol),
        so the unit takes about as long as its slowest write, not the sum.

        The pool threads take the caller's local properties, the stream
        query's job group among them, so stopping the query cancels their
        jobs too. Returns the two appends' per-key row counts once all three
        writes have ended. If any failed, it raises the first failure in the
        order estadisticas, errores, merge, still only after all three have
        ended, so no control row is written while an upstream write runs."""
        # one wrap per thread: a wrap clones the caller's properties once,
        # and two threads sharing a clone would overwrite each other's SQL
        # execution id
        append = [inheritable_thread_target(self.spark)(self.append_rows) for _ in range(2)]
        merge_error = None
        with ThreadPoolExecutor(2) as pool:
            ok = pool.submit(append[0], stats, "estadisticas", keys)
            err = pool.submit(append[1], errores, "errores", keys)
            if visitors is not None:
                try:
                    self.merge_visitantes(visitors, process_date=process_date, applied_key=applied_key)
                except Exception as e:  # noqa: BLE001 — raised after the appends
                    merge_error = e
        ok_counts, err_counts = ok.result(), err.result()
        if merge_error is not None:
            raise merge_error
        return ok_counts, err_counts

    # -- small-file compaction (SURVEY §4.3: one parquet file per micro-batch
    #    otherwise) ----------------------------------------------------------
    def _live_partitions(self, table: str) -> set[str]:
        """nombreArchivo values present as live partition dirs (one FS list).

        Raises ValueError when the live region holds anything else that
        Spark reads (``bitacora``'s flat files, ``logs``' fecha dirs): such
        a table has no per-file partitions for :meth:`compact` to absorb and
        delete, so compacting it would leave every row live and add a
        compacted copy of each."""
        fs, hpath, _ = self._fs(self.path(table))
        if not fs.exists(hpath):
            return set()
        out = set()
        for st in fs.listStatus(hpath):
            name = str(st.getPath().getName())
            if name.startswith("nombreArchivo="):
                out.add(name.split("=", 1)[1])
            elif not name.startswith(("_", ".")):
                raise ValueError(
                    f"table {table!r} is not partitioned by nombreArchivo (holds {name!r}); "
                    "only per-file partitioned tables can be compacted"
                )
        return out

    def _current_compact_version(self, table: str) -> str | None:
        lines = self._read_pointer_text(self.path(f"{table}_compact_CURRENT"))
        return lines[0] if lines else None

    def compact(
        self,
        table: str,
        target_mb: int = 128,
        cluster_by: list[str] | None = None,
        drop_where: "Column | None" = None,
    ) -> dict:
        """Coalesce the per-file partitions of an append table into few
        date-bucketed parquet files (sized ~``target_mb``), keeping every row.

        ``append_partitioned`` writes one ``nombreArchivo=`` partition (≥1
        file) per ingested report — operationally right for idempotent
        re-runs, but at one micro-batch per file the table accretes thousands
        of tiny files and every scan pays per-file open cost. ``compact``
        rewrites live + previously-compacted rows into a new versioned
        compact dir (partitioned by ``fecha`` = ddMMyy of fechaEnvio when the
        table has one), atomically flips ``{table}_compact_CURRENT``, then
        GCs the absorbed live partitions and the pre-previous version. Crash
        at ANY point is safe because the read path resolves live-vs-compacted
        by LIVE WINS (see :meth:`read`): rows duplicated across regions in a
        crash window always resolve to one copy. Idempotent: a re-run with
        nothing new to absorb is a no-op.

        Returns {"version", "absorbed", "files"}. Raises ValueError, having
        written nothing, for a table not partitioned by nombreArchivo
        (``bitacora``, ``logs``; see :meth:`_live_partitions`).

        Holds the table's writer lease for the whole
        read-pointer→rewrite→flip→GC sequence: two concurrent compactions
        (or a compaction racing a ``forget`` erasure of the same table)
        would otherwise both compute version ``n+1``, interleave the
        pointer flip, and the loser's rewrite — possibly the erasure —
        would be silently dropped.
        """
        with self._lease(f"compact-{table}"):
            return self._compact_locked(
                table, target_mb=target_mb, cluster_by=cluster_by, drop_where=drop_where
            )

    def _compact_locked(
        self,
        table: str,
        target_mb: int = 128,
        cluster_by: list[str] | None = None,
        drop_where: "Column | None" = None,
    ) -> dict:
        import math

        live = sorted(self._live_partitions(table))
        prev = self._current_compact_version(table)
        if not live and prev is not None and drop_where is None:
            return {"version": prev, "absorbed": [], "files": 0}
        df = self.read(table)
        if df is None:
            return {"version": None, "absorbed": [], "files": 0}
        if drop_where is not None:
            # erasure rewrite (``forget``): matching rows vanish from the new
            # compacted region; the crash window between pointer flip and
            # live-partition GC can transiently resurrect them (live wins) —
            # re-running the same call is the remedy (idempotent).
            # NULL-safe: a predicate that evaluates to NULL (e.g.
            # email == 'x' on a NULL email — errores keeps rows that FAILED
            # email validation, so NULLs are expected there) must KEEP the
            # row, not silently drop it.
            df = df.filter(~F.coalesce(drop_where, F.lit(False)))

        # size the output: total bytes of both regions / target_mb
        fs, _, _ = self._fs(self.path(table))
        total = 0
        for p in ([self.path(table)] if live else []) + ([self.path(prev)] if prev else []):
            _, hp, _ = self._fs(p)
            if fs.exists(hp):
                total += fs.getContentSummary(hp).getLength()
        n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))

        n = int(prev.rsplit("_v", 1)[1]) + 1 if prev else 0
        version = f"{table}_compact_v{n}"
        if "fechaEnvio" in df.columns:
            out = df.withColumn("fecha", F.date_format(F.col("fechaEnvio"), "ddMMyy"))
            shaped = out.repartition(n_files, "fecha")
            if cluster_by:
                # keep the fecha dir layout; cluster rows inside each file
                shaped = shaped.sortWithinPartitions(*cluster_by)
            (
                shaped.write.mode("overwrite")
                .partitionBy("fecha")
                .parquet(self.path(version))
            )
        elif cluster_by:
            # OPTIMIZE ... ZORDER/CLUSTER BY: range-partition so each output
            # file owns a contiguous key range, sort inside files — parquet
            # footer min/max on the cluster columns become tight envelopes
            # and later scans with cluster-key predicates skip whole files.
            # (For multi-dim locality pass a z-value expression column, e.g.
            # operators.layout.zorder_value, as a materialized column.)
            (
                df.repartitionByRange(n_files, *cluster_by)
                .sortWithinPartitions(*cluster_by)
                .write.mode("overwrite")
                .parquet(self.path(version))
            )
        else:
            df.repartition(n_files).write.mode("overwrite").parquet(self.path(version))

        # atomic pointer flip (same protocol as the visitantes snapshot)
        self._publish_pointer(self.path(f"{table}_compact_CURRENT"), version)

        # GC: absorbed live partitions and the pre-previous compact version
        for fname in live:
            part = self._jclasses.Path(
                os.path.join(self.path(table), f"nombreArchivo={fname}")
            )
            if fs.exists(part):
                fs.delete(part, True)
        # retention sweep over the WHOLE version chain (not just n-2): any
        # compact version older than the newest `retention` is swept, so a
        # lowered retention takes effect on the next compaction and
        # leftovers from crashes or retention changes can't accrete
        cutoff = n - self.retention
        if cutoff >= 0:
            fs_root, root_path, _ = self._fs(self.root)
            if fs_root.exists(root_path):
                for st in fs_root.listStatus(root_path):
                    name = str(st.getPath().getName())
                    if not name.startswith(f"{table}_compact_v"):
                        continue
                    try:
                        idx = int(name.rsplit("_v", 1)[1])
                    except ValueError:
                        continue
                    if idx <= cutoff:
                        fs_root.delete(st.getPath(), True)
        return {"version": version, "absorbed": live, "files": n_files}

    # -- small-file helpers (pointer / manifests via Hadoop FS) --------------
    def _read_pointer_text(self, p: str) -> list[str] | None:
        """Read a pointer file published by :meth:`_publish_pointer` —
        through the commit backend's ``read`` primitive, matching the
        backend publish (ADVICE r8: a raw open() here would read 'no
        snapshot' on any non-local backend). The pointer must NOT
        round-trip through the Hadoop LocalFileSystem: its checksummed
        writer leaves a ``.crc`` sidecar that an ``os.replace`` publish
        doesn't update, and the next Hadoop read would fail the
        checksum. Manifests (``_buckets``/``_applied``) stay Hadoop-side
        end to end; only the pointer lives in the commit backend's
        world."""
        from pipeline_etl_website_visits_spark.operators import ledger

        txt = ledger.read_pointer(self._local(p))
        if txt is None:
            return None
        return [ln.strip() for ln in txt.splitlines() if ln.strip()]

    def _read_small_text(self, p: str) -> list[str] | None:
        """Non-blank lines of a manifest, read in one JVM call (the
        ``_applied`` manifest gains a line per committed file)."""
        fs, hpath, _ = self._fs(p)
        if not fs.exists(hpath):
            return None
        stream = fs.open(hpath)
        try:
            text = self._jclasses.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return [ln.strip() for ln in re.split(r"\r\n?|\n", text) if ln.strip()]

    def _write_small_text(self, p: str, content: str) -> None:
        self._write_small_file(p, content.encode("utf-8"))

    def _write_small_file(self, p: str, data: bytes) -> None:
        """Create (or overwrite) ``p`` holding ``data``, in one JVM write."""
        fs, hpath, _ = self._fs(p)
        out = fs.create(hpath, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    # -- visitantes snapshot (J2 target) -------------------------------------
    # Versioned snapshots + a pointer file: each merge writes a brand-new
    # version directory, then atomically repoints ``visitantes_CURRENT``. A
    # crash mid-write leaves the previous version intact and referenced — the
    # poor-man's table format (Delta/Iceberg replace this wholesale at
    # production scale, docs/SCALE.md).
    #
    # Incremental layout (the 100 TB mechanism — reference MERGE touched only
    # matched rows, utils/utils_load.py:43-84): rows live in hash-bucket
    # partition dirs ``bucket=<pmod(hash(email), N)>``; each version carries a
    # ``_buckets`` manifest mapping every bucket to the VERSION DIR that holds
    # its current data. A merge rewrites only the buckets containing batch
    # emails; untouched buckets are carried BY REFERENCE to earlier version
    # dirs — write amplification is ∝ touched-bucket bytes, not target size.
    # The pointer flip still publishes data + both manifests atomically.
    _POINTER = "visitantes_CURRENT"

    def _visitantes_pointer(self) -> list[str]:
        """Retained snapshot versions, current first ([] before the first
        publish)."""
        return self._read_pointer_text(self.path(self._POINTER)) or []

    def _current_visitantes_version(self) -> str | None:
        versions = self._visitantes_pointer()
        return versions[0] if versions else None

    def _bucket_col(self, n_buckets: int):
        return F.expr(_bucket_sql(n_buckets))

    def _visitantes_manifest(self, version: str) -> tuple[int, dict[int, str]]:
        """(n_buckets, {bucket -> version dir holding it}) of ``version``.
        Every publish writes ``_buckets`` before it flips the pointer, so a
        pointer-listed version without one is damage: fail loudly instead
        of rebuilding the snapshot from whatever the directory holds."""
        p = os.path.join(self.path(version), "_buckets")
        lines = self._read_small_text(p)
        if lines is None:
            raise FileNotFoundError(f"visitantes version {version!r} has no bucket manifest {p}")
        n_buckets = self.n_buckets
        refs: dict[int, str] = {}
        for line in lines:
            if line.startswith("n_buckets="):
                n_buckets = int(line.split("=", 1)[1])
            else:
                b, ver = line.split(" ", 1)
                refs[int(b)] = ver
        return n_buckets, refs

    def _visitantes_state(self) -> _Snapshot:
        """The pointer and the current version's manifests, read once per
        write (under the writer lease), before it writes anything."""
        versions = self._visitantes_pointer()
        if not versions:
            return _Snapshot([], self.n_buckets, {}, set())
        return _Snapshot(
            versions, *self._visitantes_manifest(versions[0]), self._applied_keys(versions[0])
        )

    def _read_refs(self, refs: dict[int, str], buckets: set[int] | None = None) -> DataFrame:
        """The rows of the bucket dirs ``refs`` names, or of those among
        ``buckets`` only. Leaf dirs from (possibly) different version roots
        are read as plain directories — bucket is derivable from email, not
        a data column."""
        if buckets is not None:
            refs = {b: v for b, v in refs.items() if b in buckets}
        if not refs:
            return _empty(self.spark, VISITANTES_SCHEMA)
        paths = [os.path.join(self.path(ver), f"bucket={b}") for b, ver in sorted(refs.items())]
        return self.spark.read.schema(VISITANTES_SCHEMA).parquet(*paths)

    def forget(self, email: str) -> dict:
        """GDPR erasure (right to be forgotten): remove every row for
        ``email`` from visitantes, estadisticas and errores, crash-safely.

        - **visitantes**: only the hash bucket holding the email is
          rewritten (same touched-bucket machinery as the merge); the
          bucket's manifest reference is dropped first so an
          emptied-to-zero bucket disappears instead of being carried by
          reference with the stale rows.
        - **append tables**: an erasure compaction
          (``compact(drop_where=email match)``) rewrites live + compacted
          rows without the matching ones, under the same versioned-pointer
          protocol.

        Idempotent — re-running after any crash completes the erasure (a
        crash between a compact pointer flip and its live-partition GC can
        transiently resurrect rows via live-wins; the re-run clears them).
        Returns {table: action} for the audit trail.
        """
        out: dict[str, str] = {}
        with self._lease("visitantes-writer"):
            out.update(self._forget_visitantes_locked(email))
        for t in ("estadisticas", "errores"):
            if self._exists(t) or self._current_compact_version(t) is not None:
                r = self.compact(t, drop_where=F.col("email") == email)
                out[t] = str(r["version"])
        return out

    def _forget_visitantes_locked(self, email: str) -> dict:
        snap = self._visitantes_state()
        if snap.current is None:
            return {}
        b = (
            self.spark.range(1)
            .selectExpr(f"{sql_string(email)} AS email")
            .selectExpr(f"{_bucket_sql(snap.n_buckets)} AS b")
            .collect()[0]["b"]
        )
        # null-safe inequality: NULL-email rows are untouched, not silently
        # erased (email <> 'x' is NULL on a NULL email)
        subset = self._read_refs(snap.refs, {b}).filter(~F.col("email").eqNullSafe(email))
        carried = {bb: v for bb, v in snap.refs.items() if bb != b}
        self._publish_visitantes(subset, snap, carried, applied_key=f"forget:{email}")
        return {"visitantes": f"bucket={b}"}

    def visitantes_versions(self) -> list[str]:
        """Snapshot versions still readable, oldest→current. Each publish
        trims the pointer to the newest ``retention`` versions and the GC
        keeps exactly those (plus any bucket dirs they carry by
        reference), so this is a bounded ``retention``-deep time-travel
        window — the same contract as a VACUUM'd lakehouse table, with
        the constructor's ``retention`` as the knob."""
        return list(reversed(self._visitantes_pointer()))

    def read_visitantes(
        self, buckets: set[int] | None = None, version: str | None = None
    ) -> DataFrame:
        """The current snapshot — or, with ``version`` (from
        :meth:`visitantes_versions`), a time-travel read of a retained
        earlier snapshot. ``buckets`` prunes the read to those bucket dirs
        only."""
        versions = self._visitantes_pointer()
        if version is None:
            version = versions[0] if versions else None
        elif version not in versions:
            raise ValueError(
                f"visitantes version {version!r} is not retained; "
                f"available: {list(reversed(versions))}"
            )
        if version is None:
            return _empty(self.spark, VISITANTES_SCHEMA)
        return self._read_refs(self._visitantes_manifest(version)[1], buckets)

    def visitantes_applied(self) -> set[str]:
        """Batch keys (file names / stream batch ids) already merged into the
        CURRENT snapshot. The merge is additive, so redo-safety comes from
        checking this set: a crash after the merge's pointer flip but before
        the bitacora marker must NOT re-apply the batch on the retry."""
        return self._applied_keys(self._current_visitantes_version())

    def _applied_keys(self, version: str | None) -> set[str]:
        """Batch keys merged into ``version``. Every publish writes
        ``_applied`` before it flips the pointer, so a pointer-listed version
        without one is damage: read as empty, it would let a redo merge an
        already-merged batch again."""
        if version is None:
            return set()
        p = os.path.join(self.path(version), "_applied")
        lines = self._read_small_text(p)
        if lines is None:
            raise FileNotFoundError(f"visitantes version {version!r} has no applied-keys manifest {p}")
        return set(lines)

    def visitantes_changes(self, include_same: bool = False) -> DataFrame:
        """Change data feed between the retained previous snapshot and the
        current one (the Delta/Iceberg CDF surface on the versioned-pointer
        protocol): one row per email whose consolidated record differs,
        classified insert / update / delete, with before/after counters.

        Deletes only ever come from :meth:`forget` (the merge is additive),
        so the feed doubles as the GDPR-erasure audit: a downstream
        consumer sees exactly which subjects vanished in the last publish.

        One full-outer join on email — the same key both snapshots are
        bucketed/partitioned on, so at scale the join is co-located
        (docs/SCALE.md); nothing but changed rows leave the join.
        """
        versions = self.visitantes_versions()
        cur = self.read_visitantes()
        if len(versions) < 2:
            prev = _empty(self.spark, VISITANTES_SCHEMA)
        else:
            prev = self.read_visitantes(version=versions[0])
        cols = [f.name for f in VISITANTES_SCHEMA.fields if f.name != "email"]
        o = prev.select(
            "email", F.lit(True).alias("__in_prev"),
            *[F.col(c).alias(f"{c}_before") for c in cols],
        )
        n = cur.select(
            "email", F.lit(True).alias("__in_cur"),
            *[F.col(c).alias(f"{c}_after") for c in cols],
        )
        j = o.join(n, "email", "full_outer")
        changed = [
            ~F.col(f"{c}_before").eqNullSafe(F.col(f"{c}_after")) for c in cols
        ]
        any_change = changed[0]
        for c in changed[1:]:
            any_change = any_change | c
        change = (
            F.when(F.col("__in_cur").isNull(), "delete")
            .when(F.col("__in_prev").isNull(), "insert")
            .when(any_change, "update")
            .otherwise("same")
        )
        out = j.select("email", change.alias("change_type"),
                       *[c2 for c in cols for c2 in (f"{c}_before", f"{c}_after")])
        if not include_same:
            out = out.filter(F.col("change_type") != "same")
        return out

    def merge_visitantes(
        self,
        source: DataFrame,
        process_date: str | None = None,
        applied_key: str | None = None,
    ) -> None:
        """Incremental J2 upsert: merge a (small) batch aggregate into the
        snapshot, rewriting ONLY the hash buckets that contain batch emails.

        The reference's MERGE touched only matched rows inside MySQL
        (utils/utils_load.py:43-84); a full-snapshot rewrite per batch is
        write amplification ∝ target size at 100 TB. Here the target subset
        read and the version write are both pruned to the touched buckets:
        per-batch cost is ∝ (touched buckets) ≈ |batch| × bucket size,
        independent of total snapshot size. Untouched buckets carry over by
        manifest reference, and the pointer flip keeps crash atomicity.

        Into an existing snapshot a merge runs two jobs: a global aggregate
        for the touched buckets, then the write, whose one shuffle per input
        serves both the join and the bucket layout (:meth:`_laid_out`). A
        first load has no target to prune, so it runs the write alone.
        """
        with self._lease("visitantes-writer"):
            self._merge_visitantes_locked(
                source, process_date=process_date, applied_key=applied_key
            )

    def _merge_visitantes_locked(
        self,
        source: DataFrame,
        process_date: str | None = None,
        applied_key: str | None = None,
    ) -> None:
        from pipeline_etl_website_visits_spark.operators.merge import visitantes_merge

        snap = self._visitantes_state()
        touched = None
        if snap.refs:
            # touched buckets: one global aggregate, ≤ n_buckets values back.
            # With no bucket refs (a first load) there is no target to
            # prune, so no job.
            touched = set(source.selectExpr(f"collect_set({_bucket_sql(snap.n_buckets)})").first()[0])
            if not touched:
                return
        target = self._read_refs(snap.refs, touched)
        merged = visitantes_merge(
            self._laid_out(target, snap.n_buckets),
            self._laid_out(source, snap.n_buckets),
            process_date=process_date,
        )
        version = self._write_version(merged, snap)
        if touched is None:
            touched = self._written_buckets(version)
            if not touched:
                # a first load with no rows: publish nothing
                fs, vdir, _ = self._fs(self.path(version))
                fs.delete(vdir, True)
                return
        # a merge writes exactly the buckets it touched: every touched
        # bucket holds a source row, and the target was pruned to them
        self._publish_version(version, snap, snap.refs, touched, applied_key)

    def write_visitantes(self, df: DataFrame, applied_key: str | None = None) -> None:
        """Full snapshot (re)write — initial load. The per-batch path is
        ``merge_visitantes`` (touched buckets only)."""
        with self._lease("visitantes-writer"):
            self._publish_visitantes(df, self._visitantes_state(), {}, applied_key=applied_key)

    def _laid_out(self, df: DataFrame, n_buckets: int) -> DataFrame:
        """``df`` hash-partitioned on email into m tasks, m the largest
        divisor of ``n_buckets`` within ``spark.sql.shuffle.partitions``.

        As m | ``n_buckets``, task ``pmod(hash(email), m)`` holds whole
        buckets (``bucket = pmod(hash(email), n_buckets)``), so the bucket
        write puts one file in each bucket dir. The merge lays out both join
        inputs: the shuffle that serves the join serves the layout too, and
        on an aggregate already partitioned this way (m equal to the shuffle
        partitions) Spark plans no shuffle at all. A NULL email hashes apart
        from its bucket (``''``); the merge's inputs carry none."""
        cap = min(n_buckets, int(self.spark.conf.get("spark.sql.shuffle.partitions")))
        m = max(d for d in range(1, cap + 1) if n_buckets % d == 0)
        return df.repartition(m, "email")

    def _publish_visitantes(
        self,
        df: DataFrame,
        snap: _Snapshot,
        carried: dict[int, str],
        applied_key: str | None,
    ) -> None:
        """Lay ``df`` out, write it as the version after ``snap`` and publish
        it, carrying ``carried`` entries whose bucket it does not hold."""
        version = self._write_version(self._laid_out(df, snap.n_buckets), snap)
        self._publish_version(version, snap, carried, self._written_buckets(version), applied_key)

    def _write_version(self, df: DataFrame, snap: _Snapshot) -> str:
        """Write ``df`` (laid out by :meth:`_laid_out`) into the bucket dirs
        of the version after ``snap``; returns that version's name."""
        n = int(snap.current.rsplit("_v", 1)[1]) + 1 if snap.current else 0
        version = f"visitantes_v{n}"
        out = df.withColumn("bucket", self._bucket_col(snap.n_buckets))
        (
            out.write.mode("overwrite")
            .options(**_NO_SUCCESS_MARKER)
            .partitionBy("bucket")
            .parquet(self.path(version))
        )
        return version

    def _written_buckets(self, version: str) -> set[int]:
        """The bucket dirs ``version``'s write materialized (one listing)."""
        fs, vdir, _ = self._fs(self.path(version))
        return {
            int(str(st.getPath().getName()).split("=", 1)[1])
            for st in fs.listStatus(vdir)
            if str(st.getPath().getName()).startswith("bucket=")
        }

    def _publish_version(
        self,
        version: str,
        snap: _Snapshot,
        carried: dict[int, str],
        written: set[int],
        applied_key: str | None,
    ) -> None:
        """Publish the written ``version``: its ``written`` buckets, plus
        ``carried`` entries for every other bucket by reference.

        Publish order (crash-safe): data dirs → ``_applied`` + ``_buckets``
        manifests inside the version dir → atomic pointer rewrite. A crash at
        any earlier point leaves the previous version intact and current.
        """
        applied = snap.applied | ({applied_key} if applied_key is not None else set())
        refs = {b: ver for b, ver in carried.items() if b not in written}
        refs.update({b: version for b in written})

        manifest_lines = [f"n_buckets={snap.n_buckets}"] + [
            f"{b} {ver}" for b, ver in sorted(refs.items())
        ]
        self._write_small_text(
            os.path.join(self.path(version), "_buckets"), "\n".join(manifest_lines) + "\n"
        )
        self._write_small_text(
            os.path.join(self.path(version), "_applied"),
            ("\n".join(sorted(applied)) + "\n") if applied else "",
        )
        # repoint through the commit backend (atomic overwrite — no
        # delete-to-rename gap). Line 1: current; then the predecessors
        # read_visitantes(version=...) serves, trimmed to the retention
        # window — carrying the old pointer's lines forward is what lets
        # retention > 2 keep the deeper history.
        retained = [version] + [v for v in snap.versions if v != version][: self.retention - 1]
        self._publish_pointer(self.path(self._POINTER), "\n".join(retained))
        self._gc_visitantes(retained, {version: refs, snap.current: snap.refs})

    def _gc_visitantes(self, retained: list[str], known: dict) -> None:
        """Delete version dirs referenced by no RETAINED version's manifest
        (each retained version is kept with its full reference closure, so
        a time-travel read of any pointer-listed version always serves —
        the retention window expressed over reference sets instead of
        consecutive numbering). ``known`` maps versions to the bucket refs
        already read, so their manifests are not read again."""
        keep = set(retained)
        for ver in retained:
            keep.update((known[ver] if ver in known else self._visitantes_manifest(ver)[1]).values())
        fs, root_path, _ = self._fs(self.root)
        if not fs.exists(root_path):
            return
        for st in fs.listStatus(root_path):
            name = str(st.getPath().getName())
            if name.startswith("visitantes_v") and name not in keep:
                fs.delete(st.getPath(), True)

    # -- per-file log trail (O6; reference utils/utils_flows.py:6-23 wrote
    #    logs/DDMMYY/<file>.log — here one structured parquet row per event,
    #    date-partitioned, so an operator debugging one bad file filters on
    #    nombreArchivo and gets the full stage trail) -----------------------
    def log_file_events(self, events: list[tuple[str, str, str, str]]) -> None:
        """Append (filename, stage, level, message) rows for one file's run.

        Buffered by the caller and written ONCE per file (one small parquet
        file, same cost profile as the bitacora marker — not one write per
        event). Partitioned by fecha (DDMMYY, in the session time zone)
        mirroring the reference's per-day log directories.
        """
        if not events:
            return
        now = self._now()
        # explicit per-flush sequence: every row of a flush shares one
        # fechaProceso, so the timestamp alone cannot order stages
        base_seq = int(now.timestamp() * 1000) * 1000  # flush epoch-ms, 1000 slots
        rows = [(f, e, lv, m, base_seq + i, now) for i, (f, e, lv, m) in enumerate(events)]
        self._append_control("logs", _LOGS_ROW_SCHEMA, rows, partition=f"fecha={now:%d%m%y}")

    def file_log(self, filename: str) -> DataFrame | None:
        """The per-file trail (all stages, ordered) — the O6 debugging view."""
        logs = self.read("logs")
        if logs is None:
            return None
        return logs.filter(F.col("nombreArchivo") == filename).orderBy("seq")

    # -- bitacora commit marker (K3, written last) ---------------------------
    def log_bitacora(self, rows: list[tuple[str, int, int, str]]) -> None:
        """Append (filename, ok_count, err_count, status) control rows as ONE
        file, so a micro-batch's markers land all together or not at all."""
        if not rows:
            return
        now = self._now()
        self._append_control("bitacora", BITACORA_SCHEMA, [(*r, now) for r in rows])

    def _now(self) -> datetime.datetime:
        """The driver clock's instant at its offset in
        ``spark.sql.session.timeZone``: the stamp ``current_timestamp()`` and
        ``current_date()`` would give. Spark resolves the zone, so every form
        the conf takes (region, offset, alias) works."""
        j = self._jclasses
        now = datetime.datetime.now(datetime.timezone.utc)
        zone = j.getZoneId(self.spark.conf.get("spark.sql.session.timeZone"))
        instant = j.Instant.ofEpochSecond(int(now.timestamp()))
        offset = zone.getRules().getOffset(instant).getTotalSeconds()
        return now.astimezone(datetime.timezone(datetime.timedelta(seconds=offset)))

    def _append_control(
        self, table: str, schema: StructType, rows: list[tuple], partition: str = ""
    ) -> None:
        """Append ``rows`` to ``table`` (into its ``partition`` dir, if
        given) as one new parquet part file, without a Spark job: encoded in
        driver memory, written under a hidden name in the table dir, which
        Spark's readers and :meth:`_has_data` skip, then renamed into view.
        A failure before the rename leaves no visible file."""
        data = _parquet_bytes(schema, rows)
        name = f"part-{uuid.uuid4()}.snappy.parquet"
        tmp = os.path.join(self.path(table), f".{name}.tmp")
        self._write_small_file(tmp, data)
        fs, htmp, _ = self._fs(tmp)
        dst = self._jclasses.Path(os.path.join(self.path(table), partition, name))
        fs.mkdirs(dst.getParent())
        if not fs.rename(htmp, dst):
            raise OSError(f"could not rename control file {tmp} to {dst}")

    def processed_files(self) -> set[str]:
        """Filenames with a completion marker (replaces the reference's
        missing already-processed filter, defect D13)."""
        b = self.read("bitacora")
        if b is None:
            return set()
        done = (
            b.filter(F.col("estatus").isin(*S.STATUS_DONE))
            .select("nombreArchivo")
            .distinct()
            .collect()
        )
        return {r[0] for r in done}
