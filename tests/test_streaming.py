"""Streaming-mode tests: visits file-stream ETL + event-time windows."""

import os

import pyspark.sql.functions as F

from pipeline_etl_website_visits_spark.etl.load import Warehouse
from pipeline_etl_website_visits_spark.streaming.events_stream import start_tumbling_to_memory
from pipeline_etl_website_visits_spark.streaming.visits_stream import start_visits_stream
from pipeline_etl_website_visits_spark.queries.registry import REGISTRY
from pipeline_etl_website_visits_spark.tables import load_table

from tests import fixtures as FX
from tests.conftest import SF_DIR


def test_visits_stream_matches_batch_semantics(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    FX.make_allvalid(str(in_dir))
    FX.make_mixed(str(in_dir))
    wh_root = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    q = start_visits_stream(
        spark, str(in_dir), wh_root, ckpt, process_date="2026-03-28", max_files_per_trigger=1
    )
    q.awaitTermination(120)

    wh = Warehouse(spark, wh_root)
    assert wh.read("estadisticas").count() == 170
    assert wh.read("errores").count() == 50
    bit = {r["nombreArchivo"]: r["estatus"] for r in wh.read("bitacora").collect()}
    assert bit["report_allvalid.txt"] == "Completado"
    assert bit["report_mixed.txt"] == "Completado con errores"
    vis = wh.read_visitantes()
    assert vis.filter(F.col("email") == "user0@example.com").first()["visitasTotales"] == 11

    # restart with same checkpoint: no files left => nothing re-processed
    q2 = start_visits_stream(
        spark, str(in_dir), wh_root, ckpt, process_date="2026-03-28", max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    assert wh.read("estadisticas").count() == 170
    assert vis.filter(F.col("email") == "user0@example.com").first()["visitasTotales"] == 11

    # new file arrives => incremental pickup
    FX.make_allvalid(str(in_dir), name="report_allvalid2.txt", n=10)
    q3 = start_visits_stream(
        spark, str(in_dir), wh_root, ckpt, process_date="2026-03-28", max_files_per_trigger=1
    )
    q3.awaitTermination(120)
    assert wh.read("estadisticas").count() == 180


def test_events_tumbling_stream_matches_batch(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    events_dir = str(tmp_path / "events")
    events.write.parquet(events_dir)
    ckpt = str(tmp_path / "ckpt_events")

    q = start_tumbling_to_memory(spark, events_dir, events.schema, ckpt, query_name="t_ev")
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in spark.sql("SELECT * FROM t_ev").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in REGISTRY["x32_events_tumbling_hour"].spark(spark, SF_DIR).collect()
    }
    assert got == batch


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """Structured Streaming's native session_window (30 min gap) produces the
    same (user, session count, per-session event counts) as the batch
    lag/cumsum sessionization (x33) when the whole table is drained."""
    import pyspark.sql.functions as F

    events = load_table(spark, SF_DIR, "events")
    events_dir = str(tmp_path / "events_sw")
    events.write.parquet(events_dir)

    stream = spark.readStream.schema(events.schema).parquet(events_dir)
    agg = (
        stream.withWatermark("ts", "100 days")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_sw")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r["user_id"], r["n_events"]) for r in spark.sql("SELECT user_id, n_events FROM t_sw").collect()
    )
    batch = sorted(
        (r["user_id"], r["n_events"])
        for r in REGISTRY["x33_events_sessionize"].spark(spark, SF_DIR).collect()
    )
    assert got == batch


def test_stateful_visitor_counters_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-email state persists across micro-batches
    (one file per trigger), final emitted totals match the batch aggregate."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    from pipeline_etl_website_visits_spark.streaming.stateful_visitors import visitor_state_stream

    schema = StructType(
        [StructField("email", StringType()), StructField("fechaEnvio", TimestampType())]
    )
    in_dir = tmp_path / "visits"
    in_dir.mkdir()
    import datetime

    T = datetime.datetime
    batch1 = [("a@x.com", T(2026, 3, 1, 10)), ("a@x.com", T(2026, 3, 2, 10)), ("b@x.com", T(2026, 3, 5, 9))]
    batch2 = [("a@x.com", T(2026, 2, 20, 8)), ("c@x.com", T(2026, 3, 9, 7))]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    out = visitor_state_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last emitted row per email = final state
    rows = spark.sql("SELECT * FROM t_state").collect()
    final = {}
    for r in rows:  # memory sink appends updates in emission order
        final[r["email"]] = r
    assert final["a@x.com"]["visitasTotales"] == 3
    assert final["a@x.com"]["fechaPrimeraVisita"] == datetime.date(2026, 2, 20)
    assert final["a@x.com"]["fechaUltimaVisita"] == datetime.date(2026, 3, 2)
    assert final["b@x.com"]["visitasTotales"] == 1
    assert final["c@x.com"]["visitasTotales"] == 1


def test_stream_dedup_within_watermark_drops_replays(spark, tmp_path):
    """A replayed (duplicated) slice of events is dropped by the streaming
    dedup: output ids are exactly the distinct input ids, each once."""
    from pipeline_etl_website_visits_spark.streaming.events_stream import start_dedup_to_memory

    events = load_table(spark, SF_DIR, "events").limit(500).cache()
    replayed = events.limit(200)  # same prefix re-delivered
    events_dir = str(tmp_path / "events_dup")
    events.write.parquet(events_dir)
    replayed.write.mode("append").parquet(events_dir)

    q = start_dedup_to_memory(
        spark, events_dir, events.schema, str(tmp_path / "ckpt_dedup"), query_name="t_dedup"
    )
    q.awaitTermination(120)

    out = spark.sql("SELECT event_id FROM t_dedup").collect()
    ids = [r["event_id"] for r in out]
    expected = {r["event_id"] for r in events.select("event_id").collect()}
    assert len(ids) == len(set(ids)), "duplicate event_id in deduped stream output"
    assert set(ids) == expected


def test_sliding_window_stream_matches_batch(spark, tmp_path):
    """Streaming sliding windows (1h / 15min, AvailableNow) produce exactly
    the batch x72 result — the overlap expansion and watermark bookkeeping
    change nothing about the final aggregates."""
    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        read_events_stream,
        sliding_window_value_sums,
    )

    events = load_table(spark, SF_DIR, "events")
    events_dir = str(tmp_path / "events_sw")
    events.write.parquet(events_dir)
    ckpt = str(tmp_path / "ckpt_sw")

    agg = sliding_window_value_sums(read_events_stream(spark, events_dir, events.schema))
    q = (
        agg.writeStream.format("memory")
        .queryName("t_sw")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["w_start"]: (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_sw").collect()
    }
    batch = {
        r["w_start"]: (r["n_events"], r["total_value"])
        for r in REGISTRY["x72_sliding_windows"].spark(spark, SF_DIR).collect()
    }
    assert got == batch


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static broadcast join: streamed events enriched with the
    static customer dim must aggregate to exactly the batch join's result."""
    from pipeline_etl_website_visits_spark.streaming.events_stream import start_enriched_to_memory

    events = load_table(spark, SF_DIR, "events")
    users = load_table(spark, SF_DIR, "customer")
    events_dir = str(tmp_path / "events_enr")
    events.write.parquet(events_dir)
    ckpt = str(tmp_path / "ckpt_enr")

    q = start_enriched_to_memory(spark, events_dir, events.schema, users, ckpt, query_name="t_enr")
    q.awaitTermination(120)

    got = {
        (r["c_mktsegment"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_enr").collect()
    }
    batch = {
        (r["c_mktsegment"], r["event_type"]): r["n_events"]
        for r in events.join(
            users.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"), "user_id"
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").cast("long").alias("n_events"))
        .collect()
    }
    assert got == batch and len(got) > 0


def test_stream_stream_attribution_matches_batch_join(spark, tmp_path):
    """The click→purchase stream-stream join (AvailableNow) must produce
    exactly the batch inner-join within the same 1-hour horizon."""
    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        start_attribution_to_memory,
    )

    events = load_table(spark, SF_DIR, "events").limit(2000).cache()
    events_dir = str(tmp_path / "events_attr")
    events.write.parquet(events_dir)

    q = start_attribution_to_memory(
        spark, events_dir, events.schema, str(tmp_path / "ckpt_attr"), query_name="t_attr"
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_id"], r["click_id"], r["lag_seconds"])
        for r in spark.sql("SELECT * FROM t_attr").collect()
    }

    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    want = {
        (
            r["purchase_id"],
            r["click_id"],
            int(r["pts"].timestamp()) - int(r["cts"].timestamp()),
        )
        for r in c.join(p, "user_id")
        .filter((F.col("pts") >= F.col("cts")) & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Streaming session windows == the same session_window agg in batch
    mode (dynamic window assembly survives micro-batching + watermarks)."""
    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        session_window_user_stats,
        start_sessions_to_memory,
    )

    events = load_table(spark, SF_DIR, "events").limit(3000).cache()
    events_dir = str(tmp_path / "events_sess")
    events.write.parquet(events_dir)

    q = start_sessions_to_memory(
        spark, events_dir, events.schema, str(tmp_path / "ckpt_sess"), query_name="t_sess"
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM t_sess").collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_window_user_stats(events).collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_stream_left_outer_emits_unmatched_clicks(spark, tmp_path):
    """left_outer attribution: inner rows still exactly match the batch
    join; unmatched clicks surface as null-purchase rows once the watermark
    passes their horizon — and ONLY genuinely unmatched ones do."""
    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        start_attribution_to_memory,
    )

    events = load_table(spark, SF_DIR, "events").limit(2000).cache()
    events_dir = str(tmp_path / "events_lo")
    # CONTIGUOUS time quartiles, one file each => the watermark advances
    # gradually BETWEEN batches and outer state can flush. (An interleaved
    # split would make batch 1 span the whole range, marking every later
    # batch late and dropping it wholesale.)
    from pyspark.sql import Window as W

    ev = events.withColumn("part", F.ntile(4).over(W.orderBy("ts")))
    for i in range(1, 5):
        ev.filter(F.col("part") == i).drop("part").coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    q = start_attribution_to_memory(
        spark,
        events_dir,
        events.schema,
        str(tmp_path / "ckpt_lo"),
        query_name="t_lo",
        watermark="30 minutes",
        join_type="left_outer",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM t_lo").collect()
    inner_got = {(r["purchase_id"], r["click_id"]) for r in rows if r["purchase_id"] is not None}
    outer_got = {r["click_id"] for r in rows if r["purchase_id"] is None}

    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    matched = c.join(p, "user_id").filter(
        (F.col("pts") >= F.col("cts")) & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR"))
    )
    inner_want = {(r["purchase_id"], r["click_id"]) for r in matched.collect()}
    assert inner_got == inner_want

    matched_clicks = {cid for _, cid in inner_want}
    all_clicks = {r["click_id"] for r in c.collect()}
    assert outer_got, "no outer rows emitted — watermark never flushed state"
    # every outer row is a genuinely unmatched click, emitted exactly once
    assert outer_got <= (all_clicks - matched_clicks)
    assert len(outer_got) == len([r for r in rows if r["purchase_id"] is None])


def test_transform_with_state_matches_classic_stateful(spark, tmp_path):
    """The Spark 4 transformWithState formulation (ValueState + RocksDB
    provider) accumulates identical per-email state to the classic
    applyInPandasWithState operator across micro-batches.

    transformWithState's Python state-server protocol rides on protobuf
    (pyspark's [connect] extra); without it the TWS driver worker cannot
    start, so this container skips — the applyInPandasWithState test above
    pins the identical fold semantics either way."""
    import pytest

    pytest.importorskip("google.protobuf")
    import datetime

    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    from pipeline_etl_website_visits_spark.streaming.stateful_visitors import (
        visitor_state_stream_tws,
    )

    schema = StructType(
        [StructField("email", StringType()), StructField("fechaEnvio", TimestampType())]
    )
    in_dir = tmp_path / "visits_tws"
    in_dir.mkdir()
    T = datetime.datetime
    batch1 = [("a@x.com", T(2026, 3, 1, 10)), ("a@x.com", T(2026, 3, 2, 10)), ("b@x.com", T(2026, 3, 5, 9))]
    batch2 = [("a@x.com", T(2026, 2, 20, 8)), ("c@x.com", T(2026, 3, 9, 7))]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(in_dir / "f2"))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = (
            visitor_state_stream_tws(stream)
            .writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    rows = spark.sql("SELECT * FROM t_tws").collect()
    final = {}
    for r in rows:  # memory sink appends updates in emission order
        final[r["email"]] = r
    assert final["a@x.com"]["visitasTotales"] == 3
    assert final["a@x.com"]["fechaPrimeraVisita"] == datetime.date(2026, 2, 20)
    assert final["a@x.com"]["fechaUltimaVisita"] == datetime.date(2026, 3, 2)
    assert final["b@x.com"]["visitasTotales"] == 1
    assert final["c@x.com"]["visitasTotales"] == 1


def test_stream_ingest_into_gram_index_exactly_once(spark, tmp_path):
    """Streaming corpus ingestion into the STORED gram index: two document
    files drain as two micro-batches into the bucketed index table; the
    result equals a from-scratch batch build over the full corpus; a
    replayed batch id (post-crash foreachBatch re-execution) is a no-op
    via the applied-key ledger; and dedup answered from the updated index
    sees the streamed docs."""
    from pipeline_etl_website_visits_spark.operators.dedup import (
        containment_dedup_vs_stored,
        save_gram_index,
    )
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        index_ingest_batch,
        start_index_ingest_stream,
        stream_key_prefix,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    day1 = docs.filter(F.col("doc_id") % 3 == 1)
    day2 = docs.filter(F.col("doc_id") % 3 == 2)

    table = "gramidx_stream_t"
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    try:
        save_gram_index(corpus, table, str(tmp_path / "idx"), "text", "doc_id", n=3)
        # two shard drops; coalesce(1) => one file each => one batch each
        day1.coalesce(1).write.parquet(str(in_dir / "shard1"))
        day2.coalesce(1).write.parquet(str(in_dir / "shard2"))
        q = start_index_ingest_stream(
            spark,
            str(in_dir) + "/*/",
            table,
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

        # streamed index == from-scratch batch build over the full corpus
        streamed = spark.table(table)
        ref_table = "gramidx_stream_ref"
        save_gram_index(docs, ref_table, str(tmp_path / "ref_idx"), "text", "doc_id", n=3)
        try:
            got = {tuple(r) for r in streamed.collect()}
            want = {tuple(r) for r in spark.table(ref_table).collect()}
            assert got == want
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {ref_table}")

        # crash-replay of an already-committed batch: ledger makes it a no-op
        # (same key namespace as the stream = its checkpoint-derived prefix;
        # batch ids are only unique within one checkpoint lineage)
        n_before = streamed.count()
        replay = index_ingest_batch(
            table, key_prefix=stream_key_prefix(str(tmp_path / "ckpt"))
        )
        replay(day1, 0)  # batch 0 = first drained shard
        assert spark.table(table).count() == n_before

        # dedup from the updated index: an exact copy of a streamed doc is
        # a full-containment duplicate
        probe = day1.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        hit = containment_dedup_vs_stored(probe, spark.table(table), "text", "doc_id", n=3)
        row = hit.collect()[0]
        assert row["containment"] == 1.0 and bool(row["dropped"])
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_dedup_gated_ingest_rejects_duplicate_shard(spark, tmp_path):
    """Dedup-then-ingest: shard 1 is novel and enters the index; shard 2
    re-delivers the SAME documents under new ids — every doc is a full-
    containment duplicate of the stored corpus, so the index gains
    nothing from it (beyond the batch's ledger marker)."""
    from pipeline_etl_website_visits_spark.operators.dedup import save_gram_index
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_index_ingest_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    day1 = docs.filter(F.col("doc_id") % 3 == 1)
    dup = day1.withColumn("doc_id", F.col("doc_id") + 5_000_000)  # re-crawl

    table = "gramidx_gated_t"
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    try:
        save_gram_index(corpus, table, str(tmp_path / "idx"), "text", "doc_id", n=3)
        # expected decision, computed against the PRE-stream index: day1
        # docs that are already >=0.99-contained in the corpus get gated
        from pipeline_etl_website_visits_spark.operators.dedup import (
            containment_dedup_vs_stored,
        )

        pre = containment_dedup_vs_stored(
            day1, spark.table(table), "text", "doc_id", n=3, threshold=0.99
        )
        expected_gated = {r["doc_id"] for r in pre.filter("dropped").collect()}
        day1_all = {r["doc_id"] for r in day1.select("doc_id").collect()}

        day1.coalesce(1).write.parquet(str(in_dir / "shard1"))
        q = start_index_ingest_stream(
            spark, str(in_dir) + "/*/", table, str(tmp_path / "ckpt"),
            dedup_threshold=0.99,
        )
        q.awaitTermination(120)
        n_after_novel = spark.table(table).count()
        idx_ids = {r["old_id"] for r in spark.table(table).select("old_id").distinct().collect()}
        # exactly the novel day1 docs entered; the pre-gated ones did not
        assert day1_all - expected_gated <= idx_ids
        assert not (expected_gated & idx_ids)

        dup.coalesce(1).write.parquet(str(in_dir / "shard2"))
        q = start_index_ingest_stream(
            spark, str(in_dir) + "/*/", table, str(tmp_path / "ckpt"),
            dedup_threshold=0.99,
        )
        q.awaitTermination(120)
        assert spark.table(table).count() == n_after_novel  # dup shard added 0 grams
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_ingest_mid_batch_death_converges_exactly_once(spark, tmp_path):
    """VERDICT r9 item 7: crash-inject the streamed ingestion's ledger
    commit — the sink dies BETWEEN the gram insert and the applied-key
    mark (the documented crash window), the stream restarts from its
    checkpoint, and with the dedup gate on the state converges to the
    batch present EXACTLY ONCE: no loss (every novel doc answers), no
    duplicate (the replay re-inserts nothing — each already-inserted doc
    is a perfect duplicate of itself and gets gated), marker finally
    lands."""
    import os

    from pipeline_etl_website_visits_spark.operators import ledger
    from pipeline_etl_website_visits_spark.operators.dedup import (
        _table_location,
        save_gram_index,
    )
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_index_ingest_stream,
        stream_key_prefix,
    )

    class DieAtMarker(ledger.LocalCommitBackend):
        """Raise ONCE on the first applied-key marker publish — the
        narrowest possible injection: the insert has committed, the
        marker has not (everything else, incl. lease traffic, flows)."""

        def __init__(self):
            self.armed = True

        def publish(self, path, payload):
            if self.armed and f"{os.sep}_applied{os.sep}" in path:
                self.armed = False
                raise OSError("injected mid-batch death before ledger mark")
            super().publish(path, payload)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    day1 = docs.filter(F.col("doc_id") % 3 == 1)

    table = "gramidx_crash_t"
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    prev = None
    try:
        save_gram_index(corpus, table, str(tmp_path / "idx"), "text", "doc_id", n=3)
        n_seed = spark.table(table).count()
        # expected exactly-once content, decided against the PRE-stream
        # index: day1 docs already >=0.99-contained in the seed corpus are
        # legitimately gated; everything else must end up present
        from pipeline_etl_website_visits_spark.operators.dedup import (
            containment_dedup_vs_stored,
        )

        pre = containment_dedup_vs_stored(
            day1, spark.table(table), "text", "doc_id", n=3, threshold=0.99
        )
        expected_gated = {r["doc_id"] for r in pre.filter("dropped").collect()}
        day1.coalesce(1).write.parquet(str(in_dir / "shard1"))

        prev = ledger.set_commit_backend(DieAtMarker())
        q = start_index_ingest_stream(
            spark, str(in_dir) + "/*/", table, ckpt, dedup_threshold=0.99
        )
        import pyspark.errors
        import pytest

        with pytest.raises(pyspark.errors.StreamingQueryException):
            q.awaitTermination(120)
            raise AssertionError("injected death never fired")

        # the true crash-window state: rows committed, marker absent
        spark.catalog.refreshTable(table)
        n_crashed = spark.table(table).count()
        assert n_crashed > n_seed, "insert should have committed before the death"
        key = f"{stream_key_prefix(ckpt)}_b0"
        loc = _table_location(spark, table)
        assert key not in ledger.applied_keys(os.path.join(loc, "_applied"))

        # restart the SAME checkpoint lineage (backend healed: armed=False)
        q = start_index_ingest_stream(
            spark, str(in_dir) + "/*/", table, ckpt, dedup_threshold=0.99
        )
        q.awaitTermination(120)
        spark.catalog.refreshTable(table)
        # no duplicate: the replay's gate dropped every already-inserted doc
        assert spark.table(table).count() == n_crashed
        # no loss: every novel (non-pre-gated) day1 doc's grams are present
        idx_ids = {r["old_id"] for r in spark.table(table).select("old_id").distinct().collect()}
        novel = {r["doc_id"] for r in day1.select("doc_id").collect()}
        assert (novel - expected_gated) <= idx_ids
        # ...and the marker finally landed
        assert key in ledger.applied_keys(os.path.join(loc, "_applied"))
    finally:
        if prev is not None:
            ledger.set_commit_backend(prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_vector_ingest_equals_full_rebuild(spark, tmp_path):
    """Streaming embedding shards drained into a stored IVF-PQ index give
    bit-identical search results to one full rebuild over everything, and
    a restarted drain with no new files appends nothing."""
    from pipeline_etl_website_visits_spark.operators.vector_index import (
        build_ivfpq_index,
        index_cell_stats,
        ivfpq_search,
    )
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_vector_ingest_stream,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 300)
    s1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    s2 = emb.filter(F.col("vec_id") >= 400)

    p_inc = str(tmp_path / "idx_inc")
    p_full = str(tmp_path / "idx_full")
    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    build_ivfpq_index(base, p_inc, num_coarse=4)
    s1.coalesce(1).write.parquet(str(in_dir / "s1"))
    s2.coalesce(1).write.parquet(str(in_dir / "s2"))
    q = start_vector_ingest_stream(
        spark, str(in_dir) + "/*/", p_inc, str(tmp_path / "ck")
    )
    q.awaitTermination(120)

    build_ivfpq_index(emb, p_full, num_coarse=4)
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(map(tuple, ivfpq_search(spark, p_inc, queries, k=5, nprobe=4).collect()))
    want = sorted(map(tuple, ivfpq_search(spark, p_full, queries, k=5, nprobe=4).collect()))
    assert got == want

    # re-drain with the same checkpoint: nothing new, nothing appended
    n = sum(r["n_vectors"] for r in index_cell_stats(spark, p_inc).collect())
    q2 = start_vector_ingest_stream(
        spark, str(in_dir) + "/*/", p_inc, str(tmp_path / "ck")
    )
    q2.awaitTermination(120)
    assert sum(r["n_vectors"] for r in index_cell_stats(spark, p_inc).collect()) == n


def test_stream_key_namespace_scopes_to_checkpoint(spark, tmp_path):
    """Batch ids are only unique within one checkpoint lineage: a SECOND
    stream (fresh checkpoint) delivering new files must append even
    though its batch ids restart at 0 — its ledger namespace differs —
    while intra-batch exact duplicates collapse under the gate."""
    from pipeline_etl_website_visits_spark.operators.dedup import save_gram_index
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_index_ingest_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    day1 = docs.filter(F.col("doc_id") % 3 == 1).limit(20)
    day2 = docs.filter(F.col("doc_id") % 3 == 2).limit(20)

    table = "gramidx_ns_t"
    try:
        save_gram_index(corpus, table, str(tmp_path / "idx"), "text", "doc_id", n=3)
        in1 = tmp_path / "in1"
        in1.mkdir()
        day1.coalesce(1).write.parquet(str(in1 / "shard"))
        q = start_index_ingest_stream(
            spark, str(in1) + "/*/", table, str(tmp_path / "ck1")
        )
        q.awaitTermination(120)
        n1 = spark.table(table).count()
        assert n1 > corpus.count() * 0  # day1 grams landed

        # a DIFFERENT lineage (fresh checkpoint dir) also starts at batch 0;
        # with a lineage-scoped namespace its batch must still append
        in2 = tmp_path / "in2"
        in2.mkdir()
        # the shard contains each doc TWICE: the gate's exact intra-batch
        # dedup must collapse the copies to one contribution
        day2.union(day2).coalesce(1).write.parquet(str(in2 / "shard"))
        q2 = start_index_ingest_stream(
            spark, str(in2) + "/*/", table, str(tmp_path / "ck2"),
            dedup_threshold=0.99,
        )
        q2.awaitTermination(120)
        n2 = spark.table(table).count()
        assert n2 > n1  # the second lineage's batch 0 was NOT mistaken for ck1's
        # each day2 doc contributed at most once (no doubled grams):
        per_doc = (
            spark.table(table)
            .groupBy("old_id", "gram")
            .count()
            .filter("count > 1")
            .count()
        )
        assert per_doc == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_search_serving_is_idempotent(spark, tmp_path):
    """Streamed query shards searched against the stored IVF-PQ index:
    results equal the batch search, and a re-drain from a FRESH
    checkpoint (batch ids restart, same files) overwrites its own
    batch partitions instead of duplicating rows — exactly-once output
    with no ledger, because search is a deterministic pure read."""
    from pipeline_etl_website_visits_spark.operators.vector_index import (
        build_ivfpq_index,
        ivfpq_search,
    )
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_vector_search_stream,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") < 300)
    qa = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 305))
    qb = emb.filter((F.col("vec_id") >= 305) & (F.col("vec_id") < 310))

    p = str(tmp_path / "sidx")
    build_ivfpq_index(corpus, p, num_coarse=4)
    in_dir = tmp_path / "q_in"
    in_dir.mkdir()
    qa.coalesce(1).write.parquet(str(in_dir / "qa"))
    qb.coalesce(1).write.parquet(str(in_dir / "qb"))
    out = str(tmp_path / "hits")

    q = start_vector_search_stream(
        spark, str(in_dir) + "/*/", p, out, str(tmp_path / "ck1"), k=5, nprobe=4
    )
    q.awaitTermination(120)

    got = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"])
        for r in ivfpq_search(
            spark, p, qa.union(qb), k=5, nprobe=4
        ).collect()
    )
    assert got == want and len(got) == 10 * 5

    # fresh checkpoint, same files: batch ids restart at 0 — the replay
    # must overwrite its own partitions, not append duplicates
    q2 = start_vector_search_stream(
        spark, str(in_dir) + "/*/", p, out, str(tmp_path / "ck2"), k=5, nprobe=4
    )
    q2.awaitTermination(120)
    again = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"])
        for r in spark.read.parquet(out).collect()
    )
    assert again == got


def test_timeout_sessions_finalize_and_evict(spark, tmp_path):
    """Event-time-timeout sessionization: sessions close ONLY when the
    watermark passes last-event + 30min idle gap; closed sessions emit
    exactly once (append mode) and their state is evicted; a
    still-active user emits nothing."""
    import datetime as dt

    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        timeout_sessions,
    )

    def rows(*specs):
        return [
            (uid, dt.datetime(2024, 1, 1, h, m)) for uid, h, m in specs
        ]

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    schema = "user_id long, ts timestamp"
    # batch 1: users 1 and 2 have early sessions
    spark.createDataFrame(
        rows((1, 10, 0), (1, 10, 5), (2, 10, 2)), schema
    ).coalesce(1).write.parquet(str(in_dir / "f1"))
    # batch 2: user 3 at 12:00 pushes the watermark (10min) to 11:50 —
    # past 10:35/10:32 + 30min idle, so users 1/2 finalize; user 3 stays open
    spark.createDataFrame(rows((3, 12, 0)), schema).coalesce(1).write.parquet(
        str(in_dir / "f2")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*/")
    )
    q = (
        timeout_sessions(stream)
        .writeStream.format("memory")
        .queryName("toutsess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM toutsess").collect()
    }
    assert set(got) == {1, 2}, got
    assert got[1] == (dt.datetime(2024, 1, 1, 10, 0), dt.datetime(2024, 1, 1, 10, 5), 2)
    assert got[2] == (dt.datetime(2024, 1, 1, 10, 2), dt.datetime(2024, 1, 1, 10, 2), 1)


def test_timeout_sessions_gap_split_before_timeout(spark, tmp_path):
    """A user's NEXT session can arrive before the previous one's timeout
    fires (hasTimedOut=False with data). The fold must split on the >30min
    event-time gap — not merge everything a key ever sends into one
    session. Covers: gap inside one batch, gap across batches, and the
    final open session staying in state (no emission)."""
    import datetime as dt

    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        timeout_sessions,
    )

    def rows(*specs):
        return [(uid, dt.datetime(2024, 1, 1, h, m)) for uid, h, m in specs]

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    schema = "user_id long, ts timestamp"
    # batch 1: user 1 session A (10:00-10:05), PLUS a same-batch second
    # session at 11:00 (55min gap) — intra-batch split
    spark.createDataFrame(
        rows((1, 10, 0), (1, 10, 5), (1, 11, 0)), schema
    ).coalesce(1).write.parquet(str(in_dir / "f1"))
    # batch 2: user 1 returns at 13:00 (2h gap from 11:00) — cross-batch
    # split; watermark (10min) reaches 12:50, past 11:00+30min, but the
    # split must hold even when data and timeout race
    spark.createDataFrame(rows((1, 13, 0), (1, 13, 2)), schema).coalesce(
        1
    ).write.parquet(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*/")
    )
    q = (
        timeout_sessions(stream)
        .writeStream.format("memory")
        .queryName("toutsess_gap")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM toutsess_gap").collect()
    )
    # sessions A and B finalized; C (13:00-13:02) still open -> not emitted
    assert got == [
        (dt.datetime(2024, 1, 1, 10, 0), dt.datetime(2024, 1, 1, 10, 5), 2),
        (dt.datetime(2024, 1, 1, 11, 0), dt.datetime(2024, 1, 1, 11, 0), 1),
    ], got


def test_timeout_sessions_rejects_non_utc_session(spark, tmp_path):
    """The event-time timeout epoch assumes a UTC session timezone; a
    non-UTC session must fail fast instead of silently shifting eviction."""
    import pytest

    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        timeout_sessions,
    )

    schema = "user_id long, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="timeZone"):
            timeout_sessions(stream)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_timeout_sessions_late_event_merges_backward(spark, tmp_path):
    """An out-of-order event (late but within the watermark) that belongs
    BEFORE the stored session must extend it backward via the interval
    merge — while a far-future event in the same batch still splits off
    a new session."""
    import datetime as dt

    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        timeout_sessions,
    )

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    schema = "user_id long, ts timestamp"
    # batch 1: user 1 at 10:00
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0))], schema
    ).coalesce(1).write.parquet(str(in_dir / "f1"))
    # batch 2: a late 09:50 event (watermark after batch 1 is 09:50, so it
    # is admissible) plus a 13:00 event proving the session closed
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 9, 50)), (1, dt.datetime(2024, 1, 1, 13, 0))],
        schema,
    ).coalesce(1).write.parquet(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*/")
    )
    q = (
        timeout_sessions(stream)
        .writeStream.format("memory")
        .queryName("toutsess_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM toutsess_late").collect()
    ]
    assert got == [
        (dt.datetime(2024, 1, 1, 9, 50), dt.datetime(2024, 1, 1, 10, 0), 2)
    ], got


def test_timeout_sessions_agree_with_native_session_window(spark, tmp_path):
    """Cross-engine parity for the round-7 gap-split fix: the custom
    stateful sessionizer's finalized sessions must equal Spark's native
    session_window aggregation (batch mode) over the same events —
    same starts, last-event ends (native end = last event + gap), same
    counts — for every session that a later event proves closed."""
    import datetime as dt

    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        session_window_user_stats,
        timeout_sessions,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in (1, 2, 3):
        for s in range(3):
            t0 = base + dt.timedelta(minutes=17 * u) + dt.timedelta(hours=2 * s)
            for off in (0, 5, 9):
                rows.append((u, t0 + dt.timedelta(minutes=off)))
    flush = [(u, base + dt.timedelta(days=1)) for u in (1, 2, 3)]
    ordered = sorted(rows, key=lambda r: r[1]) + flush

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    schema = "user_id long, ts timestamp"
    chunk = 5
    for i in range(0, len(ordered), chunk):
        spark.createDataFrame(ordered[i : i + chunk], schema).coalesce(
            1
        ).write.parquet(str(in_dir / f"f{i:03d}"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*/")
    )
    q = (
        timeout_sessions(stream)
        .writeStream.format("memory")
        .queryName("toutsess_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM toutsess_parity").collect()
    )

    # native session_window over the same (non-flush) events, batch mode;
    # its window end is last-event + gap — subtract the gap for parity
    batch = spark.createDataFrame(rows, schema).withColumn("value", F.lit(0.0))
    want = sorted(
        (
            r["user_id"],
            r["session_start"],
            r["session_end"] - dt.timedelta(minutes=30),
            r["n_events"],
        )
        for r in session_window_user_stats(batch).collect()
    )
    assert got == want and len(got) == 9, (got, want)


def test_timeout_sessions_late_event_bridges_unsealed_gap(spark, tmp_path):
    """The round-7 review counterexample: events at 10:00 and 10:31 look
    gap-separated, but the watermark (10:21 after batch 1) still admits a
    10:25 event that BRIDGES them. Emitting [10:00] on gap-proof alone
    would irrevocably split one true session into two; the sealed-by-
    watermark rule must hold it back and emit the single merged session."""
    import datetime as dt

    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        timeout_sessions,
    )

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    schema = "user_id long, ts timestamp"
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0)), (1, dt.datetime(2024, 1, 1, 10, 31))],
        schema,
    ).coalesce(1).write.parquet(str(in_dir / "f1"))
    # 10:25 is above the 10:21 watermark -> admissible; 13:00 seals it all
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 25)), (1, dt.datetime(2024, 1, 1, 13, 0))],
        schema,
    ).coalesce(1).write.parquet(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*/")
    )
    q = (
        timeout_sessions(stream)
        .writeStream.format("memory")
        .queryName("toutsess_bridge")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM toutsess_bridge").collect()
    ]
    assert got == [
        (dt.datetime(2024, 1, 1, 10, 0), dt.datetime(2024, 1, 1, 10, 31), 3)
    ], got


def test_timeout_sessions_randomized_parity_soak(spark, tmp_path):
    """Seeded randomized soak of the sealed sessionizer against native
    session_window: random users, random inter-event gaps (exact-gap
    boundaries excluded — session_window's half-open [ts, ts+gap) splits
    at exactly `gap` while an idle-gap sessionizer merges; every other
    diff must agree), chronological arrival across many micro-batches."""
    import datetime as dt
    import random

    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        session_window_user_stats,
        timeout_sessions,
    )

    rng = random.Random(20260815)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in (1, 2, 3, 4):
        t = base + dt.timedelta(minutes=rng.randrange(0, 60))
        for _ in range(rng.randrange(8, 15)):
            rows.append((u, t))
            # next diff: inside the gap (merge) or well past it (split),
            # never exactly 30min
            t += dt.timedelta(
                minutes=rng.choice(list(range(1, 30)) + list(range(31, 180)))
            )
    flush = [(u, base + dt.timedelta(days=2)) for u in (1, 2, 3, 4)]
    ordered = sorted(rows, key=lambda r: r[1]) + flush

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    schema = "user_id long, ts timestamp"
    chunk = 7
    for i in range(0, len(ordered), chunk):
        spark.createDataFrame(ordered[i : i + chunk], schema).coalesce(
            1
        ).write.parquet(str(in_dir / f"f{i:03d}"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*/")
    )
    q = (
        timeout_sessions(stream)
        .writeStream.format("memory")
        .queryName("toutsess_soak")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM toutsess_soak").collect()
    )
    batch = spark.createDataFrame(rows, schema).withColumn("value", F.lit(0.0))
    want = sorted(
        (
            r["user_id"],
            r["session_start"],
            r["session_end"] - dt.timedelta(minutes=30),
            r["n_events"],
        )
        for r in session_window_user_stats(batch).collect()
    )
    assert got == want and len(got) >= 8, (len(got), len(want))


def test_timeout_sessions_state_bounded_by_watermark_horizon():
    """VERDICT r7 item 6 — the sessionizer's state-bound CONTRACT as a
    test: per-key state holds exactly the unsealed sessions inside one
    watermark width, so a pathological user emitting forever keeps a
    BOUNDED array (<= ceil(watermark/gap) + 1), never one that grows
    with the stream. Driven as a unit fold over a fake GroupState (the
    state store is opaque through the query API), with the watermark
    advanced exactly as Spark does: batch N's watermark = max event time
    through batch N-1 minus the delay."""
    import datetime as dt

    import pandas as pd

    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        _session_fold,
    )

    GAP_MIN = 30
    WM_DELAY_MIN = 120  # 2h watermark
    # unsealed sessions fit one watermark-plus-gap window (a session
    # seals only when wm passes end + gap), and Spark's watermark lags
    # one batch (batch N uses max-through-N-1), which admits one more:
    # ceil(watermark/gap) + 2 with the adversarial gap+epsilon spacing
    BOUND = WM_DELAY_MIN // GAP_MIN + 2  # = 6

    class FakeGroupState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
            self.wm_ms = 0
            self.timeout_ms = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def getCurrentWatermarkMs(self):
            return self.wm_ms

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ms):
            assert ms > self.wm_ms, "timeout must be strictly above watermark"
            self.timeout_ms = ms

    def drive(spacing_min, n_events, max_state_sessions):
        st = FakeGroupState()
        t0 = dt.datetime(2024, 1, 1)
        emitted = []
        seen_max_ms = 0
        peak = 0
        for i in range(n_events):
            ts = t0 + dt.timedelta(minutes=i * spacing_min)
            st.wm_ms = max(seen_max_ms - WM_DELAY_MIN * 60_000, 0)
            pdf = pd.DataFrame({"ts": [pd.Timestamp(ts)]})
            for out in _session_fold((7,), [pdf], st):
                emitted.extend(out.to_dict("records"))
            seen_max_ms = max(seen_max_ms, int(pd.Timestamp(ts).value // 1_000_000))
            if st.exists:
                peak = max(peak, len(st.get[0]))
                assert len(st.get[0]) <= max_state_sessions, (
                    f"state grew to {len(st.get[0])} sessions at event {i}"
                )
        # drain: timeout firing with the watermark pushed past everything
        st.hasTimedOut = True
        st.wm_ms = seen_max_ms + 10 * WM_DELAY_MIN * 60_000
        for out in _session_fold((7,), [], st):
            emitted.extend(out.to_dict("records"))
        assert not st.exists, "state must be fully evicted after the drain"
        return emitted, peak

    # pathological splitter: every event gap+1min apart = every event its
    # own session; 200 events span ~4 days but state stays <= 5 sessions
    emitted, peak = drive(GAP_MIN + 1, 200, BOUND)
    assert len(emitted) == 200 and all(r["n_events"] == 1 for r in emitted)
    assert peak >= BOUND - 1, "test never reached the bound it claims to pin"
    # pathological merger: every event gap-1min apart = ONE ever-growing
    # session; state stays a single interval regardless of stream length
    emitted, peak = drive(GAP_MIN - 1, 200, 1)
    assert peak == 1
    assert len(emitted) == 1 and emitted[0]["n_events"] == 200


def test_vector_stream_mid_batch_death_converges_exactly_once(spark, tmp_path):
    """The vector twin of the gram crash golden: the vector-ingest sink
    dies between the codes append and the ledger mark; the restart
    replays the batch, whose skip_existing gate (round 9) anti-joins its
    own cells and re-inserts nothing — vector counts and search results
    converge to exactly-once."""
    import os

    import pytest

    from pipeline_etl_website_visits_spark.operators import ledger
    from pipeline_etl_website_visits_spark.operators.vector_index import (
        build_ivfpq_index,
        index_cell_stats,
        ivfpq_search,
    )
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_vector_ingest_stream,
        stream_key_prefix,
    )

    class DieAtMarker(ledger.LocalCommitBackend):
        armed = True

        def publish(self, path, payload):
            if self.armed and f"{os.sep}applied{os.sep}" in path:
                self.armed = False
                raise OSError("injected mid-batch death before ledger mark")
            super().publish(path, payload)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 300)
    shard = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    p = str(tmp_path / "vidx")
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    build_ivfpq_index(base, p, num_coarse=4)
    n_base = base.count()
    shard.coalesce(1).write.parquet(str(in_dir / "shard1"))

    prev = ledger.set_commit_backend(DieAtMarker())
    try:
        import pyspark.errors

        q = start_vector_ingest_stream(spark, str(in_dir) + "/*/", p, ckpt)
        with pytest.raises(pyspark.errors.StreamingQueryException):
            q.awaitTermination(120)
            raise AssertionError("injected death never fired")
        # crash-window state: codes landed, marker absent
        n_crashed = sum(r["n_vectors"] for r in index_cell_stats(spark, p).collect())
        assert n_crashed == n_base + 100
        key = f"{stream_key_prefix(ckpt)}_b0"
        assert key not in ledger.applied_keys(os.path.join(p, "applied"))

        # restart: the replay's gate re-inserts nothing; the marker lands
        q = start_vector_ingest_stream(spark, str(in_dir) + "/*/", p, ckpt)
        q.awaitTermination(120)
        assert sum(r["n_vectors"] for r in index_cell_stats(spark, p).collect()) == n_crashed
        assert key in ledger.applied_keys(os.path.join(p, "applied"))
        # searches answer over the exactly-once index
        qs = emb.filter(F.col("vec_id") < 3)
        assert len(ivfpq_search(spark, p, qs, k=5, nprobe=4).collect()) > 0
    finally:
        ledger.set_commit_backend(prev)


def test_ohlc_stream_matches_batch(spark, tmp_path):
    """Streamed OHLC bars == the batch x158 operator over the same rows
    (struct-argmin open/close folds incrementally in streaming state —
    the formulation a window-function OHLC could not stream)."""
    from pipeline_etl_website_visits_spark.streaming.events_stream import (
        start_ohlc_to_memory,
    )

    events = load_table(spark, SF_DIR, "events")
    events_dir = str(tmp_path / "events_ohlc")
    events.write.parquet(events_dir)
    ckpt = str(tmp_path / "ckpt_ohlc")

    q = start_ohlc_to_memory(spark, events_dir, events.schema, ckpt, query_name="t_ohlc")
    q.awaitTermination(120)

    got = {
        (r["event_type"], r["bucket_ts"]): (
            r["open_c"], r["high_c"], r["low_c"], r["close_c"], r["n_events"]
        )
        for r in spark.sql("SELECT * FROM t_ohlc").collect()
    }
    batch = {
        (r["event_type"], r["bucket_ts"]): (
            r["open_c"], r["high_c"], r["low_c"], r["close_c"], r["n_events"]
        )
        for r in REGISTRY["x158_ohlc_resample"].spark(spark, SF_DIR).collect()
    }
    assert got == batch and len(got) > 10


def test_stream_quality_gated_ingest_matches_batch_filter(spark, tmp_path):
    """Quality-gated streaming ingest: documents below the integer quality
    threshold never enter the index, and the streamed result equals a
    from-scratch batch build over the SAME certified-kernel filter —
    stream/batch parity for the quality gate."""
    from pipeline_etl_website_visits_spark.operators.dedup import save_gram_index
    from pipeline_etl_website_visits_spark.operators.text import quality_score_millis
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_index_ingest_stream,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    # pick a threshold strictly inside the batch's score range so the gate
    # provably both keeps and drops
    lo, hi = (
        docs.select(
            F.min(quality_score_millis(F.col("text"))).alias("lo"),
            F.max(quality_score_millis(F.col("text"))).alias("hi"),
        )
        .collect()[0]
    )
    assert lo < hi, "fixture corpus must have score spread"
    thr = (lo + hi + 1) // 2

    table = "gramidx_quality_t"
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    try:
        save_gram_index(
            docs.limit(0), table, str(tmp_path / "idx"), "text", "doc_id", n=3
        )
        docs.coalesce(1).write.parquet(str(in_dir / "shard1"))
        q = start_index_ingest_stream(
            spark,
            str(in_dir) + "/*/",
            table,
            str(tmp_path / "ckpt"),
            quality_threshold_millis=int(thr),
        )
        q.awaitTermination(120)

        kept_batch = docs.where(quality_score_millis(F.col("text")) >= int(thr))
        ref_table = "gramidx_quality_ref"
        save_gram_index(
            kept_batch, ref_table, str(tmp_path / "ref_idx"), "text", "doc_id", n=3
        )
        try:
            got = {tuple(r) for r in spark.table(table).collect()}
            want = {tuple(r) for r in spark.table(ref_table).collect()}
            assert got == want and len(got) > 0
            # the gate provably dropped someone (index stores ids as old_id)
            streamed_ids = {r["old_id"] for r in spark.table(table).select("old_id").distinct().collect()}
            all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
            assert streamed_ids < all_ids
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {ref_table}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_dsir_gated_ingest_matches_batch_filter(spark, tmp_path):
    """Frozen-weights DSIR gate on the streaming ingest: off-domain docs
    never enter the index; the streamed result equals a from-scratch
    batch build over the same dsir_scores_vs_weights filter."""
    from pipeline_etl_website_visits_spark.operators.dedup import save_gram_index
    from pipeline_etl_website_visits_spark.operators.text import (
        dsir_scores_vs_weights,
        save_dsir_weights,
    )
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_index_ingest_stream,
    )

    rows = [(i, "spark shuffle broadcast join plan exchange shuffle") for i in range(6)]
    rows += [(i, "cats dogs weather lunch picnic cats dogs weather") for i in range(6, 12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(0, "spark shuffle broadcast join exchange plan")], "tid long, text string"
    )
    wpath = str(tmp_path / "weights")
    save_dsir_weights(target, docs, wpath, buckets=64)

    table = "gramidx_dsir_t"
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    try:
        save_gram_index(docs.limit(0), table, str(tmp_path / "idx"), "text", "doc_id", n=3)
        docs.coalesce(1).write.parquet(str(in_dir / "shard1"))
        q = start_index_ingest_stream(
            spark,
            str(in_dir) + "/*/",
            table,
            str(tmp_path / "ckpt"),
            dsir_weights_path=wpath,
            # log-ratio scores here are all negative (tiny target sample);
            # the threshold sits between the two planted score levels
            # (-5.27M on-domain vs -13.66M off-domain)
            dsir_min_score_micro=-9_000_000,
        )
        q.awaitTermination(120)

        kept = docs.join(
            dsir_scores_vs_weights(docs, wpath)
            .where("score_micro >= -9000000")
            .select("doc_id"),
            "doc_id",
            "left_semi",
        )
        ref_table = "gramidx_dsir_ref"
        save_gram_index(kept, ref_table, str(tmp_path / "ref_idx"), "text", "doc_id", n=3)
        try:
            got = {tuple(r) for r in spark.table(table).collect()}
            want = {tuple(r) for r in spark.table(ref_table).collect()}
            assert got == want and len(got) > 0
            streamed_ids = {r["old_id"] for r in spark.table(table).select("old_id").distinct().collect()}
            assert streamed_ids == set(range(6))  # on-domain half only
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {ref_table}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_flat_vector_ingest_equals_full_rebuild(spark, tmp_path):
    """index_kind='ivfflat' (r12 lifecycle parity): streaming embedding
    shards drained into a stored IVF-Flat index give bit-identical search
    results to one full rebuild, and a restarted drain appends nothing."""
    from pipeline_etl_website_visits_spark.operators.vector_index import (
        build_ivfflat_index,
        ivfflat_cell_stats,
        ivfflat_search,
    )
    from pipeline_etl_website_visits_spark.streaming.corpus_stream import (
        start_vector_ingest_stream,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 300)
    s1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    s2 = emb.filter(F.col("vec_id") >= 400)

    p_inc = str(tmp_path / "fidx_inc")
    p_full = str(tmp_path / "fidx_full")
    in_dir = tmp_path / "femb_in"
    in_dir.mkdir()
    build_ivfflat_index(base, p_inc, num_coarse=4)
    s1.coalesce(1).write.parquet(str(in_dir / "s1"))
    s2.coalesce(1).write.parquet(str(in_dir / "s2"))
    q = start_vector_ingest_stream(
        spark, str(in_dir) + "/*/", p_inc, str(tmp_path / "fck"), index_kind="ivfflat"
    )
    q.awaitTermination(120)

    build_ivfflat_index(emb, p_full, num_coarse=4)
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(map(tuple, ivfflat_search(spark, p_inc, queries, k=5).collect()))
    want = sorted(map(tuple, ivfflat_search(spark, p_full, queries, k=5).collect()))
    assert got == want

    n = sum(r["n_vectors"] for r in ivfflat_cell_stats(spark, p_inc).collect())
    q2 = start_vector_ingest_stream(
        spark, str(in_dir) + "/*/", p_inc, str(tmp_path / "fck"), index_kind="ivfflat"
    )
    q2.awaitTermination(120)
    assert sum(r["n_vectors"] for r in ivfflat_cell_stats(spark, p_inc).collect()) == n


def test_visits_stream_batch_caches_nothing(spark, tmp_path, monkeypatch):
    """A micro-batch's bitacora counts come back from its two appends: the
    batch body caches nothing and runs no per-file count of its own."""
    from pyspark.sql.classic.dataframe import DataFrame

    cached = []
    for attr in ("cache", "persist"):
        real = getattr(DataFrame, attr)

        def record(self, *args, _real=real, _attr=attr, **kwargs):
            cached.append(_attr)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(DataFrame, attr, record)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    FX.make_allvalid(str(in_dir))
    FX.make_mixed(str(in_dir))
    FX.make_badlayout(str(in_dir))
    wh_root = str(tmp_path / "wh")
    q = start_visits_stream(
        spark, str(in_dir), wh_root, str(tmp_path / "ckpt"), process_date="2026-03-28",
        max_files_per_trigger=3,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert cached == []
    bit = {
        r["nombreArchivo"]: (r["registrosExitosos"], r["registrosFallidos"], r["estatus"])
        for r in Warehouse(spark, wh_root).read("bitacora").collect()
    }
    assert bit == {
        "report_allvalid.txt": (100, 0, "Completado"),
        "report_mixed.txt": (70, 50, "Completado con errores"),
        "report_badlayout.txt": (0, 0, "FALLO_LAYOUT"),
    }


def test_visits_stream_batch_runs_one_job_of_its_own(spark, tmp_path, monkeypatch, job_groups):
    """Outside its Warehouse calls, a micro-batch body runs one job: the
    collect of its file paths, which also tells an empty batch. Jobs are
    told apart by job group, because the upstream writes overlap. Adaptive
    execution is off, as in the bench profile: with it on, the collect's
    shuffle stage runs as a job of its own."""
    from pipeline_etl_website_visits_spark.streaming import visits_stream

    job_groups.mark("append_rows", "merge_visitantes", "visitantes_applied",
                    "processed_files", "log_bitacora")
    spans = []
    make_body = visits_stream._process_micro_batch

    def measured(warehouse, process_date):
        body = make_body(warehouse, process_date)

        def inner(batch_df, batch_id):
            j0 = job_groups.next_job()
            try:
                return body(batch_df, batch_id)
            finally:
                spans.append((j0, job_groups.next_job()))

        return inner

    monkeypatch.setattr(visits_stream, "_process_micro_batch", measured)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    FX.make_allvalid(str(in_dir))
    FX.make_mixed(str(in_dir))
    FX.make_badlayout(str(in_dir))
    wh_root = str(tmp_path / "wh")
    empty = spark.range(0).selectExpr("'' AS __path", "'' AS nombreArchivo")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = start_visits_stream(
            spark, str(in_dir), wh_root, str(tmp_path / "ckpt"), process_date="2026-03-28",
            max_files_per_trigger=2,
        )
        q.awaitTermination(120)
        # an empty batch runs that one job and writes nothing
        body = make_body(Warehouse(spark, str(tmp_path / "wh_empty")), "2026-03-28")
        j0 = job_groups.next_job()
        body(empty, 0)
        empty_jobs = job_groups.next_job() - j0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert q.exception() is None
    assert len(spans) == 2
    assert [job_groups.outside(j0, j1) for j0, j1 in spans] == [1, 1]
    assert empty_jobs == 1
    assert not os.path.exists(tmp_path / "wh_empty")
    bit = {r["nombreArchivo"]: r["estatus"] for r in Warehouse(spark, wh_root).read("bitacora").collect()}
    assert bit == {
        "report_allvalid.txt": "Completado",
        "report_mixed.txt": "Completado con errores",
        "report_badlayout.txt": "FALLO_LAYOUT",
    }
