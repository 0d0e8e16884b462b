"""Streaming determinism tests (SURVEY.md §5.5): fixture replay through
real micro-batches (availableNow), asserting final state. No oracle
exists for streaming — these pin the semantics."""

from __future__ import annotations

import shutil
from datetime import date
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from aprsdb_spark.streaming import ingest as S

FIXTURES = Path(__file__).parent / "fixtures" / "aprs"


def _stage(tmp_path, name):
    """File-stream sources need a directory, not a file."""
    d = tmp_path / "in"
    d.mkdir(exist_ok=True)
    shutil.copy(FIXTURES / name, d / name)
    return str(d)


def _drain(df, checkpoint, mode="append", name="sink"):
    q = (
        df.writeStream.option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.awaitTermination()
    return q


def test_dedup_30s(spark, tmp_path):
    lines = S.read_packet_lines(spark, _stage(tmp_path, "dupes_30s.txt"))
    deduped = S.dedup_30s(S.parsed_packet_stream(lines))
    _drain(deduped.select("src", "payload", "recv_ts"), tmp_path / "ck", name="dedup_sink")
    out = spark.sql("SELECT * FROM dedup_sink").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.src, []).append(r.recv_ts)
    # 10 stations x 5 frames: dups at +5s/+29s MUST drop (within 30 s of
    # the kept frame); the +45s repeat is legitimately new; +50s dups it.
    assert len(by_src) == 10
    assert all(len(v) <= 2 for v in by_src.values()), by_src
    assert len(out) >= 10  # first frame per station always survives


def test_tumbling_counts(spark, tmp_path):
    lines = S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
    counts = S.packets_per_station(S.parsed_packet_stream(lines))
    _drain(counts, tmp_path / "ck", mode="complete", name="tumble_sink")
    rows = spark.sql("SELECT * FROM tumble_sink").collect()
    # 200 packets, 20 stations, 36 s apart => exactly 2 hours of data
    assert sum(r.n_packets for r in rows) == 200
    assert {r.src for r in rows} and all(r.n_packets > 0 for r in rows)
    hours = {r.w_start for r in rows}
    assert len(hours) == 2


def test_session_windows(spark, tmp_path):
    lines = S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
    sessions = S.station_sessions(S.parsed_packet_stream(lines), gap="30 minutes")
    _drain(sessions, tmp_path / "ck", mode="complete", name="sess_sink")
    rows = spark.sql("SELECT * FROM sess_sink").collect()
    # each station beacons every 12 min (20 stations x 36 s spacing) —
    # one unbroken session per station
    assert len(rows) == 20
    assert sum(r.n_packets for r in rows) == 200


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two micro-batch runs over one checkpoint: rows older than the
    persisted watermark are dropped on the second run."""
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    ck = tmp_path / "ck"
    base = 1704067200000
    hour = 3600_000

    def fline(ms, i):
        return f"{ms}\tLATE{i}>APRS,qAR,G:>status {i}\n"

    # batch 1: two hours of data -> watermark lands at ~max - 10 min
    (src_dir / "a.txt").write_text("".join(fline(base + i * hour, i) for i in range(3)))
    counts = S.packets_per_station(
        S.parsed_packet_stream(S.read_packet_lines(spark, str(src_dir)))
    )
    # memory sink can't recover a checkpoint; foreachBatch can — and
    # update mode is required anyway (complete mode never drops late rows)
    emitted: list = []

    def run_once():
        counts = S.packets_per_station(
            S.parsed_packet_stream(S.read_packet_lines(spark, str(src_dir)))
        )
        q = (
            counts.writeStream.option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .outputMode("update")
            .foreachBatch(lambda b, i: emitted.extend(b.collect()))
            .start()
        )
        q.awaitTermination()

    run_once()
    assert sum(r.n_packets for r in emitted) == 3

    # batch 2: one fresh row + one row 2 h older than the watermark
    (src_dir / "b.txt").write_text(
        fline(base + 3 * hour, 99) + fline(base - 2 * hour, 98)
    )
    emitted.clear()
    run_once()
    srcs = {r.src for r in emitted}
    assert "LATE99" in srcs  # fresh row aggregated
    assert "LATE98" not in srcs  # late row dropped by the persisted watermark


def test_foreachbatch_station_upsert(spark, tmp_path):
    stations_dir = str(tmp_path / "stations")
    lines = S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
    parsed = S.parsed_packet_stream(lines)
    q = (
        parsed.writeStream.option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .foreachBatch(lambda b, i: S.upsert_stations_sink(b, i, stations_dir))
        .start()
    )
    q.awaitTermination()
    stations = spark.read.parquet(stations_dir)
    rows = {r.src: r for r in stations.collect()}
    assert len(rows) == 20
    assert sum(r.n_packets for r in rows.values()) == 200
    assert all(r.last_lat is not None for r in rows.values())

    # idempotent-upsert shape: a second replay over a NEW checkpoint
    # merges (counts add, last_heard keeps max)
    q2 = (
        S.parsed_packet_stream(
            S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
        )
        .writeStream.option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .foreachBatch(lambda b, i: S.upsert_stations_sink(b, i, stations_dir))
        .start()
    )
    q2.awaitTermination()
    again = {r.src: r for r in spark.read.parquet(stations_dir).collect()}
    assert sum(r.n_packets for r in again.values()) == 400


def test_foreachbatch_replay_is_idempotent(spark, tmp_path):
    """At-least-once → effectively-once: re-delivering the SAME
    (run_key, batch_id) must be a no-op, a LATER batch_id on the same
    run_key must apply, and a different run_key (deliberate
    reprocessing) must apply."""
    stations_dir = str(tmp_path / "stations")
    lines = S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
    parsed = S.parsed_packet_stream(lines)
    q = (
        parsed.writeStream.option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .foreachBatch(lambda b, i: S.upsert_stations_sink(b, i, stations_dir, run_key="ck"))
        .start()
    )
    q.awaitTermination()
    first = sum(r.n_packets for r in spark.read.parquet(stations_dir).collect())
    assert first == 200

    # crash-replay: same run_key, same batch_id (foreachBatch re-delivery),
    # simulated with a static frame of the same fixture
    replay = spark.read.text(_stage(tmp_path, "pos_uncompressed.txt"))
    parts = F.split(F.col("value"), "\t", 2)
    replay_parsed = S.parse_packets(
        replay.select(
            F.timestamp_millis(F.try_element_at(parts, F.lit(1)).try_cast("long")).alias(
                "recv_ts"
            ),
            F.try_element_at(parts, F.lit(2)).alias("raw"),
        ),
        recv_ts_col="recv_ts",
    )
    S.upsert_stations_sink(replay_parsed, 0, stations_dir, run_key="ck")
    assert sum(r.n_packets for r in spark.read.parquet(stations_dir).collect()) == first

    # a LATER batch on the same run_key applies
    S.upsert_stations_sink(replay_parsed, 1, stations_dir, run_key="ck")
    assert sum(r.n_packets for r in spark.read.parquet(stations_dir).collect()) == 2 * first

    # a different run_key (fresh checkpoint == deliberate reprocess) applies
    S.upsert_stations_sink(replay_parsed, 0, stations_dir, run_key="ck2")
    assert sum(r.n_packets for r in spark.read.parquet(stations_dir).collect()) == 3 * first


def test_kafka_source_wiring(spark):
    """No broker or connector jar in this container: the wrapper must at
    least drive source resolution to the kafka DataSource lookup (the
    error names it). If a connector IS present, assert the output
    contract instead."""
    try:
        df = S.read_kafka_lines(spark, "broker:9092", "aprs", starting_offsets="earliest")
    except Exception as e:
        assert "kafka" in str(e).lower(), f"failed before kafka source resolution: {e!r}"
    else:
        assert [f.name for f in df.schema.fields] == ["recv_ts", "raw"]
        assert df.schema["recv_ts"].dataType.typeName() == "timestamp"
        assert df.isStreaming


def test_stream_stream_msg_ack(spark, tmp_path):
    lines = S.read_packet_lines(spark, _stage(tmp_path, "msgs_acks.txt"))
    joined = S.message_ack_stream(S.parsed_packet_stream(lines))
    _drain(joined, tmp_path / "ck", name="ack_sink")
    rows = spark.sql("SELECT * FROM ack_sink").collect()
    # 15 messages; i % 3 != 0 got an ack 3 s later -> 10 correlated pairs
    assert len(rows) == 10
    assert all(r.ack_ts >= r.sent_ts for r in rows)


def test_stateful_station_state(spark, tmp_path):
    """applyInPandasWithState: per-station running state across TWO
    micro-batch runs sharing a checkpoint — counts accumulate in the
    state store, not by re-reading old data."""
    from aprsdb_spark.streaming.stateful import station_state_stream

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    ck = tmp_path / "ck"
    captured: dict = {}

    def run():
        lines = S.read_packet_lines(spark, str(src_dir))
        out = station_state_stream(S.parsed_packet_stream(lines))
        q = (
            out.writeStream.option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .outputMode("update")
            .foreachBatch(
                lambda b, i: captured.update({r.src: r for r in b.collect()})
            )
            .start()
        )
        q.awaitTermination()

    base = 1704067200000
    pos = "!4700.50N/12201.75W-x"
    (src_dir / "a.txt").write_text(
        f"{base}\tSTA1>APRS,qAR,G:{pos}\n{base + 1000}\tSTA2>APRS,qAR,G:>status\n"
    )
    run()
    assert captured["STA1"].n_packets == 1
    assert captured["STA1"].last_lat is not None
    assert captured["STA2"].last_lat is None

    (src_dir / "b.txt").write_text(
        f"{base + 60_000}\tSTA1>APRS,qAR,G:{pos}\n{base + 61_000}\tSTA1>APRS,qAR,G:>s2\n"
    )
    run()
    assert captured["STA1"].n_packets == 3  # state carried across runs


def test_sliding_rate(spark, tmp_path):
    lines = S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
    rate = S.sliding_rate(S.parsed_packet_stream(lines), "10 minutes", "5 minutes")
    _drain(rate, tmp_path / "ck", mode="complete", name="slide_sink")
    rows = spark.sql("SELECT * FROM slide_sink ORDER BY w_start").collect()
    # 2h of data, 10-min windows sliding every 5 -> ~25 overlapping windows;
    # every packet lands in exactly 2 windows
    assert sum(r.n_packets for r in rows) == 400
    assert len(rows) >= 24


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static join: per-batch re-read of the stations dimension."""
    stations_dir = str(tmp_path / "stations")
    lines = S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
    parsed = S.parsed_packet_stream(lines)
    q = (
        parsed.writeStream.option("checkpointLocation", str(tmp_path / "ck0"))
        .trigger(availableNow=True)
        .foreachBatch(lambda b, i: S.upsert_stations_sink(b, i, stations_dir))
        .start()
    )
    q.awaitTermination()

    dim = spark.read.parquet(stations_dir)
    lines2 = S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
    enriched = S.enrich_with_stations(S.parsed_packet_stream(lines2), dim)
    _drain(
        enriched.select("src", "recv_ts", "prev_last_heard", "prev_n_packets"),
        tmp_path / "ck1",
        name="enrich_sink",
    )
    rows = spark.sql("SELECT * FROM enrich_sink").collect()
    assert len(rows) == 200
    assert all(r.prev_n_packets == 10 for r in rows)  # dim had 10 pkts/station


def test_parquet_append_sink(spark, tmp_path):
    """writeStream parquet sink: the collector's immutable packets log."""
    out_dir = str(tmp_path / "packets_log")
    lines = S.read_packet_lines(spark, _stage(tmp_path, "pos_uncompressed.txt"))
    parsed = S.parsed_packet_stream(lines).select(
        "raw", "recv_ts", "src", "fmt", "latitude", "longitude"
    )
    q = (
        parsed.writeStream.option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    log = spark.read.parquet(out_dir)
    assert log.count() == 200
    assert log.where(F.col("latitude").isNotNull()).count() == 200


def test_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas: power-of-two packet-count threshold
    crossings per station, state persisted across two checkpointed runs
    (RocksDB state store)."""
    # The tws python driver worker needs protobuf, absent in this
    # container. Verified again in r7: `import google.protobuf` raises
    # ModuleNotFoundError, and the environment policy forbids package
    # installs (no pip/apt), so the gap cannot be closed in-session —
    # the skip stays declared rather than silently passing a stub.
    pytest.importorskip("google.protobuf", reason="transformWithState needs protobuf")
    from aprsdb_spark.streaming.tws import rate_threshold_stream

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src_dir = tmp_path / "in"
        src_dir.mkdir()
        ck = tmp_path / "ck"
        emitted: list = []

        def run():
            lines = S.read_packet_lines(spark, str(src_dir))
            out = rate_threshold_stream(S.parsed_packet_stream(lines))
            q = (
                out.writeStream.option("checkpointLocation", str(ck))
                .trigger(availableNow=True)
                .outputMode("append")
                .foreachBatch(lambda b, i: emitted.extend(b.collect()))
                .start()
            )
            q.awaitTermination()

        base = 1704067200000
        (src_dir / "a.txt").write_text(
            "".join(f"{base + i * 1000}\tTWS1>APRS,qAR,G:>s{i}\n" for i in range(3))
        )
        run()
        # counts 1,2,3 -> crossings at 1 and 2
        assert sorted(r.threshold_crossed for r in emitted if r.src == "TWS1") == [1, 2]

        (src_dir / "b.txt").write_text(
            "".join(f"{base + (10 + i) * 1000}\tTWS1>APRS,qAR,G:>t{i}\n" for i in range(3))
        )
        emitted.clear()
        run()
        # counts 4,5,6 continuing from persisted state -> crossing at 4 only
        assert sorted(r.threshold_crossed for r in emitted if r.src == "TWS1") == [4]
    finally:
        if old:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_incremental_rollup_sink_matches_batch_recompute(spark, tmp_path):
    """Streaming IVM: replaying the event stream through the rollup
    sink in TWO file micro-batches must leave exactly the state a
    one-shot batch aggregate computes — the j_incremental_agg contract
    (state ⊕ delta == full recompute) exercised through real
    foreachBatch micro-batches. Also re-applies a duplicate batch under
    the same run_key to prove the replay guard holds for sums."""
    import os

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        F.expr("CAST(ts AS DATE)").alias("day"), "value", "event_id"
    )
    half = src.where(F.col("event_id") % 2 == 0)
    rest = src.where(F.col("event_id") % 2 == 1)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    half.coalesce(1).write.parquet(str(in_dir / "b0"))
    state_dir = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    stream = spark.readStream.schema(src.schema).parquet(str(in_dir) + "/*")

    def drain():
        q = (
            stream.writeStream.option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .foreachBatch(
                lambda b, i: S.incremental_rollup_sink(b, i, state_dir, run_key=ck)
            )
            .start()
        )
        q.awaitTermination()

    drain()
    rest.coalesce(1).write.parquet(str(in_dir / "b1"))
    drain()

    got = {
        r["day"]: (r["n"], float(r["s"]))
        for r in spark.read.parquet(state_dir).collect()
    }
    want = {
        r["day"]: (r["n"], float(r["s"]))
        for r in src.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)")).alias("s"),
        )
        .collect()
    }
    assert got == want

    # replay guard: re-applying an already-recorded batch_id is a no-op
    batch0 = spark.read.parquet(str(in_dir / "b0"))
    S.incremental_rollup_sink(batch0, 0, state_dir, run_key=ck)
    again = {
        r["day"]: (r["n"], float(r["s"]))
        for r in spark.read.parquet(state_dir).collect()
    }
    assert again == want, "duplicate batch re-applied: sums double-counted"


def test_cdc_apply_sink_matches_batch_operator(spark, tmp_path):
    """Streaming CDC apply: replaying the full change log through
    cdc_apply_sink in TWO file micro-batches must leave exactly the
    snapshot the batch operator (j_cdc_apply) computes in one shot —
    including delete semantics (tombstoned keys absent from the view)
    and accumulated change counts. Also re-applies a duplicate batch
    under the same run_key to prove the replay guard."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    from aprsdb_spark.tables import load

    sf = "/root/testdata/sf0.001"
    src = load(spark, sf).events.select(
        "user_id",
        "ts_ms",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    src.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(in_dir / "b0"))
    state_dir = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    stream = spark.readStream.schema(src.schema).parquet(str(in_dir) + "/*")

    def drain():
        q = (
            stream.writeStream.option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .foreachBatch(lambda b, i: S.cdc_apply_sink(b, i, state_dir, run_key=ck))
            .start()
        )
        q.awaitTermination()

    drain()
    src.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(in_dir / "b1"))
    drain()
    # duplicate re-apply under the same run_key must be a no-op
    S.cdc_apply_sink(src.limit(50), 0, state_dir, run_key=ck)

    got = {
        r["user_id"]: (r["last_op"], r["last_value"], r["last_ts_ms"], r["n_changes"])
        for r in S.cdc_current_view(spark, state_dir).collect()
    }
    want = {
        r["user_id"]: (r["last_op"], r["last_value"], r["last_ts_ms"], r["n_changes"])
        for r in QUERIES["j_cdc_apply"](spark, sf).collect()
    }
    assert got == want


def test_dedup_ingest_sink_matches_exact_dedup(spark, tmp_path):
    """Streaming corpus ingestion: replaying documents in TWO ordered
    micro-batches through dedup_ingest_sink must leave exactly the
    exact-dedup keeper set (min doc_id per text), with cross-batch
    duplicates rejected at the store and the replay guard holding for
    the append-only write."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")
    mid = 250
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    docs.where(F.col("doc_id") < mid).coalesce(1).write.parquet(str(in_dir / "b0"))
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    stream = spark.readStream.schema(docs.schema).parquet(str(in_dir) + "/*")

    def drain():
        q = (
            stream.writeStream.option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .foreachBatch(lambda b, i: S.dedup_ingest_sink(b, i, store, run_key=ck))
            .start()
        )
        q.awaitTermination()

    drain()
    n_after_b0 = spark.read.parquet(store).count()
    docs.where(F.col("doc_id") >= mid).coalesce(1).write.parquet(str(in_dir / "b1"))
    drain()
    # duplicate re-apply must be a no-op (append-only store!)
    S.dedup_ingest_sink(docs.limit(100), 1, store, run_key=ck)

    got = {r.doc_id for r in spark.read.parquet(store).collect()}
    want = {
        r.k
        for r in docs.groupBy("text").agg(F.min("doc_id").alias("k")).collect()
    }
    assert got == want
    assert n_after_b0 < len(got)  # second batch contributed novel docs
    # store uniqueness on the hash (no duplicate ingests)
    assert spark.read.parquet(store).groupBy("h").count().where("count > 1").count() == 0


def test_ann_ingest_sink_matches_batch_assignment(spark, tmp_path):
    """Streaming ANN-index maintenance (§2.I): replaying the embedding
    table in TWO ordered micro-batches through ann_ingest_sink must
    leave EXACTLY the one-shot batch PQ assignment (same literal
    codebooks, same argmax fold), with cross-batch duplicates rejected
    at the store and the append-only replay guard holding."""
    from aprsdb_spark.operators.similarity import (
        as_double,
        best_code_expr,
        pq_train_local,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(sf + "/embeddings.parquet").select("vec_id", "embedding")
    books = pq_train_local(sf, n_blocks=8, k=32, iters=4)
    d = len(books[0][0][1])
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # overlap: batch 1 re-delivers vec_ids 200-249 — the store must
    # reject them as already-indexed, not re-code them
    emb.where(F.col("vec_id") < 250).coalesce(1).write.parquet(str(in_dir / "b0"))
    index = str(tmp_path / "idx")
    ck = str(tmp_path / "ck")
    stream = spark.readStream.schema(emb.schema).parquet(str(in_dir) + "/*")

    def drain():
        q = (
            stream.writeStream.option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .foreachBatch(
                lambda b, i: S.ann_ingest_sink(b, i, index, books, run_key=ck)
            )
            .start()
        )
        q.awaitTermination()

    drain()
    n_after_b0 = spark.read.parquet(index).count()
    emb.where(F.col("vec_id") >= 200).coalesce(1).write.parquet(str(in_dir / "b1"))
    drain()
    # manual re-apply of an already-applied batch_id must be a no-op
    S.ann_ingest_sink(emb.limit(50), 1, index, books, run_key=ck)

    got = sorted(tuple(r) for r in spark.read.parquet(index).collect())
    want_df = emb.select(
        "vec_id",
        *[
            (-best_code_expr(
                books[b], F.slice(as_double("embedding"), b * d + 1, d)
            )["ncid"]).cast("int").alias(f"c{b}")
            for b in range(8)
        ],
    )
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want, "streamed code store diverged from batch assignment"
    assert n_after_b0 == 250 and len(got) == 500
    assert (
        spark.read.parquet(index).groupBy("vec_id").count().where("count > 1").count()
        == 0
    ), "duplicate index rows — first-seen-wins violated"


def test_ann_ingest_survives_lost_sidecar_and_orders_conflicts(spark, tmp_path):
    """Two ann_ingest_sink edge windows: (1) a crash AFTER the append
    but BEFORE the sidecar marker write — the re-delivered batch must
    be a no-op because the vec_id anti-join rejects already-indexed
    vectors (append sinks are naturally idempotent; the sidecar is an
    optimization, not the only defense); (2) conflicting duplicates of
    one vec_id INSIDE a batch must resolve by the embedding digest,
    not arrival order — the same winner regardless of row order."""
    from aprsdb_spark.operators.similarity import pq_train_local

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(sf + "/embeddings.parquet").select("vec_id", "embedding")
    books = pq_train_local(sf, n_blocks=8, k=32, iters=4)
    index = str(tmp_path / "idx")
    S.ann_ingest_sink(emb.limit(100), 0, index, books, run_key="ck")
    before = sorted(tuple(r) for r in spark.read.parquet(index).collect())
    # crash window: append done, sidecar lost
    shutil.rmtree(index + "_meta")
    S.ann_ingest_sink(emb.limit(100), 0, index, books, run_key="ck")
    after = sorted(tuple(r) for r in spark.read.parquet(index).collect())
    assert after == before, "lost sidecar re-apply duplicated index rows"
    # in-batch conflict: same vec_id, two different embeddings, both orders
    a = emb.where(F.col("vec_id") == 0).select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding"
    )
    b = emb.where(F.col("vec_id") == 1).select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding"
    )
    idx2 = str(tmp_path / "idx2")
    S.ann_ingest_sink(a.unionAll(b), 0, idx2, books, run_key="c2")
    won1 = sorted(tuple(r) for r in spark.read.parquet(idx2).collect())
    idx3 = str(tmp_path / "idx3")
    S.ann_ingest_sink(b.unionAll(a), 0, idx3, books, run_key="c3")
    won2 = sorted(tuple(r) for r in spark.read.parquet(idx3).collect())
    assert won1 == won2, "in-batch duplicate winner depends on arrival order"
    assert len(won1) == 1


def _station_batch(spark, rows):
    """A static stations-sink input: (src, recv_ts from epoch ms, lat, lon)."""
    df = spark.createDataFrame(
        rows, "src string, ms long, latitude double, longitude double"
    )
    return df.select(
        "src", F.timestamp_millis("ms").alias("recv_ts"), "latitude", "longitude"
    )


_STATION_BATCHES = [
    [("A", 1000, 10.0, 20.0), ("A", 3000, 11.0, 21.0), ("B", 2000, 30.0, 40.0),
     (None, 5000, 1.0, 1.0)],
    # A's latest packet has no position; B's newest row has no recv_ts
    [("A", 5000, None, None), ("B", None, 99.0, 99.0), ("C", 4000, 50.0, 60.0)],
    # B's packet is older than its stored one; D has only a null recv_ts
    [("B", 1500, 31.0, 41.0), ("C", None, 70.0, 80.0), ("D", None, 1.0, 2.0)],
]


def _stations(spark, stations_dir):
    return {
        r.src: (r.last_heard, r.n_packets, r.last_lat, r.last_lon)
        for r in spark.read.parquet(stations_dir).collect()
    }


def test_station_merge_equals_one_shot_recompute(spark, tmp_path):
    """The stations sink folds each batch into the store in ONE
    aggregation over state plus one-packet partials. Across three
    batches with a null src, null recv_ts and a null position on the
    latest packet, the stored state must equal a one-shot max /
    count(*) / max_by over every row."""
    stations_dir = str(tmp_path / "stations")
    batches = [_station_batch(spark, rows) for rows in _STATION_BATCHES]
    for i, b in enumerate(batches):
        S.upsert_stations_sink(b, i, stations_dir, run_key="ck")
    allrows = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = {
        r.src: (r.last_heard, r.n_packets, r.last_lat, r.last_lon)
        for r in allrows.where(F.col("src").isNotNull())
        .groupBy("src")
        .agg(
            F.max("recv_ts").alias("last_heard"),
            F.count("*").alias("n_packets"),
            F.max_by("latitude", "recv_ts").alias("last_lat"),
            F.max_by("longitude", "recv_ts").alias("last_lon"),
        )
        .collect()
    }
    assert _stations(spark, stations_dir) == want
    assert want["A"][1:] == (3, None, None) and want["D"] == (None, 1, None, None)


def test_station_sink_runs_two_jobs_on_existing_state(spark, tmp_path):
    """One sink call on an existing store runs at most two Spark jobs:
    the state's schema inference and the write to `_next`. The publish
    is file links, not a Spark read-and-rewrite of `_next` (that copy
    and its own schema inference made it four). AQE is off for the
    count because it submits every shuffle map stage as a job of its
    own."""
    stations_dir = str(tmp_path / "stations")
    S.upsert_stations_sink(
        _station_batch(spark, _STATION_BATCHES[0]), 0, stations_dir, run_key="ck"
    )
    sc = spark.sparkContext
    group = f"station-sink-{tmp_path.name}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "stations sink job count")
    try:
        S.upsert_stations_sink(
            _station_batch(spark, _STATION_BATCHES[1]), 1, stations_dir, run_key="ck"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs


def test_station_publish_links_next_into_the_main_dir(spark, tmp_path):
    """After a stations sink call every file of the main dir shares its
    inode with `_next` (no bytes copied), and `_next` keeps its own
    links — the staging dir the crash-mid-swap recovery reads. The
    state is one data file, not one per shuffle partition."""
    import os

    stations_dir = str(tmp_path / "stations")
    S.upsert_stations_sink(
        _station_batch(spark, _STATION_BATCHES[0]), 0, stations_dir, run_key="ck"
    )
    nxt = stations_dir + "_next"
    main = sorted(os.listdir(stations_dir))
    assert main == sorted(os.listdir(nxt)) and "_SUCCESS" in main
    assert sum(n.endswith(".parquet") for n in main) == 1, main
    for name in main:
        a = os.stat(os.path.join(stations_dir, name))
        b = os.stat(os.path.join(nxt, name))
        assert a.st_ino == b.st_ino and a.st_nlink == 2, name


def test_publish_refuses_an_uncommitted_next(spark, tmp_path):
    """_publish on a `_next` without `_SUCCESS` (a staging write that
    never committed) raises and leaves the main dir exactly as it was."""
    import os

    stations_dir = str(tmp_path / "stations")
    S.upsert_stations_sink(
        _station_batch(spark, _STATION_BATCHES[0]), 0, stations_dir, run_key="ck"
    )
    want = _stations(spark, stations_dir)
    os.remove(os.path.join(stations_dir + "_next", "_SUCCESS"))

    def listing():
        return {
            n: os.stat(os.path.join(stations_dir, n)).st_ino
            for n in os.listdir(stations_dir)
        }

    before = listing()
    with pytest.raises(RuntimeError, match="_SUCCESS"):
        S._publish(spark, stations_dir)
    assert listing() == before
    assert _stations(spark, stations_dir) == want


def test_station_sink_fails_on_unreadable_store(spark, tmp_path):
    """A store that exists but cannot be read fails the micro-batch (so
    Structured Streaming retries it) instead of being taken for a first
    batch: nothing is published over it, and `_next` still holds the
    last committed state."""
    import os

    stations_dir = str(tmp_path / "stations")
    S.upsert_stations_sink(
        _station_batch(spark, _STATION_BATCHES[0]), 0, stations_dir, run_key="ck"
    )
    want = _stations(spark, stations_dir + "_next")
    (data,) = [n for n in os.listdir(stations_dir) if n.endswith(".parquet")]
    # a new inode: writing through the link would corrupt `_next` too
    os.remove(os.path.join(stations_dir, data))
    with open(os.path.join(stations_dir, data), "wb") as f:
        f.write(b"not a parquet file")
    before = sorted(os.listdir(stations_dir))
    with pytest.raises(Exception):
        S.upsert_stations_sink(
            _station_batch(spark, _STATION_BATCHES[1]), 1, stations_dir, run_key="ck"
        )
    assert sorted(os.listdir(stations_dir)) == before
    with open(os.path.join(stations_dir, data), "rb") as f:
        assert f.read() == b"not a parquet file"
    assert _stations(spark, stations_dir + "_next") == want


# the one-file stations state publishes 4 links (data file, its .crc,
# ._SUCCESS.crc, _SUCCESS): crash after each of the first three
@pytest.mark.parametrize("links_before_crash", [1, 2, 3])
def test_station_sink_recovers_crash_mid_publish(
    spark, tmp_path, monkeypatch, links_before_crash
):
    """A crash inside the publish of batch 1 — after the main dir lost
    `_SUCCESS` and gained some new links, before the sidecar write —
    must not lose or double-count batch 1 when it is re-delivered: the
    retry redoes the publish from the complete `_next`, and the embedded
    marker (trusted again once `_SUCCESS` is back) skips the re-apply."""
    import os

    stations_dir = str(tmp_path / "stations")
    batches = [_station_batch(spark, rows) for rows in _STATION_BATCHES[:2]]
    S.upsert_stations_sink(batches[0], 0, stations_dir, run_key="ck")
    real_link = os.link
    linked = []

    def crashing_link(src, dst):
        if len(linked) == links_before_crash:
            raise OSError("simulated crash mid-publish")
        linked.append(os.path.basename(dst))
        real_link(src, dst)

    monkeypatch.setattr(os, "link", crashing_link)
    with pytest.raises(OSError, match="mid-publish"):
        S.upsert_stations_sink(batches[1], 1, stations_dir, run_key="ck")
    monkeypatch.setattr(os, "link", real_link)
    # the crash state: some new links, no _SUCCESS, sidecar still at batch 0
    assert sorted(os.listdir(stations_dir)) == sorted(linked)
    assert "_SUCCESS" not in linked
    assert S._last_applied_batch(stations_dir, "ck") == 0

    S.upsert_stations_sink(batches[1], 1, stations_dir, run_key="ck")  # retry
    got = _stations(spark, stations_dir)
    assert sum(v[1] for v in got.values()) == 6, got  # 3 + 3 non-null-src rows
    assert got["A"][1] == 3 and got["C"][1] == 1
    assert os.path.exists(os.path.join(stations_dir, "_SUCCESS"))
    # a genuine re-delivery after the recovered publish is still a no-op
    S.upsert_stations_sink(batches[1], 1, stations_dir, run_key="ck")
    assert _stations(spark, stations_dir) == got


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """A get_spark session with a local master writes streaming
    checkpoints through Hadoop FileSystem, not FileContext (whose local
    renames fork `readlink` without libhadoop), and the checkpoint keeps
    its layout: two restarts of the collector stream (dedup_30s ->
    stations sink) over one checkpoint leave `N.delta`, Spark's
    `N.delta.crc` and Hadoop's `.N.delta.crc` for every committed
    version in every state dir, and a stations table equal to a one-shot
    station_view recompute."""
    import os

    from aprsdb_spark.aprs.parse import station_view

    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    ind, ck = tmp_path / "in", str(tmp_path / "ck")
    stations_dir = str(tmp_path / "stations")
    ind.mkdir()
    lines = (FIXTURES / "pos_uncompressed.txt").read_text().splitlines(keepends=True)
    # time-ordered halves, one per run: the second run's rows are not late
    for i, half in enumerate((lines[:100], lines[100:])):
        (ind / f"part{i}.txt").write_text("".join(half))
        stream = S.dedup_30s(S.parsed_packet_stream(S.read_packet_lines(spark, str(ind))))
        q = (
            stream.writeStream.option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .foreachBatch(lambda b, bid: S.upsert_stations_sink(b, bid, stations_dir, run_key=ck))
            .start()
        )
        q.awaitTermination()

    n_commits = sum(n.isdigit() for n in os.listdir(os.path.join(ck, "commits")))
    state = os.path.join(ck, "state", "0")
    parts = [p for p in os.listdir(state) if p.isdigit()]
    assert n_commits >= 2 and parts
    for p in parts:
        names = set(os.listdir(os.path.join(state, p)))
        versions = {int(n.split(".")[0]) for n in names if n.endswith(".delta")}
        assert versions == set(range(1, n_commits + 1)), (p, sorted(names))
        for v in versions:
            assert {f"{v}.delta", f"{v}.delta.crc", f".{v}.delta.crc"} <= names, (p, v)

    # the fixture repeats no (src, payload), so the recompute needs no dedup
    raw = spark.read.text(str(ind))
    cols = F.split(F.col("value"), "\t", 2)
    packets = S.parse_packets(
        raw.select(
            F.timestamp_millis(F.try_element_at(cols, F.lit(1)).try_cast("long")).alias("recv_ts"),
            F.try_element_at(cols, F.lit(2)).alias("raw"),
        ),
        recv_ts_col="recv_ts",
    )
    want = {
        r.src: (r.last_heard, r.n_packets, r.last_lat, r.last_lon)
        for r in station_view(packets).collect()
    }
    assert sum(v[1] for v in want.values()) == 200
    assert _stations(spark, stations_dir) == want


def test_pysource_stream_reader_matches_batch(spark, tmp_path):
    """Streaming side of the Python Data Source connector (Spark 4.0
    simpleStreamReader): draining the aprs_replay stream must deliver
    exactly the batch reader's rows — one fixture file per micro-batch,
    offsets checkpointed as plain dicts. PythonMicroBatchStream does
    not support Trigger.AvailableNow multi-batch draining (Spark falls
    back to single-batch execution), so each start() processes ONE
    micro-batch and the loop below is ALSO the restart test: every
    iteration restarts from the checkpointed offset, and the final
    restart after exhaustion delivers nothing new."""
    from aprsdb_spark.queries.aprs_queries import FIXTURE_DIR
    from aprsdb_spark.sources.pysource import AprsReplayDataSource

    try:
        spark.dataSource.register(AprsReplayDataSource)
    except Exception:
        pass
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    stream = (
        spark.readStream.format("aprs_replay")
        .option("path", str(FIXTURE_DIR))
        .load()
    )

    def drain():
        q = (
            stream.writeStream.option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()

    from aprsdb_spark.sources.pysource import REPLAY_FILES

    for _ in range(len(REPLAY_FILES)):
        drain()
    got = sorted(
        tuple(r) for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.format("aprs_replay")
        .option("path", str(FIXTURE_DIR))
        .load()
        .collect()
    )
    assert got == want and len(got) > 0
    drain()  # restart after exhaustion: no re-delivery
    assert spark.read.parquet(out_dir).count() == len(want)


def test_ann_ingest_table_mode_is_exchange_free_on_the_store_side(spark, tmp_path):
    """r10 verdict item 6: the streaming ANN append must land in the
    SAME vec_id-bucketed catalog table the batch sink serves, and the
    probe anti-join must read that bucketed store with NO Exchange on
    the store side — the claim ingest.py makes is pinned here against
    the executed plan, not prose. Also: two-batch table-mode replay
    must equal the one-shot batch assignment exactly."""
    from aprsdb_spark.operators.similarity import (
        as_double,
        best_code_expr,
        pq_train_local,
    )
    from aprsdb_spark.plans.inspect import exchange_nodes

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(sf + "/embeddings.parquet").select("vec_id", "embedding")
    books = pq_train_local(sf, n_blocks=8, k=32, iters=4)
    d = len(books[0][0][1])
    db = "sg_ann_table_mode"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'db'}'")
    table = f"{db}.pq_codes"
    meta = str(tmp_path / "meta")

    S.ann_ingest_sink(emb.where(F.col("vec_id") < 250), 0, meta, books,
                      run_key="ck", store_table=table)
    # plan pin BEFORE the second append: probe side = fresh batch codes,
    # store side = the bucketed table. The ONLY Exchange allowed is on
    # the probe side; the table scan must be a bucketed read.
    batch2 = emb.where(F.col("vec_id") >= 200)
    codes2 = batch2.select(
        "vec_id",
        *[
            (-best_code_expr(
                books[b], F.slice(as_double("embedding"), b * d + 1, d)
            )["ncid"]).cast("int").alias(f"c{b}")
            for b in range(8)
        ],
    )
    # At test scale AQE would broadcast the 250-row store (also
    # exchange-free, but trivially); the 10^10-vector claim is the SMJ
    # shape, so pin it with broadcast disabled.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = codes2.join(
            spark.table(table).select("vec_id"), "vec_id", "left_anti"
        )
        p = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p and "LeftAnti" in p, p[:3000]
    assert "Bucketed: true" in p, "store scan is not a bucketed read:\n" + p[:3000]
    # exchange accounting: exactly ONE Exchange in the whole anti-join
    # plan, and it sits on the probe side — the printout of the store
    # subtree (everything from its FileScan up to the join) carries
    # none, because the bucketed scan already provides the hash
    # partitioning the SMJ requires on the store side.
    assert exchange_nodes(probe) == {"shuffle": 1, "broadcast": 0}, p[:3000]
    store_scan_idx = p.index("FileScan parquet spark_catalog." + db)
    assert p.index("Exchange") < store_scan_idx, (
        "the single Exchange must belong to the probe side, above the "
        "store scan in the printout:\n" + p[:3000]
    )

    S.ann_ingest_sink(batch2, 1, meta, books, run_key="ck", store_table=table)
    # replayed batch_id: no-op via the sidecar
    S.ann_ingest_sink(emb.limit(50), 1, meta, books, run_key="ck", store_table=table)

    got = sorted(tuple(r) for r in spark.table(table).collect())
    want_df = emb.select(
        "vec_id",
        *[
            (-best_code_expr(
                books[b], F.slice(as_double("embedding"), b * d + 1, d)
            )["ncid"]).cast("int").alias(f"c{b}")
            for b in range(8)
        ],
    )
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want, "table-mode streamed store diverged from batch assignment"
    assert spark.table(table).groupBy("vec_id").count().where("count > 1").count() == 0
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_leakage_monitor_matches_batch_audit(spark, tmp_path):
    """Streaming cross-split leakage monitor (§2.I): replaying the
    documents table in TWO micro-batches must leave (1) a store equal
    to the one-shot batch (hash, split) counts, and (2) an alert set
    whose hashes are EXACTLY the spanning groups of j_split_leakage's
    'exact' kind — including a synthetic pair that arrives with both
    splits in ONE batch. Replay of an applied batch is a no-op for
    both counts and alerts."""
    import hashlib

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")
    # synthesize guaranteed cross-split duplicates: find two doc_ids in
    # different splits and give them identical novel text
    def split_of(doc_id: int) -> str:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return "train" if h < "cd" else ("val" if h < "e6" else "test")

    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    train_id = next(i for i in ids if split_of(i) == "train")
    test_id = next(i for i in ids if split_of(i) == "test")
    synth = spark.createDataFrame(
        [(1000001 + train_id * 0, train_id, "leak canary text"),
         (1000002 + test_id * 0, test_id, "leak canary text")],
        "ignore long, doc_id long, text string",
    ).select("doc_id", F.lit("leak canary text").alias("text"))

    state = str(tmp_path / "state")
    mid = 250
    b0 = docs.where(F.col("doc_id") < mid)
    # batch 1 carries the rest PLUS the synthetic in-batch pair
    b1 = docs.where(F.col("doc_id") >= mid).unionByName(synth)
    S.leakage_monitor_sink(b0, 0, state, run_key="ck")
    S.leakage_monitor_sink(b1, 1, state, run_key="ck")
    # replayed batch_id: counts and alerts must not change
    n_alerts = spark.read.parquet(state + "_alerts").count()
    S.leakage_monitor_sink(b1, 1, state, run_key="ck")
    assert spark.read.parquet(state + "_alerts").count() == n_alerts

    all_docs = docs.unionByName(synth)
    want_counts = {
        (r.h, r.split): r.n
        for r in all_docs.select(
            F.md5("text").alias("h"),
            F.when(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd",
                "train",
            )
            .when(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "e6",
                "val",
            )
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("h", "split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got_counts = {
        (r.h, r.split): r.n
        for r in spark.read.parquet(state).drop("_run_key", "_batch_id").collect()
    }
    assert got_counts == want_counts
    # alerted hashes == hashes spanning >1 split
    spanning = {h for (h, _s) in want_counts} - {
        h for (h, _s) in want_counts
        if sum(1 for (h2, _s2) in want_counts if h2 == h) == 1
    }
    alerted = {r.h for r in spark.read.parquet(state + "_alerts").collect()}
    assert alerted == spanning
    # the synthetic in-batch pair alerted on BOTH sides
    synth_h = spark.sql("SELECT md5('leak canary text') AS h").collect()[0].h
    sides = [r for r in spark.read.parquet(state + "_alerts").collect() if r.h == synth_h]
    assert len(sides) == 2 and {r.split for r in sides} == {"train", "test"}


def test_drift_monitor_matches_batch_audit(spark, tmp_path):
    """Streaming drift monitor (§2.I): replaying the events table in
    THREE micro-batches against the grid frozen from the corpus
    extrema must leave a state whose drift_current_view equals the
    one-shot j_drift_timeslices relation row for row. Replay of an
    applied batch is a no-op."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    from aprsdb_spark.tables import load as tload

    ev = tload(spark, sf).events.select("ts_ms", "value", "event_id")
    v6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    lo, hi = ev.select(F.min(v6), F.max(v6)).collect()[0]
    state = str(tmp_path / "drift_state")
    thirds = [
        ev.where(F.col("event_id") % 3 == k).select("ts_ms", "value")
        for k in range(3)
    ]
    for k, b in enumerate(thirds):
        S.drift_monitor_sink(b, k, state, int(lo), int(hi), run_key="dk")
    # replayed applied batch: state unchanged
    before = sorted(
        (r.day_idx, r.bucket, r.oc)
        for r in spark.read.parquet(state).select("day_idx", "bucket", "oc").collect()
    )
    S.drift_monitor_sink(thirds[1], 1, state, int(lo), int(hi), run_key="dk")
    after = sorted(
        (r.day_idx, r.bucket, r.oc)
        for r in spark.read.parquet(state).select("day_idx", "bucket", "oc").collect()
    )
    assert before == after
    want = sorted(
        tuple(r) for r in QUERIES["j_drift_timeslices"](spark, sf).collect()
    )
    got = sorted(tuple(r) for r in S.drift_current_view(spark, state).collect())
    assert got == want


def test_drift_monitor_clamps_out_of_range_to_edge_buckets(spark, tmp_path):
    """The one production-only branch of the drift monitor (r12 verdict
    low): values OUTSIDE the frozen [lo, hi] reference grid must clamp
    into edge buckets 0/9 — never invent bucket -1/10 — and a clamped
    tail must RAISE chi-square vs the uniform baseline (the alarm
    semantics a frozen grid exists for). The equivalence test above
    freezes the grid from the corpus extrema, so the clamp never fires
    there; this one freezes [0, 999999] (values 0..1) and feeds
    -5.0 / +7.0."""
    state = str(tmp_path / "clamp_state")
    lo, hi = 0, 999999
    day0, day1 = 1000, 86400000 + 1000  # ts inside day_idx 0 / 1
    # both days uniform: per-day distribution == global -> chi2 == 0
    # for every day (the rollup's expected count is nd*gc/N)
    uniform = spark.createDataFrame(
        [(d, (b + 0.5) / 10.0) for d in (day0, day1) for b in range(10)],
        "ts_ms long, value double",
    )
    S.drift_monitor_sink(uniform, 0, state, lo, hi, run_key="ck")
    base = {
        (r.day_idx, r.bucket): r.oc
        for r in spark.read.parquet(state).select("day_idx", "bucket", "oc").collect()
    }
    assert base == {(d, b): 1 for d in (0, 1) for b in range(10)}
    assert all(r.chi2 == 0.0 for r in S.drift_current_view(spark, state).collect())
    # drifted tail on day 1 only, entirely OUTSIDE the frozen grid
    tail = spark.createDataFrame(
        [(day1, -5.0), (day1, 7.0), (day1, 7.0), (day1, 7.0)],
        "ts_ms long, value double",
    )
    S.drift_monitor_sink(tail, 1, state, lo, hi, run_key="ck")
    got = {
        (r.day_idx, r.bucket): r.oc
        for r in spark.read.parquet(state).select("day_idx", "bucket", "oc").collect()
    }
    # every clamped value landed in an EDGE bucket: -5.0 -> 0, 7.0 -> 9
    assert {b for (_d, b) in got} == set(range(10)), "clamp left the 0..9 grid"
    assert got[(1, 0)] == 2 and got[(1, 9)] == 4
    assert all(got[(1, b)] == 1 for b in range(1, 9))
    assert all(got[(0, b)] == 1 for b in range(10))
    view = {r.day_idx: r for r in S.drift_current_view(spark, state).collect()}
    assert view[1].chi2 > 0.0 and view[1].top_bucket == 9


def test_quality_gate_matches_batch_wilson(spark, tmp_path):
    """Streaming quality gate (§2.I): replaying the documents table in
    THREE micro-batches must leave a state whose quality_gate_view
    equals the one-shot j_wilson_ci relation row for row. Replay of an
    applied batch is a no-op."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet").select(
        "doc_id", "source", "n_chars", "text"
    )
    state = str(tmp_path / "qgate_state")
    thirds = [
        docs.where(F.col("doc_id") % 3 == k).select("source", "n_chars", "text")
        for k in range(3)
    ]
    for k, b in enumerate(thirds):
        S.quality_gate_sink(b, k, state, run_key="qk")
    before = sorted(
        (r.source, r.n, r.x)
        for r in spark.read.parquet(state).select("source", "n", "x").collect()
    )
    S.quality_gate_sink(thirds[0], 0, state, run_key="qk")
    after = sorted(
        (r.source, r.n, r.x)
        for r in spark.read.parquet(state).select("source", "n", "x").collect()
    )
    assert before == after
    want = sorted(tuple(r) for r in QUERIES["j_wilson_ci"](spark, sf).collect())
    got = sorted(tuple(r) for r in S.quality_gate_view(spark, state).collect())
    assert got == want


def test_card_monitor_matches_batch_data_card(spark, tmp_path):
    """Streaming data-card maintenance (§2.I): replaying the documents
    table in THREE micro-batches must leave part stores whose
    card_current_view equals the one-shot j_data_card relation row for
    row; a fully re-delivered batch is a no-op; and a PARTIAL crash
    (one store already carrying a batch the others missed — simulated
    by pre-recording the batch on the lang store) re-applies exactly
    the stores that missed it."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    state = str(tmp_path / "card")
    thirds = [
        docs.where(F.col("doc_id") % 3 == k).select("source", "lang", "n_chars", "text")
        for k in range(3)
    ]
    S.card_monitor_sink(thirds[0], 0, state, run_key="ck")
    # partial-crash simulation: a crashed delivery of batch 1 completed
    # the LANG store (state + guard) but died before digest/token —
    # replay must skip lang and apply the other two exactly once
    from aprsdb_spark.queries.governance import data_card_parts

    a1, _b1, _c1 = data_card_parts(thirds[1])
    lang_dir = state + "_lang"
    prior = spark.read.parquet(lang_dir)
    merged = (
        prior.drop("_run_key", "_batch_id")
        .unionByName(a1)
        .groupBy("source", "lang")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    S._write_state(S._with_marker(merged, "ck", 1), lang_dir)
    S._record_applied_batch(lang_dir, "ck", 1)
    S.card_monitor_sink(thirds[1], 1, state, run_key="ck")
    S.card_monitor_sink(thirds[2], 2, state, run_key="ck")
    # full re-delivery: every store skips
    before = sorted(tuple(r) for r in S.card_current_view(spark, state).collect())
    S.card_monitor_sink(thirds[2], 2, state, run_key="ck")
    after = sorted(tuple(r) for r in S.card_current_view(spark, state).collect())
    assert before == after
    want = sorted(tuple(r) for r in QUERIES["j_data_card"](spark, sf).collect())
    assert before == want


def test_cms_monitor_matches_batch_sketch(spark, tmp_path):
    """Streaming CMS monitor (§2.I): replaying the documents table in
    THREE micro-batches must leave a state whose cms_current_view
    equals the one-shot j_cms_sketch relation row for row (counter
    ADDITION is the CMS merge law — shared cms_cells/cms_truth
    builders make the equivalence an identity over equal states).
    Replay of an applied batch is a no-op for both stores."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")
    state = str(tmp_path / "cms_state")
    thirds = [
        docs.where(F.col("doc_id") % 3 == k).select("text") for k in range(3)
    ]
    for k, b in enumerate(thirds):
        S.cms_monitor_sink(b, k, state, run_key="ck")
    before = sorted(
        (r.d, r.bucket, r.c)
        for r in spark.read.parquet(state + "_cells")
        .select("d", "bucket", "c")
        .collect()
    )
    S.cms_monitor_sink(thirds[1], 1, state, run_key="ck")
    after = sorted(
        (r.d, r.bucket, r.c)
        for r in spark.read.parquet(state + "_cells")
        .select("d", "bucket", "c")
        .collect()
    )
    assert before == after
    want = sorted(tuple(r) for r in QUERIES["j_cms_sketch"](spark, sf).collect())
    got = sorted(tuple(r) for r in S.cms_current_view(spark, state).collect())
    assert got == want


def test_hll_monitor_matches_batch_hll(spark, tmp_path):
    """Streaming HLL monitor (§2.I): replaying the events table in
    THREE micro-batches must leave a register state whose
    hll_current_view equals the one-shot j_hll_portable relation
    (register MAX is the HLL merge law). Replay of an applied batch
    is a no-op."""
    from aprsdb_spark.registry import QUERIES, load_all
    from aprsdb_spark.tables import load as tload

    load_all()
    sf = "/root/testdata/sf0.001"
    ev = tload(spark, sf).events.select("event_id", "user_id")
    state = str(tmp_path / "hll_state")
    thirds = [
        ev.where(F.col("event_id") % 3 == k).select("user_id") for k in range(3)
    ]
    for k, b in enumerate(thirds):
        S.hll_monitor_sink(b, k, state, run_key="hk")
    before = sorted(
        (r.reg, r.r)
        for r in spark.read.parquet(state + "_regs").select("reg", "r").collect()
    )
    S.hll_monitor_sink(thirds[2], 2, state, run_key="hk")
    after = sorted(
        (r.reg, r.r)
        for r in spark.read.parquet(state + "_regs").select("reg", "r").collect()
    )
    assert before == after
    want = sorted(tuple(r) for r in QUERIES["j_hll_portable"](spark, sf).collect())
    got = sorted(tuple(r) for r in S.hll_current_view(spark, state).collect())
    assert got == want


def test_cms_topk_view_matches_batch_topk(spark, tmp_path):
    """The heavy-hitters panel over streamed CMS state equals the
    batch j_cms_sketch relation's top-k under the same deterministic
    order — and its plan is a top-k heap, not a global sort."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")
    state = str(tmp_path / "cmsk_state")
    for k, b in enumerate(
        docs.where(F.col("doc_id") % 2 == k).select("text") for k in range(2)
    ):
        S.cms_monitor_sink(b, k, state, run_key="tk")
    got = [tuple(r) for r in S.cms_topk_view(spark, state, k=5).collect()]
    want = sorted(
        (tuple(r) for r in QUERIES["j_cms_sketch"](spark, sf).collect()),
        key=lambda t: (-t[2], t[0]),
    )[:5]
    assert got == want
    plan = (
        S.cms_topk_view(spark, state, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_ivf_occupancy_monitor_matches_batch_balance(spark, tmp_path):
    """Streaming IVF occupancy monitor (§2.I): replaying the
    embeddings table in THREE micro-batches against the FROZEN
    quantizer (the same literal centroids the batch audit trains)
    must leave a state whose ivf_balance_view equals the one-shot
    j_ivf_balance relation row for row. Replay of an applied batch is
    a no-op."""
    from aprsdb_spark.operators.similarity import kmeans_train_local
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    cents = kmeans_train_local(sf, k=16, iters=2)
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    state = str(tmp_path / "ivf_occ_state")
    thirds = [emb.where(F.col("vec_id") % 3 == k) for k in range(3)]
    for k, b in enumerate(thirds):
        S.ivf_occupancy_sink(b, k, state, cents, run_key="ok")
    before = sorted(
        (r.cluster_id, r.n_vecs)
        for r in spark.read.parquet(state).select("cluster_id", "n_vecs").collect()
    )
    S.ivf_occupancy_sink(thirds[0], 0, state, cents, run_key="ok")
    after = sorted(
        (r.cluster_id, r.n_vecs)
        for r in spark.read.parquet(state).select("cluster_id", "n_vecs").collect()
    )
    assert before == after
    want = sorted(tuple(r) for r in QUERIES["j_ivf_balance"](spark, sf).collect())
    got = sorted(tuple(r) for r in S.ivf_balance_view(spark, state, k=16).collect())
    assert got == want


def test_cms_monitor_unpersists_tokens_on_store_failure(spark, tmp_path):
    """ADVICE r13: cms_monitor_sink persists the exploded token frame
    for its two store passes; before the fix the unpersist sat on the
    straight-line path only, so an exception during a store write/swap
    leaked one cached frame into executor storage per foreachBatch
    retry. Pin the try/finally: force a store failure and assert the
    session's CacheManager is empty afterwards."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("text")
        .limit(50)
    )
    spark.catalog.clearCache()
    # state_dir under a plain FILE: the parquet write of the first
    # store's _next dir fails with a real IO error mid-loop, exactly
    # the retry window the advice describes.
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    with pytest.raises(Exception):
        S.cms_monitor_sink(docs, 0, str(blocker / "cms_state"), run_key="fk")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "cms_monitor_sink leaked its persisted token frame on the "
        "failure path"
    )


def test_ivf_balance_view_rejects_truncating_k(spark, tmp_path):
    """ADVICE r13: ivf_balance_view builds the spine from the caller's
    k; a k smaller than the quantizer the sink used silently DROPPED
    occupied cells >= k and renormalized share/load_factor over the
    truncated spine. Pin the guard: a too-small k must raise, and the
    sink's true k must still serve the full relation."""
    from aprsdb_spark.operators.similarity import kmeans_train_local

    sf = "/root/testdata/sf0.001"
    cents = kmeans_train_local(sf, k=16, iters=2)
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    state = str(tmp_path / "ivf_trunc")
    S.ivf_occupancy_sink(emb, 0, state, cents, run_key="tk")
    top = max(
        r.cluster_id for r in spark.read.parquet(state).select("cluster_id").collect()
    )
    assert top >= 4, "fixture degenerated: need occupied cells above k=4"
    with pytest.raises(ValueError, match="smaller than the quantizer"):
        S.ivf_balance_view(spark, state, k=4).collect()
    assert S.ivf_balance_view(spark, state, k=16).count() == 16


def test_monitor_state_is_split_invariant(spark, tmp_path):
    """The monitors' merge laws (counter ADDITION for CMS, register MAX
    for HLL, cell ADDITION for IVF occupancy) promise the final state
    is a pure function of the event SET, independent of how the stream
    was cut into micro-batches. Pin it: replaying the same rows as TWO
    halves and as THREE thirds (separate runs, separate state roots)
    must leave byte-equal state relations. This is the invariance that
    makes a backfill (one giant batch) and the live stream (thousands
    of small ones) land on the same answer."""
    from aprsdb_spark.tables import load as tload

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")
    ev = tload(spark, sf).events.select("event_id", "user_id")

    def run(tag, splits_docs, splits_ev):
        cms = str(tmp_path / f"cms_{tag}")
        hll = str(tmp_path / f"hll_{tag}")
        for k, b in enumerate(splits_docs):
            S.cms_monitor_sink(b.select("text"), k, cms, run_key=tag)
        for k, b in enumerate(splits_ev):
            S.hll_monitor_sink(b.select("user_id"), k, hll, run_key=tag)
        cells = sorted(
            (r.d, r.bucket, r.c)
            for r in spark.read.parquet(cms + "_cells").select("d", "bucket", "c").collect()
        )
        regs = sorted(
            (r.reg, r.r)
            for r in spark.read.parquet(hll + "_regs").select("reg", "r").collect()
        )
        return cells, regs

    halves = run(
        "h",
        [docs.where(F.col("doc_id") % 2 == k) for k in range(2)],
        [ev.where(F.col("event_id") % 2 == k) for k in range(2)],
    )
    thirds = run(
        "t",
        [docs.where(F.col("doc_id") % 3 == k) for k in range(3)],
        [ev.where(F.col("event_id") % 3 == k) for k in range(3)],
    )
    assert halves[0] == thirds[0], "CMS state depends on the batch split"
    assert halves[1] == thirds[1], "HLL state depends on the batch split"


def test_lateness_monitor_conservation_and_watermark_semantics(spark, tmp_path):
    """Streaming watermark-lateness panel (§2.I observability): the
    per-window admitted/dropped split must (a) reproduce Spark's
    watermark rule on provably-late rows — a row 2 h older than the
    persisted watermark is dropped, a fresh row is admitted, and
    batch 1 (no prior watermark) admits everything; (b) satisfy the
    conservation law admitted + dropped_late == the unwatermarked
    batch twin's per-window counts (drops are counted, never lost);
    (c) be idempotent under at-least-once re-delivery of an applied
    batch."""
    base = 1704067200000  # window-aligned (divisible by 1h)
    hour = 3600_000
    state = str(tmp_path / "late_state")

    def frame(rows):
        return spark.createDataFrame([(int(r),) for r in rows], "ts_ms long")

    # batch 0: three on-time rows, one per hour -> watermark = max - 10m
    b0 = [base, base + hour, base + 2 * hour]
    S.lateness_monitor_sink(frame(b0), 0, state, run_key="ck")
    # batch 1: one fresh row + one row 2 h older than the watermark
    b1 = [base + 3 * hour, base + 2 * hour - 2 * hour - 600_000]
    S.lateness_monitor_sink(frame(b1), 1, state, run_key="ck")

    panel = {
        r["window_start_ms"]: (r["admitted"], r["dropped_late"])
        for r in S.lateness_view(spark, state).collect()
    }
    # batch 0 rows all admitted (no prior watermark)
    assert panel[base] == (1, 0)
    assert panel[base + hour] == (1, 0)
    assert panel[base + 2 * hour] == (1, 0)
    # batch 1: fresh admitted; the 2h-late row dropped INTO ITS OWN window
    assert panel[base + 3 * hour] == (1, 0)
    late_win = ((base - 600_000) // hour) * hour
    assert panel[late_win] == (0, 1)
    # watermark column: max event time - 10 min, monotone
    wm = {r["watermark_ms"] for r in S.lateness_view(spark, state).collect()}
    assert wm == {base + 3 * hour - 600_000}

    # conservation: admitted + dropped == unwatermarked batch counts
    twin = (
        frame(b0 + b1)
        .groupBy(
            (F.floor(F.col("ts_ms") / hour).cast("long") * hour).alias("w")
        )
        .count()
        .collect()
    )
    for r in twin:
        a, d = panel[r["w"]]
        assert a + d == r["count"], r

    # idempotence: re-delivering an applied batch changes nothing
    before = sorted(panel.items())
    S.lateness_monitor_sink(frame(b1), 1, state, run_key="ck")
    after = sorted(
        (r["window_start_ms"], (r["admitted"], r["dropped_late"]))
        for r in S.lateness_view(spark, state).collect()
    )
    assert after == before


def test_stream_stream_left_outer_ack_semantics(spark, tmp_path):
    """Stream-stream LEFT OUTER join (§2.I closure, r15 verdict item):
    the never-acked query. Pins the three facts that make outer
    stream-stream joins a correctness trap:
    (1) a null-extended row is a WATERMARK fact — it appears only
        after BOTH sides' watermarks prove no match can arrive
        (sent_ts + within behind the min-of-inputs watermark), and
        the joined-vs-expired split then equals the batch left-outer
        twin restricted to provably-closed windows;
    (2) no premature nulls — a message whose window is still open is
        withheld, not emitted unmatched;
    (3) at-least-once replay over the same checkpoint re-emits
        nothing."""
    import os

    src = tmp_path / "in"
    src.mkdir()
    base = 1704067200000
    with open(src / "a.txt", "w") as f:
        for i in range(4):
            f.write(f"{base + i * 1000}\tALICE-{i}>APRS,qAC,G::BOB-{i}    :hello {i}{{0{i}\n")
        for i in (0, 2):
            f.write(f"{base + i * 1000 + 3000}\tBOB-{i}>APRS,qAC,G::ALICE-{i}  :ack0{i}\n")
    # closer batch: advances BOTH watermark legs (a message alone moves
    # only the msgs side; the global watermark is the MIN over inputs,
    # so without an ack row the unmatched state would never expire —
    # the first probe of this test found exactly that)
    late = base + 40 * 60 * 1000
    with open(src / "b.txt", "w") as f:
        f.write(f"{late}\tCLOSER>APRS,qAC,G::BOB-9    :late{{99\n")
        f.write(f"{late}\tCLOSER2>APRS,qAC,G::CLOSERX  :ack99\n")

    got: list = []

    def run():
        lines = S.read_packet_lines(spark, str(src))
        out = S.message_ack_outer_stream(S.parsed_packet_stream(lines))
        q = (
            out.writeStream.option("checkpointLocation", str(tmp_path / "ck"))
            .option("maxFilesPerTrigger", "1")
            .trigger(availableNow=True)
            .foreachBatch(lambda b, i: got.extend(tuple(r) for r in b.collect()))
            .start()
        )
        q.awaitTermination()

    run()
    by_msg = {(r[0], r[2]): r for r in got}
    # batch left-outer twin, restricted to provably-closed windows:
    # ALICE-0/2 acked, ALICE-1/3 expired unmatched
    assert sorted((r[0], r[5]) for r in got) == [
        ("ALICE-0", True),
        ("ALICE-1", False),
        ("ALICE-2", True),
        ("ALICE-3", False),
    ]
    for (m_from, _), r in by_msg.items():
        if r[5]:
            assert r[4] is not None and r[4] >= r[3]  # ack_ts sane
        else:
            assert r[4] is None
    # (2) CLOSER's own message window (late + 10 min) is NOT behind the
    # final watermark (late + 1s - 10 min): withheld, not null-emitted
    assert all(r[0] != "CLOSER" for r in got)
    # (3) replay over the same checkpoint: nothing re-emitted
    n = len(got)
    run()
    assert len(got) == n, got[n:]


def test_volume_monitor_matches_both_batch_charts(spark, tmp_path):
    """Streaming control-chart monitor (§2.I, r16): replaying the
    events table in THREE micro-batches must leave ONE daily-volume
    state whose cusum_current_view equals the one-shot j_cusum_drift
    relation AND whose ewma_current_view equals j_ewma_chart, row for
    row — both via the shared rollups, so this is an identity over
    equal count matrices. Replay of an applied batch is a no-op."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    from aprsdb_spark.tables import load as tload

    ev = tload(spark, sf).events.select("ts_ms", "event_type", "event_id")
    state = str(tmp_path / "vol_state")
    thirds = [
        ev.where(F.col("event_id") % 3 == k).select("ts_ms", "event_type")
        for k in range(3)
    ]
    for k, b in enumerate(thirds):
        S.volume_monitor_sink(b, k, state, run_key="vk")
    before = sorted(
        (r.event_type, r.day_idx, r.c)
        for r in spark.read.parquet(state)
        .select("event_type", "day_idx", "c")
        .collect()
    )
    S.volume_monitor_sink(thirds[1], 1, state, run_key="vk")
    after = sorted(
        (r.event_type, r.day_idx, r.c)
        for r in spark.read.parquet(state)
        .select("event_type", "day_idx", "c")
        .collect()
    )
    assert before == after
    want_cusum = sorted(
        tuple(r) for r in QUERIES["j_cusum_drift"](spark, sf).collect()
    )
    got_cusum = sorted(
        tuple(r) for r in S.cusum_current_view(spark, state).collect()
    )
    assert got_cusum == want_cusum
    want_ewma = sorted(
        tuple(r) for r in QUERIES["j_ewma_chart"](spark, sf).collect()
    )
    got_ewma = sorted(
        tuple(r) for r in S.ewma_current_view(spark, state).collect()
    )
    assert got_ewma == want_ewma


def test_volume_monitor_split_invariance(spark, tmp_path):
    """Halves vs thirds must converge to the IDENTICAL state matrix —
    the additive-merge property that makes the monitor correct under
    any micro-batch boundary the source happens to draw."""
    from aprsdb_spark.tables import load as tload

    sf = "/root/testdata/sf0.001"
    ev = tload(spark, sf).events.select("ts_ms", "event_type", "event_id")
    s2, s3 = str(tmp_path / "halves"), str(tmp_path / "thirds")
    for k in range(2):
        S.volume_monitor_sink(
            ev.where(F.col("event_id") % 2 == k).select("ts_ms", "event_type"),
            k, s2, run_key="h",
        )
    for k in range(3):
        S.volume_monitor_sink(
            ev.where(F.col("event_id") % 3 == k).select("ts_ms", "event_type"),
            k, s3, run_key="t",
        )
    m2 = sorted(
        (r.event_type, r.day_idx, r.c)
        for r in spark.read.parquet(s2).select("event_type", "day_idx", "c").collect()
    )
    m3 = sorted(
        (r.event_type, r.day_idx, r.c)
        for r in spark.read.parquet(s3).select("event_type", "day_idx", "c").collect()
    )
    assert m2 == m3


def test_lifetime_monitor_matches_both_survival_twins(spark, tmp_path):
    """Streaming survival monitor (§2.I, r16): replaying the events
    table in THREE micro-batches must leave ONE per-user lifetime
    state whose km_current_view equals the one-shot j_kaplan_meier
    relation AND whose logrank_current_view equals j_logrank_test —
    both via the shared rollups. The MIN/MAX span merge is idempotent:
    replay of an applied batch is a no-op, and even a FORCED re-apply
    (different run_key) cannot change the state."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    from aprsdb_spark.tables import load as tload

    ev = tload(spark, sf).events.select("ts_ms", "user_id", "event_id")
    state = str(tmp_path / "life_state")
    thirds = [
        ev.where(F.col("event_id") % 3 == k).select("ts_ms", "user_id")
        for k in range(3)
    ]
    for k, b in enumerate(thirds):
        S.lifetime_monitor_sink(b, k, state, run_key="lk")
    snap = lambda: sorted(
        (r.user_id, r.first_idx, r.last_idx)
        for r in spark.read.parquet(state)
        .select("user_id", "first_idx", "last_idx")
        .collect()
    )
    before = snap()
    S.lifetime_monitor_sink(thirds[1], 1, state, run_key="lk")  # guard no-op
    assert snap() == before
    # MIN/MAX idempotence: a forced re-apply under a NEW run key
    # re-merges the same spans and must be a semantic no-op too
    S.lifetime_monitor_sink(thirds[1], 0, state, run_key="lk2")
    assert snap() == before
    want_km = sorted(
        tuple(r) for r in QUERIES["j_kaplan_meier"](spark, sf).collect()
    )
    got_km = sorted(tuple(r) for r in S.km_current_view(spark, state).collect())
    assert got_km == want_km
    want_lr = sorted(
        tuple(r) for r in QUERIES["j_logrank_test"](spark, sf).collect()
    )
    got_lr = sorted(
        tuple(r) for r in S.logrank_current_view(spark, state).collect()
    )
    assert got_lr == want_lr


def test_lifetime_monitor_split_invariance(spark, tmp_path):
    """Halves vs thirds converge to the identical span table — the
    MIN/MAX merge is associative and commutative over any micro-batch
    boundary."""
    from aprsdb_spark.tables import load as tload

    sf = "/root/testdata/sf0.001"
    ev = tload(spark, sf).events.select("ts_ms", "user_id", "event_id")
    s2, s3 = str(tmp_path / "lh"), str(tmp_path / "lt")
    for k in range(2):
        S.lifetime_monitor_sink(
            ev.where(F.col("event_id") % 2 == k).select("ts_ms", "user_id"),
            k, s2, run_key="h",
        )
    for k in range(3):
        S.lifetime_monitor_sink(
            ev.where(F.col("event_id") % 3 == k).select("ts_ms", "user_id"),
            k, s3, run_key="t",
        )
    m = lambda p: sorted(
        (r.user_id, r.first_idx, r.last_idx)
        for r in spark.read.parquet(p)
        .select("user_id", "first_idx", "last_idx")
        .collect()
    )
    assert m(s2) == m(s3)


# --- every overwrite store: crash mid-publish and re-delivery -----------
#
# Each overwrite sink folds every one of its stores through
# S._merge_store. One case per sink: how to call it, how to build its
# input, two tiny batches, and the suffixes of the stores it keeps under
# its state dir. The two tests below run once per store.


def _frame(schema):
    return lambda spark, rows: spark.createDataFrame(rows, schema)


_HOUR, _DAY, _T0 = 3_600_000, 86_400_000, 1_704_067_200_000
_STORE_SINKS = {
    "upsert_stations_sink": (
        S.upsert_stations_sink,
        _station_batch,
        *_STATION_BATCHES[:2],
        [""],
    ),
    "incremental_rollup_sink": (
        S.incremental_rollup_sink,
        _frame("day date, value double"),
        [(date(2024, 1, 1), 1.5), (date(2024, 1, 2), 2.0)],
        [(date(2024, 1, 1), 3.25), (date(2024, 1, 3), None)],
        [""],
    ),
    "cdc_apply_sink": (
        S.cdc_apply_sink,
        _frame("user_id long, ts_ms long, event_id long, value double, op string"),
        [(1, 10, 1, 1.0, "I"), (2, 11, 2, 2.0, "I")],
        [(1, 20, 3, 5.0, "U"), (2, 21, 4, None, "D"), (3, 22, 5, 7.0, "I")],
        [""],
    ),
    "leakage_monitor_sink": (
        S.leakage_monitor_sink,
        _frame("doc_id long, text string"),
        [(i, f"text {i % 3}") for i in range(6)],
        [(i, f"text {i % 4}") for i in range(6, 12)],
        [""],
    ),
    "drift_monitor_sink": (
        lambda b, i, d, run_key: S.drift_monitor_sink(b, i, d, 0, 999_999, run_key=run_key),
        _frame("ts_ms long, value double"),
        [(1000, 0.15), (1000 + _DAY, 0.55)],
        [(2000, 0.95), (2000 + _DAY, -3.0)],
        [""],
    ),
    "quality_gate_sink": (
        S.quality_gate_sink,
        _frame("source string, n_chars long, text string"),
        [("web", 150, " ".join(["w"] * 25)), ("wiki", 20, "too short")],
        [("web", 50, "short"), ("wiki", 300, " ".join(["t"] * 30))],
        [""],
    ),
    "card_monitor_sink": (
        S.card_monitor_sink,
        _frame("source string, lang string, n_chars long, text string"),
        [("web", "en", 11, "hello world"), ("wiki", "de", 9, "hallo welt")],
        [("web", "fr", 11, "hello world"), ("web", "en", 7, "bye now")],
        ["_lang", "_digest", "_token"],
    ),
    "cms_monitor_sink": (
        S.cms_monitor_sink,
        _frame("text string"),
        [("a b c a",), ("b d",)],
        [("a e",), ("c c d",)],
        ["_cells", "_truth"],
    ),
    "hll_monitor_sink": (
        S.hll_monitor_sink,
        _frame("user_id long"),
        [(i,) for i in range(8)],
        [(i,) for i in range(5, 14)],
        ["_regs", "_users"],
    ),
    "ivf_occupancy_sink": (
        lambda b, i, d, run_key: S.ivf_occupancy_sink(
            b, i, d, [(0, [1.0, 0.0]), (1, [0.0, 1.0])], run_key=run_key
        ),
        _frame("vec_id long, label string, embedding array<float>"),
        [(1, "a", [1.0, 0.1]), (2, "b", [0.1, 1.0])],
        [(3, "a", [0.9, 0.2]), (4, "a", [2.0, 0.0])],
        [""],
    ),
    "lateness_monitor_sink": (
        S.lateness_monitor_sink,
        _frame("ts_ms long"),
        [(_T0,), (_T0 + _HOUR,)],
        [(_T0 + 3 * _HOUR,), (_T0 - 2 * _HOUR,)],
        ["_panel", "_wm"],
    ),
    "volume_monitor_sink": (
        S.volume_monitor_sink,
        _frame("ts_ms long, event_type string"),
        [(1000, "click"), (1000 + _DAY, "view")],
        [(2000, "click"), (5000 + 2 * _DAY, "click")],
        [""],
    ),
    "lifetime_monitor_sink": (
        S.lifetime_monitor_sink,
        _frame("ts_ms long, user_id long"),
        [(1000, 1), (1000 + _DAY, 2)],
        [(2000 + 3 * _DAY, 1), (500, 3)],
        [""],
    ),
}
_APPEND_SINKS = {"dedup_ingest_sink", "ann_ingest_sink"}
_STORES = [(name, store) for name, case in _STORE_SINKS.items() for store in case[4]]
# every public view -> (the sink case whose stores it reads, how to call it)
_VIEWS = {
    "cdc_current_view": ("cdc_apply_sink", S.cdc_current_view),
    "drift_current_view": ("drift_monitor_sink", S.drift_current_view),
    "quality_gate_view": ("quality_gate_sink", S.quality_gate_view),
    "card_current_view": ("card_monitor_sink", S.card_current_view),
    "cms_current_view": ("cms_monitor_sink", S.cms_current_view),
    "cms_topk_view": ("cms_monitor_sink", S.cms_topk_view),
    "hll_current_view": ("hll_monitor_sink", S.hll_current_view),
    "ivf_balance_view": (
        "ivf_occupancy_sink", lambda spark, d: S.ivf_balance_view(spark, d, k=2)
    ),
    "lateness_view": ("lateness_monitor_sink", S.lateness_view),
    "cusum_current_view": ("volume_monitor_sink", S.cusum_current_view),
    "ewma_current_view": ("volume_monitor_sink", S.ewma_current_view),
    "km_current_view": ("lifetime_monitor_sink", S.km_current_view),
    "logrank_current_view": ("lifetime_monitor_sink", S.logrank_current_view),
}
_VIEW_STORES = [(v, store) for v, (sink, _) in _VIEWS.items() for store in _STORE_SINKS[sink][4]]


def _run_two_batches(spark, tmp_path, name):
    """Apply batch 0 and batch 1 of a case under run_key "ck"; return
    the sink call, batch 1 and the state root."""
    call, make, rows0, rows1, _ = _STORE_SINKS[name]
    root = str(tmp_path / "state")
    call(make(spark, rows0), 0, root, run_key="ck")
    b1 = make(spark, rows1)
    call(b1, 1, root, run_key="ck")
    return call, b1, root


def _snapshot(spark, tmp_path):
    """Every directory the sink wrote (stores and the leakage alerts,
    not the `_next` and `_meta` siblings) -> its rows, markers dropped."""
    import os

    out = {}
    for name in sorted(os.listdir(tmp_path)):
        if not name.endswith(("_next", "_meta")):
            df = spark.read.parquet(str(tmp_path / name)).drop("_run_key", "_batch_id")
            out[name] = sorted((tuple(r) for r in df.collect()), key=repr)
    return out


def _crash_mid_publish(d):
    """Leave store ``d`` as a publish that crashed part-way: no
    `_SUCCESS` and one data file short, beside its complete `_next`.
    Returns the store's file names before the crash."""
    import os

    files = sorted(os.listdir(d))
    os.remove(os.path.join(d, "_SUCCESS"))
    os.remove(os.path.join(d, next(n for n in files if n.endswith(".parquet"))))
    return files


@pytest.mark.parametrize("name,store", _STORES, ids=[n + s for n, s in _STORES])
def test_store_recovers_crash_mid_publish(spark, tmp_path, name, store):
    """A crash while batch 1 is published to one store leaves its main
    dir without `_SUCCESS` and short of a data file, and the sidecar
    still at batch 0. The re-delivered batch 1 must first republish the
    store from its complete `_next` and then skip the batch on the
    embedded marker: every store ends as it was after batch 1, with the
    same files (no re-apply, no truncated state). Batch 2 then applies."""
    import os

    call, b1, root = _run_two_batches(spark, tmp_path, name)
    want = _snapshot(spark, tmp_path)
    d = root + store
    files = _crash_mid_publish(d)
    S._record_applied_batch(d, "ck", 0)
    assert S._last_applied_batch(d, "ck") == 0  # partial state's marker untrusted
    call(b1, 1, root, run_key="ck")
    assert sorted(os.listdir(d)) == files
    assert _snapshot(spark, tmp_path) == want
    # and the stream goes on from the recovered state
    call(b1, 2, root, run_key="ck")
    assert S._last_applied_batch(d, "ck") == 2 and sorted(os.listdir(d)) != files


@pytest.mark.parametrize("name,store", _STORES, ids=[n + s for n, s in _STORES])
def test_store_skips_redelivered_batch(spark, tmp_path, name, store):
    """A re-delivered (run_key, batch_id) is a no-op for every store:
    through the sidecar, and through the marker embedded in the state
    rows once the sidecar is lost (a crash after the publish, before
    the sidecar write). No store is rewritten: its files stay the same,
    which also catches a re-apply of an idempotent merge."""
    import os

    call, b1, root = _run_two_batches(spark, tmp_path, name)
    stores = {n[: -len("_next")] for n in os.listdir(tmp_path) if n.endswith("_next")}
    assert stores == {"state" + s for s in _STORE_SINKS[name][4]}, "store list is stale"
    want = _snapshot(spark, tmp_path)
    d = root + store
    files = sorted(os.listdir(d))
    call(b1, 1, root, run_key="ck")
    shutil.rmtree(d + "_meta")
    assert S._last_applied_batch(d, "ck") == 1
    call(b1, 1, root, run_key="ck")
    assert sorted(os.listdir(d)) == files
    assert _snapshot(spark, tmp_path) == want


@pytest.mark.parametrize(
    "view,store", _VIEW_STORES, ids=[f"{v}-state{s}" for v, s in _VIEW_STORES]
)
def test_view_recovers_crash_mid_publish(spark, tmp_path, view, store):
    """A view read between a crash mid-publish and the sink's next
    batch serves the last committed state, not the truncated store:
    the view finishes the publish itself, so `_SUCCESS` is back. Two
    crash points: part-way through the links, and after the publish
    removed the main dir. Before any batch, the view fails with Spark's
    AnalysisException."""
    import os

    sink, read = _VIEWS[view]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read(spark, str(tmp_path / "state"))
    _, _, root = _run_two_batches(spark, tmp_path, sink)
    rows = lambda: sorted((tuple(r) for r in read(spark, root).collect()), key=repr)
    want = rows()
    for crash in (_crash_mid_publish, shutil.rmtree):
        crash(root + store)
        assert rows() == want
        assert os.path.exists(os.path.join(root + store, "_SUCCESS"))


def test_every_sink_has_crash_and_replay_cases():
    """Every public foreachBatch sink either folds its stores through
    _merge_store and is a case of the two store tests above, or is one
    of the append-only sinks, and every public view is a case of the
    view test — a new sink or view cannot skip crash/replay coverage."""
    import inspect

    public = {
        n
        for n, f in inspect.getmembers(S, inspect.isfunction)
        if not n.startswith("_") and f.__module__ == S.__name__
    }
    assert {n for n in public if n.endswith("_sink")} == set(_STORE_SINKS) | _APPEND_SINKS
    assert {n for n in public if n.endswith("_view")} == set(_VIEWS)


def test_lateness_watermark_store_writes_no_row_for_an_empty_batch(spark, tmp_path):
    """A batch without rows advances no watermark: the first, empty
    batch leaves the watermark store without a row, so the next batch
    admits everything."""
    state = str(tmp_path / "late")
    empty = spark.createDataFrame([], "ts_ms long")
    S.lateness_monitor_sink(empty, 0, state, run_key="ck")
    assert spark.read.parquet(state + "_wm").count() == 0
    rows = spark.createDataFrame([(_T0,), (_T0 - 5 * _HOUR,)], "ts_ms long")
    S.lateness_monitor_sink(rows, 1, state, run_key="ck")
    panel = {r["window_start_ms"]: (r["admitted"], r["dropped_late"])
             for r in S.lateness_view(spark, state).collect()}
    assert panel == {_T0: (1, 0), _T0 - 5 * _HOUR: (1, 0)}
    wm = [r["wm_ms"] for r in spark.read.parquet(state + "_wm").collect()]
    assert wm == [_T0 - 600_000]
