"""End-to-end batch ingest: routing, F1 drop, evolution, DLQ, trace."""

from __future__ import annotations

import json

from redis_events_to_clickhouse_tables_spark.config import IngestConfig
from redis_events_to_clickhouse_tables_spark.streaming.ingest import IngestEngine
from redis_events_to_clickhouse_tables_spark.streaming.store import TableStore


def _raw(spark, payloads):
    return spark.createDataFrame([(json.dumps(p),) for p in payloads], "value string")


def _engine(spark, tmp_path, **cfg):
    store = TableStore(spark, tmp_path / "warehouse")
    return IngestEngine(spark, store, IngestConfig(**cfg)), store


def _schema(df):
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def test_routing_and_insert(spark, tmp_path):
    engine, store = _engine(spark, tmp_path)
    report = engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "session", "user": "u1", "n": 1},
                {"event_type": "session", "user": "u2", "n": 2},
                {"event_type": "click", "target": "#buy"},
            ],
        )
    )
    assert report.n_events == 3
    assert report.tables == {"click": 1, "session": 2}
    assert store.tables() == ["click", "session"]  # G1 routing
    session = store.read("session")
    assert session.count() == 2
    assert {"user", "n", "received_at", "sent_at", "message_id", "timestamp"} <= set(
        session.columns
    )


def test_missing_routing_key_dropped(spark, tmp_path):
    # F1: no event_type value -> logged + dropped
    engine, store = _engine(spark, tmp_path)
    report = engine.process_raw_batch(
        _raw(spark, [{"event_type": "a", "x": 1}, {"x": 2}, {"event_type": None, "x": 3}])
    )
    assert report.n_missing_routing_key == 2
    assert store.read("a").count() == 1
    trace = (store.root / "_trace.jsonl").read_text()
    assert "missing_routing_key" in trace


def test_schema_evolution_across_batches(spark, tmp_path):
    engine, store = _engine(spark, tmp_path)
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "a": 1}]))
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "a": "two", "b": 9}]))
    df = store.read("t")
    assert df.schema["a"].dataType.simpleString() == "string"  # D4 widen
    assert {r["a"] for r in df.collect()} == {"1", "two"}
    assert df.schema["b"].dataType.simpleString() == "bigint"  # D3 add


def test_dead_letter_on_write_failure(spark, tmp_path, monkeypatch):
    engine, store = _engine(spark, tmp_path)

    original = store.write

    def failing_write(df, table, **kw):
        if table == "poison":
            raise RuntimeError("sink exploded")
        return original(df, table, **kw)

    monkeypatch.setattr(store, "write", failing_write)
    report = engine.process_raw_batch(
        _raw(
            spark,
            [{"event_type": "poison", "x": 1}, {"event_type": "ok", "x": 2}],
        )
    )
    assert report.tables == {"ok": 1}
    assert report.n_dead_lettered == 1  # E1
    assert "poison" in report.errors
    dlq = engine.read_dlq().collect()
    assert len(dlq) == 1
    assert dlq[0]["target_table"] == "poison"
    assert dlq[0]["attempts"] == 1
    assert json.loads(dlq[0]["payload"])["x"] == 1
    assert "sink exploded" in dlq[0]["error"]
    # the healthy table still landed
    assert store.read("ok").count() == 1


def test_non_critical_retry_dropped(spark, tmp_path, monkeypatch):
    # E4/F2: non-critical event that already failed once is dropped
    engine, store = _engine(spark, tmp_path, non_critical_event_types=("noise",))
    monkeypatch.setattr(
        store, "write", lambda df, table, **kw: (_ for _ in ()).throw(RuntimeError("x"))
    )
    report = engine.process_raw_batch(
        _raw(spark, [{"event_type": "noise", "a": 1, "__single_retry_attempts": 2}])
    )
    assert report.n_dropped_non_critical == 1
    assert report.n_dead_lettered == 0


def test_store_health_gate(spark, tmp_path, monkeypatch):
    # B4: a failing sink ping pauses ingestion instead of half-writing
    import pytest

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        StoreUnavailableError,
    )

    engine, store = _engine(spark, tmp_path)
    monkeypatch.setattr(store, "ping", lambda: False)
    with pytest.raises(StoreUnavailableError):
        engine.process_raw_batch(_raw(spark, [{"event_type": "a", "x": 1}]))
    assert store.tables() == []  # nothing landed


def test_dlq_retry_replays_and_clears(spark, tmp_path, monkeypatch):
    # E2: dead-lettered events replay into their table once the sink heals
    engine, store = _engine(spark, tmp_path)
    original = store.write
    monkeypatch.setattr(
        store,
        "write",
        lambda df, table, **kw: (_ for _ in ()).throw(RuntimeError("down"))
        if table == "poison"
        else original(df, table, **kw),
    )
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "poison", "x": 7}, {"event_type": "ok", "x": 1}])
    )
    assert engine.read_dlq().count() == 1
    monkeypatch.setattr(store, "write", original)  # sink heals
    report = engine.retry_dead_letters()
    assert report.tables == {"poison": 1}
    assert report.n_dead_lettered == 0
    assert engine.read_dlq().count() == 0
    assert store.read("poison").filter("x = 7").count() == 1


def test_dlq_retry_attempts_and_parking(spark, tmp_path, monkeypatch):
    # E3-lineage: attempts increment per failed retry; poison rows park
    engine, store = _engine(spark, tmp_path)
    monkeypatch.setattr(
        store,
        "write",
        lambda df, table, **kw: (_ for _ in ()).throw(RuntimeError("still down")),
    )
    engine.process_raw_batch(_raw(spark, [{"event_type": "bad", "x": 1}]))
    assert engine.read_dlq().collect()[0]["attempts"] == 1
    report = engine.retry_dead_letters(max_attempts=2)
    assert "bad" in report.errors
    assert engine.read_dlq().collect()[0]["attempts"] == 2
    # now at the ceiling: parked, not retried
    report = engine.retry_dead_letters(max_attempts=2)
    assert report.tables == {} and report.errors == {}
    assert engine.read_dlq().collect()[0]["attempts"] == 2


def test_concurrent_multi_table_failures_keep_all_dead_letters(
    spark, tmp_path, monkeypatch
):
    # a store outage mid-batch fails EVERY table's flush concurrently;
    # DLQ appends are serialized (shared FileOutputCommitter staging
    # dir), so no dead-lettered event may be lost
    engine, store = _engine(spark, tmp_path)
    monkeypatch.setattr(
        store,
        "write",
        lambda df, table, **kw: (_ for _ in ()).throw(RuntimeError("outage")),
    )
    report = engine.process_raw_batch(
        _raw(spark, [{"event_type": f"t{i}", "x": i} for i in range(6)])
    )
    assert report.n_dead_lettered == 6
    dlq = engine.read_dlq()
    assert dlq.count() == 6
    assert {r["target_table"] for r in dlq.collect()} == {f"t{i}" for i in range(6)}


def test_interruption_errors_are_not_demoted():
    """Stop()-induced Spark failures must abort the batch (replay on
    restart), never dead-letter it — demotion would commit the batch's
    offsets with its rows stranded in the DLQ."""
    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _is_interruption,
    )

    assert _is_interruption(RuntimeError("Job 7 cancelled because of stop"))
    assert _is_interruption(Exception("java.lang.InterruptedException: sleep"))
    assert _is_interruption(Exception("TaskKilled (Stage cancelled)"))
    assert _is_interruption(InterruptedError())  # class, not message
    assert not _is_interruption(ValueError("CAST_INVALID_INPUT: bad row"))
    assert not _is_interruption(Exception("schema mismatch for column x"))


def test_data_errors_quoting_hostile_values_are_demoted():
    """ADVICE r4: Spark data errors quote the offending row value in
    the message. A value that mimics a cancellation phrase must NOT be
    classified as an interruption — that would replay the same poison
    batch forever and stall ingestion."""
    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _is_interruption,
    )

    class FakeCastError(Exception):
        """Shape of pyspark CapturedException for CAST_INVALID_INPUT."""

        def getCondition(self):
            return "CAST_INVALID_INPUT"

    hostile = "[CAST_INVALID_INPUT] The value 'Job 5 cancelled' cannot be cast"
    assert not _is_interruption(FakeCastError(hostile))
    # a condition-less message mentioning cancellation incidentally
    # (old substring matcher tripped on bare "cancelled"/"killed")
    assert not _is_interruption(ValueError("user field was 'order cancelled'"))
    assert not _is_interruption(ValueError("process killed the budget"))


def test_real_spark_data_error_is_not_an_interruption(spark):
    """A captured PySpark error carries its throwable as ``_origin``:
    a real data error (CAST_OVERFLOW) must classify as a bad batch
    and be dead-lettered, not re-raised as an interruption."""
    import pytest

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _is_interruption,
    )

    with pytest.raises(Exception) as info:
        spark.sql("SELECT CAST(1e300 AS BIGINT)").collect()
    assert info.value.getCondition() == "CAST_OVERFLOW"
    assert not _is_interruption(info.value)


def test_interruption_replay_cap_demotes_disguised_poison(spark, tmp_path, monkeypatch):
    """Backstop for a poison batch whose failure is interruption-shaped
    every time: after _INTERRUPTION_REPLAY_CAP re-raises for the same
    (batch_id, table), the events go to the DLQ instead of stalling
    the stream forever."""
    import pytest

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _INTERRUPTION_REPLAY_CAP,
    )

    engine, store = _engine(spark, tmp_path)
    original = store.write

    def interrupted_write(df, table, **kw):
        if table == "p":
            raise RuntimeError("Job 3 cancelled as part of shutdown")
        return original(df, table, **kw)

    monkeypatch.setattr(store, "write", interrupted_write)
    batch = _raw(spark, [{"event_type": "p", "x": 1}])
    for _ in range(_INTERRUPTION_REPLAY_CAP):
        with pytest.raises(RuntimeError):
            engine.process_raw_batch(batch, batch_id=41)
    # replay past the cap: demoted to the DLQ, batch completes
    report = engine.process_raw_batch(batch, batch_id=41)
    assert report.n_dead_lettered == 1
    assert engine.read_dlq().count() == 1
    trace = (store.root / "_trace.jsonl").read_text()
    assert "interruption_replay_cap" in trace
    # batch_id-less (direct) calls never consume the cap
    with pytest.raises(RuntimeError):
        engine.process_raw_batch(batch)


def test_dlq_replay_races_live_ingest(spark, tmp_path, monkeypatch):
    """VERDICT r4 item 5: retry_dead_letters replay racing a live
    process_raw_batch on the SAME table must lose no row and duplicate
    no row (the versioned store + dlq lock make this hold)."""
    import threading

    engine, store = _engine(spark, tmp_path)
    original = store.write
    fail = {"on": True}

    def flaky_write(df, table, **kw):
        if fail["on"] and table == "t":
            raise RuntimeError("sink exploded")
        return original(df, table, **kw)

    monkeypatch.setattr(store, "write", flaky_write)
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 1}]))
    assert engine.read_dlq().count() == 1
    fail["on"] = False

    errs: list[Exception] = []

    def replay():
        try:
            engine.retry_dead_letters()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def live():
        try:
            for i in range(2, 5):
                engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": i}]))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=replay), threading.Thread(target=live)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    xs = sorted(r["x"] for r in store.read("t").select("x").collect())
    assert xs == [1, 2, 3, 4]  # every row exactly once
    assert engine.read_dlq().count() == 0


def test_cdc_upsert_mode_last_write_wins(spark, tmp_path):
    """upsert_keys turns ingest into CDC merge: later batches replace
    rows sharing the key, replays stay idempotent."""
    from pyspark.sql import functions as F

    engine, store = _engine(spark, tmp_path, upsert_keys=("entity_id",))
    engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "account", "entity_id": 1, "plan": "free"},
                {"event_type": "account", "entity_id": 2, "plan": "free"},
            ],
        ),
        batch_id=0,
    )
    engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "account", "entity_id": 1, "plan": "pro"},
                {"event_type": "account", "entity_id": 3, "plan": "team"},
            ],
        ),
        batch_id=1,
    )
    acc = store.read("account")
    assert acc.count() == 3
    plans = {r["entity_id"]: r["plan"] for r in acc.collect()}
    assert plans == {1: "pro", 2: "free", 3: "team"}

    # replayed merge batch: no change
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "account", "entity_id": 1, "plan": "pro"}]),
        batch_id=1,
    )
    assert store.read("account").count() == 3
    assert {
        r["entity_id"]: r["plan"] for r in store.read("account").collect()
    } == plans

    # a table without the key column falls back to append
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "click", "target": "#a"},
                     {"event_type": "click", "target": "#a"}]),
        batch_id=2,
    )
    assert store.read("click").count() == 2


def test_ingest_reports_phase_timings(spark, tmp_path):
    """BENCH r6 item 6: every batch must self-attribute its wall time
    across parse_infer / route / normalize / append so a depressed
    ingest headline can be decomposed."""
    from pyspark.sql import functions as F

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        IngestEngine,
    )
    from redis_events_to_clickhouse_tables_spark.streaming.store import (
        TableStore,
    )
    from redis_events_to_clickhouse_tables_spark.sources.tables import table

    events = table(spark, "/root/testdata/sf0.001", "events").limit(500)
    raw = events.select(
        F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias(
            "value"
        )
    )
    engine = IngestEngine(spark, TableStore(spark, str(tmp_path)))
    report = engine.process_raw_batch(raw, 0)
    assert report.n_events == 500
    for phase in ("parse_infer", "route", "normalize", "append"):
        assert phase in report.phase_seconds, report.phase_seconds
    # route is 0.0 by construction now: the routing table rides the
    # same grouped aggregate as the total/missing counts (one job),
    # so its cost is attributed to parse_infer
    assert report.phase_seconds["route"] == 0.0
    for phase in ("parse_infer", "normalize", "append"):
        assert report.phase_seconds[phase] > 0


def test_k4_trace_path_per_outcome_files(spark, tmp_path):
    """K4 parity: with trace_path set (DEBUG_STORE_LOG mode), traces
    land at trace_path + per-outcome suffix exactly like the
    reference's trace() (src/main.ts:170-216 appends to
    DEBUG_STORE_LOG_PATH + outputSuffix; bulk success '.success.log'
    :479, bulk failure '.bulkjobfailed.log' :491)."""
    base = tmp_path / "debug.log"
    engine, store = _engine(spark, tmp_path, trace_path=str(base))
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "ok_t", "x": 1}, {"x": 2}])
    )
    success = (tmp_path / "debug.log.success.log").read_text()
    assert '"event": "insert"' in success and "ok_t" in success
    # no-suffix outcomes append to the bare path (outputSuffix || "")
    bare = base.read_text()
    assert "missing_routing_key" in bare
    # the default single-file layout is NOT used in this mode
    assert not (store.root / "_trace.jsonl").exists()


def test_k4_trace_env_surface(monkeypatch):
    """DEBUG_STORE_LOG=1 enables the reference trace mode with the
    reference's default path (src/main.ts:140-142); unset leaves the
    engine default (trace_path None)."""
    assert IngestConfig.from_env({}).trace_path is None
    assert (
        IngestConfig.from_env({"DEBUG_STORE_LOG": "1"}).trace_path
        == "/tmp/debug.log"
    )
    assert (
        IngestConfig.from_env(
            {"DEBUG_STORE_LOG": "1", "DEBUG_STORE_LOG_PATH": "/x/t.log"}
        ).trace_path
        == "/x/t.log"
    )
    assert IngestConfig.from_env({"DEBUG_STORE_LOG_PATH": "/x/t.log"}).trace_path is None


def test_overflowing_received_at_falls_back_to_stamp(spark, tmp_path):
    """A numeric __received_at out of the timestamp range falls back to
    the stamp time, like an unparseable string: no row value can fail
    the shared normalize stage, so the other type commits too."""
    import datetime

    engine, store = _engine(spark, tmp_path)
    before = datetime.datetime.now() - datetime.timedelta(minutes=5)
    report = engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "a", "x": 1, "__received_at": 1e300},
                {"event_type": "a", "x": 2, "__received_at": 1_700_000_000_000},
                {"event_type": "b", "y": "z"},
            ],
        ),
        batch_id=0,
    )
    assert report.tables == {"a": 2, "b": 1}
    assert report.n_dead_lettered == 0 and report.errors == {}
    assert not (store.root / "_dlq").exists()
    stamped = {r["x"]: r["received_at"] for r in store.read("a").collect()}
    assert stamped[1] > before
    assert stamped[2] == datetime.datetime(2023, 11, 14, 22, 13, 20)


def test_per_type_decisions_under_shared_aggregate(spark, tmp_path):
    """Column presence, date refinement and array positions are decided
    per event type even though one batch schema spans every type: a
    string column holding dates in one type and free text in another,
    array maxima that differ by type, and keys specific to each type."""
    engine, store = _engine(
        spark, tmp_path, split_array_items_as_columns=True, split_records_as_columns=True
    )
    report = engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "a", "s": "2024-12-01", "arr": [1, 2, 3], "a_only": 1},
                {"event_type": "a", "s": "02/02/2045", "arr": [4], "rec": {"inA": 1.5}},
                {"event_type": "b", "s": "free text", "arr": [5], "b_only": True},
                {"event_type": "b", "s": None, "arr": [], "rec": {"inB": "x"}},
                {"event_type": "b", "arr": [6]},
            ],
        ),
        batch_id=0,
    )
    assert report.tables == {"a": 2, "b": 3}
    system = {
        "received_at": "timestamp",
        "sent_at": "timestamp",
        "message_id": "string",
        "timestamp": "timestamp",
    }
    assert _schema(store.read("a")) == {
        "a_only": "bigint",
        "arr_0": "bigint",
        "arr_1": "bigint",
        "arr_2": "bigint",
        "rec_in_a": "double",
        "s": "timestamp",
        **system,
    }
    assert _schema(store.read("b")) == {
        "arr_0": "bigint",
        "b_only": "boolean",
        "rec_in_b": "string",
        "s": "string",
        **system,
    }
    assert store.read("a").count() == 2
    assert store.read("b").count() == 3


def test_normalize_jobs_do_not_grow_with_event_types(spark, tmp_path):
    """Routing and normalize cost a fixed number of Spark jobs per
    batch: apart from the per-table parquet writes, an 8-type batch
    runs exactly as many jobs as a 1-type batch (read from the status
    store, which is kept with the UI disabled)."""
    sc = spark.sparkContext._jsc.sc()

    def jobs_of(n_types: int) -> list[str]:
        engine, _ = _engine(
            spark,
            tmp_path / f"t{n_types}",
            split_array_items_as_columns=True,
            split_records_as_columns=True,
        )
        raw = _raw(
            spark,
            [
                {"event_type": f"t{i}", "x": j, "arr": list(range(i + 1)),
                 f"k{i}": "2024-01-01", "rec": {"aB": j}}
                for i in range(n_types)
                for j in range(5)
            ]
            + [{"x": -1}],
        )
        store = sc.statusStore()
        seen = {j.jobId() for j in _seq(store.jobsList(None))}
        report = engine.process_raw_batch(raw, batch_id=0)
        assert len(report.tables) == n_types and report.n_missing_routing_key == 1
        sc.listenerBus().waitUntilEmpty()
        return [j.name() for j in _seq(store.jobsList(None)) if j.jobId() not in seen]

    one, eight = jobs_of(1), jobs_of(8)
    writes = [sum(n.startswith("parquet at ") for n in jobs) for jobs in (one, eight)]
    assert writes == [1, 8]
    assert len(eight) - writes[1] == len(one) - writes[0], (one, eight)


def test_shared_normalize_failure_dead_letters_every_type(spark, tmp_path, monkeypatch):
    """A failure of the batch-wide normalize stage dead-letters every
    routed type with its error (the batch completes instead of
    stalling); DLQ retry then re-normalizes each table on its own."""
    from redis_events_to_clickhouse_tables_spark.streaming import ingest

    engine, store = _engine(spark, tmp_path)
    original = ingest.normalize_events

    def failing(df, cfg=None, route_by=None):
        if route_by is not None:
            raise RuntimeError("normalize exploded")
        return original(df, cfg)

    monkeypatch.setattr(ingest, "normalize_events", failing)
    report = engine.process_raw_batch(
        _raw(
            spark,
            [{"event_type": "a", "x": 1}, {"event_type": "b", "y": 2},
             {"event_type": "b", "y": 3}, {"x": 4}],
        ),
        batch_id=0,
    )
    assert report.tables == {}
    assert set(report.errors) == {"a", "b"}
    assert report.n_dead_lettered == 3
    dlq = engine.read_dlq().collect()
    assert sorted(r["target_table"] for r in dlq) == ["a", "b", "b"]
    assert all("normalize exploded" in r["error"] for r in dlq)

    retry = engine.retry_dead_letters()
    assert retry.tables == {"a": 1, "b": 2} and retry.errors == {}
    assert store.read("b").count() == 2
