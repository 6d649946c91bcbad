"""Micro-batch ingest engine (reference parity: G1, F1-F2, E1-E6, K4).

One call to :meth:`IngestEngine.process_raw_batch` is the Spark
equivalent of the reference's interval tick (src/main.ts:463-514): it
takes a batch of raw JSON events, routes them per ``event_type`` to
their tables (G1), normalizes (P1-P8), evolves each table's schema
(D1-D5) and appends (K2). Used directly for batch ingest, or as the
``foreachBatch`` body of the streaming wrapper (stream.py).

Delivery semantics: the streaming harness's checkpointing replaces the
reference's manual re-enqueue machinery (E5/E6/B5 — source offsets
commit only after the batch succeeds). What remains engine-level is
dead-lettering: a table whose write fails gets its events appended to
the ``_dlq`` table with attempt counters and the error (E1), and
events of non-critical types that have already failed once are
dropped (E4/F2). ``_trace`` is the JSONL side-output (K4).

Scale note: the whole batch is normalized once, routed by event type
(normalize.py): two grouped aggregates whatever the number of types,
collecting one row per *distinct event type* (bounded by the number
of destination tables — the same cardinality as the reference's
bulker map), never event rows. Each table's rows are then one
filtered write of the shared flattened cache; with N tables this is
N filtered scans of one cached batch.
"""

from __future__ import annotations

import json
import re
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IngestConfig
from ..plans.inference import parse_events
from .normalize import normalize_events
from .store import TableStore, swap_dirs

DLQ_TABLE = "_dlq"

# Spark failure shapes that signal an interrupted/cancelled job (query
# stop, context shutdown) rather than a bad batch — see the E1 catch.
# Classification is structural (ADVICE r4: the old blind substring
# match over str(exc) also scanned offending ROW VALUES that Spark
# quotes in data errors, so a poison value containing "cancelled"
# would re-raise forever and stall ingestion):
#  - exception CLASS names along the python AND java cause chains;
#  - scheduler-generated cancellation phrases, anchored, and only
#    from exceptions that carry NO Spark error condition (data errors
#    like CAST_INVALID_INPUT always carry one, and only their
#    messages embed row data);
#  - a per-(batch, table) replay cap as the final backstop: even a
#    perfectly disguised poison batch is demoted to the DLQ after
#    _INTERRUPTION_REPLAY_CAP interruption-shaped replays.
_INTERRUPTION_CLASS_MARKERS = (
    "InterruptedException",
    "InterruptedError",
    "TaskKilled",
    "Py4JNetworkError",
    "KeyboardInterrupt",
)
_CANCEL_MSG_RE = re.compile(
    r"\bJob \d+ cancelled\b"
    r"|\bSparkContext was shut down\b"
    r"|\bjava\.lang\.InterruptedException\b"
    r"|\bTaskKilled\b"
)
_INTERRUPTION_REPLAY_CAP = 3


def _error_condition(exc) -> str | None:
    """The Spark error condition (e.g. CAST_INVALID_INPUT) if the
    exception carries one — works for pyspark CapturedException
    (getCondition/getErrorClass) and, via py4j, for any SparkThrowable."""
    for probe in ("getCondition", "getErrorClass"):
        fn = getattr(exc, probe, None)
        if callable(fn):
            try:
                cond = fn()
            except Exception:  # noqa: BLE001 — non-SparkThrowable java obj
                continue
            if cond:
                return str(cond)
    return None


def _is_interruption(exc: BaseException) -> bool:
    chain: list[BaseException] = []
    e: BaseException | None = exc
    seen: set[int] = set()
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        chain.append(e)
        e = e.__cause__ or e.__context__
    names: list[str] = []
    messages: list[str] = []
    for e in chain:
        names.append(type(e).__name__)
        # py4j errors carry the throwable as java_exception, pyspark's
        # captured errors as _origin (any attribute of a py4j object
        # resolves to a JavaMember, so never probe one for a field)
        jt = getattr(e, "java_exception", None) or getattr(e, "_origin", None)
        if jt is None:
            # plain python exception: its message is scanned only when
            # no data-error condition marks it as value-quoting
            if _error_condition(e) is None:
                messages.append(str(e))
        while jt is not None:
            try:
                cls = jt.getClass().getName()
            except Exception:  # noqa: BLE001 — gateway gone == interruption
                names.append("Py4JNetworkError")
                break
            names.append(cls)
            # scheduler cancellations surface as condition-less
            # SparkExceptions; their messages are Spark-generated and
            # never embed row data (data errors carry a condition and
            # are excluded here)
            if cls.endswith(".SparkException") and _error_condition(jt) is None:
                try:
                    messages.append(jt.getMessage() or "")
                except Exception:  # noqa: BLE001
                    pass
            try:
                jt = jt.getCause()
            except Exception:  # noqa: BLE001
                break
    if any(m in n for n in names for m in _INTERRUPTION_CLASS_MARKERS):
        return True
    return any(_CANCEL_MSG_RE.search(m or "") for m in messages)


class StoreUnavailableError(RuntimeError):
    """B4: raised when the destination health probe fails — the batch
    is not processed, and (in streaming) source offsets are not
    committed, so events are redelivered once the sink recovers. The
    same outcome as the reference's ping-gated tick skip
    (src/main.ts:463-469): ingestion pauses, nothing is lost."""


@dataclass
class IngestReport:
    batch_id: int | None
    n_events: int = 0
    n_missing_routing_key: int = 0
    n_dead_lettered: int = 0
    n_dropped_non_critical: int = 0
    tables: dict[str, int] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    # Wall seconds per pipeline phase (BENCH r6 item 6: a depressed
    # ingest headline must self-attribute). parse_infer is a single
    # wall span; route is 0.0 by construction (the routing table rides
    # normalize's first grouped aggregate — kept as a key for record
    # continuity); normalize is the one routed normalize of the batch,
    # its shared aggregates included; append is a SUM across the
    # concurrent per-table flushes, so it can exceed the batch wall
    # time — it attributes cost, it doesn't partition the clock.
    phase_seconds: dict[str, float] = field(default_factory=dict)


class IngestEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        config: IngestConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.config = config or IngestConfig()
        self._lock = threading.Lock()
        # serializes every writer of the _dlq directory: concurrent
        # appends to ONE output path share the FileOutputCommitter
        # _temporary staging dir, and the first job's commit deletes
        # it — a multi-table failure dead-lettering from the
        # ThreadPoolExecutor could silently lose events (ADVICE r1).
        # Also taken for the whole retry replay+swap so a concurrent
        # dead-letter can't append into a dir about to be swapped away.
        self._dlq_lock = threading.Lock()
        # interruption replay cap (see _is_interruption): counts
        # interruption-shaped re-raises per (batch_id, table) so a
        # disguised poison batch can't replay forever. Bounded by the
        # number of distinct failing batches in this process lifetime.
        self._interruption_replays: dict[tuple[int, str | None], int] = {}

    # -- K4: trace side-output -------------------------------------------
    def _trace(self, payload: dict, suffix: str = "") -> None:
        """JSONL trace append (reference trace(), src/main.ts:170-216).

        Default destination is one file, ``<store root>/_trace.jsonl``,
        with the outcome in the ``event`` field. When
        ``config.trace_path`` is set (the reference's DEBUG_STORE_LOG=1
        + DEBUG_STORE_LOG_PATH mode), writes go to ``trace_path +
        suffix`` instead — the reference's per-outcome file layout
        (".success.log", ".bulkjobfailed.log", ..., main.ts:305-491;
        no suffix appends to the bare path, like its outputSuffix ||
        "")."""
        if self.config.trace_path is not None:
            path = Path(self.config.trace_path + suffix)
        else:
            path = Path(self.store.root) / "_trace.jsonl"
        with self._lock, path.open("a") as fh:
            fh.write(json.dumps({"ts": time.time(), **payload}) + "\n")

    # -- E1/E4: dead-letter ----------------------------------------------
    def _dead_letter(self, events: DataFrame, table: str, error: str, report: IngestReport):
        cfg = self.config
        attempts = (
            F.col("__single_retry_attempts").cast("long")
            if "__single_retry_attempts" in events.columns
            else F.lit(0).cast("long")
        )
        dlq = events.select(
            F.lit(table).alias("target_table"),
            F.to_json(F.struct(*[F.col(f"`{c}`") for c in events.columns])).alias(
                "payload"
            ),
            F.lit(error).alias("error"),
            (attempts + 1).alias("attempts"),
            F.current_timestamp().alias("dead_lettered_at"),
        )
        if cfg.non_critical_event_types:
            # E4/F2: non-critical events that already failed once are dropped
            dropped = dlq.filter(
                F.lit(table).isin(*cfg.non_critical_event_types)
                & (F.col("attempts") > 1)
            ).count()
            with self._lock:
                report.n_dropped_non_critical += dropped
            dlq = dlq.filter(
                ~(
                    F.lit(table).isin(*cfg.non_critical_event_types)
                    & (F.col("attempts") > 1)
                )
            )
        # the DLQ write bypasses evolution (fixed schema) — append
        # directly, one writer at a time (see _dlq_lock)
        data_dir = self.store.root / DLQ_TABLE / "data"
        with self._dlq_lock:
            data_dir.mkdir(parents=True, exist_ok=True)
            dlq.write.mode("append").parquet(str(data_dir))
        n = dlq.count()
        with self._lock:
            report.n_dead_lettered += n
        self._trace(
            {"event": "dead_letter", "table": table, "rows": n, "error": error},
            suffix=".bulkjobfailed.log",
        )

    def read_dlq(self) -> DataFrame:
        data_dir = self.store.root / DLQ_TABLE / "data"
        return self.spark.read.parquet(str(data_dir))

    def retry_dead_letters(self, max_attempts: int = 5) -> IngestReport:
        """E2/E3: replay dead-lettered events back into their tables.

        The reference re-enqueues failed events flagged
        ``__is_single_retry`` and inserts them one-by-one on a
        dedicated emergency client with Bull retrying up to 5 attempts
        (src/main.ts:284-363, :482-511). Here: DLQ rows under the
        attempt ceiling are re-parsed and re-written per target table;
        rows that fail again return to the DLQ with ``attempts``
        incremented, rows at the ceiling stay parked (poison). E3's
        busy-client mutex has no equivalent — Spark serializes the
        writes — but the attempt counter it increments is preserved.
        """
        report = IngestReport(batch_id=-1)
        data_dir = self.store.root / DLQ_TABLE / "data"
        # hold the DLQ lock for the whole replay: a concurrent batch
        # dead-lettering into data_dir between our read and the swap
        # below would be deleted with the old directory otherwise
        with self._dlq_lock:
            if not data_dir.exists() or not any(data_dir.glob("*.parquet")):
                return report
            dlq = self.spark.read.parquet(str(data_dir)).persist()
            try:
                eligible = dlq.filter(F.col("attempts") < max_attempts)
                parked = dlq.filter(F.col("attempts") >= max_attempts)
                failures: list[DataFrame] = []
                tables = [
                    r[0] for r in eligible.select("target_table").distinct().collect()
                ]
                for t in sorted(tables):
                    sub = eligible.filter(F.col("target_table") == t)
                    try:
                        events = parse_events(
                            self.spark, sub.select(F.col("payload").alias("value"))
                        )
                        rows = normalize_events(events, self.config).persist()
                        self.store.write(
                            rows, t, nullable_new=self.config.altered_column_nullable
                        )
                        n = rows.count()
                        rows.unpersist()
                        report.tables[t] = n
                        self._trace(
                            {"event": "dlq_retry_ok", "table": t, "rows": n},
                            suffix=".success.log",
                        )
                    except Exception as exc:  # noqa: BLE001 — back to the DLQ
                        err = str(exc)[:500]
                        report.errors[t] = err
                        failures.append(
                            sub.withColumn("attempts", F.col("attempts") + 1)
                            .withColumn("error", F.lit(err))
                            .withColumn("dead_lettered_at", F.current_timestamp())
                        )
                        self._trace(
                            {"event": "dlq_retry_fail", "table": t, "error": err},
                            suffix=".failedsingle.error.log",
                        )
                remaining = parked
                for f in failures:
                    remaining = remaining.unionByName(f)
                # atomic DLQ replacement: write survivors to a fresh
                # dir, then crash-safe swap (old dir renamed aside
                # before deletion — streaming/store.py swap_dirs)
                report.n_dead_lettered = remaining.count()
                tmp = self.store.root / DLQ_TABLE / f".retry-{uuid.uuid4().hex[:8]}"
                remaining.write.mode("overwrite").parquet(str(tmp))
                swap_dirs(tmp, data_dir)
                return report
            finally:
                dlq.unpersist()

    def _aborts_batch(
        self, exc: BaseException, batch_id: int | None, table: str | None
    ) -> bool:
        """True when ``exc`` must abort the batch instead of being
        dead-lettered (``table`` None: the shared normalize stage).

        A stop()/shutdown interrupt mid-flush is NOT a bad batch:
        demoting it would let the micro-batch "succeed", commit its
        offsets, and strand the events in the DLQ (observed: a
        maintenance restart racing an in-flight batch silently dropped
        a row to the DLQ forever). Re-raising aborts the batch
        uncommitted so it replays on restart — the idempotent batch-id
        log absorbs any partial table writes. The detection errs
        toward re-raise: a false positive costs one replay — and only
        up to the replay cap, so a deterministic poison batch whose
        error text mimics a cancellation still reaches the DLQ instead
        of stalling ingestion (ADVICE r4).
        """
        if not _is_interruption(exc):
            return False
        if batch_id is None:
            return True
        key = (batch_id, table)
        with self._lock:
            n = self._interruption_replays.get(key, 0) + 1
            self._interruption_replays[key] = n
        if n <= _INTERRUPTION_REPLAY_CAP:
            return True
        self._trace(
            {
                "event": "interruption_replay_cap",
                "batch": batch_id,
                "table": table,
                "replays": n,
            }
        )
        return False

    # -- the tick ---------------------------------------------------------
    def process_raw_batch(self, raw: DataFrame, batch_id: int | None = None) -> IngestReport:
        """Ingest a batch of raw JSON strings (column ``value``).

        ``batch_id`` (passed by the streaming wrapper's foreachBatch)
        makes the per-table writes idempotent: a replayed batch id is
        skipped by the store's commit log, so crash-replay never
        double-inserts. Direct batch callers omit it.
        """
        if not self.store.ping():  # B4: sink-health gate
            raise StoreUnavailableError(f"store {self.store.root} unavailable")
        report = IngestReport(batch_id=batch_id)

        def _phase(name: str, sec: float) -> None:
            with self._lock:
                report.phase_seconds[name] = (
                    report.phase_seconds.get(name, 0.0) + sec
                )

        t_parse = time.perf_counter()
        events = parse_events(self.spark, raw)
        if not events.columns:
            return report
        etp = self.config.event_type_property
        if etp not in events.columns:
            n = events.count()
            report.n_events = n
            report.n_missing_routing_key = n
            self._trace({"event": "missing_routing_key", "batch": batch_id, "rows": n})
            return report

        _phase("parse_infer", time.perf_counter() - t_parse)
        _phase("route", 0.0)

        events = events.persist()
        try:
            valid = events.filter(F.col(etp).isNotNull())
            t_norm = time.perf_counter()
            try:
                # ONE routed normalize for the whole batch: its first
                # grouped aggregate (which also materializes the cached
                # JSON parse) yields the routing table and the counts
                batch = normalize_events(events, self.config, route_by=etp)
            except Exception as exc:  # noqa: BLE001 — E1 for every type
                if self._aborts_batch(exc, batch_id, None):
                    raise
                # a shared-stage failure must not stall the stream:
                # every routed type is dead-lettered with it, and DLQ
                # retry re-normalizes each table on its own
                err = str(exc)[:500]
                types = [r[0] for r in valid.select(etp).distinct().collect()]
                for etype in sorted(types):
                    report.errors[etype] = err
                    self._dead_letter(
                        valid.filter(F.col(etp) == etype), etype, err, report
                    )
                return report
            _phase("normalize", time.perf_counter() - t_norm)
            report.n_events = sum(batch.counts.values())
            # F1: events with no routing key are logged and dropped
            report.n_missing_routing_key = batch.counts.get(None, 0)
            if report.n_missing_routing_key:
                self._trace(
                    {
                        "event": "missing_routing_key",
                        "batch": batch_id,
                        "rows": report.n_missing_routing_key,
                    }
                )

            def _process_type(etype: str) -> None:
                try:
                    rows = batch.frames[etype]
                    # the routed count is authoritative for the default
                    # transform (it adds a column, never filters); a
                    # custom P8 hook may change the row count
                    n = batch.counts[etype] if self.config.transform is None else rows.count()
                    t_append = time.perf_counter()
                    target = self.config.target_rows_per_file
                    coalesce_to = (
                        max(1, -(-n // target)) if target and n else None
                    )
                    keys = self.config.upsert_keys
                    if keys and all(k in rows.columns for k in keys):
                        # CDC mode: MERGE on the key tuple
                        # (last-write-wins; store.upsert docstring)
                        self.store.upsert(
                            rows,
                            etype,
                            keys=keys,
                            batch_id=batch_id,
                            partition_by=self.config.table_partition_by,
                            sort_by=self.config.table_sort_by,
                        )
                    else:
                        self.store.write(
                            rows,
                            etype,
                            nullable_new=self.config.altered_column_nullable,
                            batch_id=batch_id,
                            partition_by=self.config.table_partition_by,
                            sort_by=self.config.table_sort_by,
                            coalesce_to=coalesce_to,
                        )
                    _phase("append", time.perf_counter() - t_append)
                    with self._lock:
                        report.tables[etype] = n
                    self._trace(
                        {"event": "insert", "batch": batch_id, "table": etype, "rows": n},
                        suffix=".success.log",
                    )
                except Exception as exc:  # noqa: BLE001 — E1: dead-letter path
                    if self._aborts_batch(exc, batch_id, etype):
                        raise
                    with self._lock:
                        report.errors[etype] = str(exc)[:500]
                    self._dead_letter(
                        valid.filter(F.col(etp) == etype), etype, str(exc)[:500], report
                    )

            # per-table flushes run concurrently, like the reference's
            # independent bulkers (src/main.ts:463-514) — each submits
            # its own Spark jobs against the shared cached batch, and
            # distinct types write to distinct table directories
            types = sorted(batch.frames)
            try:
                if len(types) <= 1:
                    for etype in types:
                        _process_type(etype)
                else:
                    with ThreadPoolExecutor(
                        max_workers=min(8, len(types))
                    ) as pool:
                        list(pool.map(_process_type, types))
            finally:
                batch.release()
            return report
        finally:
            events.unpersist()
