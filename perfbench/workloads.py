"""The workloads: a micro-batch ingest backlog and a Layer-B query mix.

Each ``run_*`` function owns one Spark session (``session.get_spark``
at ``local[nproc]``), sets it up ``SETUPS`` times (session start plus
warm-up; the median is ``setup_s``), runs the timed phase, reads the
results back ``READBACKS`` times (the median is ``readback_s``), checks
every output, and returns a ``Result``. With a ``Tracer`` the same run
also records spans, Spark status-store totals and the per-layer
metrics.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

SETUPS = 3
READBACKS = 3


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)


def tail_percentile(n: int) -> tuple[float, int]:
    """(percentile, samples beyond it): the highest percentile with at
    least 10 samples above it, or with a fifth of them (at least one)
    when a run has fewer than 20."""
    beyond = 10 if n >= 20 else max(1, n // 5)
    return max(0.0, (n - beyond) / n) * 100, beyond


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100)."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * pct // 100))
    return ordered[int(rank) - 1]


def start_session(master: str | None = None):
    from redis_events_to_clickhouse_tables_spark.session import get_spark

    return get_spark("perfbench", master=master)


def _setups(work: Path, warm_up, result: Result):
    """Start the session and warm it ``SETUPS`` times; keep the last."""
    setup, starts, warms = [], [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        warm_up(spark, work / f"warm-{i}")
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        setup.append(t2 - t0)
    result.e2e["setup_s"] = statistics.median(setup)
    result.layer["session.start_s"] = statistics.median(starts)
    result.layer["session.warmup_s"] = statistics.median(warms)
    result.info["setup_runs_s"] = setup
    return spark


# -- ingest -----------------------------------------------------------------

def ingest_config():
    from redis_events_to_clickhouse_tables_spark.config import IngestConfig

    return IngestConfig(split_records_as_columns=True, split_array_items_as_columns=True)


def _drain(spark, source: Path, store_root: Path, checkpoint: Path):
    """Drain ``source`` one file per micro-batch (``availableNow``) into
    a fresh store, as the worker does; returns the store."""
    from redis_events_to_clickhouse_tables_spark.streaming.store import TableStore
    from redis_events_to_clickhouse_tables_spark.streaming.stream import start_file_ingest

    store = TableStore(spark, store_root)
    query = start_file_ingest(
        spark,
        str(source),
        store,
        ingest_config(),
        checkpoint_dir=str(checkpoint),
        available_now=True,
        max_files_per_trigger=1,
    )
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")
    return store


def readback(spark, store) -> tuple[float, dict[str, dict]]:
    """The analyst's first query on fresh data: read every table, then
    count, min/max of ``sent_at`` and the exact ``amount`` sum per hour
    of ``created_at``. Returns (seconds, per-table totals)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    out = {}
    for table in store.tables():
        rows = (
            store.read(table)
            .groupBy(F.date_trunc("hour", "created_at").alias("hour"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("sent_at").alias("first"),
                F.max("sent_at").alias("last"),
                F.sum(F.col("amount").cast("decimal(18,2)")).alias("amount"),
            )
            .collect()
        )
        out[table] = {
            "rows": sum(r["n"] for r in rows),
            "amount_cents": int(sum(r["amount"] for r in rows) * 100),
            "hours": len(rows),
        }
    return time.perf_counter() - t0, out


def check_ingest(spark, store, manifest, totals: dict[str, dict], result: Result) -> None:
    """Every table against the manifest; ``_dlq`` empty; the engine's
    missing-routing-key trace equals the generated count. Duplicates
    are counted by DuckDB straight from the table's parquet files."""
    import duckdb

    problems = result.problems
    dlq_dir = store.root / "_dlq" / "data"
    dead = spark.read.parquet(str(dlq_dir)).count() if any(dlq_dir.glob("*.parquet")) else 0
    if dead:
        problems.append(f"_dlq holds {dead} events")
    missing_rows = 0
    for table, expected in manifest.rows.items():
        got = totals.get(table, {"rows": 0, "amount_cents": 0})
        missing_rows += max(0, expected - got["rows"])
        if got["rows"] != expected:
            problems.append(f"{table}: {got['rows']} rows, expected {expected}")
        if got["amount_cents"] != manifest.amount_cents[table]:
            problems.append(f"{table}: amount sum {got['amount_cents']} != {manifest.amount_cents[table]}")
        if table not in totals:
            continue
        schema = store.table_schema(table)
        have = {f.name: f.dataType.simpleString() for f in schema.fields}
        if have != manifest.schema[table]:
            problems.append(f"{table}: schema {have} != {manifest.schema[table]}")
        files = f"{store.data_dir(table)}/**/*.parquet"
        distinct = duckdb.sql(f"SELECT count(DISTINCT event_id) FROM read_parquet('{files}')").fetchone()[0]
        if distinct != got["rows"]:
            problems.append(f"{table}: {got['rows'] - distinct} duplicate events")
    extra = sorted(set(totals) - set(manifest.rows))
    if extra:
        problems.append(f"unexpected tables {extra}")
    trace = store.root / "_trace.jsonl"
    logged_missing = 0
    if trace.exists():
        for line in trace.read_text().splitlines():
            rec = json.loads(line)
            if rec.get("event") == "missing_routing_key":
                logged_missing += rec["rows"]
    if logged_missing != manifest.missing_routing_key:
        problems.append(
            f"missing routing key: engine logged {logged_missing}, generated {manifest.missing_routing_key}"
        )
    result.attempted = manifest.routed
    result.failed = dead + missing_rows
    result.info["failed_ratio"] = result.failed / manifest.routed


def _batch_windows(progress) -> list[tuple[int, int]]:
    from datetime import datetime

    out = []
    for p in progress:
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        start_ms = int(round(start * 1000))
        out.append((start_ms, start_ms + p.durationMs["triggerExecution"]))
    return out


def run_ingest(work: Path, seed: int, spec, tracer=None, bulk=None) -> Result:
    """Drain the seeded backlog ``spec``; a traced run also measures the
    ``bulk`` backlog against a one-core baseline."""
    from .events import stage_backlog
    from .tracing import ProgressListener, peak_rss_mb

    result = Result()
    t_gen = time.perf_counter()
    warm_src, backlog, manifest = stage_backlog(work / "input", seed, spec)
    result.info["input_s"] = time.perf_counter() - t_gen

    def warm_up(spark, d: Path) -> None:
        # the read-back of the warm-up store compiles the read-back's
        # code, so the timed read-backs of the backlog run warm
        readback(spark, _drain(spark, warm_src, d / "store", d / "checkpoint"))

    spark = _setups(work, warm_up, result)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    if tracer is not None:
        install_ingest_tracing(tracer)
    try:
        store = _drain(spark, backlog, work / "store", work / "checkpoint")
        if not listener.terminated.wait(60):
            result.problems.append("streaming listener saw no termination")
        progress = sorted(listener.progress, key=lambda p: p.batchId)
        reads = [readback(spark, store) for _ in range(READBACKS)]
    finally:
        if tracer is not None:
            tracer.restore()
    windows = _batch_windows(progress)
    trigger = [p.durationMs["triggerExecution"] / 1000 for p in progress]
    if len(progress) != spec.n_batches:
        result.problems.append(f"{len(progress)} micro-batches, expected {spec.n_batches}")
    wall = (windows[-1][1] - windows[0][0]) / 1000 if windows else float("nan")
    pct, beyond = tail_percentile(len(trigger))
    totals = reads[0][1]
    result.e2e.update(pass_s=wall, readback_s=statistics.median(r[0] for r in reads))
    result.layer["step.p50_s"] = statistics.median(trigger)
    result.info.update(
        readback_runs_s=[r[0] for r in reads],
        batch_s=trigger,
        events=manifest.events,
        events_per_s=manifest.events / wall,
        batches=len(trigger),
        batch_tail_pct=pct,
        batch_tail_beyond=beyond,
        batch_tail_s=percentile(trigger, pct),
    )
    check_ingest(spark, store, manifest, totals, result)
    result.layer["session.peak_rss_mb"] = peak_rss_mb()
    if tracer is not None:
        ingest_layers(spark, tracer, progress, windows, result)
    spark.stop()
    if tracer is not None and bulk is not None:
        bulk_baseline(work, seed, bulk, result)
    return result


def bulk_baseline(work: Path, seed: int, spec, result: Result) -> None:
    """The executor-bound case (100k-event batches, stable schema),
    drained on ``local[nproc]`` and on ``local[1]`` after one warm-up
    batch each (traced run only)."""
    from .events import stage_backlog
    from .tracing import ProgressListener

    warm_src, backlog, manifest = stage_backlog(work / "bulk-input", seed, spec)
    rates = {}
    for label, master in (("bulk_events_per_s", None), ("bulk_local1_events_per_s", "local[1]")):
        spark = start_session(master)
        try:
            _drain(spark, warm_src, work / f"{label}-warm", work / f"{label}-warm-checkpoint")
            listener = ProgressListener()
            spark.streams.addListener(listener)
            store = _drain(spark, backlog, work / f"{label}-store", work / f"{label}-checkpoint")
            listener.terminated.wait(60)
            windows = _batch_windows(listener.progress)
            wall = (max(hi for _, hi in windows) - min(lo for lo, _ in windows)) / 1000
            rates[label] = manifest.events / wall
            check = Result()
            check_ingest(spark, store, manifest, readback(spark, store)[1], check)
            result.problems += [f"{label}: {p}" for p in check.problems]
        finally:
            spark.stop()
    result.layer["baseline.bulk_events_per_s"] = rates["bulk_events_per_s"]
    result.layer["baseline.bulk_local1_events_per_s"] = rates["bulk_local1_events_per_s"]
    result.layer["baseline.speedup_vs_local1"] = (
        rates["bulk_events_per_s"] / rates["bulk_local1_events_per_s"]
    )


def install_ingest_tracing(tracer) -> None:
    """Spans and counts around every call into the ingest layers."""
    from redis_events_to_clickhouse_tables_spark.streaming import ingest as ingest_mod
    from redis_events_to_clickhouse_tables_spark.streaming import normalize as normalize_mod
    from redis_events_to_clickhouse_tables_spark.streaming import store as store_mod

    cache = normalize_mod._EXPR_CACHE

    def batch(original):
        def traced(engine, raw, batch_id=None):
            # micro-batches are single-flight, so the batch in flight is
            # the key that links pool-thread spans to their batch
            tracer.current_key = str(batch_id)
            before = len(cache)
            t0 = time.perf_counter()
            try:
                report = original(engine, raw, batch_id)
            finally:
                tracer.record("ingest.batch", t0, time.perf_counter(), str(batch_id))
                # each expression-cache miss adds a projection and an
                # aggregate entry
                tracer.add("normalize.cache_misses", (len(cache) - before) / 2)
            tracer.add("ingest.dead_lettered", report.n_dead_lettered)
            tracer.add("ingest.missing_routing_key", report.n_missing_routing_key)
            return report

        return traced

    def files(path: Path) -> dict[str, int]:
        return {str(p): p.stat().st_size for p in path.rglob("*.parquet")} if path.exists() else {}

    def write(original):
        def traced(store, df, table, *args, **kwargs):
            before = files(store.data_dir(table))
            t0 = time.perf_counter()
            try:
                return original(store, df, table, *args, **kwargs)
            finally:
                tracer.record("store.write", t0, time.perf_counter(), tracer.current_key, table)
                new = {p: n for p, n in files(store.data_dir(table)).items() if p not in before}
                tracer.add("store.files_written", len(new))
                tracer.add("store.bytes_written", sum(new.values()))

        return traced

    def read(original):
        def traced(store, table):
            t0 = time.perf_counter()
            try:
                return original(store, table)
            finally:
                tracer.record("store.read", t0, time.perf_counter(), "readback", table)
                tracer.add("store.files_read", len(files(store.data_dir(table))))

        return traced

    def merge(original):
        def counted(existing, incoming, *args, **kwargs):
            merged = original(existing, incoming, *args, **kwargs)
            if existing is not None:
                old = {f.name: f.dataType for f in existing.fields}
                tracer.add("evolution.merges", int(len(merged.fields) > len(old)))
                tracer.add(
                    "evolution.widenings",
                    sum(1 for f in merged.fields if f.name in old and old[f.name] != f.dataType),
                )
            return merged

        return counted

    def normalize(original):
        def counted(*args, **kwargs):
            tracer.add("normalize.calls", 1)
            return original(*args, **kwargs)

        return counted

    tracer.patch(ingest_mod.IngestEngine, "process_raw_batch", batch)
    # the engine calls these through its own module's names
    tracer.wrap(ingest_mod, "parse_events", "inference.parse")
    tracer.patch(ingest_mod, "normalize_events", normalize)
    tracer.wrap(ingest_mod, "normalize_events", "normalize")
    tracer.patch(store_mod.TableStore, "write", write)
    tracer.wrap(store_mod.TableStore, "_rewrite", "store.rewrite", table_fn=lambda a: a[1])
    tracer.patch(store_mod, "merge_schemas", merge)
    tracer.patch(store_mod.TableStore, "read", read)


def ingest_layers(spark, tracer, progress, windows, result: Result) -> None:
    """Per-layer metrics of a traced ingest run (per-batch medians)."""
    from .tracing import jobs_in_window, stage_totals

    tracer.link_parents("ingest.batch")
    med = statistics.median
    keys = [str(p.batchId) for p in progress]
    batch_spans = {s.key: s for s in tracer.spans if s.name == "ingest.batch"}

    def per_batch(name: str) -> list[float]:
        return [sum(s.dur for s in tracer.spans if s.name == name and s.key == k) for k in keys]

    harness = [
        (p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)) / 1000 for p in progress
    ]
    batch = [batch_spans[k].dur for k in keys if k in batch_spans]
    self_s = [tracer.self_time(batch_spans[k]) for k in keys if k in batch_spans]
    table_spans = [per_batch("normalize")[i] + per_batch("store.write")[i] for i in range(len(keys))]
    callback_gap = [
        p.durationMs.get("addBatch", 0) / 1000 - batch_spans[str(p.batchId)].dur
        for p in progress if str(p.batchId) in batch_spans
    ]
    per_batch_jobs = jobs_in_window(spark, windows)
    totals = stage_totals(spark, [j for jobs in per_batch_jobs for j in jobs])
    calls = tracer.counts.get("normalize.calls", 0)
    misses = tracer.counts.get("normalize.cache_misses", 0)
    L = result.layer
    L.update({
        "stream.trigger_s": med(p.durationMs["triggerExecution"] / 1000 for p in progress),
        "stream.harness_s": med(harness),
        # the slowest batch: where a schema rewrite lands
        "stream.trigger_max_s": max(p.durationMs["triggerExecution"] / 1000 for p in progress),
        "stream.callback_gap_s": med(callback_gap),
        "ingest.batch_s": med(batch),
        "ingest.self_s": med(self_s),
        "ingest.table_parallelism": med(t / b for t, b in zip(table_spans, batch) if b > 0),
        "ingest.dead_lettered": tracer.counts.get("ingest.dead_lettered", 0),
        "ingest.missing_routing_key": tracer.counts.get("ingest.missing_routing_key", 0),
        "inference.parse_s": med(per_batch("inference.parse")),
        "normalize.s": med(per_batch("normalize")),
        "normalize.expr_cache_hit_ratio": 1 - misses / calls if calls else 0.0,
        "evolution.merges": tracer.counts.get("evolution.merges", 0),
        "evolution.widenings": tracer.counts.get("evolution.widenings", 0),
        "store.write_s": med(per_batch("store.write")),
        "store.rewrite_s": sum(s.dur for s in tracer.spans if s.name == "store.rewrite"),
        "store.files_written": tracer.counts.get("store.files_written", 0),
        "store.bytes_written": tracer.counts.get("store.bytes_written", 0),
        # per readback pass
        "store.read_s": sum(s.dur for s in tracer.spans if s.name == "store.read") / READBACKS,
        "store.files_read": tracer.counts.get("store.files_read", 0) / READBACKS,
        "spark.jobs_per_step": med(len(j) for j in per_batch_jobs),
        **totals,
        "trace.pass_s": result.e2e["pass_s"],
    })
    result.info["per_batch"] = [
        {"batch": k, "trigger_s": p.durationMs["triggerExecution"] / 1000,
         "add_batch_s": p.durationMs.get("addBatch", 0) / 1000, "jobs": len(j)}
        for k, p, j in zip(keys, progress, per_batch_jobs)
    ]


# -- query mix ----------------------------------------------------------------

# one query per query-layer cost shape, run in this fixed order: scan
# and aggregate, events, text scoring, vector top-k, shuffle-heavy
# dedup (many jobs), executor-CPU-heavy. The order is fixed because
# first-touch code generation lands on whichever query of a family
# runs first, and a seeded order moved the per-query median between
# the cheap and the heavy queries.
MIX = (
    "q1_pricing_summary",
    "events_sessionize",
    "text_bm25_score",
    "sim_bruteforce_topk",
    "dedup_minhash_lsh_candidates",
    "stats_bootstrap_mean_ci",
)
QUERY_SF = 0.1
WARM_SF = 0.001
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def table_readback(spark, sf_dir: str) -> float:
    """Scan every fact table once: row count plus min/max of its first
    column (the query-side counterpart of the ingest readback)."""
    from pyspark.sql import functions as F

    from redis_events_to_clickhouse_tables_spark.sources.tables import table

    t0 = time.perf_counter()
    for name in FACT_TABLES:
        df = table(spark, sf_dir, name)
        first = df.columns[0]
        df.agg(F.count(F.lit(1)), F.min(first), F.max(first)).collect()
    return time.perf_counter() - t0


def run_query_mix(work: Path, seed: int, seconds: float, tracer=None) -> Result:
    import duckdb

    from redis_events_to_clickhouse_tables_spark.registry import load_all
    from redis_events_to_clickhouse_tables_spark.sources.tables import TABLES
    from tests.oracle_harness import compare_frames

    from .tables import write_tables
    from .tracing import peak_rss_mb

    result = Result()
    t_gen = time.perf_counter()
    data_dir = str(write_tables(work / f"sf{QUERY_SF}", QUERY_SF, seed))
    warm_dir = str(write_tables(work / f"sf{WARM_SF}", WARM_SF, seed))
    result.info["input_s"] = time.perf_counter() - t_gen
    registry = load_all()

    def warm_up(spark, _d: Path) -> None:
        # as bench.py: JVM/parquet/codegen warm-up on a small copy, and
        # the Python worker pool (the first mapInPandas forks one
        # interpreter per core); one read-back of the small copy, so the
        # timed read-backs run warm
        registry["q1_pricing_summary"].build(spark, warm_dir).count()
        par = spark.sparkContext.defaultParallelism
        spark.range(0, par, 1, par).mapInPandas(lambda it: it, "id long").count()
        table_readback(spark, warm_dir)
        spark.catalog.clearCache()

    spark = _setups(work, warm_up, result)
    sc = spark.sparkContext
    passes, per_query, rows, layer_rows = [], [], {}, []
    # whole passes only: another one runs while it still fits in ``seconds``
    start = time.perf_counter()
    while not passes or time.perf_counter() - start + passes[-1] <= seconds:
        pass_s = 0.0
        for name in MIX:
            spec = registry[name]
            if tracer is not None:
                sc.setJobGroup(f"perfbench:{name}:{len(passes)}", name)
            df, n = None, None
            t0 = t1 = time.perf_counter()
            try:
                df = spec.build(spark, data_dir)
                t1 = time.perf_counter()
                n = df.count()
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
                result.problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            t2 = time.perf_counter()
            if tracer is not None:
                sc._jsc.clearJobGroup()
                layer_rows.append((name, len(passes), t1 - t0, t2 - t1, df))
            spark.catalog.clearCache()
            pass_s += t2 - t0
            per_query.append(t2 - t0)
            result.info.setdefault("query_s", {}).setdefault(name, []).append(round(t2 - t0, 3))
            rows.setdefault(name, []).append(n)
        passes.append(pass_s)

    # correctness, outside the timed window: every row count against
    # DuckDB, one full order-insensitive value comparison per run
    t_check = time.perf_counter()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failed = set()
    for name in MIX:
        oracle = registry[name].oracle
        expected = con.sql(f"SELECT count(*) FROM ({oracle})").fetchone()[0] if oracle else None
        for n in rows[name]:
            if n is None or (expected is not None and n != expected):
                failed.add(name)
                result.problems.append(f"{name}: {n} rows, oracle {expected}")
    checked = [n for n in MIX if registry[n].oracle]
    full = checked[seed % len(checked)]
    try:
        got = registry[full].build(spark, data_dir).toPandas()
        cmp = compare_frames(full, got, con.sql(registry[full].oracle).df())
        if not cmp.ok:
            failed.add(full)
            result.problems.append(str(cmp))
    except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
        failed.add(full)
        result.problems.append(f"{full}: full comparison raised {type(exc).__name__}: {exc}")
    spark.catalog.clearCache()
    con.close()
    result.info["check_s"] = time.perf_counter() - t_check
    result.attempted = len(MIX)
    result.failed = len(failed)
    result.info.update(failed_ratio=len(failed) / len(MIX), passes=len(passes), full_compare=full)

    reads = [table_readback(spark, data_dir) for _ in range(READBACKS)]
    result.e2e.update(pass_s=statistics.median(passes), readback_s=statistics.median(reads))
    result.info["readback_runs_s"] = reads
    result.layer["step.p50_s"] = statistics.median(per_query)
    if tracer is not None:
        query_layers(spark, layer_rows, passes, result)
    result.layer["session.peak_rss_mb"] = peak_rss_mb()
    spark.stop()
    return result


def query_layers(spark, layer_rows, passes, result: Result) -> None:
    """Per-layer metrics of a traced query-mix run, summed over one
    pass (the median over passes when there are several)."""
    from .tracing import catalyst_ms, stage_totals

    sc = spark.sparkContext
    per_pass: list[dict[str, float]] = [dict() for _ in passes]
    rows = []
    for name, p, build_s, exec_s, df in layer_rows:
        jobs = list(sc.statusTracker().getJobIdsForGroup(f"perfbench:{name}:{p}"))
        totals = stage_totals(spark, jobs)
        row = {"query.build_s": build_s, "query.exec_s": exec_s,
               "query.catalyst_ms": catalyst_ms(df) if df is not None else 0.0, **totals}
        rows.append({"query": name, "pass": p, **row})
        for k, v in row.items():
            per_pass[p][k] = per_pass[p].get(k, 0.0) + v
    keys = per_pass[0].keys()
    result.layer.update({k: statistics.median(pp[k] for pp in per_pass) for k in keys})
    result.layer["spark.jobs_per_step"] = statistics.median(r["spark.jobs"] for r in rows)
    result.layer["trace.pass_s"] = result.e2e["pass_s"]
    result.info["per_query"] = rows
