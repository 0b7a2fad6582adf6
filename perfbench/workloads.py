"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

* ``eod_daily``: land one trading-date file, call ``plans.pipeline.run``
  for it. Operation = round = date.
* ``dashboard``: passes over the ten reference tiles in a seeded order,
  each forced by an every-column ``xxhash64`` fold. Operation = tile,
  round = pass.
* ``eod_backfill``: land a backlog, drain it with
  ``streaming.ingest.stream_ingest_eod``. Operation = micro-batch,
  round = drain.

Every run starts a fresh JVM. The write workloads time their first round
after set-up; the dashboard times its passes after an untimed output-check
pass that also warms it up (README.md says why). Output checks run outside
the timed rounds and outside ``setup_s``; a failed check fails the
operations it covers.
"""

from __future__ import annotations

import os
import random
import sys
import time
from collections import defaultdict

import gen
from harness import Run, timed_loop
from spans import files_added, list_files, self_time
from stats import p50

PIPE_STAGES = ["ingest_bronze", "build_silver", "build_dim_security", "build_dim_date", "build_fact"]
# name plans.pipeline imported -> span name
PIPE_CALLEES = {
    "premerge_metrics": "plans.metrics.premerge_metrics",
    "postmerge_counts": "plans.metrics.postmerge_counts",
    "existence_gate": "operators.quality.existence_gate",
    "next_id": "operators.surrogate_keys.next_id",
    "upsert_partitions": "operators.merge.upsert_partitions",
    "insert_if_absent": "operators.merge.insert_if_absent",
}
MERGE_OPS = ["upsert_partitions", "insert_if_absent"]
# tile -> function in queries.serving
TILES = {
    "q1_market_totals": "q1_market_totals",
    "q2_rolling_liquidity": "q2_rolling_liquidity",
    "q3_liquidity_rank": "q3_liquidity_rank",
    "q4b_sector_contribution": "q4b_sector_contribution",
    "q5_daily_returns": "q5_daily_returns",
    "q6_top_volume": "q6_top_volume",
    "q7_volatility_topk": "q7_volatility_topk",
    "q8_ohlc_series": "q8_ohlc_series",
    "q9_price_averages": "q9_price_averages",
    "flagship_liquidity_top20": "flagship",
}
# per-layer table name -> Warehouse property
TABLES = {
    "bronze": "bronze", "silver": "silver", "reject": "reject",
    "dim_security": "dim_security", "dim_date": "dim_date", "fact": "fact_daily_price",
}
STREAM_MS = ["addBatch", "queryPlanning", "getBatch", "walCommit"]

DASH_LINES = 30_000  # lineitem rows of the dashboard tables
DASH_PARTS = 1_000  # symbols of the dashboard tables
MIN_PASSES = 2  # timed passes per run
BACKLOG_BATCHES = 2  # micro-batches per drain: new dates, then new dates + a correction
FILES_PER_TRIGGER = 5


def layer_units() -> dict[str, str]:
    """Every per-layer metric, in the order printed, with its unit."""
    u: dict[str, str] = {}
    for st in PIPE_STAGES:
        for k, unit in (("self_s", "s"), ("jobs", "count"), ("tasks", "count")):
            u[f"plans.pipeline.{st}.{k}"] = unit
    u["plans.pipeline.jobs_per_day"] = "count"
    for name in ("plans.metrics.premerge_metrics", "plans.metrics.postmerge_counts",
                 "operators.quality.existence_gate", "operators.surrogate_keys.next_id"):
        u[f"{name}.self_s"] = "s"
        u[f"{name}.jobs"] = "count"
    for op in MERGE_OPS:
        for k, unit in (("self_s", "s"), ("jobs", "count"), ("tasks", "count")):
            u[f"operators.merge.{op}.{k}"] = unit
    for t in TABLES:
        u[f"tables.{t}.files_added"] = "count"
    u["tables.bytes_written_per_landed_byte"] = "ratio"
    u["streaming.ingest.batches"] = "count"
    u["streaming.ingest.rows_read_per_landed_row"] = "ratio"
    for k in STREAM_MS:
        u[f"streaming.ingest.{k}_ms.p50"] = "ms"
    for tile in TILES:
        for k, unit in (("call_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count")):
            u[f"queries.serving.{tile}.{k}"] = unit
    u["queries.bars.bars_silver.build_s"] = "s"
    u["queries.bars.bars_silver.builds"] = "count"
    u["queries.bars.bars_silver.jobs"] = "count"
    u["session.get_spark_s"] = "s"
    u["spark.failed_tasks"] = "count"
    u["process.peak_rss_mb"] = "MB"
    return u


def _span_totals(run: Run, name: str, per: int) -> dict[str, float]:
    """Self time, jobs and tasks of the timed spans called ``name``, per
    operation (``per`` operations in the timed rounds)."""
    spans = run.tracer.closed(name, "timed")
    return {
        "self_s": sum(self_time(s) for s in spans) / per,
        "jobs": sum(s.jobs for s in spans) / per,
        "tasks": sum(s.tasks for s in spans) / per,
    }


def _subtree_jobs(span) -> int:
    return span.jobs + sum(_subtree_jobs(c) for c in span.children)


def _finish_layers(run: Run, values: dict[str, float]) -> None:
    """Per-layer metrics: those the workload measured, 0 for layers it does
    not reach; the session and failed-task counters on every workload."""
    values["session.get_spark_s"] = run.get_spark_s
    values["spark.failed_tasks"] = sum(s.failed_tasks for s in run.tracer.spans)
    values["process.peak_rss_mb"] = run.info["peak_rss_mb"]
    run.layers = {k: (float(values.get(k, 0.0)), u) for k, u in layer_units().items()}


def _table_deltas(wh, before, after, acc) -> None:
    for t, prop in TABLES.items():
        n, b = files_added(before, after, getattr(wh, prop))
        acc[f"tables.{t}.files_added"] += n
        acc["bytes"] += b


def _write_layers(run: Run, acc: dict[str, float], per: int) -> dict[str, float]:
    """Layers both write workloads reach: merge operators and tables."""
    v = {f"tables.{t}.files_added": acc[f"tables.{t}.files_added"] / per for t in TABLES}
    v["tables.bytes_written_per_landed_byte"] = acc["bytes"] / acc["landed_bytes"]
    for op in MERGE_OPS:
        for k, x in _span_totals(run, f"operators.merge.{op}", per).items():
            v[f"operators.merge.{op}.{k}"] = x
    return v


# --- eod_daily -----------------------------------------------------------


def eod_daily(run: Run) -> None:
    from securities_pricing_data_pipeline_spark.plans import pipeline
    from securities_pricing_data_pipeline_spark.tables import Warehouse

    landing = os.path.join(run.work, "landing")
    wh = Warehouse(os.path.join(run.work, "warehouse"))
    dates = gen.trading_dates(2000)
    if run.tracer:
        run.tracer.wrap(pipeline, "run", "plans.pipeline.run")
        for st in PIPE_STAGES:
            run.tracer.wrap(pipeline, st, f"plans.pipeline.{st}")
        for attr, name in PIPE_CALLEES.items():
            run.tracer.wrap(pipeline, attr, name)
    run.setup()

    day_s: list[float] = []
    acc: dict[str, float] = defaultdict(float)

    def one_date(i: int) -> int:
        truth = gen.land_daily(run.seed, landing, dates[i])
        before = list_files(wh.root) if run.tracer else None
        t0 = time.perf_counter()
        m = pipeline.run(run.spark, wh, landing, truth.trade_date)
        day_s.append(time.perf_counter() - t0)
        if run.tracer:
            run.tracer.resolve_jobs()
            _table_deltas(wh, before, list_files(wh.root), acc)
            acc["landed_bytes"] += os.path.getsize(truth.path)
        got = (m.raw_cnt, m.reject_cnt, m.core_cnt, m.fact_cnt, m.est_inserts, m.est_updates)
        want = (truth.raw_cnt, truth.reject_cnt, truth.core_cnt, truth.core_cnt, truth.core_cnt, 0)
        if got != want:
            run.ops.fail(f"{truth.trade_date}: RunMetrics {got} != truth {want}")
        return 1

    run.phase("timed")
    timed_loop(run.seconds, one_date, run.ops)
    if not day_s:
        return  # the result line reports the failed date
    run.info["dates"] = len(day_s)
    run.record_e2e(day_s, day_s, gen.N_ACTIVE * len(day_s) / sum(day_s))
    if run.tracer:
        n = len(day_s)
        v = _write_layers(run, acc, n)
        for st in PIPE_STAGES:
            for k, x in _span_totals(run, f"plans.pipeline.{st}", n).items():
                v[f"plans.pipeline.{st}.{k}"] = x
        for name in PIPE_CALLEES.values():
            for k, x in _span_totals(run, name, n).items():
                v.setdefault(f"{name}.{k}", x)
        v["plans.pipeline.jobs_per_day"] = sum(
            _subtree_jobs(s) for s in run.tracer.closed("plans.pipeline.run", "timed")
        ) / n
        _finish_layers(run, v)


# --- dashboard -----------------------------------------------------------


def _fold(df):
    """bench.py's forcing action: every column of every row into one scalar."""
    from pyspark.sql import functions as F

    return df.agg(F.max(F.xxhash64(*[F.col(c) for c in df.columns]))).collect()[0][0]


def _oracle_check(root: str):
    """``(duck_run, normalize)`` from the repository's oracle checker."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from check_oracle import duck_run, normalize
    finally:
        sys.path[:] = saved
    return duck_run, normalize


def dashboard(run: Run) -> None:
    from securities_pricing_data_pipeline_spark.queries import ORACLES, bars, serving

    sf = os.path.join(run.work, "tables")
    gen.dashboard_tables(run.seed, sf, lines=DASH_LINES, parts=DASH_PARTS)
    duck_run, normalize = _oracle_check(run.root)
    if run.tracer:
        run.tracer.wrap(bars, "bars_silver", "queries.bars.bars_silver")
        run.tracer.wrap(serving, "bars_silver", "queries.bars.bars_silver")
        for tile, fn in TILES.items():
            run.tracer.wrap(serving, fn, f"queries.serving.{tile}")
    t0 = time.perf_counter()
    expected = {t: normalize(duck_run(sf, ORACLES[t])) for t in TILES}
    run.info["oracle_s"] = time.perf_counter() - t0
    # the serving silver is built at set-up: the working set every tile reads
    run.setup(lambda spark: bars.bars_silver(spark, sf))

    # Output check, untimed: every tile against its DuckDB oracle, and
    # folded once. It is also the warm-up pass, so the timed passes measure
    # a refresh of a dashboard that has been served before.
    run.phase("check")
    t0 = time.perf_counter()
    hashes: dict[str, set] = defaultdict(set)
    rows, wrong = {}, []
    for tile, fn in TILES.items():
        df = getattr(serving, fn)(run.spark, sf)
        got = normalize(df.toPandas())
        hashes[tile].add(_fold(df))
        rows[tile] = len(got[1])
        if got != expected[tile]:
            wrong.append(tile)
    if run.tracer:
        run.tracer.resolve_jobs()
    run.info["check_s"] = time.perf_counter() - t0
    # Heap is read after the fixed-order check pass: a tile with a broadcast
    # join can leave a 64 MB page held until some later query runs, so after
    # the seeded timed passes the reading would depend on the tile order.
    heap_mb = run.heap_retained_mb()

    rnd = random.Random(f"{run.seed}:tiles")
    tile_s: dict[str, list[float]] = defaultdict(list)
    pass_s: list[float] = []

    def one_pass(order: list[str]) -> int:
        t_pass = time.perf_counter()
        for tile in order:
            t0 = time.perf_counter()
            df = getattr(serving, TILES[tile])(run.spark, sf)
            if run.tracer:
                with run.tracer.span(f"queries.serving.{tile}.exec"):
                    hashes[tile].add(_fold(df))
            else:
                hashes[tile].add(_fold(df))
            tile_s[tile].append(time.perf_counter() - t0)
        pass_s.append(time.perf_counter() - t_pass)
        if run.tracer:
            run.tracer.resolve_jobs()
        return len(order)

    def shuffled_pass(i: int) -> int:
        order = list(TILES)
        rnd.shuffle(order)
        return one_pass(order)

    run.phase("timed")
    timed_loop(run.seconds, shuffled_pass, run.ops, min_rounds=MIN_PASSES)
    if not pass_s:
        return  # the result line reports the failed pass
    for tile in TILES:
        if tile in wrong:
            run.ops.fail(f"{tile}: differs from its DuckDB oracle", len(tile_s[tile]))
        elif len(hashes[tile]) != 1:
            run.ops.fail(f"{tile}: fold hash differs across passes", len(tile_s[tile]))
    run.info["pass_s"] = pass_s
    run.info["tile_rows"] = rows
    op_s = [x for xs in tile_s.values() for x in xs]
    served = sum(rows[t] * len(tile_s[t]) for t in TILES)
    run.record_e2e(op_s, pass_s, served / sum(op_s), heap_mb)
    if run.tracer:
        v: dict[str, float] = {}
        for tile in TILES:
            calls = run.tracer.closed(f"queries.serving.{tile}", "timed")
            execs = run.tracer.closed(f"queries.serving.{tile}.exec", "timed")
            n = max(len(calls), 1)
            v[f"queries.serving.{tile}.call_s"] = sum(s.duration for s in calls) / n
            v[f"queries.serving.{tile}.exec_s"] = sum(s.duration for s in execs) / n
            v[f"queries.serving.{tile}.jobs"] = sum(s.jobs for s in calls + execs) / n
            v[f"queries.serving.{tile}.tasks"] = sum(s.tasks for s in calls + execs) / n
        builds = [s for s in run.tracer.closed("queries.bars.bars_silver") if s.jobs]
        v["queries.bars.bars_silver.builds"] = len(builds)
        if builds:
            v["queries.bars.bars_silver.build_s"] = p50([s.duration for s in builds])
            v["queries.bars.bars_silver.jobs"] = sum(s.jobs for s in builds) / len(builds)
        _finish_layers(run, v)


# --- eod_backfill --------------------------------------------------------


def _drain(run: Run, ingest, wh, landing: str, ckpt: str) -> tuple[float, list]:
    t0 = time.perf_counter()
    q = ingest.stream_ingest_eod(
        run.spark, landing, wh, ckpt, available_now=True, max_files_per_trigger=FILES_PER_TRIGGER
    )
    q.awaitTermination()
    elapsed = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    return elapsed, [p for p in q.recentProgress if p["numInputRows"]]


def _check_backlog(run: Run, wh, backlog: gen.Backlog) -> list[str]:
    from pyspark.sql import functions as F

    problems = []
    silver = run.spark.read.parquet(wh.silver)
    n = silver.count()
    if n != backlog.silver_rows:
        problems.append(f"silver rows {n} != {backlog.silver_rows}")
    fixed = sorted(backlog.corrected)
    got: dict = defaultdict(dict)
    for r in silver.filter(F.col("trade_date").isin(fixed)).select(
        "trade_date", "symbol", "close"
    ).collect():
        got[r["trade_date"]][r["symbol"]] = r["close"]
    for d in fixed:
        if got[d] != backlog.expected_closes(d):
            problems.append(f"{d}: silver does not hold the corrected prices")
    return problems


def eod_backfill(run: Run) -> None:
    from securities_pricing_data_pipeline_spark.operators import merge
    from securities_pricing_data_pipeline_spark.streaming import ingest
    from securities_pricing_data_pipeline_spark.tables import Warehouse

    if run.tracer:
        run.tracer.wrap(ingest, "upsert_partitions", "operators.merge.upsert_partitions")
        run.tracer.wrap(merge, "insert_if_absent", "operators.merge.insert_if_absent")

    def land(i: int) -> tuple[str, gen.Backlog]:
        base = os.path.join(run.work, f"drain{i}")
        landing = os.path.join(base, "landing")
        return base, gen.land_backlog(run.seed * 1000 + i, landing, BACKLOG_BATCHES, FILES_PER_TRIGGER)

    landed = {0: land(0)}
    run.setup()

    batch_s: list[float] = []
    drain_s: list[float] = []
    silver_rows = 0
    acc: dict[str, float] = defaultdict(float)
    progress: list = []

    def one_drain(i: int) -> int:
        nonlocal silver_rows
        base, backlog = landed.pop(i) if i in landed else land(i)
        landing = os.path.join(base, "landing")
        wh = Warehouse(os.path.join(base, "warehouse"))
        before = list_files(base) if run.tracer else None
        elapsed, prog = _drain(run, ingest, wh, landing, os.path.join(base, "checkpoint"))
        if run.tracer:
            run.tracer.resolve_jobs()
            _table_deltas(wh, before, list_files(base), acc)
            acc["landed_bytes"] += sum(os.path.getsize(p) for p in backlog.files)
        acc["landed_rows"] += backlog.landed_rows
        progress.extend(prog)
        drain_s.append(elapsed)
        batch_s.extend(p["durationMs"]["triggerExecution"] / 1000.0 for p in prog)
        silver_rows += backlog.silver_rows
        problems = _check_backlog(run, wh, backlog)
        if len(prog) != BACKLOG_BATCHES:
            problems.append(f"{len(prog)} micro-batches, expected {BACKLOG_BATCHES}")
        if problems:
            run.ops.fail(f"drain {i}: " + "; ".join(problems), len(prog))
        return len(prog)

    run.phase("timed")
    timed_loop(run.seconds, one_drain, run.ops)
    if not batch_s:
        return  # the result line reports the failed drain
    run.info["drains"] = len(drain_s)
    run.record_e2e(batch_s, drain_s, silver_rows / sum(drain_s))
    if run.tracer:
        n = len(batch_s)
        v = _write_layers(run, acc, n)
        v["streaming.ingest.batches"] = n / len(drain_s)
        v["streaming.ingest.rows_read_per_landed_row"] = (
            sum(p["numInputRows"] for p in progress) / acc["landed_rows"]
        )
        for k in STREAM_MS:
            v[f"streaming.ingest.{k}_ms.p50"] = p50([p["durationMs"].get(k, 0) for p in progress])
        _finish_layers(run, v)


WORKLOADS = {"eod_daily": eod_daily, "dashboard": dashboard, "eod_backfill": eod_backfill}
