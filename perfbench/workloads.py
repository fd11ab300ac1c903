"""The benchmark workloads.

Each workload sets up (session start plus warm-up), then repeats its
operation until the measuring time is used up, then checks its outputs
once, untimed. Load comes from this one process and thread: a closed
loop with one operation outstanding.

- ``backfill``: page store -> ``pipelines.ingest_aggregates`` -> silver
  lake -> ``pipelines.build_gold_bars`` (tables written) ->
  ``pipelines.research_pack`` (versioned tables written). One operation
  is one pass into a fresh lake.
- ``stream_catchup``: land one trading day on a page store with primed
  history, then drain two ``availableNow`` queries on persistent
  checkpoints: ``stream_bars_from_page_store`` through
  ``run_available_now_to_parquet``, and ``stateful.stream_rsi`` over the
  same source. One operation is one increment, timed from its last page
  landing to both sinks committing.

A traced ``stream_catchup`` run also times the headline queries once each
over generated catalog tables (the ``queries`` layer), after its output
check.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
import tables
from spans import Tracer

BACKFILL_SPANS = (
    "pipelines.ingest_aggregates",
    "pipelines.build_gold_bars",
    "pipelines.research_pack",
    "sources.write_bronze",
    "sources.write_partitioned",
    "sources.bookmark_update",
)
STREAM_QUERIES = ("bars", "rsi")
STREAM_FIELDS = (
    "overhead_s",
    "latest_offset_s",
    "query_planning_s",
    "add_batch_s",
    "wal_commit_s",
    "commit_offsets_s",
    "input_rows",
    "state_rows",
    "state_memory_bytes",
    "stages",
    "shuffle_write_bytes",
    "executor_cpu_s",
)
# The headline queries by family; a fix to one family shows in its group.
QUERY_GROUPS = {
    "market": (
        "ohlcv_bars_5m", "ohlcv_bars_1h_resampled", "vwap_5m", "sma_crossover_backtest_5m",
        "adjusted_candles_5m", "pairs_spread_zscore", "hurst_exponent_by_type",
        "ema_20_per_event_type", "rsi_14_per_event_type", "asof_latest_order_before_event",
        "session_windows_per_user", "view_click_purchase_funnel",
    ),
    "relational": (
        "pricing_summary", "heavy_hitter_parts", "join_lineitem_part_broadcast",
        "star_join_revenue_by_region", "rownum_recent_orders_per_customer",
        "moving_avg_price_per_supplier", "auc_urgent_price_by_status",
        "spearman_qty_price_by_flag",
    ),
    "corpus": (
        "doc_quality_features", "minhash_md5_band_pairs", "doc_rarity_scores",
        "dsir_weights_for_target", "bigram_logprob_docs", "entity_resolution_parts",
    ),
    "vectors": (
        "kmeans_clusters_embeddings", "cosine_topk_bruteforce", "lsh_ann_topk",
        "ivf_ann_topk", "srp_topk_reranked",
    ),
}
_PAGE_SCAN_NODE = "BatchScan polygon_pages"
_DRAIN_TIMEOUT_S = 60


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = []
    for span in BACKFILL_SPANS:
        names += [f"{span}_s", f"{span}.stages", f"{span}.shuffle_write_bytes",
                  f"{span}.executor_cpu_s"]
    names += ["pipelines.ingest_self_s", "sources.scan_jobs", "sources.scan_rows_ratio"]
    for q in STREAM_QUERIES:
        names += [f"streaming.{q}.{f}" for f in STREAM_FIELDS]
    for group, queries in QUERY_GROUPS.items():
        for q in queries:
            names += [f"queries.{q}.wall_s", f"queries.{q}.stages"]
        names += [f"queries.{group}.shuffle_write_bytes", f"queries.{group}.executor_cpu_s"]
    names += ["cache.persisted_rdds", "cache.storage_bytes", "peak_rss_mb", "latency_s.max",
              "trace.overhead_s", "trace.latency_s.p50"]
    return names


@dataclass
class Outcome:
    setup_s: float = 0.0
    op_walls: list[float] = field(default_factory=list)
    rows_per_op: int = 0
    attempted: int = 0
    failed: int = 0
    check_errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    tracer: Tracer | None = None


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _attempt(out: Outcome, fn, *args) -> tuple[bool, object]:
    """Run one operation; a raise counts as a failed operation."""
    out.attempted += 1
    try:
        return True, fn(*args)
    except Exception:  # the run goes on to report the failure
        out.failed += 1
        _log("operation failed:\n" + traceback.format_exc())
        return False, None


def _check(out: Outcome, check, *args) -> None:
    """Run the output check once; a mismatch or a raise is one failed
    operation."""
    ok, errs = _attempt(out, check, *args)
    out.check_errors = errs if ok else ["output check raised"]
    if ok and errs:
        out.failed += 1


def _median(xs):
    return float(np.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------


class _SpannedCalls:
    """Wrap the engine's publish-tail calls inside ``ingest_aggregates``
    in spans, by rebinding the names ``pipelines`` looks up. Traced runs
    only; the wrapped functions are called unchanged."""

    def __init__(self, tracer: Tracer):
        from polygon_algotrading_env_spark import pipelines
        from polygon_algotrading_env_spark.sources.bookmarks import BookmarkStore

        self.saved = []

        def wrap(owner, attr, span):
            fn = getattr(owner, attr)

            def spanned(*a, **k):
                with tracer.span(span):
                    return fn(*a, **k)

            self.saved.append((owner, attr, fn))
            setattr(owner, attr, spanned)

        wrap(pipelines, "write_bronze", "sources.write_bronze")
        wrap(pipelines, "write_partitioned", "sources.write_partitioned")
        wrap(BookmarkStore, "update", "sources.bookmark_update")

    def restore(self):
        for owner, attr, fn in reversed(self.saved):
            setattr(owner, attr, fn)


def _backfill_pass(spark, tracer, bf: gen.Backfill, store: str, lake: str, actions):
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark import pipelines

    with tracer.span("pipelines.ingest_aggregates"):
        pipelines.ingest_aggregates(
            spark, bf.symbols, None, lake, "2024-01-01", "2024-12-31", page_store=store
        )
    with tracer.span("pipelines.build_gold_bars"):
        candles = spark.read.parquet(f"{lake}/silver/candles").withColumn(
            "ts", F.timestamp_millis("t").cast("timestamp_ntz")
        )
        gold = pipelines.build_gold_bars(candles, actions=actions)
        for name, df in gold.items():
            df.write.mode("overwrite").parquet(f"{lake}/gold/{name.replace(' ', '')}")
    with tracer.span("pipelines.research_pack"):
        bars = spark.read.parquet(f"{lake}/gold/5minutes").select(
            F.col("ticker").alias("event_type"), "bucket_start", "close"
        )
        pipelines.research_pack(bars, out_root=f"{lake}/pack", spark=spark)


def _actions_df(spark, splits):
    import pyspark.sql.functions as F

    return spark.createDataFrame(
        list(splits), "ticker string, ex_ms long, factor double"
    ).select(
        "ticker",
        F.timestamp_millis("ex_ms").cast("timestamp_ntz").alias("ex_date"),
        "factor",
    )


def check_backfill(spark, bf: gen.Backfill, lake: str) -> list[str]:
    """Silver row count and the 5m/1h/1d bars against DuckDB over the
    generator's own rows."""
    import duckdb
    import pandas as pd
    import pyspark.sql.functions as F

    errs = []
    n_silver = spark.read.parquet(f"{lake}/silver/candles").count()
    if n_silver != bf.n_rows:
        errs.append(f"silver rows {n_silver} != generated {bf.n_rows}")
    rows = pd.DataFrame(
        [(s, r["t"], r["c"], r["v"]) for s, rs in bf.rows.items() for r in rs],
        columns=["ticker", "t", "c", "v"],
    )
    con = duckdb.connect()
    con.register("candles", rows)
    cols = ["ticker", "b", "open", "high", "low", "close", "volume", "n_trades"]
    for name, res_ms in (("5minutes", 300_000), ("1hour", 3_600_000), ("1day", 86_400_000)):
        want = con.execute(
            f"""SELECT ticker, t - t % {res_ms} AS b, arg_min(c, t) AS open,
                       max(c) AS high, min(c) AS low, arg_max(c, t) AS close,
                       sum(v) AS volume, count(*) AS n_trades
                FROM candles GROUP BY ALL"""
        ).fetchall()
        got = (
            spark.read.parquet(f"{lake}/gold/{name}")
            .select(
                "ticker",
                F.unix_millis(F.col("bucket_start").cast("timestamp")).alias("b"),
                *cols[2:],
            )
            .collect()
        )
        if {tuple(r) for r in got} != {tuple(r) for r in want} or len(got) != len(want):
            errs.append(f"gold {name}: {len(got)} bars differ from DuckDB's {len(want)}")
    con.close()
    return errs


def backfill(spark_factory, work: str, seed: int, seconds: float, trace: bool) -> Outcome:
    out = Outcome()
    store, warm_store = f"{work}/store", f"{work}/warm-store"
    bf = gen.make_backfill(seed, store)
    warm = gen.make_backfill(seed, warm_store, days=gen.BACKFILL_WARMUP_DAYS)
    out.rows_per_op = bf.n_rows
    out.inputs = {"candle_rows": bf.n_rows, "symbols": len(bf.symbols), "pages": bf.pages,
                  "max_symbol_rows": max(len(r) for r in bf.rows.values()),
                  "splits": len(bf.splits)}

    t0 = time.perf_counter()
    spark = spark_factory()
    tracer = out.tracer = Tracer(spark, trace)
    # Warm-up: one untimed pass over a store of the same shape at a tenth
    # of the rows, through the same code paths.
    _backfill_pass(spark, Tracer(spark, False), warm, warm_store,
                   f"{work}/warm-lake", _actions_df(spark, warm.splits))
    out.setup_s = time.perf_counter() - t0

    actions = _actions_df(spark, bf.splits)
    spanned = _SpannedCalls(tracer) if tracer.enabled else None
    if tracer.enabled:
        tracer.scan_rows(_PAGE_SCAN_NODE)  # skip the warm-up's scans
    scans, scan_rows, lake, i = [], [], None, 0
    t_end = time.perf_counter() + seconds
    try:
        while i < 1 or time.perf_counter() < t_end:
            if lake:
                shutil.rmtree(lake, ignore_errors=True)
            lake = f"{work}/lake-{i}"
            t = time.perf_counter()
            ok, _ = _attempt(out, _backfill_pass, spark, tracer, bf, store, lake, actions)
            if not ok:
                break
            out.op_walls.append(time.perf_counter() - t)
            i += 1
            if tracer.enabled:
                tracer.settle()
                n, rows = tracer.scan_rows(_PAGE_SCAN_NODE)
                scans.append(n)
                scan_rows.append(rows)
                out.layers.update(tracer.cache_counters())
    finally:
        if spanned:
            spanned.restore()

    if out.op_walls:
        _check(out, check_backfill, spark, bf, lake)

    n_ops = len(out.op_walls)
    if tracer.enabled and n_ops:
        for span in BACKFILL_SPANS:
            tot = tracer.totals(span)
            out.layers[f"{span}_s"] = tot["wall_s"] / n_ops
            for k in ("stages", "shuffle_write_bytes", "executor_cpu_s"):
                out.layers[f"{span}.{k}"] = tot[k] / n_ops
        children = sum(out.layers[f"sources.{s}_s"]
                       for s in ("write_bronze", "write_partitioned", "bookmark_update"))
        out.layers["pipelines.ingest_self_s"] = out.layers["pipelines.ingest_aggregates_s"] - children
        out.layers["sources.scan_jobs"] = _median(scans)
        out.layers["sources.scan_rows_ratio"] = _median(scan_rows) / bf.n_rows
    return out


# ---------------------------------------------------------------------------
# stream_catchup
# ---------------------------------------------------------------------------


class _Streams:
    """The two availableNow queries over one page store, on persistent
    checkpoints."""

    def __init__(self, spark, store: str, work: str):
        self.spark, self.store, self.work = spark, store, work

    def _bars(self):
        from polygon_algotrading_env_spark.streaming.pipeline import (
            run_available_now_to_parquet,
            stream_bars_from_page_store,
        )

        df = stream_bars_from_page_store(self.spark, self.store, duration="5 minutes")
        return run_available_now_to_parquet(df, f"{self.work}/ckpt-bars", f"{self.work}/bars")

    def _rsi(self):
        import pyspark.sql.functions as F

        from polygon_algotrading_env_spark.streaming.pipeline import (
            run_available_now_to_parquet,
        )
        from polygon_algotrading_env_spark.streaming.stateful import stream_rsi

        raw = self.spark.readStream.format("polygon_pages").option("path", self.store).load()
        ticks = raw.select(
            F.col("ticker").alias("symbol"),
            F.timestamp_millis("t").alias("ts"),
            F.col("c").alias("value"),
        )
        return run_available_now_to_parquet(
            stream_rsi(ticks, period=14), f"{self.work}/ckpt-rsi", f"{self.work}/rsi"
        )

    def drain(self) -> dict:
        """Start both queries, wait for both to finish; return per-query
        (wall, progress of every trigger, run id)."""
        started = {}
        for name, start in (("bars", self._bars), ("rsi", self._rsi)):
            started[name] = (time.perf_counter(), start())
        out = {}
        for name, (t0, q) in started.items():
            if not q.awaitTermination(_DRAIN_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"{name} drain exceeded {_DRAIN_TIMEOUT_S}s")
            if q.exception() is not None:
                raise RuntimeError(f"{name} query failed: {q.exception()}")
            out[name] = (time.perf_counter() - t0, q.recentProgress, str(q.runId))
        return out


def _progress_layers(wall: float, progress) -> dict:
    def dur(key):
        return sum((p.durationMs or {}).get(key, 0) for p in progress) / 1000.0

    last_state = progress[-1].stateOperators if progress else []
    return {
        "overhead_s": wall - dur("triggerExecution"),
        "latest_offset_s": dur("latestOffset"),
        "query_planning_s": dur("queryPlanning"),
        "add_batch_s": dur("addBatch"),
        "wal_commit_s": dur("walCommit"),
        "commit_offsets_s": dur("commitOffsets"),
        "input_rows": sum(p.numInputRows for p in progress),
        "state_rows": sum(s.numRowsTotal for s in last_state),
        "state_memory_bytes": sum(s.memoryUsedBytes for s in last_state),
    }


def _batch_rsi(df, period: int = 14):
    """The batch RSI recipe (rsi_14_per_event_type) in pandas: first delta
    is zero, trailing ``period``-row sums rounded to 6 places, rows after
    the warm-up only."""
    out = []
    for sym, g in df.sort_values(["symbol", "t"]).groupby("symbol", sort=False):
        d = g["c"].diff().fillna(0.0)
        gain = d.clip(lower=0.0).rolling(period, min_periods=1).sum().round(6)
        loss = (-d).clip(lower=0.0).rolling(period, min_periods=1).sum().round(6)
        n = np.minimum(np.arange(1, len(g) + 1), period)
        ag, al = gain.to_numpy() / n, loss.to_numpy() / n
        with np.errstate(divide="ignore", invalid="ignore"):
            rsi = np.where(al == 0.0, 100.0, 100.0 - 100.0 / (1.0 + ag / al))
        keep = np.arange(1, len(g) + 1) > period
        out += list(zip([sym] * int(keep.sum()), g["t"].to_numpy()[keep], rsi[keep]))
    return out


def check_stream(spark, store: str, work: str, closed_before: int) -> list[str]:
    """Streamed bars equal batch ``ohlcv_bars`` over the whole store for
    every window ending by ``closed_before`` (epoch ms), and include no
    window batch lacks; streamed RSI equals the batch formula."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.operators.bars import ohlcv_bars

    errs = []
    src = spark.read.format("polygon_pages").option("path", store).load()
    ticks = src.select("ticker", "t", "c", "v").toPandas()
    streamed = spark.read.parquet(f"{work}/bars")
    cols = ["ticker", "b", "open", "high", "low", "close", "volume", "n_trades"]
    got = {
        tuple(r)
        for r in streamed.select(
            "ticker", F.unix_millis(F.col("bucket_start").cast("timestamp")).alias("b"),
            *cols[2:]).collect()
    }
    batch = ohlcv_bars(
        src.withColumn("ts", F.timestamp_millis("t").cast("timestamp_ntz")),
        ts_col="ts", price_col="c", duration="5 minutes", keys=("ticker",), volume_col="v",
    ).select("ticker", F.unix_millis(F.col("bucket_start").cast("timestamp")).alias("b"),
             *cols[2:])
    want = {tuple(r) for r in batch.collect()}
    want_closed = {r for r in want if r[1] + 300_000 <= closed_before}
    if not want_closed <= got or not got <= want:
        errs.append(
            f"streamed bars: {len(want_closed - got)} closed windows missing, "
            f"{len(got - want)} not in batch"
        )
    rsi = {
        (r["symbol"], r["t"]): r["rsi"]
        for r in spark.read.parquet(f"{work}/rsi")
        .select("symbol", F.unix_millis("ts").alias("t"), "rsi").collect()
    }
    ref = _batch_rsi(ticks.rename(columns={"ticker": "symbol"}))
    bad = [k for k in ref if abs(rsi.get((k[0], int(k[1])), float("inf")) - k[2]) > 1e-9]
    if len(rsi) != len(ref) or bad:
        errs.append(f"rsi: {len(rsi)} rows vs {len(ref)} batch, {len(bad)} differ")
    return errs


def stream_catchup(spark_factory, work: str, seed: int, seconds: float,
                   trace: bool) -> Outcome:
    out = Outcome()
    store = f"{work}/store"
    feed = gen.StreamFeed(store, seed)
    primed = sum(feed.land_day() for _ in range(gen.STREAM_HISTORY_DAYS))

    t0 = time.perf_counter()
    spark = spark_factory()
    tracer = out.tracer = Tracer(spark, trace)
    from polygon_algotrading_env_spark.sources.restsource import PolygonPagesDataSource

    spark.dataSource.register(PolygonPagesDataSource)
    streams = _Streams(spark, store, work)
    streams.drain()  # first drain: all primed history, cold
    out.setup_s = time.perf_counter() - t0

    per_q: dict[str, list[dict]] = {q: [] for q in STREAM_QUERIES}
    landed = []
    t_end = time.perf_counter() + seconds
    while not out.op_walls or time.perf_counter() < t_end:
        landed.append(feed.land_day())
        t_landed = time.perf_counter()
        ok, res = _attempt(out, streams.drain)
        if not ok:
            break
        out.op_walls.append(time.perf_counter() - t_landed)
        if tracer.enabled:
            for q, (wall, progress, run_id) in res.items():
                # A streaming query runs its jobs in a job group named by
                # its run id.
                rec = {**_progress_layers(wall, progress), **tracer.group_counters(run_id)}
                per_q[q].append(rec)
                tracer.record(f"streaming.{q}", wall_s=wall, **rec,
                              progress=[json.loads(p.json) for p in progress])
            out.layers.update(tracer.cache_counters())
    out.rows_per_op = int(np.median(landed))
    out.inputs = {"symbols": len(feed.symbols), "primed_rows": primed,
                  "history_days": gen.STREAM_HISTORY_DAYS, "increment_rows": landed}

    # An availableNow drain runs no trailing no-data batch, so the last
    # drain emits the windows closed by the watermark the previous drain
    # left: the latest bar before the last increment, less the 10-minute
    # delay.
    _check(out, check_stream, spark, store, work, feed.max_t[-2] - 600_000)
    if tracer.enabled:
        for q, recs in per_q.items():
            for f in STREAM_FIELDS:
                out.layers[f"streaming.{q}.{f}"] = _median([r[f] for r in recs])
        out.inputs["query_tables"] = tables.make_tables(seed, f"{work}/tables")
        _run_queries(out, spark, tracer, f"{work}/tables", seed)
    return out


# ---------------------------------------------------------------------------
# queries (traced stream_catchup runs)
# ---------------------------------------------------------------------------


def _run_queries(out: Outcome, spark, tracer: Tracer, sf_dir: str, seed: int) -> None:
    """Run every headline query once, in an order permuted by the seed,
    each in its own span, collecting its result as a pandas frame; then
    compare each result with its DuckDB oracle (untimed). A raise or a
    mismatch is one failed operation."""
    import duckdb

    import __spark_entry__
    from oracle_check import compare
    from polygon_algotrading_env_spark.catalog import TABLES
    from polygon_algotrading_env_spark.queries import headline_queries

    fns = headline_queries()
    names = sorted(q for qs in QUERY_GROUPS.values() for q in qs)
    # A headliner renamed or retired reads 0; the provenance names it.
    out.inputs["queries_missing"] = [q for q in names if q not in fns]
    order = [str(q) for q in np.random.default_rng([seed, 5]).permutation(names) if q in fns]
    results = {}
    for name in order:
        with tracer.span(f"queries.{name}"):
            ok, results[name] = _attempt(out, lambda n=name: fns[n](spark, sf_dir).toPandas())
        if not ok:
            out.check_errors.append(f"{name}: raised")
    tracer.settle()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = __spark_entry__.oracle_sql()
    for name, got in results.items():
        if got is None:
            continue
        try:
            errs = compare(name, got, con.execute(oracles[name]).df())
        except Exception as e:  # a broken oracle is a failed check, not a crash
            errs = [f"oracle raised: {e}"]
        if errs:
            out.failed += 1
            out.check_errors.append(f"{name}: " + "; ".join(errs))
    con.close()

    for group, queries in QUERY_GROUPS.items():
        out.layers[f"queries.{group}.shuffle_write_bytes"] = 0
        out.layers[f"queries.{group}.executor_cpu_s"] = 0.0
        for q in queries:
            tot = tracer.totals(f"queries.{q}")
            out.layers[f"queries.{q}.wall_s"] = tot["wall_s"]
            out.layers[f"queries.{q}.stages"] = tot["stages"]
            out.layers[f"queries.{group}.shuffle_write_bytes"] += tot["shuffle_write_bytes"]
            out.layers[f"queries.{group}.executor_cpu_s"] += tot["executor_cpu_s"]
