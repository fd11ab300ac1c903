"""End-to-end pipeline tests mirroring the reference's entry points
(SURVEY.md §3): dimension refresh (A/C), incremental aggregates ingest (B),
gold bar/indicator build (the delegated analytics)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest
from py4j.protocol import Py4JJavaError

from polygon_algotrading_env_spark.pipelines import (
    build_gold_bars,
    ingest_aggregates,
    refresh_reference_data,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="pae_spark_pipe_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


MIN_MS = 60_000
DAY_MS = 86_400_000


def _fake_polygon(symbols, minutes_per_symbol, page_rows=3):
    """Deterministic fake Polygon aggregates endpoint: DAILY candles
    (the date cursor needs day granularity to advance), ≤page_rows per
    page, pages overlap by one row (the reference's by-design duplication)."""
    series = {
        s: [
            {
                "t": i * DAY_MS,
                "o": 100.0 + i,
                "h": 101.0 + i,
                "l": 99.0 + i,
                "c": 100.5 + i,
                "v": 10.0,
                "vw": 100.2 + i,
                "n": 5,
            }
            for i in range(minutes_per_symbol)
        ]
        for s in symbols
    }

    def fetch_page(symbol, from_date):
        # from_date is a day cursor; our fake series fits in one day, so
        # emulate page windows by tracking position via a closure.
        pos = fetch_page._pos.setdefault(symbol, 0)
        rows = series[symbol][pos : pos + page_rows]
        fetch_page._pos[symbol] = pos + max(len(rows) - 1, 1)  # overlap 1
        return {"results": rows}

    fetch_page._pos = {}
    return fetch_page


def test_reference_data_refresh(spark, tmpdir):
    pages = [
        {"results": [{"ticker": "SPY", "market": "stocks"},
                     {"ticker": "BTC", "market": "crypto"}], "next_url": "p2"},
        {"results": [{"ticker": "TLT", "market": "stocks"},
                     {"ticker": "TLT", "market": "stocks"}]},  # dup row
    ]
    it = iter(pages)
    dim = refresh_reference_data(
        spark,
        lambda cur: next(it),
        "ticker string, market string",
        f"{tmpdir}/dims/tickers/latest",
        f"{tmpdir}/dims/tickers/history",
        "run1",
    )
    assert dim.count() == 3  # dup dropped
    stocks = dim.filter(F.col("market") == "stocks")  # the P1 filter
    assert {r["ticker"] for r in stocks.collect()} == {"SPY", "TLT"}
    assert spark.read.parquet(f"{tmpdir}/dims/tickers/latest").count() == 3


def test_aggregates_ingest_incremental(spark, tmpdir):
    symbols = ["SPY", "TLT"]
    fetch = _fake_polygon(symbols, minutes_per_symbol=7, page_rows=3)
    silver = ingest_aggregates(
        spark, symbols, fetch, f"{tmpdir}/lake", "1970-01-01", "1970-01-31",
        page_limit=3,
    )
    # 7 unique minutes per symbol despite overlapping pages.
    counts = {r["ticker"]: r["n"] for r in
              silver.groupBy("ticker").agg(F.count("*").alias("n")).collect()}
    assert counts == {"SPY": 7, "TLT": 7}

    # Second run with the same source: watermark suppresses everything.
    fetch2 = _fake_polygon(symbols, minutes_per_symbol=7, page_rows=3)
    silver2 = ingest_aggregates(
        spark, symbols, fetch2, f"{tmpdir}/lake", "1970-01-01", "1970-01-31",
        page_limit=3,
    )
    assert silver2.count() == 0

    # Silver lake is partition-pruned by (adjusted, ticker).
    lake = spark.read.parquet(f"{tmpdir}/lake/silver/candles")
    assert lake.filter("ticker = 'SPY'").count() == 7


def _write_page_store(root, symbols, days_per_symbol, per_page=3):
    """Landed multi-symbol multi-page backfill fixture with the by-design
    one-row page overlap."""
    import json as _json

    for sym in symbols:
        os.makedirs(f"{root}/{sym}", exist_ok=True)
        rows = [
            {"t": i * DAY_MS, "o": 1.0 + i, "h": 2.0 + i, "l": 0.5 + i,
             "c": 1.5 + i, "v": 10.0, "vw": 1.2, "n": 3}
            for i in range(days_per_symbol)
        ]
        page_no, pos = 0, 0
        while pos < len(rows):
            chunk = rows[pos : pos + per_page]
            with open(f"{root}/{sym}/page-{page_no}.json", "w") as f:
                _json.dump({"results": chunk}, f)
            pos += max(len(chunk) - 1, 1)  # overlap 1
            page_no += 1
            if len(chunk) < per_page:
                break


def test_aggregates_backfill_routes_to_distributed_source(spark, tmpdir):
    """page_store backfills go through PolygonPagesDataSource (fetch_page
    is None — the API loop is provably not involved), honoring per-symbol
    bookmark watermarks on resume, sharing the bronze/silver/bookmark
    publish tail."""
    symbols = ["SPY", "TLT", "GLD"]
    store_root = f"{tmpdir}/pages"
    _write_page_store(store_root, symbols, days_per_symbol=7)

    silver = ingest_aggregates(
        spark, symbols, None, f"{tmpdir}/lake", "1970-01-01", "1970-01-31",
        page_store=store_root,
    )
    counts = {r["ticker"]: r["n"] for r in
              silver.groupBy("ticker").agg(F.count("*").alias("n")).collect()}
    assert counts == {s: 7 for s in symbols}  # overlap dups dropped

    # New pages for ONE symbol; the other symbols' watermarks suppress all.
    import json as _json

    with open(f"{store_root}/SPY/page-9.json", "w") as f:
        _json.dump({"results": [
            {"t": i * DAY_MS, "o": 1.0, "h": 2.0, "l": 0.5, "c": 1.5,
             "v": 10.0, "vw": 1.2, "n": 3} for i in (6, 7, 8)
        ]}, f)
    inc = ingest_aggregates(
        spark, symbols, None, f"{tmpdir}/lake", "1970-01-01", "1970-01-31",
        page_store=store_root,
    )
    got = sorted((r["ticker"], r["t"]) for r in inc.collect())
    assert got == [("SPY", 7 * DAY_MS), ("SPY", 8 * DAY_MS)]

    # Neither route given → loud error.
    with pytest.raises(ValueError):
        ingest_aggregates(
            spark, symbols, None, f"{tmpdir}/lake", "1970-01-01", "1970-01-31"
        )

    # Full backfill + increment landed in the partitioned silver lake.
    lake = spark.read.parquet(f"{tmpdir}/lake/silver/candles")
    assert lake.filter("ticker = 'SPY'").count() == 9


def test_backfill_reads_page_store_once(spark, tmpdir, scanned_rows):
    """One ingest parses each landed row once: bronze, silver and the
    bookmarks all publish from one scan of the page store."""
    symbols = ["SPY", "TLT", "GLD"]
    _write_page_store(f"{tmpdir}/pages", symbols, days_per_symbol=7)
    ingest_aggregates(
        spark, symbols, None, f"{tmpdir}/lake", "1970-01-01", "1970-01-31",
        page_store=f"{tmpdir}/pages",
    )
    landed = spark.read.parquet(f"{tmpdir}/lake/bronze/candles").count()
    assert landed == 21
    assert scanned_rows("BatchScan polygon_pages") == landed


def _pinned_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_ingest_pin_never_outlives_the_call(spark, tmpdir):
    """The pinned increment is released on every exit: after a publish,
    after the empty-increment early return, and when a publish step
    raises. Compared with the pins held before each call, since other
    tests share the session."""
    symbols = ["SPY", "TLT"]
    store, lake = f"{tmpdir}/pages", f"{tmpdir}/lake"
    _write_page_store(store, symbols, days_per_symbol=7)

    def ingest(lake_root):
        return ingest_aggregates(
            spark, symbols, None, lake_root, "1970-01-01", "1970-01-31",
            page_store=store,
        )

    before = _pinned_rdds(spark)
    silver = ingest(lake)
    assert _pinned_rdds(spark) == before
    # The returned frame re-reads the source when acted on, unpinned.
    assert silver.count() == 14
    assert _pinned_rdds(spark) == before

    bronze_rows = spark.read.parquet(f"{lake}/bronze/candles").count()
    marks = sorted(spark.read.parquet(f"{lake}/bookmarks").collect())
    assert ingest(lake).count() == 0
    assert _pinned_rdds(spark) == before
    assert spark.read.parquet(f"{lake}/bronze/candles").count() == bronze_rows
    assert sorted(spark.read.parquet(f"{lake}/bookmarks").collect()) == marks

    blocked = f"{tmpdir}/blocked"
    os.makedirs(f"{blocked}/bronze")
    with open(f"{blocked}/bronze/candles", "w") as f:
        f.write("not a directory")
    with pytest.raises(Py4JJavaError):
        ingest(blocked)
    assert _pinned_rdds(spark) == before


def test_repeated_symbol_lands_once(spark, tmpdir):
    """A symbol listed twice is read once on both routes: bronze holds
    each unique candle once."""
    _write_page_store(f"{tmpdir}/pages", ["SPY", "TLT"], days_per_symbol=7)
    ingest_aggregates(
        spark, ["SPY", "SPY", "TLT"], None, f"{tmpdir}/store-lake", "1970-01-01",
        "1970-01-31", page_store=f"{tmpdir}/pages",
    )
    fetch = _fake_polygon(["SPY", "TLT"], minutes_per_symbol=7, page_rows=3)
    ingest_aggregates(
        spark, ["SPY", "SPY", "TLT"], fetch, f"{tmpdir}/api-lake", "1970-01-01",
        "1970-01-31", page_limit=3,
    )
    for lake in ("store-lake", "api-lake"):
        bronze = spark.read.parquet(f"{tmpdir}/{lake}/bronze/candles")
        assert bronze.count() == bronze.select("ticker", "t").distinct().count() == 14


def test_gold_bars_ladder_and_indicators(spark):
    rows = []
    for sym in ["SPY", "TLT"]:
        for i in range(180):  # 3 hours of 1-minute candles
            rows.append((sym, i * MIN_MS, 100.0 + (i % 7), 10.0))
    candles = spark.createDataFrame(
        rows, "ticker string, t long, c double, v double"
    ).withColumn("ts", F.timestamp_millis(F.col("t")).cast("timestamp_ntz"))

    gold = build_gold_bars(candles, resolutions=("5 minutes", "1 hour"))
    assert gold["5 minutes"].count() == 2 * 36
    hour = gold["1 hour"]
    assert hour.count() == 2 * 3
    # Ladder consistency: hourly volume equals 60 one-minute volumes.
    assert all(r["volume"] == 600.0 for r in hour.collect())
    ind = gold["indicators"]
    assert {"sma_20", "ret"} <= set(ind.columns)
    first = ind.filter("ticker='SPY'").orderBy("bucket_start").limit(1).collect()[0]
    assert first["ret"] is None  # no previous bar


def test_gold_adjusted_series(spark):
    import datetime as dt

    rows = [("SPY", i * MIN_MS, 100.0, 1.0) for i in range(10)]
    candles = spark.createDataFrame(
        rows, "ticker string, t long, c double, v double"
    ).withColumn("ts", F.timestamp_millis(F.col("t")).cast("timestamp_ntz"))
    actions = spark.createDataFrame(
        [("SPY", dt.datetime(1970, 1, 2), 0.5)],
        "ticker string, ex_date timestamp_ntz, factor double",
    )
    gold = build_gold_bars(candles, actions=actions, resolutions=("5 minutes",))
    adj = gold["adjusted"].collect()
    # All candles precede the ex_date → every close halved, raw preserved.
    assert all(abs(r["close"] - 50.0) < 1e-9 for r in adj)
    assert all(r["close_raw"] == 100.0 for r in adj)


def test_curate_corpus_end_to_end(spark, sf_dir):
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.pipelines import curate_corpus

    from polygon_algotrading_env_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = curate_corpus(docs)

    n_docs = docs.count()
    n_gated = out["gated"].count()
    assert 0 < n_gated <= n_docs

    # Near-dup pairs are verified (exact integers satisfy the threshold).
    bad = out["near_dup_pairs"].filter(
        2 * F.col("n_common") < F.col("n_union")
    )
    assert bad.count() == 0

    # Every gated doc gets a cluster label; survivors ≤ gated; dedup keeps
    # exactly the survivors.
    assert out["clusters"].count() == n_gated
    n_surv = out["survivors"].count()
    assert 0 < n_surv <= n_gated
    assert out["deduped"].count() == n_surv

    # Split covers the deduped corpus; packing covers the train split with
    # monotone window ids starting at 0.
    splits = {
        r["split"]: r["n"]
        for r in out["split"].groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(splits.values()) == n_surv
    packed = out["packed_train"]
    assert packed.count() == splits.get("train", 0)
    if packed.count():
        assert packed.agg(F.min("context_window")).collect()[0][0] == 0


def test_curate_corpus_materialized_rarity_model(spark, sf_dir, tmp_path):
    """With rarity_model_path the DF model is written ONCE as a silver
    table, reused on re-runs (not rebuilt), and the scores match in-memory
    self-scoring exactly (inner ≡ self-scoring: every token has df ≥ 1)."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.catalog import load_table
    from polygon_algotrading_env_spark.pipelines import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    model_path = str(tmp_path / "rarity_model")
    out = curate_corpus(docs, rarity_model_path=model_path)
    materialized = {tuple(r) for r in out["rarity"].collect()}
    import os

    assert os.path.exists(os.path.join(model_path, "_SUCCESS"))
    first_mtime = os.path.getmtime(model_path)

    # Self-scoring (no path) must agree row-for-row.
    self_scored = curate_corpus(docs)["rarity"]
    assert {tuple(r) for r in self_scored.collect()} == materialized

    # Re-run with the path: the model is read, not rebuilt.
    out2 = curate_corpus(docs, rarity_model_path=model_path)
    assert {tuple(r) for r in out2["rarity"].collect()} == materialized
    assert os.path.getmtime(model_path) == first_mtime

    # The plan scoring against the silver model scans the MODEL table
    # (its (token, df) schema appears as a file-scan ReadSchema), not a
    # second explode of the corpus.
    plan = out2["rarity"]._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<token:string,df:bigint>" in plan


def test_research_pack_layers_consistent(spark, sf_dir, tmp_path):
    from polygon_algotrading_env_spark.catalog import load_table
    from polygon_algotrading_env_spark.operators.bars import ohlcv_bars
    from polygon_algotrading_env_spark.pipelines import research_pack
    from polygon_algotrading_env_spark.sources.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(
        ev, ts_col="ts", price_col="value", duration="5 minutes",
        keys=("event_type",), volume_col="value", order_col="ts_ns",
    ).select("event_type", "bucket_start", "close")
    root = str(tmp_path / "pack")
    out = research_pack(bars, out_root=root, spark=spark)
    # scorecard equity equals the equity layer's last cum_pnl per symbol
    import pyspark.sql.functions as F

    last = {
        r["event_type"]: r["fe"]
        for r in out["equity"]
        .groupBy("event_type")
        .agg(F.round(F.max_by("cum_pnl", "bucket_start"), 6).alias("fe"))
        .collect()
    }
    for r in out["scorecard"].collect():
        assert abs(r["final_equity"] - last[r["event_type"]]) < 1e-9
        assert r["max_drawdown"] >= 0
    # all three layers landed as versioned tables, readable + re-writable
    for name in ("backtest", "equity", "scorecard"):
        t = VersionedTable(spark, f"{root}/{name}")
        assert t.latest_version() == 0
        assert t.read().count() > 0
