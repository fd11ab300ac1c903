from __future__ import annotations

import shutil
import tempfile

import pytest
from py4j.protocol import Py4JJavaError

from polygon_algotrading_env_spark.sources.bookmarks import BookmarkStore
from polygon_algotrading_env_spark.sources.readers import (
    land_records,
    paginate_date_cursor,
    paginate_next_url,
    read_csv_typed,
)
from polygon_algotrading_env_spark.sources.writers import (
    dual_write_latest_history,
    read_latest,
    read_snapshot,
    write_partitioned,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="pae_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# --- paginated scans (S1/S2 semantics, fetch injected) --------------------

def _mk_pages(pages):
    calls = []

    def fetch(cursor):
        calls.append(cursor)
        return pages[len(calls) - 1]

    return fetch, calls


DAY_MS = 86_400_000


def test_date_cursor_short_page_terminates():
    # One short page → stop after yielding (rule 4).
    fetch, calls = _mk_pages([{"results": [{"t": 0}, {"t": DAY_MS}]}])
    out = list(paginate_date_cursor(fetch, "1970-01-01", "1970-01-10", limit=5))
    assert [r["t"] for r in out] == [0, DAY_MS]
    assert len(calls) == 1


def test_date_cursor_advances_and_dedups_overlap():
    # Full pages overlap at the boundary (the reference's by-design dup).
    p1 = {"results": [{"t": 0}, {"t": DAY_MS}]}
    p2 = {"results": [{"t": DAY_MS}, {"t": 2 * DAY_MS}]}  # overlap at DAY_MS
    p3 = {"results": []}
    fetch, calls = _mk_pages([p1, p2, p3])
    out = list(paginate_date_cursor(fetch, "1970-01-01", "1970-01-10", limit=2))
    assert [r["t"] for r in out] == [0, DAY_MS, 2 * DAY_MS]  # no dup
    assert calls[1] is not None  # cursor advanced


def test_date_cursor_watermark_skips_already_ingested():
    fetch, _ = _mk_pages([{"results": [{"t": 0}, {"t": DAY_MS}, {"t": 2 * DAY_MS}]}])
    out = list(
        paginate_date_cursor(
            fetch, "1970-01-01", "1970-01-10", limit=5, last_entry_ts=DAY_MS
        )
    )
    assert [r["t"] for r in out] == [2 * DAY_MS]


def test_next_url_pagination():
    pages = [
        {"results": [{"x": 1}], "next_url": "p2"},
        {"results": [{"x": 2}], "next_url": "p3"},
        {"results": [{"x": 3}]},
    ]
    fetch, calls = _mk_pages(pages)
    out = list(paginate_next_url(fetch))
    assert [r["x"] for r in out] == [1, 2, 3]
    assert calls == [None, "p2", "p3"]


def test_date_cursor_retries_then_succeeds():
    """Transient fetch failures retry the SAME cursor with backoff; the
    record stream is unaffected (retry-then-succeed path)."""
    from polygon_algotrading_env_spark.sources.readers import FetchRetriesExhausted

    p1 = {"results": [{"t": 0}, {"t": DAY_MS}]}
    p2 = {"results": [{"t": DAY_MS}, {"t": 2 * DAY_MS}]}
    attempts, naps = [], []

    def fetch(cursor):
        attempts.append(cursor)
        # First two tries of the second page fail.
        if cursor == "1970-01-02" and attempts.count(cursor) <= 2:
            raise ConnectionError("flaky")
        return p1 if cursor == "1970-01-01" else p2

    out = list(
        paginate_date_cursor(
            fetch, "1970-01-01", "1970-01-10", limit=2,
            max_retries=3, retry_backoff=0.5, sleep=naps.append,
        )
    )
    assert [r["t"] for r in out] == [0, DAY_MS, 2 * DAY_MS]
    assert attempts.count("1970-01-02") == 3  # 2 failures + 1 success
    assert naps == [0.5, 1.0]  # exponential backoff before each retry


def test_date_cursor_retries_exhausted_raises():
    from polygon_algotrading_env_spark.sources.readers import FetchRetriesExhausted

    attempts = []

    def fetch(cursor):
        attempts.append(cursor)
        raise TimeoutError("down")

    with pytest.raises(FetchRetriesExhausted) as e:
        list(
            paginate_date_cursor(
                fetch, "1970-01-01", "1970-01-10", limit=2,
                max_retries=2, retry_backoff=0.0,
            )
        )
    assert len(attempts) == 3  # 1 attempt + 2 retries
    assert e.value.cursor == "1970-01-01"
    assert isinstance(e.value.last_error, TimeoutError)


def test_next_url_retry_same_cursor():
    from polygon_algotrading_env_spark.sources.readers import FetchRetriesExhausted

    attempts, naps = [], []
    pages = {None: {"results": [{"x": 1}], "next_url": "p2"},
             "p2": {"results": [{"x": 2}]}}

    def fetch(cursor):
        attempts.append(cursor)
        if cursor == "p2" and attempts.count("p2") == 1:
            raise ConnectionError("flaky")
        return pages[cursor]

    out = list(
        paginate_next_url(fetch, max_retries=1, retry_backoff=2.0, sleep=naps.append)
    )
    assert [r["x"] for r in out] == [1, 2]
    assert attempts == [None, "p2", "p2"]
    assert naps == [2.0]

    def always_fail(cursor):
        raise ConnectionError("down")

    with pytest.raises(FetchRetriesExhausted):
        list(paginate_next_url(always_fail, max_retries=1, retry_backoff=0.0))


def test_land_records_typed(spark):
    df = land_records(
        spark, [{"t": 1, "o": 1.5}, {"t": 2, "o": 2.5}], "t long, o double"
    )
    assert df.schema.simpleString() == "struct<t:bigint,o:double>"
    assert df.count() == 2


# --- typed CSV (S3) -------------------------------------------------------

def test_read_csv_typed(spark, tmpdir):
    p = f"{tmpdir}/in.csv"
    with open(p, "w") as f:
        f.write("ticker,ts,close\nSPY,2024-01-01 10:00:00,470.5\n")
    df = read_csv_typed(spark, p, "ticker string, ts timestamp_ntz, close double")
    row = df.collect()[0]
    assert row["close"] == 470.5 and row["ticker"] == "SPY"
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"


# --- writers (K2/K6) ------------------------------------------------------

def test_dual_write_latest_history(spark, tmpdir):
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    dual_write_latest_history(df1, f"{tmpdir}/latest", f"{tmpdir}/hist", "s1")
    dual_write_latest_history(df2, f"{tmpdir}/latest", f"{tmpdir}/hist", "s2")
    assert [r["id"] for r in read_latest(spark, f"{tmpdir}/latest").collect()] == [2]
    assert [r["id"] for r in read_snapshot(spark, f"{tmpdir}/hist", "s1").collect()] == [1]


def test_partitioned_write_prunes(spark, tmpdir):
    df = spark.createDataFrame(
        [("SPY", True, 1.0), ("SPY", False, 2.0), ("TLT", True, 3.0)],
        "ticker string, adjusted boolean, close double",
    )
    write_partitioned(df, f"{tmpdir}/candles", ["adjusted", "ticker"])
    back = spark.read.parquet(f"{tmpdir}/candles")
    q = back.filter("adjusted = true and ticker = 'SPY'")
    assert q.count() == 1
    # Partition pruning must reach the file source.
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "adjusted" in plan


# --- bookmarks (T1) -------------------------------------------------------

def test_bookmark_roundtrip_and_monotonicity(spark, tmpdir):
    store = BookmarkStore(f"{tmpdir}/bm", key_cols=["ticker"])
    batch1 = spark.createDataFrame(
        [("SPY", 100), ("SPY", 200), ("TLT", 50)], "ticker string, t long"
    )
    assert store.filter_new(batch1, "t").count() == 3  # no bookmark yet
    store.update(batch1, "t")

    # Overlapping re-delivery + genuinely new rows.
    batch2 = spark.createDataFrame(
        [("SPY", 200), ("SPY", 300), ("TLT", 40)], "ticker string, t long"
    )
    fresh = store.filter_new(batch2, "t")
    assert {(r["ticker"], r["t"]) for r in fresh.collect()} == {("SPY", 300)}
    store.update(batch2, "t")

    # Watermarks are monotone: the late TLT=40 must not regress TLT's mark.
    wm = {r["ticker"]: r["max_ts"] for r in store.load(spark).collect()}
    assert wm == {"SPY": 300, "TLT": 50}

    # Idempotence: re-updating with already-seen data changes nothing.
    store.update(batch1, "t")
    wm2 = {r["ticker"]: r["max_ts"] for r in store.load(spark).collect()}
    assert wm2 == wm


def test_bookmark_load_raises_on_unreadable_table(spark, tmpdir):
    """Only a missing table means "no bookmark yet": a path that exists but
    does not read as parquet raises instead of resetting the watermarks."""
    store = BookmarkStore(f"{tmpdir}/bm", key_cols=["ticker"])
    assert store.load(spark) is None
    with open(f"{tmpdir}/bm", "w") as f:
        f.write("not parquet")
    with pytest.raises(Py4JJavaError):
        store.load(spark)


def test_write_jsonl_sharded_stable_and_readable(spark, tmpdir):
    import glob
    import json as _json

    from polygon_algotrading_env_spark.sources.writers import write_jsonl_sharded

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], "doc_id long, text string"
    )
    out = f"{tmpdir}/jsonl"
    write_jsonl_sharded(df, out, "doc_id", num_shards=8)
    # Readable back as JSON lines with full fidelity.
    back = spark.read.json(f"{out}/__shard=*")
    assert back.count() == 50
    assert {r["doc_id"] for r in back.collect()} == set(range(50))
    # One file per shard dir; shard assignment is key-stable across runs.
    dirs = sorted(glob.glob(f"{out}/__shard=*"))
    assert 0 < len(dirs) <= 8
    files = [f for d in dirs for f in glob.glob(f"{d}/part-*")]
    per_dir = {d: len(glob.glob(f"{d}/part-*.json")) for d in dirs}
    assert all(n == 1 for n in per_dir.values()), per_dir
    first = {}
    for d in dirs:
        for f in glob.glob(f"{d}/part-*.json"):
            for line in open(f):
                first[_json.loads(line)["doc_id"]] = d.split("=")[-1]
    write_jsonl_sharded(df, out, "doc_id", num_shards=8)
    second = {}
    for d in sorted(glob.glob(f"{out}/__shard=*")):
        for f in glob.glob(f"{d}/part-*.json"):
            for line in open(f):
                second[_json.loads(line)["doc_id"]] = d.split("=")[-1]
    assert first == second


def test_compact_parquet(spark, tmpdir):
    import glob

    from polygon_algotrading_env_spark.sources.writers import compact_parquet

    src = f"{tmpdir}/fragmented"
    # 40 tiny files (the streaming-sink accretion pattern).
    spark.range(2000).selectExpr(
        "id", "id * 2 as v"
    ).repartition(40).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 40

    n = compact_parquet(spark, src, target_file_mb=256, sort_cols=["id"])
    assert n == 1
    files = glob.glob(f"{src}/part-*")
    assert len(files) == 1
    back = spark.read.parquet(src)
    assert back.count() == 2000
    assert back.agg({"v": "sum"}).collect()[0][0] == sum(2 * i for i in range(2000))
    # No leftover temp/old dirs.
    assert not glob.glob(f"{src}.__*")


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """Format completeness beyond parquet/csv/json/jdbc: ORC round-trips
    typed data losslessly and receives predicate pushdown (the other
    columnar format a lake migration encounters)."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.plans import plan_stats

    path = str(tmp_path / "t.orc")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)],
        "id long, s string, v double",
    )
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert dict(back.dtypes) == dict(df.dtypes)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    st = plan_stats(back.where(F.col("id") > 1))
    assert any("GreaterThan(id,1)" in f for f in st.pushed_filters)


def test_parquet_zstd_roundtrip(spark, tmp_path):
    """Compression-codec option flows through to the files (zstd is the
    ratio/speed default for cold lake data at scale)."""
    import glob

    path = str(tmp_path / "z.parquet")
    spark.range(0, 1000).withColumnRenamed("id", "v").write.option(
        "compression", "zstd"
    ).parquet(path)
    files = glob.glob(f"{path}/*.zstd.parquet")
    assert files, "expected .zstd.parquet part files"
    assert spark.read.parquet(path).count() == 1000


def test_text_lines_roundtrip(spark, tmp_path):
    """Raw line-oriented text read — the lowest-common-denominator ingest
    for logs the reference would have landed verbatim."""
    p = tmp_path / "log.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    got = [r["value"] for r in spark.read.text(str(p)).collect()]
    assert sorted(got) == ["alpha", "beta", "gamma"]
