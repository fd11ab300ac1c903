"""Incremental-ingest bookmarks (SURVEY.md §2.10 T1, §7 stage 4b).

The reference discovers each ticker's resume point with an Airflow dance:
list S3 keys (dag_aggregates_etl.py:98-125) → argmax by LastModified
(:64-95) → download latest JSON → max(t) (:128-150) → pass
LATEST_ENTRY_TIMESTAMP as an ECS env var (:222,260-262), consumed by the
container (aggregates_etl.py:66,89-97).

Natively that's a tiny watermark table + one predicate:

    wm = bookmarks.load(spark)
    fresh = incoming.join(wm, keys, 'left').filter(ts > coalesce(wm.max_ts, -inf))

The table is key-per-row, dimension-sized, broadcastable. Updates are
idempotent merges of max(ts) per key.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession

from polygon_algotrading_env_spark.fsutil import hadoop_path_exists


class BookmarkStore:
    """Watermark table on parquet: (key cols..., max_ts, updated_at)."""

    def __init__(self, path: str, key_cols: Sequence[str], ts_col: str = "max_ts"):
        self.path = path
        self.key_cols = list(key_cols)
        self.ts_col = ts_col

    def load(self, spark: SparkSession) -> DataFrame | None:
        """The watermark table, or None before the first update. Absence
        is probed explicitly: a read that fails must raise, not pass for a
        first run, which would reset every watermark."""
        if not hadoop_path_exists(spark, self.path):
            return None
        return spark.read.parquet(self.path)

    def filter_new(self, incoming: DataFrame, event_ts_col: str) -> DataFrame:
        """Keep only rows strictly newer than the stored per-key watermark
        (P3/P4's high-water-mark predicate). Broadcast join: the bookmark
        table has one row per key."""
        spark = incoming.sparkSession
        wm = self.load(spark)
        if wm is None:
            return incoming
        wm = F.broadcast(
            wm.select(*self.key_cols, F.col(self.ts_col).alias("__wm"))
        )
        return (
            incoming.join(wm, on=self.key_cols, how="left")
            .filter(F.col("__wm").isNull() | (F.col(event_ts_col) > F.col("__wm")))
            .drop("__wm")
        )

    def update(
        self,
        incoming: DataFrame | Sequence[Row],
        event_ts_col: str,
        current: Sequence[Row] | None = None,
    ) -> None:
        """Merge max(event_ts) per key into the store (idempotent: re-runs
        with the same data leave watermarks unchanged).

        ``incoming`` is a frame of events, or per-key maxima the caller has
        already collected as rows of (key cols..., ``event_ts_col``): a max
        of maxima is the same max, so both merge alike. ``current`` is the
        store's rows as the caller already read them; when omitted, the
        store is read here."""
        spark = SparkSession.active()
        if isinstance(incoming, DataFrame):
            incoming = (
                incoming.groupBy(*self.key_cols)
                .agg(F.max(event_ts_col).alias(event_ts_col))
                .collect()
            )
        if current is None:
            old = self.load(spark)
            current = old.collect() if old is not None else []
        marks: dict[tuple, object] = {}
        for rows, ts_col in ((current, self.ts_col), (incoming, event_ts_col)):
            for r in rows:
                key, ts = tuple(r[k] for k in self.key_cols), r[ts_col]
                if ts is not None and (key not in marks or ts > marks[key]):
                    marks[key] = ts
        if not marks:
            return
        # The table is a few rows, built from local values: overwriting it
        # reads nothing back.
        spark.createDataFrame(
            [(*key, ts) for key, ts in marks.items()], [*self.key_cols, self.ts_col]
        ).withColumn("updated_at", F.current_timestamp()).coalesce(1).write.mode(
            "overwrite"
        ).parquet(self.path)
