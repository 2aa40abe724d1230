"""The zero-filled event-count series, ``queries._bucket_series``, and
every registered query built on it.

The helper buckets as the oracles do, ``CAST(floor(epoch(ts)) AS
BIGINT) // B``, which truncates toward zero: before 1970 the bucket
that holds the epoch is twice as wide, ``(-B, B)``. A floor-division
bucketing agrees with it after 1970 only, so every caller is checked
against its DuckDB oracle on events that straddle 1970-01-01 00:00 UTC.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eventstreamml_spark import queries as q
from tests.oracle import compare
from tests.test_round8_ops import _write_events

SERIES_QUERIES = sorted(
    n for n, fn in q.queries().items() if "_bucket_series" in fn.__code__.co_names
)

EPOCH = pd.Timestamp("1970-01-01 00:00:00")


def _events(spark, secs, types=None):
    """Frame of ``(event_type, ts)`` at ``secs`` seconds from the epoch."""
    types = types or ["click"] * len(secs)
    rows = [(t, str(EPOCH + pd.Timedelta(seconds=s))) for t, s in zip(types, secs)]
    return spark.createDataFrame(rows, "event_type string, ts string").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )


def _rows(df, by=()):
    return sorted(tuple(r) for r in df.select(*by, "b", "i", "y").collect())


@pytest.fixture(scope="module")
def epoch_events(tmp_path_factory):
    """Three event types over the 48 hours either side of the epoch,
    0..8 events per type and hour at seeded offsets inside the hour,
    so pre-1970 events fall strictly inside their buckets and some
    hours of each type are empty (zero-filled)."""
    rng = random.Random(1970)
    rows, eid = [], 0
    for hour in range(-48, 48):
        for etype in ("click", "purchase", "view"):
            for _ in range(rng.choice((0, 0, 1, 2, 3, 5, 8))):
                ts = EPOCH + pd.Timedelta(seconds=hour * 3600 + rng.randrange(1, 3600))
                value = round(rng.uniform(0.0, 50.0), 2) if etype == "purchase" else None
                rows.append((eid, str(ts), rng.randrange(20), etype, value, None))
                eid += 1
    d = tmp_path_factory.mktemp("epoch_events")
    _write_events(d, rows)
    return str(d)


def test_every_series_query_is_discovered():
    # Guards the parametrization below against an empty or shrunken list.
    assert len(SERIES_QUERIES) >= 35
    assert {"croston_purchase_demand", "page_hinkley_hourly_drift"} <= set(
        SERIES_QUERIES
    )


@pytest.mark.parametrize("name", SERIES_QUERIES)
def test_series_query_matches_oracle_across_epoch(spark, epoch_events, name):
    compare(spark, epoch_events, q.queries()[name], q.oracle_sql()[name])


class TestBucketSeries:
    def test_zero_fills_gaps_and_indexes_from_span_start(self, spark):
        ev = _events(spark, [7200, 7300, 10 * 3600 + 5, 12 * 3600])
        assert _rows(q._bucket_series(ev, 3600)) == [
            (2, 0, 2), (3, 1, 0), (4, 2, 0), (5, 3, 0), (6, 4, 0),
            (7, 5, 0), (8, 6, 0), (9, 7, 0), (10, 8, 1), (11, 9, 0),
            (12, 10, 1),
        ]

    @pytest.mark.parametrize("bucket_sec", [60, 3600, 21600, 86400])
    def test_truncates_toward_zero_before_1970(self, spark, bucket_sec):
        # -B/2 and +B/2 share bucket 0; -3B/2 is bucket -1, not -2.
        h = bucket_sec // 2
        ev = _events(spark, [-3 * h, -h, h])
        assert _rows(q._bucket_series(ev, bucket_sec)) == [(-1, 0, 1), (0, 1, 2)]

    def test_exact_negative_boundary_keeps_its_bucket(self, spark):
        # -3600 s is exactly bucket -1 under both conventions.
        ev = _events(spark, [-3600, -3599, 0])
        assert _rows(q._bucket_series(ev, 3600)) == [(-1, 0, 1), (0, 1, 2)]

    def test_by_keys_share_the_global_span(self, spark):
        ev = _events(spark, [0, 3600, 4 * 3600, 2 * 3600], ["a", "a", "a", "b"])
        out = _rows(q._bucket_series(ev, 3600, ("event_type",)), ("event_type",))
        assert out == [
            ("a", 0, 0, 1), ("a", 1, 1, 1), ("a", 2, 2, 0), ("a", 3, 3, 0),
            ("a", 4, 4, 1),
            ("b", 0, 0, 0), ("b", 1, 1, 0), ("b", 2, 2, 1), ("b", 3, 3, 0),
            ("b", 4, 4, 0),
        ]

    def test_filtered_frame_spans_its_own_rows(self, spark):
        ev = _events(spark, [0, 3600, 5 * 3600, 9 * 3600], ["a", "b", "b", "a"])
        out = _rows(q._bucket_series(ev.filter(F.col("event_type") == "b"), 3600))
        assert out == [(1, 0, 1), (2, 1, 0), (3, 2, 0), (4, 3, 0), (5, 4, 1)]

    def test_pin_matches_unpinned(self, spark):
        secs = [-5000, -10, 0, 100, 3600 * 3 + 1, 3600 * 7]
        ev = _events(spark, secs, ["a", "b", "a", "b", "a", "b"])
        by = ("event_type",)
        assert _rows(q._bucket_series(ev, 3600, by, pin=True), by) == _rows(
            q._bucket_series(ev, 3600, by), by
        )

    def test_single_bucket(self, spark):
        ev = _events(spark, [86400 * 3 + s for s in (1, 2, 3)])
        assert _rows(q._bucket_series(ev, 21600)) == [(12, 0, 3)]

    def test_empty_frame_is_empty(self, spark):
        ev = _events(spark, [0]).filter(F.lit(False))
        assert q._bucket_series(ev, 3600).count() == 0
        assert q._bucket_series(ev, 3600, ("event_type",)).count() == 0

    def test_output_columns(self, spark):
        ev = _events(spark, [0])
        assert q._bucket_series(ev, 3600).columns == ["b", "i", "y"]
        assert q._bucket_series(ev, 3600, ("event_type",)).columns == [
            "event_type", "b", "i", "y",
        ]

    @pytest.mark.parametrize("bucket_sec", [3600, 21600])
    def test_counts_sum_to_rows_and_indexes_are_dense(
        self, spark, epoch_events, bucket_sec
    ):
        ev = spark.read.parquet(f"{epoch_events}/events.parquet")
        by = ("event_type",)
        out = q._bucket_series(ev, bucket_sec, by).collect()
        assert sum(r["y"] for r in out) == ev.count()
        for t in ("click", "purchase", "view"):
            idx = sorted(r["i"] for r in out if r["event_type"] == t)
            assert idx == list(range(len(idx)))
            bs = sorted(r["b"] for r in out if r["event_type"] == t)
            assert bs == list(range(bs[0], bs[0] + len(bs)))
