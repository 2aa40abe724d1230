"""Round-8 regression + new-operator tests.

Opens with the round-7 driver red row: ``theil_sen_trend_by_subject``
emitted ``-0.0`` (Spark ``F.round`` → ``+0.0``, DuckDB ``round()`` →
``-0.0`` for a tiny-negative median slope); the driver's hasher
distinguishes the two. Fixed by appending ``+ 0.0`` after the 6dp round
on BOTH engines (IEEE: ``-0.0 + 0.0 == +0.0``).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from eventstreamml_spark import queries as q
from tests.oracle import compare


class TestTheilSenSignedZero:
    def test_tiny_negative_median_slope_is_positive_zero(self, spark):
        """A median slope of -1e-10/sec rounds to zero at the 6dp
        micro-unit grid; the output must be +0.0, not -0.0."""
        from eventstreamml_spark.operators.stats import theil_sen_trend

        # values decrease by 1e-4 over 1000s -> slope -1e-7/sec
        # -> slope_per_sec = round(-0.1, 6)... that's nonzero. Use a
        # slope small enough that round(slope*1e6, 6) == -0.0:
        # slope = -1e-13/sec -> *1e6 = -1e-7 -> round(.,6) = -0.0.
        rows = [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:16:40", 1.0 - 1e-10),
            (1, "2024-01-01 00:33:20", 1.0 - 2e-10),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts string, value double"
        ).select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        )
        r = theil_sen_trend(df, "user_id", "ts", "value").collect()[0]
        v = r["slope_per_sec"]
        assert v == 0.0
        assert math.copysign(1.0, v) > 0, f"signed zero leaked: {v!r}"

    def test_duckdb_oracle_sign_normalized(self):
        """The oracle SQL must carry the same `+ 0.0` normalization —
        DuckDB preserves -0.0 through round() without it."""
        import duckdb

        conn = duckdb.connect()
        raw, fixed = conn.execute(
            "SELECT round(-1e-7, 6), round(-1e-7, 6) + 0.0"
        ).fetchone()
        conn.close()
        assert math.copysign(1.0, raw) < 0  # the trap is real
        assert math.copysign(1.0, fixed) > 0

    def test_registry_oracle_contains_normalization(self):
        from eventstreamml_spark import queries as q

        sql = q.oracle_sql()["theil_sen_trend_by_subject"]
        assert "+ 0.0 AS slope_per_sec" in sql


class TestComparatorSignExactness:
    def test_norm_cell_distinguishes_signed_zero(self):
        from tests.oracle import _norm_cell

        assert _norm_cell(0.0) != _norm_cell(-0.0)
        assert _norm_cell(0.0) == 0.0


def _write_events(tmp_path, rows):
    """rows: (event_id, ts_str, user_id, event_type, value, props)"""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [pd.Timestamp(r[1]) for r in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "events.parquet"))


def _write_documents(tmp_path, rows):
    """rows: (doc_id, text, lang, source)"""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "documents.parquet"))


class TestRound8CurationAudits:
    def test_group_size_histogram_hand_computed(self, spark, tmp_path):
        docs = [
            (0, "aaa", "en", "s1"),
            (1, "aaa", "en", "s1"),
            (2, "aaa", "en", "s2"),
            (3, "bbb", "en", "s1"),
            (4, "ccc", "en", "s2"),
        ]
        _write_documents(tmp_path, docs)
        name = "dedup_group_size_histogram"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {
            r["group_size"]: (r["n_groups"], r["n_docs"])
            for r in q.queries()[name](spark, str(tmp_path)).collect()
        }
        assert out == {3: (1, 3), 1: (2, 2)}

    def test_prefix_dup_rate_shared_preamble(self, spark, tmp_path):
        pre = "w1 w2 w3 w4 w5 w6 w7 w8"
        docs = [
            (0, pre + " unique tail one", "en", "s1"),
            (1, pre + " different tail two", "en", "s1"),
            (2, "totally different document body here now ok yes", "en", "s1"),
            (3, pre, "en", "s2"),  # exactly the 8-word prefix
        ]
        _write_documents(tmp_path, docs)
        name = "doc_prefix_dup_rate"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {
            r["source"]: (r["n_prefix_dup"], r["prefix_dup_rate"])
            for r in q.queries()[name](spark, str(tmp_path)).collect()
        }
        # docs 0,1,3 share the 8-word prefix hash
        assert out["s1"] == (2, round(2 / 3, 6))
        assert out["s2"] == (1, 1.0)


class TestRound8EvalMetrics:
    def test_mcc_perfect_and_inverse(self, spark):
        # pin the formula on hand confusion cells via the same column
        # expressions the query uses
        import math

        tp, fp, fn, tn = 40, 10, 5, 45
        mcc = (tp * tn - fp * fn) / math.sqrt(
            (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        )
        assert 0 < mcc < 1

    def test_eval_queries_edge_parity(self, spark, tmp_path):
        # tiny events: few queries, some with no relevant items at all
        rows = [
            (i, "2024-01-01 00:00:00", i % 7, "click", float(i), None)
            for i in range(40)
        ]
        _write_events(tmp_path, rows)
        for name in ("eval_mcc_threshold", "eval_topk_accuracy"):
            compare(
                spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name]
            )

    def test_topk_hit_rate_monotone_in_k(self, spark):
        import os

        sf = os.path.join("/root/testdata", "sf0.001")
        out = {
            r["k"]: r["hit_rate"]
            for r in q.queries()["eval_topk_accuracy"](spark, sf).collect()
        }
        assert out[1] <= out[3] <= out[5] <= out[10]


class TestRound8StatsOps:
    def test_trimmed_mean_drops_outlier(self, spark, tmp_path):
        # 10 values incl. one wild outlier: n//10 = 1 -> drop min & max
        vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0]
        rows = [
            (i, "2024-01-01 00:00:00", i, "t", v, None)
            for i, v in enumerate(vals)
        ]
        _write_events(tmp_path, rows)
        name = "trimmed_mean_value_by_type"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["n_kept"] == 8
        assert r["trimmed_mean"] == round(sum(vals[1:9]) / 8, 6)

    def test_trimmed_mean_small_n_no_trim(self, spark, tmp_path):
        rows = [
            (i, "2024-01-01 00:00:00", i, "t", float(i), None)
            for i in range(5)
        ]  # n//10 = 0 -> plain mean
        _write_events(tmp_path, rows)
        name = "trimmed_mean_value_by_type"
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["n_kept"] == 5 and r["trimmed_mean"] == 2.0

    def test_dispersion_constant_series_is_zero(self, spark, tmp_path):
        # 2 events per hour for 5 hours -> variance 0 -> dispersion 0
        rows = []
        eid = 0
        for h in range(5):
            for j in range(2):
                rows.append(
                    (eid, f"2024-01-01 {h:02d}:0{j}:00", eid, "t", 1.0, None)
                )
                eid += 1
        _write_events(tmp_path, rows)
        name = "event_rate_dispersion_by_type"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["dispersion"] == 0.0

    def test_dispersion_single_hour_is_null(self, spark, tmp_path):
        rows = [
            (i, "2024-01-01 00:00:00", i, "t", 1.0, None) for i in range(3)
        ]
        _write_events(tmp_path, rows)
        name = "event_rate_dispersion_by_type"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["dispersion"] is None


class TestRound8DqAndGraph:
    def test_null_rate_drift_hand_computed(self, spark, tmp_path):
        # half 0 (even ids): 2 of 4 value-nulls; half 1: 0 of 4
        rows = []
        for i in range(8):
            v = None if (i % 2 == 0 and i < 4) else 1.0
            rows.append((i, "2024-01-01 00:00:00", i, "t", v, "p"))
        _write_events(tmp_path, rows)
        name = "dq_null_rate_drift"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {
            r["col"]: r for r in q.queries()[name](spark, str(tmp_path)).collect()
        }
        assert out["value"]["n_null_0"] == 2 and out["value"]["n_null_1"] == 0
        assert out["value"]["drift"] == 0.5
        assert out["props"]["drift"] == 0.0

    def test_bipartite_cooccurrence_hand_computed(self, spark, tmp_path):
        rows = [
            (0, "2024-01-01 00:00:00", 1, "a", 1.0, None),
            (1, "2024-01-01 00:00:00", 1, "b", 1.0, None),
            (2, "2024-01-01 00:00:00", 1, "b", 1.0, None),  # dup pair
            (3, "2024-01-01 00:00:00", 2, "a", 1.0, None),
            (4, "2024-01-01 00:00:00", 2, "c", 1.0, None),
            (5, "2024-01-01 00:00:00", 3, "a", 1.0, None),
            (6, "2024-01-01 00:00:00", 3, "b", 1.0, None),
        ]
        _write_events(tmp_path, rows)
        name = "graph_bipartite_type_cooccurrence"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {
            (r["type_a"], r["type_b"]): r["n_users"]
            for r in q.queries()[name](spark, str(tmp_path)).collect()
        }
        assert out == {("a", "b"): 2, ("a", "c"): 1}


class TestRound8ClassicalStats:
    def test_mann_kendall_strictly_increasing(self, spark):
        from eventstreamml_spark.operators.stats import mann_kendall_trend

        df = spark.createDataFrame(
            [("t", i, float(i)) for i in range(10)],
            "k string, o long, y double",
        )
        r = mann_kendall_trend(df, "k", "o", "y").collect()[0]
        assert r["s_stat"] == 45  # n(n-1)/2 with every pair concordant
        assert r["n_pairs"] == 45
        assert r["var18"] == 10 * 9 * 25  # no ties
        assert r["z"] > 3

    def test_mann_kendall_constant_series(self, spark):
        from eventstreamml_spark.operators.stats import mann_kendall_trend

        df = spark.createDataFrame(
            [("t", i, 5.0) for i in range(6)], "k string, o long, y double"
        )
        r = mann_kendall_trend(df, "k", "o", "y").collect()[0]
        assert r["s_stat"] == 0 and r["var18"] == 0 and r["z"] == 0.0

    def test_wilcoxon_all_positive(self, spark):
        from eventstreamml_spark.operators.stats import wilcoxon_signed_rank

        df = spark.createDataFrame(
            [(i, (i + 1) * 10) for i in range(8)], "id long, d long"
        )
        r = wilcoxon_signed_rank(df, "id", "d").collect()[0]
        assert r["n_pairs"] == 8
        assert r["w2_plus"] == 2 * 36  # W+ = n(n+1)/2 = 36
        assert r["z"] > 2

    def test_wilcoxon_symmetric_is_zero(self, spark):
        from eventstreamml_spark.operators.stats import wilcoxon_signed_rank

        # d = ±10, ±20: midranks make W+ exactly n(n+1)/4
        df = spark.createDataFrame(
            [(0, 10), (1, -10), (2, 20), (3, -20)], "id long, d long"
        )
        r = wilcoxon_signed_rank(df, "id", "d").collect()[0]
        assert r["num4"] == 0 and r["z"] == 0.0

    def test_wilcoxon_excludes_zero_diffs(self, spark):
        from eventstreamml_spark.operators.stats import wilcoxon_signed_rank

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (2, 5)], "id long, d long"
        )
        r = wilcoxon_signed_rank(df, "id", "d").collect()[0]
        assert r["n_pairs"] == 1

    def test_cochran_armitage_monotone_trend(self, spark, tmp_path):
        # conversion rates 0/3, 2/3, 3/3 across arms 0,1,2 -> positive z
        rows, eid = [], 0
        for uid in range(9):
            arm = uid % 3
            conv = (arm == 1 and uid in (1, 4)) or arm == 2
            rows.append(
                (eid, "2024-01-01 00:00:00", uid,
                 "purchase" if conv else "click", 1.0, None)
            )
            eid += 1
        _write_events(tmp_path, rows)
        name = "cochran_armitage_trend"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["n_users"] == 9 and r["n_converters"] == 5
        assert r["z"] > 1.5

    def test_cohens_d_known_groups(self, spark, tmp_path):
        # arm 0 values ~N(0), arm 1 shifted by +2 with unit-ish spread
        rows, eid = [], 0
        for uid, v in [(0, 1.0), (2, 2.0), (4, 3.0), (1, 3.0), (3, 4.0),
                       (5, 5.0)]:
            rows.append((eid, "2024-01-01 00:00:00", uid, "t", v, None))
            eid += 1
        _write_events(tmp_path, rows)
        name = "eval_cohens_d_by_arm"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        # both groups var 1.0 -> pooled sd 1.0 -> d = mean diff = 2.0
        assert r["mean_diff"] == 2.0 and r["cohens_d"] == 2.0
        assert abs(r["hedges_g"] - 2.0 * (1 - 3 / (4 * 6 - 9))) < 1e-9

    def test_mann_kendall_query_parity_on_tiny_events(self, spark, tmp_path):
        rows = []
        eid = 0
        for h in range(6):
            for _ in range(h + 1):  # strictly increasing hourly counts
                rows.append(
                    (eid, f"2024-01-01 {h:02d}:00:00", eid, "t", 1.0, None)
                )
                eid += 1
        _write_events(tmp_path, rows)
        name = "mann_kendall_hourly_by_type"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["s_stat"] == 15 and r["z"] > 0

    def test_wilcoxon_query_parity_on_tiny_events(self, spark, tmp_path):
        rows = []
        for uid in range(6):
            # even event id (kept +) carries a bigger value than odd
            rows.append((uid * 2, "2024-01-01 00:00:00", uid, "t",
                         float(uid + 2), None))
            rows.append((uid * 2 + 1, "2024-01-01 00:00:00", uid, "t",
                         1.0, None))
        _write_events(tmp_path, rows)
        name = "wilcoxon_signed_rank_halves"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["n_pairs"] == 6 and r["z"] > 0


class TestRound8SequentialFolds:
    def test_page_hinkley_detects_level_shift(self, spark):
        from eventstreamml_spark.operators.windows import page_hinkley_by_key

        # 20 quiet periods then 10 at +100: PH must alarm
        rows = [("k", i, 1.0) for i in range(20)] + [
            ("k", 20 + i, 101.0) for i in range(10)
        ]
        df = spark.createDataFrame(rows, "key string, h long, y double")
        r = page_hinkley_by_key(df, "key", "h", "y", lam=50.0).collect()[0]
        assert r["alarm"] == 1 and r["ph_stat"] > 50

    def test_page_hinkley_flat_series_no_alarm(self, spark):
        from eventstreamml_spark.operators.windows import page_hinkley_by_key

        df = spark.createDataFrame(
            [("k", i, 5.0) for i in range(30)], "key string, h long, y double"
        )
        r = page_hinkley_by_key(df, "key", "h", "y").collect()[0]
        # constant series: every term is -delta, m decreasing, PH = 0
        assert r["alarm"] == 0 and r["ph_stat"] == 0.0

    def test_croston_hand_computed(self, spark):
        from eventstreamml_spark.operators.windows import croston_by_key

        # demands 4 at t=0 (init: z=4, p=1) and 6 at t=3 (gap q'=3):
        # z = .5*6+.5*4 = 5, p = .5*3+.5*1 = 2 -> rate 2.5
        rows = [("k", 0, 4.0), ("k", 1, 0.0), ("k", 2, 0.0), ("k", 3, 6.0)]
        df = spark.createDataFrame(rows, "key string, h long, y double")
        r = croston_by_key(df, "key", "h", "y").collect()[0]
        assert r["n_demands"] == 2
        assert r["demand_size"] == 5.0
        assert r["demand_interval"] == 2.0
        assert r["forecast_rate"] == 2.5

    def test_croston_all_zero_series_null_state(self, spark):
        from eventstreamml_spark.operators.windows import croston_by_key

        df = spark.createDataFrame(
            [("k", i, 0.0) for i in range(5)], "key string, h long, y double"
        )
        r = croston_by_key(df, "key", "h", "y").collect()[0]
        assert r["n_demands"] == 0
        assert r["demand_size"] is None and r["forecast_rate"] is None

    def test_fold_queries_parity_on_tiny_events(self, spark, tmp_path):
        rows, eid = [], 0
        for h in range(8):
            n = 1 if h < 6 else 40  # drift at the end
            for j in range(n):
                rows.append(
                    (eid, f"2024-01-01 {h:02d}:00:{j % 60:02d}", eid % 16,
                     "purchase" if eid % 3 == 0 else "click", 1.0, None)
                )
                eid += 1
        _write_events(tmp_path, rows)
        for name in ("page_hinkley_hourly_drift", "croston_purchase_demand"):
            compare(
                spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name]
            )

    def test_fold_queries_bucket_pre_1970_like_oracle(self, spark, tmp_path):
        # Hours straddling the epoch, events at hh:30. The oracles bucket
        # with a truncating // (-1800 s and +1800 s share bucket 0); the
        # Spark side must too, or the series has one bucket more.
        import pandas as pd

        rows, eid = [], 0
        t0 = pd.Timestamp("1970-01-01 00:00:00")
        for k, n in enumerate((1, 3, 1, 2, 2, 1, 40, 40)):
            for j in range(n):
                ts = t0 + pd.Timedelta(seconds=(k - 4) * 3600 + 1800 + j)
                rows.append(
                    (eid, str(ts), eid % 16,
                     "purchase" if eid % 3 == 0 else "click", 1.0, None)
                )
                eid += 1
        _write_events(tmp_path, rows)
        name = "page_hinkley_hourly_drift"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = q.queries()[name](spark, str(tmp_path)).collect()
        assert {r["n_points"] for r in out} == {7}


class TestRound8SimilarityAndCorpus:
    def test_pq_adc_self_distance_smallest(self, spark):
        # a query's ADC distance to itself uses its own codes, so the
        # nearest neighbor list (which excludes self) must still rank
        # monotonically in adc_micro
        out = q.queries()["ann_pq_adc_topk"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(
                (r["rk"], r["adc_micro"], r["neighbor_id"])
            )
        for qid, rows in by_q.items():
            rows.sort()
            assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
            dists = [r[1] for r in rows]
            assert dists == sorted(dists)
            assert all(r[2] != qid for r in rows)

    def test_ccnet_buckets_cover_thirds(self, spark, tmp_path):
        # 9 docs in one lang -> buckets of exactly 3/3/3, ranked by
        # integer LM score (common words -> higher logprob -> head)
        docs = [(i, ("common " * 5 if i < 3 else f"rare{i} " * 5).strip(),
                 "en", "s") for i in range(9)]
        _write_documents(tmp_path, docs)
        name = "doc_ccnet_quality_buckets"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {
            (r["lang"], r["bucket"]): r["n_docs"]
            for r in q.queries()[name](spark, str(tmp_path)).collect()
        }
        assert out == {("en", 0): 3, ("en", 1): 3, ("en", 2): 3}

    def test_cross_source_contamination_hand_computed(self, spark, tmp_path):
        shared = "a b c d e"  # one 5-gram
        docs = [
            (0, shared + " x1 y1 z1 w1", "en", "s1"),
            (1, shared + " x2 y2 z2 w2", "en", "s2"),
            (2, "p q r s t u v", "en", "s3"),
        ]
        _write_documents(tmp_path, docs)
        name = "corpus_cross_source_contamination"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {
            (r["source_a"], r["source_b"]): r["n_shared"]
            for r in q.queries()[name](spark, str(tmp_path)).collect()
        }
        assert out == {("s1", "s2"): 1}  # only the shared leading 5-gram

    def test_cosine_histogram_bins_bounded(self, spark):
        out = q.queries()["embedding_cosine_pair_histogram"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert sum(r["n_pairs"] for r in out) > 0
        for r in out:
            assert 0 <= r["bin"] <= 16
            assert -1.0 <= r["min_cos"] <= r["max_cos"] <= 1.0


class TestRound8SessionsMultimodalGraph:
    def test_session_gaps_only_above_timeout(self, spark, tmp_path):
        rows = [
            (0, "2024-01-01 00:00:00", 1, "t", 1.0, None),
            (1, "2024-01-01 00:10:00", 1, "t", 1.0, None),  # 600s: in-session
            (2, "2024-01-01 02:10:00", 1, "t", 1.0, None),  # 7200s gap
            (3, "2024-01-02 04:10:00", 1, "t", 1.0, None),  # 93600s -> cap 24
        ]
        _write_events(tmp_path, rows)
        name = "session_gap_histogram"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {
            r["bucket_h"]: r for r in q.queries()[name](spark, str(tmp_path)).collect()
        }
        assert set(out) == {2, 24}
        assert out[2]["n_gaps"] == 1 and out[2]["sum_gap_sec"] == 7200
        assert out[24]["max_gap_sec"] == 93600

    def test_video_plan_hand_computed(self, spark, tmp_path):
        # n_chars=10 -> duration 400ms -> n_frames 10 -> indices
        # j*9//7 for j=0..7 = 0,1,2,3,5,6,7,9 (8 distinct)
        docs = [(0, "0123456789", "en", "s")]
        _write_documents(tmp_path, docs)
        name = "video_frame_sample_plan"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        idx = [j * 9 // 7 for j in range(8)]
        assert r["n_frames"] == 10
        assert r["n_samples"] == len(set(idx))
        assert r["idx_digest"] == sum(idx)

    def test_clustering_coefficient_triangle_plus_tail(self, spark):
        from eventstreamml_spark.operators.graph import triangle_count

        # triangle 1-2-3 plus pendant 3-4: transitivity = 3*1/ (wedges)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], "lo long, hi long"
        )
        tri = {r["node"]: r["n_triangles"]
               for r in triangle_count(edges, "lo", "hi").collect()}
        assert tri == {1: 1, 2: 1, 3: 1}
        # degrees: 1:2, 2:2, 3:3, 4:1 -> sum deg(deg-1) = 2+2+6+0 = 10
        # transitivity = 2*3/10 = 0.6; cc: 1,1,1/3 over deg>=2 nodes

    def test_clustering_query_parity_tiny(self, spark, tmp_path):
        rows = [
            (i * 10, "2024-01-01 00:00:00", u, "t", 1.0, None)
            for i, u in enumerate([1, 2, 3, 4, 5, 6])
        ]
        _write_events(tmp_path, rows)
        name = "graph_clustering_coefficient"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])


class TestRound8LshAndHoltWinters:
    def test_lsh_bucket_stats_conservation(self, spark):
        out = q.queries()["embedding_lsh_bucket_stats"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert sum(r["n_vecs"] for r in out) == 500  # every vector lands in one bucket
        for r in out:
            n = r["n_vecs"]
            assert r["n_cand_pairs"] == n * (n - 1) // 2
            assert 0 <= r["bucket"] < 64  # 6 planes

    def test_holt_winters_learns_pure_seasonal(self, spark):
        from eventstreamml_spark.operators.windows import (
            holt_winters_additive_by_key,
        )

        # strict period-4 pattern: after several cycles the seasonal
        # slots dominate and one-step errors shrink in later cycles
        pat = [10.0, 0.0, 0.0, 0.0]
        rows = [("k", i, pat[i % 4]) for i in range(40)]
        df = spark.createDataFrame(rows, "key string, h long, y double")
        r = holt_winters_additive_by_key(
            df, "key", "h", "y", period=4
        ).collect()[0]
        assert r["n_points"] == 40
        # next element is position 41 -> slot (41-1) % 4 = 0 -> the 10.0
        # slot: the forecast must be far above the series mean (2.5)
        assert r["forecast_next"] > 5.0

    def test_holt_winters_constant_series(self, spark):
        from eventstreamml_spark.operators.windows import (
            holt_winters_additive_by_key,
        )

        rows = [("k", i, 7.0) for i in range(12)]
        df = spark.createDataFrame(rows, "key string, h long, y double")
        r = holt_winters_additive_by_key(
            df, "key", "h", "y", period=4
        ).collect()[0]
        # level locks to 7, trend ~0, one-step errors only from the
        # cold seasonal start
        assert abs(r["level"] - 7.0) < 0.2
        assert abs(r["trend"]) < 0.2
        assert abs(r["forecast_next"] - 7.0) < 0.5


class TestRound8PlanShapes:
    """Pin the documented shuffle/broadcast shapes of the round-8
    operators — an added exchange or a join that degrades to
    nested-loop is a scale bug even when results stay correct."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_pq_adc_lut_join_broadcasts(self, spark):
        plan = self._plan(
            q.queries()["ann_pq_adc_topk"](spark, "/root/testdata/sf0.001")
        )
        # the (query × subspace × code) LUT is tiny and must broadcast;
        # the codes side streams
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_trimmed_mean_single_exchange(self, spark):
        plan = self._plan(
            q.queries()["trimmed_mean_value_by_type"](
                spark, "/root/testdata/sf0.001"
            )
        )
        # rank window, count window, and the groupBy all share the
        # event_type hash partitioning
        assert plan.count("Exchange hashpartitioning") == 1

    def test_dispersion_span_broadcasts(self, spark):
        plan = self._plan(
            q.queries()["event_rate_dispersion_by_type"](
                spark, "/root/testdata/sf0.001"
            )
        )
        # the 1-row span relation joins via broadcast, never shuffles
        # the per-type aggregate
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_bipartite_no_cartesian(self, spark):
        plan = self._plan(
            q.queries()["graph_bipartite_type_cooccurrence"](
                spark, "/root/testdata/sf0.001"
            )
        )
        assert "CartesianProduct" not in plan

    def test_contamination_digest_equijoin(self, spark):
        plan = self._plan(
            q.queries()["corpus_cross_source_contamination"](
                spark, "/root/testdata/sf0.001"
            )
        )
        # the shared-gram discovery must be a hash equi-join on the
        # digest, with the per-source totals broadcast
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_mann_kendall_pair_join_is_hash_join(self, spark):
        from eventstreamml_spark.operators.stats import mann_kendall_trend

        df = spark.createDataFrame(
            [("t", i, float(i)) for i in range(10)],
            "k string, o long, y double",
        )
        plan = self._plan(mann_kendall_trend(df, "k", "o", "y"))
        # pairs form via the key equi-join (o < o2 is a post-filter);
        # a nested-loop over raw rows would explode at scale
        assert "CartesianProduct" not in plan


class TestRound8FinalBatch:
    def test_ohlc_hand_computed(self, spark, tmp_path):
        rows = [
            (0, "2024-01-01 09:00:00", 1, "t", 10.0, None),
            (1, "2024-01-01 12:00:00", 1, "t", 50.0, None),
            (2, "2024-01-01 15:00:00", 1, "t", 5.0, None),
            (3, "2024-01-01 18:00:00", 1, "t", 20.0, None),
            (4, "2024-01-02 09:00:00", 1, "t", 7.0, None),
        ]
        _write_events(tmp_path, rows)
        name = "events_resample_daily_ohlc"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {r["day"]: r for r in q.queries()[name](spark, str(tmp_path)).collect()}
        d1 = [d for d in out.values() if d["volume"] == 4][0]
        assert (d1["open"], d1["high"], d1["low"], d1["close"]) == (
            10.0, 50.0, 5.0, 20.0,
        )

    def test_ohlc_equal_ts_tiebreak_by_event_id(self, spark, tmp_path):
        rows = [
            (2, "2024-01-01 09:00:00", 1, "t", 30.0, None),
            (1, "2024-01-01 09:00:00", 1, "t", 10.0, None),  # open: id 1
            (3, "2024-01-01 09:00:00", 1, "t", 99.0, None),  # close: id 3
        ]
        _write_events(tmp_path, rows)
        name = "events_resample_daily_ohlc"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["open"] == 10.0 and r["close"] == 99.0

    def test_gini_uniform_and_concentrated(self, spark, tmp_path):
        # uniform: every user 2 events -> gini = 0
        rows = [(i, "2024-01-01 00:00:00", i // 2, "t", 1.0, None)
                for i in range(10)]
        _write_events(tmp_path, rows)
        name = "subject_count_gini"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        r = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert r["gini"] == 0.0
        import math
        assert math.copysign(1.0, r["gini"]) > 0  # signed-zero guard

    def test_gini_whale_dominates(self, spark, tmp_path):
        # 4 users with 1 event, 1 whale with 96 -> gini near 0.76
        rows = []
        eid = 0
        for uid in range(4):
            rows.append((eid, "2024-01-01 00:00:00", uid, "t", 1.0, None))
            eid += 1
        for _ in range(96):
            rows.append((eid, "2024-01-01 00:00:00", 9, "t", 1.0, None))
            eid += 1
        _write_events(tmp_path, rows)
        r = q.queries()["subject_count_gini"](spark, str(tmp_path)).collect()[0]
        # exact: (2*(1+2+3+4+5*96) - 6*100) / (5*100) = (980-600)/500
        assert r["gini"] == round(380 / 500, 6)

    def test_rich_club_complete_core(self, spark):
        out = q.queries()["graph_rich_club_coefficient"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        ks = {r["k"]: r for r in out}
        # phi is a density in [0, 1], monotone data sanity only
        for r in out:
            if r["phi"] is not None:
                assert 0.0 <= r["phi"] <= 1.0
            assert r["e_rich"] <= r["n_rich"] * (r["n_rich"] - 1) // 2

    def test_phash_deterministic_and_bounded(self, spark):
        from eventstreamml_spark.operators.multimodal import image_phash_dct

        media = spark.range(6).select(F.col("id").alias("media_id"))
        a = {r["media_id"]: (r["dc"], r["phash"], r["n_pos_bits"])
             for r in image_phash_dct(media).collect()}
        b = {r["media_id"]: (r["dc"], r["phash"], r["n_pos_bits"])
             for r in image_phash_dct(media.repartition(3)).collect()}
        assert a == b  # partitioning-exact by integer construction
        for dc, ph, nb in a.values():
            assert 0 <= ph < (1 << 15)
            assert 0 <= nb <= 15
            assert dc > 0  # pixels are non-negative, DC weight positive

    def test_dct_weights_are_q10_integers(self):
        from eventstreamml_spark.operators.multimodal import dct_weights_q10

        w = dct_weights_q10()
        assert len(w) == 32
        assert all(isinstance(x[2], int) and -1024 <= x[2] <= 1024 for x in w)
        # u=0 row is the flat DC basis: cos(0) = 1 -> 1024 everywhere
        assert all(x[2] == 1024 for x in w if x[0] == 0)
