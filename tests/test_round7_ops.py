"""Round-7 regression pins for the round-6 ADVICE findings: engine
rounding-mode and degenerate-guard mismatches that agree on the driver
fixtures by coincidence but diverge on ragged / all-constant / near-
tied data (DuckDB CAST-to-BIGINT rounds while Spark cast truncates;
eta_sq's denominator can cancel to a tiny negative; BH-FDR ranks were
ulp-dependent).

Each test either writes a tiny synthetic parquet table that HAS the
edge and runs the full Spark-vs-DuckDB compare on it, or pins the
operator's degenerate-case contract directly.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from eventstreamml_spark import queries as q
from tests.oracle import compare


class TestCentroidDriftRaggedFloor:
    def test_ragged_embeddings_floor_both_engines(self, spark, tmp_path):
        # Ragged lengths make sum(n)/count(DISTINCT dim) fractional
        # (old half: one 3-dim + one 2-dim vector over 3 distinct dims
        # -> 5/3): DuckDB CAST(.. AS BIGINT) rounds to nearest while
        # Spark .cast("long") truncates, so without the explicit floor
        # n_old would read 2 vs 1.  The full compare pins the floor.
        vecs = [
            (0, [1.0, 2.0, 3.0], 0),
            (2, [4.0, 5.0], 0),
            (1, [2.0, 1.0, 0.5], 1),
            (3, [0.5, 1.5], 1),
            (5, [1.0, 1.0, 2.0], 1),
        ]
        table = pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                "embedding": pa.array(
                    [v[1] for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([v[2] for v in vecs], pa.int32()),
            }
        )
        pq.write_table(table, os.path.join(tmp_path, "embeddings.parquet"))
        name = "embedding_centroid_drift"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])


class TestAnovaDegenerateEtaSq:
    def test_constant_data_nulls_eta_sq(self, spark):
        # All-constant values: SSB + SSW cancels to ~0 (float noise can
        # leave it a hair NEGATIVE).  The oracle's strict > 0 CASE
        # emits NULL; the Spark side must mirror it rather than emit a
        # noise ratio through try_divide.
        from eventstreamml_spark.operators.stats import anova_oneway

        rows = [(g, 0.1) for g in ("a", "b", "c") for _ in range(7)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = anova_oneway(df, "g", "v").collect()[0]
        assert r["eta_sq"] is None

    def test_constant_groups_null_f_stat(self, spark):
        # SSW is exactly 0 when every group is constant; the one-pass
        # float sums leave partition-dependent noise there, so f_stat
        # must be NULLed on the exact per-group min == max, whether or
        # not the groups differ from each other.
        from eventstreamml_spark.operators.stats import anova_oneway

        for vals in ((0.1, 0.1, 0.1), (0.1, 0.7, 1.3)):
            rows = [(g, v) for g, v in zip("abc", vals) for _ in range(7)]
            df = spark.createDataFrame(rows, "g string, v double")
            r = anova_oneway(df, "g", "v").collect()[0]
            assert r["f_stat"] is None
        assert r["eta_sq"] == 1.0

    def test_brown_forsythe_constant_data(self, spark):
        from eventstreamml_spark.operators.stats import brown_forsythe

        rows = [(g, 2.5) for g in ("a", "b") for _ in range(5)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = brown_forsythe(df, "g", "v").collect()[0]
        # |x - median| == 0 everywhere -> degenerate by construction
        assert r[3] is None  # eta_sq twin column


@pytest.mark.parametrize("parts", [1, 2, 3, 4, 5, 6, 7, 8])
class TestAnovaPartitionInvariance:
    # The degenerate cases above, spread over 1..8 input partitions: the
    # float sums' noise changes with the split, the NULL decisions must not.
    def test_constant_data_nulls_both(self, spark, parts):
        from eventstreamml_spark.operators.stats import anova_oneway

        rows = [(g, 0.1) for g in ("a", "b", "c") for _ in range(7)]
        df = spark.createDataFrame(rows, "g string, v double").repartition(parts)
        r = anova_oneway(df, "g", "v").collect()[0]
        assert (r["k_groups"], r["n_total"]) == (3, 21)
        assert r["f_stat"] is None
        assert r["eta_sq"] is None

    def test_constant_groups_null_f_stat_only(self, spark, parts):
        from eventstreamml_spark.operators.stats import anova_oneway

        rows = [(g, v) for g, v in zip("abc", (0.1, 0.7, 1.3)) for _ in range(7)]
        df = spark.createDataFrame(rows, "g string, v double").repartition(parts)
        r = anova_oneway(df, "g", "v").collect()[0]
        assert r["f_stat"] is None
        assert r["eta_sq"] == 1.0

    def test_brown_forsythe_constant_data(self, spark, parts):
        from eventstreamml_spark.operators.stats import brown_forsythe

        rows = [(g, 0.1) for g in ("a", "b", "c") for _ in range(7)]
        df = spark.createDataFrame(rows, "g string, v double").repartition(parts)
        r = brown_forsythe(df, "g", "v").collect()[0]
        assert r[2] is None and r[3] is None


class TestRidgeSingularRowParity:
    def test_singular_case_emits_exactly_one_null_row(self, spark):
        # The oracle now emits the NULL-coefficient row via
        # nullif(det, 0) instead of dropping it (WHERE det <> 0), so
        # the Spark side's 1-row contract is the shared contract: a
        # singular system is one row of NULLs, never zero rows.
        from eventstreamml_spark.operators.stats import ridge_regression_3f

        rows = [(float(i), float(i), 2.0 * i, 1.0) for i in range(20)]
        df = spark.createDataFrame(
            rows, "y double, x1 double, x2 double, x3 double"
        )
        out = ridge_regression_3f(df, "y", ("x1", "x2", "x3"), lam=0.0).collect()
        assert len(out) == 1
        assert out[0]["beta_1"] is None and out[0]["beta_2"] is None

    def test_ridge_oracle_keeps_singular_row(self, spark):
        import duckdb

        sql = q.oracle_sql()["ridge_regression_price"]
        assert "nullif(det, 0)" in sql and "det <> 0" not in sql


class TestBhFdrGridStableRanks:
    def test_sub_grid_ties_rank_by_id(self, spark):
        # Two p-values 1e-12 apart collapse onto the same 9dp grid
        # point, so the rank must come from the id tiebreak — the exact
        # situation where an exp/ln ulp between libm and the JVM would
        # otherwise swap rank_i between engines.
        from eventstreamml_spark.operators.stats import bh_fdr

        df = spark.createDataFrame(
            [("b", 0.1), ("a", 0.1 + 1e-12), ("c", 0.5)],
            "test_id string, p double",
        )
        rows = {r["test_id"]: r for r in bh_fdr(df, "test_id", "p").collect()}
        assert rows["a"]["rank_i"] == 1  # id tiebreak, not the raw ulp
        assert rows["b"]["rank_i"] == 2
        assert rows["c"]["rank_i"] == 3
        # p_adj arithmetic also runs on the 9dp grid: both ties give
        # m * 0.1 / i with the SAME rounded p
        assert rows["a"]["p_adj"] == rows["b"]["p_adj"] == 0.15


# ---------------------------------------------------------------------------
# Round-7 ingest-digest batch (S1/S4/J2/J6/O5 oracle rows)
# ---------------------------------------------------------------------------

US = 1_000_000


def _write_events(dirpath, rows):
    """rows: (event_id, ts_us, user_id, event_type, value, props)."""
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(dirpath, "events.parquet"))
    return str(dirpath)


def _base_rows():
    # even + odd epoch seconds, multiple users/types, duplicate
    # (user, type) pairs for the union/dedup paths
    t0 = 1_700_000_000 * US  # even epoch second
    return [
        (1, t0, 1, "click", 1.5, "{}"),
        (2, t0 + 1 * US, 1, "click", 2.5, "{}"),  # odd second
        (3, t0 + 2 * US, 1, "purchase", 3.0, "{}"),
        (4, t0 + 3 * US, 2, "view", -1.0, "{}"),
        (5, t0 + 4 * US, 2, "purchase", 0.25, "{}"),
        (6, t0 + 5 * US, 2, "purchase", 4.0, "{}"),
        (7, t0 + 6 * US, 3, "error", 9.0, "{}"),
        (8, t0 + 7 * US, 3, "click", 1.0, "{}"),
        (9, t0 + 8 * US, 3, "signup", 2.0, "{}"),
        (10, t0 + 9 * US, 3, "view", 3.5, "{}"),
    ]


class TestIngestDigestBatch:
    def _compare(self, spark, tmp_path, name, rows=None):
        _write_events(tmp_path, rows or _base_rows())
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])

    def test_to_events_digest(self, spark, tmp_path):
        self._compare(spark, tmp_path, "ingest_to_events_digest")

    def test_explode_metadata_digest(self, spark, tmp_path):
        self._compare(spark, tmp_path, "ingest_explode_metadata_digest")

    def test_backfill_join_digest(self, spark, tmp_path):
        self._compare(spark, tmp_path, "metadata_backfill_join")

    def test_task_semijoin_digest(self, spark, tmp_path):
        self._compare(spark, tmp_path, "task_semijoin_restriction")

    def test_union_distinct_digest(self, spark, tmp_path):
        self._compare(spark, tmp_path, "union_distinct_events")

    def test_semijoin_never_amplifies_on_duplicate_cohort_rows(self, spark):
        from eventstreamml_spark.tasks import restrict_tasks_to_subjects

        tasks = spark.createDataFrame(
            [(1, "a"), (2, "b")], "subject_id long, label string"
        )
        dup_cohort = spark.createDataFrame(
            [(1,), (1,), (1,)], "subject_id long"
        )
        out = restrict_tasks_to_subjects(tasks, dup_cohort).collect()
        assert len(out) == 1 and out[0]["subject_id"] == 1

    def test_explode_ids_dense_and_pos_ordered(self, spark):
        from eventstreamml_spark.sources.ingest import explode_metadata

        nested = spark.createDataFrame(
            [
                (2, "evt", 10, [(1.0, 0), (2.0, 1)]),
                (1, "evt", 11, [(3.0, 0)]),
            ],
            "event_id long, event_type string, subject_id long, "
            "metadata array<struct<v double, k int>>",
        )
        _flat, md = explode_metadata(nested, "metadata", id_strategy="dense")
        got = {
            (r["event_id"], r["k"]): r["metadata_id"] for r in md.collect()
        }
        # dense ids follow (event_id, pos): (1,0)->0, (2,0)->1, (2,1)->2
        assert got == {(1, 0): 0, (2, 0): 1, (2, 1): 2}


# ---------------------------------------------------------------------------
# Round-7 eval batch: PR-AUC, MRR, ECE
# ---------------------------------------------------------------------------


class TestPrAuc:
    def test_sklearn_textbook_value(self, spark):
        from eventstreamml_spark.operators.evalmetrics import pr_auc

        df = spark.createDataFrame(
            [(0, 0.1), (0, 0.4), (1, 0.35), (1, 0.8)],
            "label int, score double",
        )
        r = pr_auc(df).collect()[0]
        # thresholds desc: 0.8 -> P=1, dR=1/2; 0.35 -> P=2/3, dR=1/2
        assert r["pr_auc"] == 0.833333
        assert r["n_pos"] == 2 and r["n"] == 4

    def test_ties_collapse_into_one_threshold(self, spark):
        from eventstreamml_spark.operators.evalmetrics import pr_auc

        df = spark.createDataFrame(
            [(1, 1.0), (0, 1.0), (1, 0.0), (0, 0.0)],
            "label int, score double",
        )
        r = pr_auc(df).collect()[0]
        assert r["pr_auc"] == 0.5

    def test_no_positives_null(self, spark):
        from eventstreamml_spark.operators.evalmetrics import pr_auc

        df = spark.createDataFrame(
            [(0, 0.3), (0, 0.7)], "label int, score double"
        )
        assert pr_auc(df).collect()[0]["pr_auc"] is None

    def test_perfect_ranking_is_one(self, spark):
        from eventstreamml_spark.operators.evalmetrics import pr_auc

        df = spark.createDataFrame(
            [(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)],
            "label int, score double",
        )
        assert pr_auc(df).collect()[0]["pr_auc"] == 1.0


class TestMrrAtK:
    def _res(self, spark, rows):
        return spark.createDataFrame(
            rows, "query_id long, item long, score double, rel int"
        )

    def test_first_relevant_at_rank_two(self, spark):
        from eventstreamml_spark.operators.evalmetrics import mrr_at_k

        df = self._res(
            spark, [(1, 10, 0.9, 0), (1, 11, 0.8, 1), (1, 12, 0.7, 1)]
        )
        r = mrr_at_k(df, k=10).collect()[0]
        assert r["first_rel_rank"] == 2 and r["rr"] == 0.5

    def test_relevant_beyond_k_scores_zero(self, spark):
        from eventstreamml_spark.operators.evalmetrics import mrr_at_k

        rows = [(1, i, 1.0 - i / 100.0, 0) for i in range(10)]
        rows.append((1, 99, 0.0, 1))
        r = mrr_at_k(self._res(spark, rows), k=10).collect()[0]
        assert r["first_rel_rank"] == 11 and r["rr"] == 0.0

    def test_no_relevant_is_null(self, spark):
        from eventstreamml_spark.operators.evalmetrics import mrr_at_k

        df = self._res(spark, [(1, 10, 0.9, 0), (1, 11, 0.8, 0)])
        r = mrr_at_k(df, k=10).collect()[0]
        assert r["rr"] is None and r["first_rel_rank"] is None

    def test_score_tie_breaks_on_item(self, spark):
        from eventstreamml_spark.operators.evalmetrics import mrr_at_k

        df = self._res(spark, [(1, 20, 0.5, 1), (1, 10, 0.5, 0)])
        r = mrr_at_k(df, k=10).collect()[0]
        assert r["first_rel_rank"] == 2  # item 10 sorts first on the tie


class TestEce:
    def test_hand_computed(self, spark):
        from eventstreamml_spark.operators.evalmetrics import (
            expected_calibration_error,
        )

        # bin 0 (scores ~0.05): 2 rows, conf 0.05, acc 0.5 -> gap 0.45
        # bin 9 (scores ~0.95): 2 rows, conf 0.95, acc 1.0 -> gap 0.05
        df = spark.createDataFrame(
            [(0.05, 0), (0.05, 1), (0.95, 1), (0.95, 1)],
            "score double, label int",
        )
        r = expected_calibration_error(df).collect()[0]
        assert r["n"] == 4 and r["n_bins_used"] == 2
        assert r["ece"] == 0.25  # (2*0.45 + 2*0.05) / 4
        assert r["mce"] == 0.45

    def test_perfectly_calibrated_bins(self, spark):
        from eventstreamml_spark.operators.evalmetrics import (
            expected_calibration_error,
        )

        rows = [(0.5, 1), (0.5, 0)] * 5
        df = spark.createDataFrame(rows, "score double, label int")
        r = expected_calibration_error(df).collect()[0]
        assert r["ece"] == 0.0 and r["mce"] == 0.0


class TestEvalBatchOracles:
    def test_compare_on_synthetic(self, spark, tmp_path):
        _write_events(tmp_path, _base_rows())
        for name in (
            "eval_pr_auc_by_type",
            "eval_mrr_retrieval",
            "eval_expected_calibration_error",
        ):
            compare(
                spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name]
            )


# ---------------------------------------------------------------------------
# Round-7 classics batch: decision stump, NB lang ID, silhouette
# ---------------------------------------------------------------------------


class TestDecisionStump:
    def test_perfect_split_gain_is_parent_entropy(self, spark):
        from eventstreamml_spark.operators.stats import decision_stump

        # values < 0.5 all negative, >= 0.5 all positive: threshold 0.5
        rows = [(0.11, 0), (0.22, 0), (0.31, 0), (0.61, 1), (0.72, 1),
                (0.81, 1)]
        df = spark.createDataFrame(rows, "value double, y int")
        r = decision_stump(df, "value", "y", grid=10).collect()[0]
        assert r["threshold"] == 0.4
        assert r["info_gain"] == r["parent_entropy"] == 0.693147  # ln 2
        assert r["n_left"] == 3 and r["n_right"] == 3

    def test_uninformative_feature_zero_gain(self, spark):
        from eventstreamml_spark.operators.stats import decision_stump

        rows = [(0.15, 0), (0.15, 1), (0.85, 0), (0.85, 1)]
        df = spark.createDataFrame(rows, "value double, y int")
        r = decision_stump(df, "value", "y", grid=10).collect()[0]
        assert r["info_gain"] == 0.0

    def test_single_bin_null_gain(self, spark):
        from eventstreamml_spark.operators.stats import decision_stump

        df = spark.createDataFrame(
            [(0.11, 0), (0.12, 1)], "value double, y int"
        )
        r = decision_stump(df, "value", "y", grid=10).collect()
        assert len(r) == 1 and r[0]["info_gain"] is None


class TestNbLangId:
    def _docs(self, spark):
        rows = [
            (1, "der hund und die katze und der vogel", "de"),
            (2, "die katze und der hund", "de"),
            (3, "the cat and the dog and the bird", "en"),
            (4, "the dog and the cat", "en"),
            (5, "the bird and the cat sat", "en"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def test_self_classification_recovers_langs(self, spark):
        from eventstreamml_spark.operators.text import nb_lang_confusion

        out = nb_lang_confusion(self._docs(spark)).collect()
        got = {(r["true_lang"], r["pred_lang"]): r["n"] for r in out}
        assert got == {("de", "de"): 2, ("en", "en"): 3}

    def test_weights_are_integers_on_full_grid(self, spark):
        from eventstreamml_spark.operators.text import nb_lang_train_weights

        grid, priors = nb_lang_train_weights(self._docs(spark), vocab_size=5)
        g = grid.collect()
        # dense grid: every (lang, vocab word) pair present
        assert len(g) == 2 * 5
        assert all(isinstance(r["w"], int) for r in g)
        p = {r["lang"]: r["prior_w"] for r in priors.collect()}
        import math
        assert p["de"] == math.floor(math.log(2 / 5) * 1_000_000)

    def test_empty_doc_scores_on_prior(self, spark):
        from eventstreamml_spark.operators.text import nb_lang_confusion

        rows = [
            (1, "aaa bbb aaa", "en"),
            (2, "ccc ddd ccc", "de"),
            (3, "zzzz", "fr"),  # OOV-only under vocab_size=2
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )
        out = nb_lang_confusion(docs, vocab_size=2).collect()
        # doc 3 still gets exactly one prediction row
        assert sum(r["n"] for r in out) == 3


class TestSimplifiedSilhouette:
    def test_well_separated_clusters_near_one(self, spark):
        from eventstreamml_spark.operators.similarity import (
            simplified_silhouette,
        )

        rows = [
            (1, [0.0, 0.0], 0), (2, [0.2, 0.0], 0),
            (3, [10.0, 0.0], 1), (4, [10.2, 0.0], 1),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = {r["label"]: r for r in simplified_silhouette(df).collect()}
        assert out[0]["mean_silhouette"] > 0.98
        assert out[0]["mean_intra_dist"] == 0.1

    def test_null_embedding_and_label_filtered(self, spark):
        from eventstreamml_spark.operators.similarity import (
            simplified_silhouette,
        )

        rows = [
            (1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0),
            (3, None, 0), (4, [5.0, 5.0], None),
            (5, [9.0, 0.0], 1), (6, [8.0, 0.0], 1),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = {r["label"]: r for r in simplified_silhouette(df).collect()}
        assert set(out) == {0, 1}
        assert out[0]["n_vecs"] == 2 and out[1]["n_vecs"] == 2

    def test_single_label_null_silhouette(self, spark):
        from eventstreamml_spark.operators.similarity import (
            simplified_silhouette,
        )

        rows = [(1, [0.0, 1.0], 7), (2, [1.0, 0.0], 7)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        r = simplified_silhouette(df).collect()[0]
        assert r["mean_silhouette"] is None
        assert r["mean_nearest_other_dist"] is None


# ---------------------------------------------------------------------------
# Round-7 curation/CF batch: Gopher rules, item-item CF
# ---------------------------------------------------------------------------


class TestGopherQualityFlags:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def test_rules_fire_individually(self, spark):
        from eventstreamml_spark.operators.curation import (
            gopher_quality_flags,
        )

        good = "the cat and dog ran to the park in town " * 6  # 60 words
        rows = [
            (1, good, "en"),
            (2, "short text the a", "en"),  # too few words
            (3, ("x " * 60) + "the a", "en"),  # mean word len < 3... 1-char
            (4, good + " lorem ipsum", "en"),
            (5, good.replace("the", "###").replace("a ", "# "), "en"),
        ]
        out = gopher_quality_flags(self._docs(spark, rows)).collect()[0]
        assert out["n_docs"] == 5
        assert out["n_bad_word_count"] == 1  # doc 2
        assert out["n_bad_mean_word_len"] >= 1  # doc 3
        assert out["n_boilerplate"] == 1  # doc 4
        assert out["n_kept"] == 1  # only doc 1 survives all rules

    def test_integer_thresholds_word_len_boundary(self, spark):
        from eventstreamml_spark.operators.curation import (
            gopher_quality_flags,
        )

        # exactly mean word length 3.0 (chars == 3*n) must PASS (>=):
        # 60 three-char words, two of them distinct stopwords
        doc = "the and " * 30
        out = gopher_quality_flags(
            self._docs(spark, [(1, doc.strip(), "en")])
        ).collect()[0]
        assert out["n_bad_mean_word_len"] == 0
        assert out["n_kept"] == 1


class TestItemItemCosine:
    def test_hand_computed_cosine(self, spark):
        from eventstreamml_spark.operators.similarity import (
            item_item_cosine_topk,
        )

        # items: 1 bought by u1,u2,u3; 2 by u1,u2; 3 by u3
        rows = [(1, 1), (2, 1), (3, 1), (1, 2), (2, 2), (3, 3)]
        b = spark.createDataFrame(rows, "user_id long, item_id long")
        out = item_item_cosine_topk(b, k=3, max_basket=15, min_cooccur=2)
        got = {(r["item_id"], r["neighbor_id"]): r for r in out.collect()}
        # |U1 ∩ U2| = 2, cos = 2 / sqrt(3*2)
        assert got[(1, 2)]["cosine"] == round(2 / (6 ** 0.5), 6)
        assert got[(2, 1)]["n_cooccur"] == 2
        # (1,3) co-occurs once -> pruned by min_cooccur
        assert (1, 3) not in got and (3, 1) not in got

    def test_basket_cap_bounds_pairs(self, spark):
        from eventstreamml_spark.operators.similarity import (
            item_item_cosine_topk,
        )

        # one hot user with 30 items; cap 5 keeps only items 0..4
        rows = [(1, i) for i in range(30)] + [(2, i) for i in range(5)]
        b = spark.createDataFrame(rows, "user_id long, item_id long")
        out = item_item_cosine_topk(b, k=10, max_basket=5, min_cooccur=2)
        items = {r["item_id"] for r in out.collect()}
        assert items == set(range(5))  # capped-out items never pair

    def test_duplicate_interactions_count_once(self, spark):
        from eventstreamml_spark.operators.similarity import (
            item_item_cosine_topk,
        )

        rows = [(1, 1), (1, 1), (1, 2), (2, 1), (2, 2)]
        b = spark.createDataFrame(rows, "user_id long, item_id long")
        out = item_item_cosine_topk(b, k=3, max_basket=15, min_cooccur=2)
        got = {(r["item_id"], r["neighbor_id"]): r for r in out.collect()}
        assert got[(1, 2)]["n_cooccur"] == 2
        assert got[(1, 2)]["cosine"] == 1.0  # identical user sets


class TestBatchDOracles:
    def test_synthetic_compare_gopher(self, spark, tmp_path):
        rows = [
            (1, "the cat and the dog ran to the park " * 7, "en", "s", 10),
            (2, "der hund a b c", "de", "s", 10),
            (3, "x y z { lorem ipsum", "fr", "s", 10),
        ]
        table = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(tmp_path, "documents.parquet"))
        name = "doc_gopher_quality_flags"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])


# ---------------------------------------------------------------------------
# Round-7 forecasting: Holt linear smoothing
# ---------------------------------------------------------------------------


class TestHoltLinear:
    def test_hand_computed_recurrence(self, spark):
        from eventstreamml_spark.operators.windows import holt_linear_by_key

        # y = [4, 6, 8]; l1=4, b1=0
        # t2: pred=4, l=0.5*6+0.5*4=5, b=0.5*(5-4)+0=0.5, err=|6-4|=2
        # t3: pred=5.5, l=0.5*8+0.5*5.5=6.75, b=0.5*1.75+0.25=1.125,
        #     err+=|8-5.5|=2.5 -> mae=(2+2.5)/2=2.25
        df = spark.createDataFrame(
            [("a", 1, 4.0), ("a", 2, 6.0), ("a", 3, 8.0)],
            "key string, h int, y double",
        )
        r = holt_linear_by_key(df).collect()[0]
        assert r["level"] == 6.75
        assert r["trend"] == 1.125
        assert r["forecast_next"] == 7.875
        assert r["one_step_mae"] == 2.25
        assert r["n_points"] == 3

    def test_linear_series_tracked_exactly(self, spark):
        from eventstreamml_spark.operators.windows import holt_linear_by_key

        # on y = 2t the trend state converges toward 2
        rows = [("a", t, 2.0 * t) for t in range(1, 40)]
        df = spark.createDataFrame(rows, "key string, h int, y double")
        r = holt_linear_by_key(df).collect()[0]
        assert abs(r["trend"] - 2.0) < 0.01
        assert abs(r["forecast_next"] - 80.0) < 0.1

    def test_single_point_null_mae(self, spark):
        from eventstreamml_spark.operators.windows import holt_linear_by_key

        df = spark.createDataFrame(
            [("a", 1, 5.0)], "key string, h int, y double"
        )
        r = holt_linear_by_key(df).collect()[0]
        assert r["level"] == 5.0 and r["trend"] == 0.0
        assert r["one_step_mae"] is None

    def test_out_of_order_input_sorted_by_key(self, spark):
        from eventstreamml_spark.operators.windows import holt_linear_by_key

        a = [("a", 1, 4.0), ("a", 2, 6.0), ("a", 3, 8.0)]
        shuffled = [a[2], a[0], a[1]]
        df = spark.createDataFrame(
            shuffled, "key string, h int, y double"
        )
        r = holt_linear_by_key(df).collect()[0]
        assert r["level"] == 6.75  # order comes from h, not input order


# ---------------------------------------------------------------------------
# Round-7 audits batch: k-core peel, PQ distortion, dup rate, token pctls
# ---------------------------------------------------------------------------


class TestKcorePeel:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "lo long, hi long")

    def test_triangle_with_pendant(self, spark):
        from eventstreamml_spark.operators.graph import kcore_peel_stats

        # triangle 1-2-3 plus pendant 3-4: k=2 peels node 4 in one
        # round, then the triangle is stable
        e = self._edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
        out = {r["round"]: r for r in kcore_peel_stats(e, k=2, rounds=3).collect()}
        assert (out[0]["n_nodes"], out[0]["n_edges"]) == (4, 4)
        assert (out[1]["n_nodes"], out[1]["n_edges"]) == (3, 3)
        assert (out[3]["n_nodes"], out[3]["n_edges"]) == (3, 3)

    def test_chain_dissolves_completely(self, spark):
        from eventstreamml_spark.operators.graph import kcore_peel_stats

        # path graph has no 2-core: peeling eats it from the ends
        e = self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        out = {r["round"]: r for r in kcore_peel_stats(e, k=2, rounds=3).collect()}
        assert out[0]["n_edges"] == 4
        assert out[2]["n_edges"] < out[1]["n_edges"]
        assert out[3]["n_edges"] == 0 or out[3]["n_edges"] < out[2]["n_edges"]


class TestPqDistortion:
    def test_zero_distortion_when_vectors_are_centroids(self, spark):
        from eventstreamml_spark.operators.similarity import pq_encode
        from pyspark.sql import functions as F

        books = [(0, 0, [1.0, 2.0]), (0, 1, [5.0, 5.0]),
                 (1, 0, [0.0, 0.0]), (1, 1, [9.0, 9.0])]
        emb = spark.createDataFrame(
            [(1, [1.0, 2.0, 9.0, 9.0]), (2, [5.0, 5.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        codes = pq_encode(emb, books)
        agg = codes.groupBy("subspace").agg(
            F.round(F.avg("sq_err"), 6).alias("mean_sq_err")
        )
        assert all(r["mean_sq_err"] == 0.0 for r in agg.collect())


class TestDedupRateBySource:
    def test_dup_rate_arithmetic(self, spark, tmp_path):
        rows = [
            (1, "same text", "a", "s", 9), (2, "same text", "a", "s", 9),
            (3, "other", "a", "s", 5), (4, "unique", "b", "s", 6),
        ]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        })
        # source column intentionally constant 's'; lang varies
        pq.write_table(table, os.path.join(tmp_path, "documents.parquet"))
        name = "dedup_rate_by_source"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert out["n_docs"] == 4 and out["n_unique"] == 3
        assert out["dup_rate"] == 0.25


class TestTokenPercentiles:
    def test_interpolated_quartiles_integers(self, spark, tmp_path):
        rows = [(i, " ".join(["w"] * n), "en", "s", n)
                for i, n in enumerate([1, 2, 3, 4])]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        })
        pq.write_table(table, os.path.join(tmp_path, "documents.parquet"))
        name = "doc_token_percentiles_by_lang"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = q.queries()[name](spark, str(tmp_path)).collect()[0]
        assert out["p50"] == 2.5  # midpoint of {1,2,3,4}
        assert out["p25"] == 1.75


class TestFisherExact:
    def test_tea_tasting_textbook(self, spark):
        from eventstreamml_spark.operators.stats import fisher_exact_2x2

        # Fisher's lady-tasting-tea table [[3,1],[1,3]]:
        # two-sided p = 0.485714 (scipy.stats.fisher_exact)
        rows = (
            [(1, 1)] * 3 + [(1, 0)] * 1 + [(0, 1)] * 1 + [(0, 0)] * 3
        )
        df = spark.createDataFrame(rows, "r int, c int")
        out = fisher_exact_2x2(df, "r", "c").collect()[0]
        assert (out["a"], out["b"], out["c"], out["d"]) == (3, 1, 1, 3)
        assert out["p_two_sided"] == 0.485714
        assert out["odds_ratio"] == 9.0

    def test_independent_table_p_one(self, spark):
        from eventstreamml_spark.operators.stats import fisher_exact_2x2

        rows = [(1, 1)] * 5 + [(1, 0)] * 5 + [(0, 1)] * 5 + [(0, 0)] * 5
        df = spark.createDataFrame(rows, "r int, c int")
        out = fisher_exact_2x2(df, "r", "c").collect()[0]
        assert out["p_two_sided"] == 1.0

    def test_extreme_table_small_p(self, spark):
        from eventstreamml_spark.operators.stats import fisher_exact_2x2

        # [[10,0],[0,10]]: p = 2/C(20,10) ≈ 1.0825e-5
        rows = [(1, 1)] * 10 + [(0, 0)] * 10
        df = spark.createDataFrame(rows, "r int, c int")
        out = fisher_exact_2x2(df, "r", "c").collect()[0]
        assert out["p_two_sided"] == 0.000011
        assert out["odds_ratio"] is None  # zero cells -> undefined


class TestRound7PlanShapes:
    """Pin the documented shuffle shapes of the round-7 operators — a
    regression that adds an exchange or degrades a broadcast to a
    sort-merge join is a scale bug even when results stay correct."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_item_item_no_sort_merge_no_cartesian(self, spark):
        from eventstreamml_spark.operators.similarity import (
            item_item_cosine_topk,
        )

        b = spark.range(200).select(
            (F.col("id") % 20).alias("user_id"),
            (F.col("id") % 13).alias("item_id"),
        )
        plan = self._plan(item_item_cosine_topk(b))
        # pair fan-out comes from the per-user array, never a self-join
        assert plan.count("SortMergeJoin") == 0
        assert plan.count("CartesianProduct") == 0
        # popularity joins ride broadcast
        assert plan.count("BroadcastHashJoin") >= 2

    def test_silhouette_centroids_broadcast(self, spark):
        from eventstreamml_spark.operators.similarity import (
            simplified_silhouette,
        )

        emb = spark.range(50).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 7).cast("float"),
                (F.col("id") % 3).cast("float"),
            ).alias("embedding"),
            (F.col("id") % 4).alias("label"),
        )
        plan = self._plan(simplified_silhouette(emb))
        assert plan.count("BroadcastHashJoin") >= 1
        assert plan.count("SortMergeJoin") == 0
        assert plan.count("CartesianProduct") == 0

    def test_pr_auc_windows_over_contingency(self, spark):
        from eventstreamml_spark.operators.evalmetrics import pr_auc

        scored = spark.range(100).select(
            (F.col("id") % 2).alias("label"),
            (F.col("id") % 11 / 11.0).alias("score"),
            (F.col("id") % 3).cast("string").alias("g"),
        )
        plan = self._plan(pr_auc(scored, by="g"))
        # contingency agg + group-keyed windows + final agg share the
        # group-key partitioning; ranks never sort raw rows globally
        assert plan.count("Exchange hashpartitioning") <= 2
        assert "Exchange SinglePartition" not in plan

    def test_gopher_flags_single_exchange(self, spark):
        from eventstreamml_spark.operators.curation import (
            gopher_quality_flags,
        )

        docs = spark.createDataFrame(
            [(1, "the a b", "en")], "doc_id long, text string, lang string"
        )
        plan = self._plan(gopher_quality_flags(docs))
        # mapper-only rule evaluation: the lang groupBy is the only
        # exchange in the plan
        assert plan.count("Exchange") <= 2  # partial+final agg pair

    def test_holt_one_keyed_shuffle_no_python(self, spark):
        from eventstreamml_spark.operators.windows import holt_linear_by_key

        s = spark.range(100).select(
            (F.col("id") % 3).cast("string").alias("key"),
            F.col("id").alias("h"),
            (F.col("id") % 7).cast("double").alias("y"),
        )
        plan = self._plan(holt_linear_by_key(s))
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Python" not in plan  # the fold is codegen'd, not a UDF

    def test_nb_grid_and_priors_broadcast(self, spark):
        from eventstreamml_spark.operators.text import nb_lang_confusion

        docs = spark.createDataFrame(
            [(1, "the cat", "en"), (2, "der hund", "de")],
            "doc_id long, text string, lang string",
        )
        plan = self._plan(nb_lang_confusion(docs, vocab_size=4))
        # model-sized relations must never sort-merge against tokens
        assert plan.count("BroadcastHashJoin") >= 2
        assert plan.count("CartesianProduct") == 0


class TestTokenizerFertility:
    def test_contractions_split_by_bpe_not_whitespace(self, spark, tmp_path):
        rows = [
            (1, "it's a test don't stop", "en", "s", 22),
            (2, "hola mundo 123", "es", "s", 14),
        ]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        })
        pq.write_table(table, os.path.join(tmp_path, "documents.parquet"))
        name = "doc_tokenizer_fertility_by_lang"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {r["lang"]: r for r in q.queries()[name](spark, str(tmp_path)).collect()}
        # "it's" -> it + 's, "don't" -> don + 't: 5 words, 7 bpe tokens
        assert out["en"]["n_words"] == 5 and out["en"]["n_bpe_tokens"] == 7
        assert out["en"]["fertility"] == 1.4
        assert out["es"]["fertility"] == 1.0


class TestWilsonCi:
    def test_textbook_interval(self, spark):
        # k=8, n=10: Wilson 95% CI ≈ [0.490162, 0.943318] at
        # z = 1.959964 (the exact 97.5% normal quantile to 6dp;
        # the common z=1.96 textbook rounding gives 0.490009)
        from eventstreamml_spark import queries as qq
        rows = [(i, 1 if i < 8 else 0) for i in range(10)]
        df = spark.createDataFrame(rows, "uid int, c int")
        z = 1.959964
        p, n = 0.8, 10
        import math
        denom = 1 + z * z / n
        center = p + z * z / (2 * n)
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
        lo, hi = (center - half) / denom, (center + half) / denom
        from pyspark.sql import functions as SF
        # the registered query computes the same closed form; pin the
        # reference arithmetic here so a formula typo can't hide
        assert round(lo, 6) == 0.490162
        assert round(hi, 6) == 0.943318

    def test_bounds_stay_in_unit_interval(self, spark, tmp_path):
        # extreme rate (all users purchase): Wilson hi is exactly 1.0
        # at p̂=1 (never above) and lo stays strictly inside (0, 1) —
        # the Wald interval would collapse both bounds to 1.0
        t0 = 1_700_000_000 * US
        rows = [(i, t0 + i * US, i % 5, "purchase", 1.0, "{}")
                for i in range(10)]
        _write_events(tmp_path, rows)
        name = "ab_wilson_ci_by_arm"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        for r in q.queries()[name](spark, str(tmp_path)).collect():
            assert 0.0 < r["wilson_lo"] < r["rate"] <= r["wilson_hi"] <= 1.0


class TestNearDupRateBySource:
    def test_duplicate_docs_flagged_per_source(self, spark, tmp_path):
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base, "en", "feed_a", 1),
            (2, base + " extra", "en", "feed_a", 1),   # near-dup of 1
            (3, "completely different words about spark engines and parquet tables", "en", "feed_b", 1),
        ]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        })
        pq.write_table(table, os.path.join(tmp_path, "documents.parquet"))
        name = "dedup_near_dup_rate_by_source"
        compare(spark, str(tmp_path), q.queries()[name], q.oracle_sql()[name])
        out = {r["source"]: r for r in q.queries()[name](spark, str(tmp_path)).collect()}
        assert out["feed_a"]["n_near_dup"] == 2
        assert out["feed_b"]["n_near_dup"] == 0
