"""ML pipeline pack (SURVEY.md §2.8): train/evaluate/CV/tune/importances."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_data_pipeline_spark.ml import pipeline as MP
from ml_data_pipeline_spark.ml import tuning as MT


@pytest.fixture(scope="module")
def clf_df(spark):
    """Separable 2-class problem: class = (x + y > 10)."""
    rows = [
        (float(i % 10), float((3 * i) % 7), "pos" if (i % 10) + ((3 * i) % 7) > 10 else "neg")
        for i in range(400)
    ]
    return spark.createDataFrame(rows, "x double, y double, cls string")


@pytest.fixture(scope="module")
def reg_df(spark):
    rows = [(float(i), float(i % 13), 3.0 * i + 2.0 * (i % 13) + 1.0) for i in range(300)]
    return spark.createDataFrame(rows, "x double, y double, tgt double")


def test_detect_task_type(clf_df, reg_df):
    assert MP.detect_task_type(clf_df, "cls") == "classification"
    assert MP.detect_task_type(reg_df, "tgt") == "regression"


def test_train_and_evaluate_classification(clf_df):
    train, test = clf_df.randomSplit([0.8, 0.2], seed=42)
    model, metrics = MP.train_and_evaluate(train, test, "cls", "logistic_regression")
    assert set(metrics) >= {"accuracy", "precision", "recall", "f1", "roc_auc"}
    assert metrics["accuracy"] > 0.9  # separable by construction
    assert 0.9 < metrics["roc_auc"] <= 1.0


def test_train_and_evaluate_regression(reg_df):
    train, test = reg_df.randomSplit([0.8, 0.2], seed=42)
    model, metrics = MP.train_and_evaluate(train, test, "tgt", "linear_regression")
    assert metrics["r2"] > 0.99  # exact linear relationship
    assert metrics["mae"] < 1.0


def test_random_forest_importances(clf_df):
    train, test = clf_df.randomSplit([0.8, 0.2], seed=42)
    model, _ = MP.train_and_evaluate(train, test, "cls", "random_forest", {"numTrees": 10})
    imp = MT.feature_importances(model, ["x", "y"])
    assert len(imp) == 2 and all(v >= 0 for _, v in imp)
    assert abs(sum(v for _, v in imp) - 1.0) < 1e-6


def test_stratified_folds_balanced(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(50)] + [("b", i) for i in range(10)], "cls string, i int"
    )
    folded = MT.add_fold_column(df, 5, "cls", seed=1)
    per_fold = {
        (r["__fold"], r["cls"]): r["n"]
        for r in folded.groupBy("__fold", "cls").agg(F.count("*").alias("n")).collect()
    }
    for k in range(5):
        assert per_fold[(k, "a")] == 10 and per_fold[(k, "b")] == 2


def test_cross_val_scores(clf_df):
    cv = MT.cross_val_scores(
        clf_df, "cls", "logistic_regression", n_folds=3, metric="accuracy"
    )
    assert len(cv["scores"]) == 3
    assert cv["mean"] > 0.9 and cv["std"] < 0.1


def test_random_search_returns_best(reg_df):
    res = MT.random_search(
        reg_df, "tgt", "random_forest",
        space={"numTrees": [5, 10], "maxDepth": [3, 5]},
        n_trials=2, n_folds=2, metric="r2",
    )
    assert res["best"] is not None and len(res["trials"]) == 2
    assert "numTrees" in res["best"]["params"]


def test_random_search_trials_share_one_fold_cache(reg_df, monkeypatch):
    """Concurrent trials read the one fold frame random_search cached. They
    used to re-cache it inside cross_val_scores; Spark keeps one cache entry
    per plan, so the first trial to finish unpersisted it while the others
    still fitted. Now nothing is unpersisted before the last fit, and the
    trial table equals scoring each trial alone on the same folds."""
    frame = type(reg_df)  # the concrete DataFrame class that defines unpersist
    events = []
    fit, unpersist = MT.train_and_evaluate, frame.unpersist

    def logged_fit(*a, **k):
        events.append("fit")
        return fit(*a, **k)

    def logged_unpersist(self, *a, **k):
        events.append("unpersist")
        return unpersist(self, *a, **k)

    monkeypatch.setattr(MT, "train_and_evaluate", logged_fit)
    monkeypatch.setattr(frame, "unpersist", logged_unpersist)
    res = MT.random_search(
        reg_df, "tgt", "linear_regression",
        space={"regParam": [0.0, 0.1, 1.0]}, n_trials=3, n_folds=2, metric="r2",
    )
    monkeypatch.undo()
    assert events.count("fit") == 6
    assert events[6:] == ["unpersist"]

    folded = MT.add_fold_column(reg_df, 2, None, seed=42)
    for rec in res["trials"]:
        cv = MT.cross_val_scores(
            folded, "tgt", "linear_regression", rec["params"],
            n_folds=2, metric="r2", fold_col="__fold",
        )
        assert (rec["mean"], rec["std"]) == (
            pytest.approx(cv["mean"], rel=1e-9), pytest.approx(cv["std"], rel=1e-9, abs=1e-12)
        )


def test_tpe_propose_concentrates_near_optimum():
    """Driver-side TPE math, no Spark: with a history scored by a known
    quadratic (optimum x=0.3), proposals after startup should concentrate
    near the optimum — mean distance strictly below the uniform-random
    expectation — and be deterministic under a fixed seed."""
    import random as _random

    space = {"x": (0.0, 1.0)}

    def score(p):
        return -((p["x"] - 0.3) ** 2)

    def run(seed):
        rng = _random.Random(seed)
        history = []
        proposals = []
        for _ in range(30):
            p = MT.tpe_propose(rng, space, history, direction="max")
            history.append((p, score(p)))
            proposals.append(p["x"])
        return proposals

    xs = run(7)
    tail = xs[10:]  # post-startup, post-burn-in proposals
    mean_dist = sum(abs(x - 0.3) for x in tail) / len(tail)
    # uniform draws on [0,1] average |x-0.3| ≈ 0.29; TPE must beat it well
    assert mean_dist < 0.15, mean_dist
    assert xs == run(7)  # seeded determinism
    assert all(0.0 <= x <= 1.0 for x in xs)


def test_sample_param_integer_tuples_round_in_both_branches():
    """All-int tuple spaces must yield ints from BOTH the uniform and the
    log-uniform branch (a float maxDepth crashes MLlib's toInt), and
    random_search shares the same draw helper (no divergent inline copy)."""
    import random as _random

    rng = _random.Random(0)
    for _ in range(20):
        assert isinstance(MT._sample_param(rng, (3, 5)), int)
        v = MT._sample_param(rng, (1, 500))  # span > 2 decades → log-uniform
        assert isinstance(v, int) and 1 <= v <= 500
        f = MT._sample_param(rng, (0.01, 0.3))
        assert isinstance(f, float)


def test_tpe_propose_categorical_prefers_good_side():
    import random as _random

    rng = _random.Random(3)
    space = {"c": ["a", "b", "c", "d"]}
    # history: 'b' always scores high, others low
    history = [({"c": v}, 1.0 if v == "b" else 0.0) for v in "abcdabcdbb"]
    picks = [MT.tpe_propose(rng, space, history)["c"] for _ in range(40)]
    assert picks.count("b") > 20  # majority concentrates on the good category
    assert set(picks) <= {"a", "b", "c", "d"}


def test_tpe_search_end_to_end(reg_df):
    res = MT.tpe_search(
        reg_df, "tgt", "random_forest",
        space={"numTrees": [5, 10], "maxDepth": (3, 5)},
        n_trials=3, n_folds=2, metric="r2",
    )
    assert res["best"] is not None and len(res["trials"]) == 3
    assert res["best"]["params"]["numTrees"] in (5, 10)
    assert isinstance(res["best"]["params"]["maxDepth"], int)
    # optuna absent in this environment → optuna_search must route here
    import importlib.util

    if importlib.util.find_spec("optuna") is None:
        res2 = MT.optuna_search(
            reg_df, "tgt", "random_forest", n_trials=2, n_folds=2, metric="r2"
        )
        assert res2["best"] is not None and len(res2["trials"]) == 2


def test_model_save_load_roundtrip(clf_df, tmp_path, spark):
    train, test = clf_df.randomSplit([0.8, 0.2], seed=42)
    model, m1 = MP.train_and_evaluate(train, test, "cls", "logistic_regression")
    path = str(tmp_path / "model")
    MP.save_model(model, path)
    loaded = MP.load_model(spark, path)
    preds = loaded.transform(test)
    acc = MP.evaluate_classification(preds)["accuracy"]
    assert abs(acc - m1["accuracy"]) < 1e-9


def test_params_json_roundtrip(tmp_path):
    p = str(tmp_path / "params.json")
    MP.save_params_json(p, "random_forest", "cls", "classification", {"numTrees": 100}, ("f1", 0.93))
    d = MP.load_params_json(p)
    assert d["best_params"] == {"numTrees": 100}
    assert d["primary_metric"]["name"] == "f1"


def test_predict_single_row(clf_df, spark):
    train, test = clf_df.randomSplit([0.8, 0.2], seed=42)
    model, _ = MP.train_and_evaluate(train, test, "cls", "logistic_regression")
    pred = MP.predict_single_row(model, spark, {"x": 9.0, "y": 6.0, "cls": "pos"}, clf_df.schema)
    assert pred in (0.0, 1.0)


def test_gbt_multiclass_falls_back_to_ovr(spark):
    rows = [(float(i % 9), float(i % 4), str(i % 3)) for i in range(120)]
    df = spark.createDataFrame(rows, "x double, y double, cls string")
    pipe, feats, task = MP.build_pipeline(df, "cls", "gradient_boosting")
    from pyspark.ml.classification import OneVsRest

    assert isinstance(pipe.getStages()[-1], OneVsRest)


def test_permutation_importance_ranks_signal_feature(spark):
    from ml_data_pipeline_spark.ml import explain as ME

    # y depends ONLY on x; z is pure noise
    rows = [(float(i % 20), float((7 * i) % 13), "hi" if i % 20 >= 10 else "lo")
            for i in range(400)]
    df = spark.createDataFrame(rows, "x double, z double, cls string")
    train, test = df.randomSplit([0.7, 0.3], seed=1)
    model, _ = MP.train_and_evaluate(train, test, "cls", "logistic_regression")
    imp = ME.permutation_importance(model, test, "cls", ["x", "z"], "classification")
    assert imp[0][0] == "x"            # signal feature ranked first
    assert imp[0][1] > 0.2             # permuting x destroys the metric
    assert abs(imp[1][1]) < 0.15       # permuting noise barely moves it


def test_shap_gated_import(spark):
    from ml_data_pipeline_spark.ml import explain as ME
    import pytest as _pytest

    df = spark.createDataFrame([(1.0, "a")], "x double, cls string")
    with _pytest.raises(NotImplementedError):
        ME.shap_sampled(None, df, ["x"])


def test_learning_curve_shapes(reg_df):
    curve = MT.learning_curve(
        reg_df, "tgt", "linear_regression", fractions=[0.5, 1.0], metric="r2"
    )
    assert [c["fraction"] for c in curve] == [0.5, 1.0]
    # exact linear data: both fractions fit near-perfectly on train and test
    assert all(c["train_score"] > 0.99 and c["test_score"] > 0.99 for c in curve)


def test_r11_tuning_default_metric_resolves_by_task(reg_df):
    """ADVICE r10: the tuning wrappers hard-defaulted metric='f1', so
    regression hyperparameter search with default args KeyError'd after
    paying for the first fold fits. metric=None now resolves by task in
    every wrapper (random_search/tpe_search/optuna_search/learning_curve),
    and learning_curve indexes the score directly so an unknown metric
    raises loudly instead of silently emitting NaN curves."""
    res = MT.random_search(
        reg_df, "tgt", "linear_regression",
        space={"regParam": [0.0, 0.1]}, n_trials=1, n_folds=2,
    )
    assert res["metric"] == "r2"
    assert res["best"]["mean"] > 0.99  # exact linear data

    curve = MT.learning_curve(reg_df, "tgt", "linear_regression", fractions=[1.0])
    assert curve[0]["train_score"] > 0.99 and curve[0]["test_score"] > 0.99

    with pytest.raises(KeyError):
        MT.learning_curve(
            reg_df, "tgt", "linear_regression", fractions=[1.0], metric="nope"
        )


def test_save_importances_roundtrip(spark, tmp_path):
    """S14: importances persist as a versioned parquet table."""
    from ml_data_pipeline_spark.ml.explain import save_importances
    from ml_data_pipeline_spark.sources.versioned import VersionedDataset

    info = save_importances(
        spark, [("f2", 0.7), ("f1", 0.3)], str(tmp_path), "imp", "random_forest"
    )
    assert info.version == 0
    back = VersionedDataset(spark, str(tmp_path), "imp").read()
    rows = {r["feature"]: (r["importance"], r["model"], r["rank"]) for r in back.collect()}
    assert rows == {"f2": (0.7, "random_forest", 1), "f1": (0.3, "random_forest", 2)}


def test_ovr_auc_single_pass_matches_evaluator_loop(spark):
    """_ovr_weighted_auc (3 jobs total, binned Mann-Whitney) must agree with
    the per-class BinaryClassificationEvaluator loop it replaced, to within
    binning error (O(1/num_bins))."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import vector_to_array

    rows = [
        (float(i % 11), float((7 * i) % 13), f"c{(i % 11 + (7 * i) % 13) % 3}")
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "x double, y double, cls string")
    train, test = df.randomSplit([0.7, 0.3], seed=7)
    model, metrics = MP.train_and_evaluate(train, test, "cls", "logistic_regression")
    assert "roc_auc" in metrics

    from ml_data_pipeline_spark.ml.pipeline import LABEL, _ovr_weighted_auc

    pred_df = model.transform(test).cache()
    classes = [r[0] for r in pred_df.select(LABEL).distinct().collect()]
    fast = _ovr_weighted_auc(pred_df, LABEL, classes)

    total = pred_df.count()
    loop_auc = 0.0
    for c in classes:
        bin_pred = pred_df.withColumn("__bin", (F.col(LABEL) == c).cast("double"))
        support = bin_pred.agg(F.sum("__bin")).first()[0]
        scored = bin_pred.withColumn(
            "__score", vector_to_array("rawPrediction").getItem(int(c))
        )
        c_auc = BinaryClassificationEvaluator(
            labelCol="__bin", rawPredictionCol="__score"
        ).evaluate(scored)
        loop_auc += c_auc * (support / total)
    pred_df.unpersist()
    assert abs(fast - loop_auc) < 2e-3, (fast, loop_auc)


def test_roc_points_hand_computed(spark):
    """roc_points against a hand-computed ROC: per distinct threshold
    (descending), fpr = cum_neg/N, tpr = cum_pos/P. Also the regression
    gate for the round-2 AMBIGUOUS_REFERENCE crash (__P vs __p
    case-insensitive column collision)."""
    rows = [(1, 0.9), (0, 0.8), (1, 0.8), (1, 0.6), (0, 0.4), (1, 0.4), (0, 0.2)]
    df = spark.createDataFrame(rows, "y int, s double")
    got = [
        (r["threshold"], r["fpr"], r["tpr"])
        for r in MP.roc_points(df, "y", "s").collect()
    ]
    assert got == [
        (0.9, 0.0, 0.25),
        (0.8, 0.333333, 0.5),
        (0.6, 0.333333, 0.75),
        (0.4, 0.666667, 1.0),
        (0.2, 1.0, 1.0),
    ]


def test_roc_points_single_class_yields_null_not_crash(spark):
    df = spark.createDataFrame([(1, 0.3), (1, 0.7)], "y int, s double")
    out = MP.roc_points(df, "y", "s").collect()
    assert all(r["fpr"] is None for r in out)  # N == 0 -> explicit NULL
    assert [r["tpr"] for r in out] == [0.5, 1.0]


def test_exact_auc_hand_computed(spark):
    """Mann-Whitney with tie-averaged ranks: 9 of 12 pos/neg pairs won
    (counting ties as 0.5) -> AUC 0.75."""
    rows = [(1, 0.9), (0, 0.8), (1, 0.8), (1, 0.6), (0, 0.4), (1, 0.4), (0, 0.2)]
    df = spark.createDataFrame(rows, "y int, s double")
    r = MP.exact_auc(df, "y", "s").first()
    assert (r["auc"], r["n_pos"], r["n_neg"]) == (0.75, 4, 3)


def test_exact_auc_single_class_yields_null(spark):
    df = spark.createDataFrame([(0, 0.3), (0, 0.7)], "y int, s double")
    assert MP.exact_auc(df, "y", "s").first()["auc"] is None


def test_pr_points_hand_computed(spark):
    rows = [(1, 0.9), (0, 0.8), (1, 0.8), (1, 0.6), (0, 0.4), (1, 0.4), (0, 0.2)]
    df = spark.createDataFrame(rows, "y int, s double")
    got = [
        (r["threshold"], r["precision"], r["recall"])
        for r in MP.pr_points(df, "y", "s").collect()
    ]
    assert got == [
        (0.9, 1.0, 0.25),
        (0.8, 0.666667, 0.5),
        (0.6, 0.75, 0.75),
        (0.4, 0.666667, 1.0),
        (0.2, 0.571429, 1.0),
    ]


def test_probability_score_metrics_hand_computed_and_clamped(spark):
    df = spark.createDataFrame([(1, 0.9), (0, 0.1)], "y int, p double")
    r = MP.probability_score_metrics(df, "y", "p").first()
    assert (r["brier"], r["log_loss"], r["n_rows"]) == (0.01, 0.105361, 2)

    # out-of-range probability is clamped, never ±inf
    sat = spark.createDataFrame([(1, 1.5), (0, -0.2)], "y int, p double")
    r2 = MP.probability_score_metrics(sat, "y", "p").first()
    assert r2["log_loss"] is not None and r2["log_loss"] < 0.001


def test_isotonic_calibration_pav_pooling_and_monotone(spark):
    """PAV on per-score rates 1,0,0,1 pools the violating prefix to 1/3:
    expected map [1/3, 1/3, 1/3, 1.0] — and always non-decreasing."""
    rows = [(1, 0.1), (0, 0.2), (0, 0.3), (1, 0.4)]
    df = spark.createDataFrame(rows, "y int, s double")
    out = MP.isotonic_calibration(df, "y", "s", n_bins=1000).collect()
    got = [r["calibrated_p"] for r in out]
    assert got == [0.333333, 0.333333, 0.333333, 1.0]
    assert all(a <= b for a, b in zip(got, got[1:]))


def test_ridge_path_matches_numpy_closed_form(spark):
    import numpy as np

    from ml_data_pipeline_spark.ml.pipeline import ridge_path

    rng = np.random.RandomState(7)
    X = rng.rand(500, 2) * [10, 2]
    y = 3.0 * X[:, 0] - 1.5 * X[:, 1] + rng.rand(500)
    df = spark.createDataFrame(
        [(float(a), float(b), float(t)) for (a, b), t in zip(X, y)], ["x1", "x2", "y"]
    )
    lams = [0.0, 10.0, 1000.0]
    got = {r["lam"]: (r["b1"], r["b2"]) for r in ridge_path(df, "x1", "x2", "y", lams).collect()}
    for lam in lams:
        A = X.T @ X + lam * np.eye(2)
        b = np.linalg.solve(A, X.T @ y)
        assert abs(got[lam][0] - round(float(b[0]), 4)) <= 1e-4
        assert abs(got[lam][1] - round(float(b[1]), 4)) <= 1e-4
    # heavier penalty shrinks the coefficient norm
    norms = [got[l][0] ** 2 + got[l][1] ** 2 for l in lams]
    assert norms[0] >= norms[1] >= norms[2]


def test_split_conformal_coverage_guarantee(spark):
    import numpy as np

    from ml_data_pipeline_spark.ml.pipeline import split_conformal_ols

    rng = np.random.RandomState(11)
    x = rng.rand(4000) * 10
    y = 2.5 * x + 1.0 + rng.randn(4000)
    df = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))],
        ["rid", "x", "y"],
    )
    r = split_conformal_ols(df, "x", "y", ["rid"], alpha=0.1).collect()[0]
    assert r["n_train"] + r["n_cal"] + r["n_test"] == 4000
    assert abs(r["slope"] - 2.5) < 0.1 and abs(r["intercept"] - 1.0) < 0.3
    assert r["qhat"] > 0
    # finite-sample conformal guarantee: coverage ~ 0.9, never collapses
    assert 0.85 <= r["coverage"] <= 1.0


def test_binary_classification_report_hand_computed(spark):
    from ml_data_pipeline_spark.ml.pipeline import binary_classification_report

    # tp=3 fp=1 fn=2 tn=4
    rows = [(1, 1)] * 3 + [(0, 1)] * 1 + [(1, 0)] * 2 + [(0, 0)] * 4
    df = spark.createDataFrame(rows, ["y", "p"])
    r = binary_classification_report(df, "y", "p").collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (3, 1, 2, 4)
    assert r["precision"] == 0.75 and r["recall"] == 0.6
    assert r["f1"] == round(2 * 0.75 * 0.6 / 1.35, 6)
    assert r["accuracy"] == 0.7
    assert r["balanced_accuracy"] == round((0.6 + 0.8) / 2, 6)
    # sklearn-checked values for this confusion matrix
    assert abs(r["mcc"] - 0.408248) < 1e-6
    assert abs(r["cohens_kappa"] - 0.4) < 1e-6


def test_binary_classification_report_degenerate_nulls(spark):
    from ml_data_pipeline_spark.ml.pipeline import binary_classification_report

    df = spark.createDataFrame([(0, 0)] * 5, ["y", "p"])  # single class, all correct
    r = binary_classification_report(df, "y", "p").collect()[0]
    assert r["accuracy"] == 1.0
    assert r["precision"] is None and r["recall"] is None and r["mcc"] is None


def test_kmeans_2d_invariants_and_k1_exact(spark):
    from ml_data_pipeline_spark.ml.clustering import kmeans_fit_2d

    # Lloyd's from hash init converges to a LOCAL optimum — the hard
    # invariants are conservation and the k=1 closed form, not blob
    # recovery (two seeds can legally land in one blob)
    pts = []
    rid = 0
    for cx, cy in [(0, 0), (1000, 0), (0, 1000)]:
        for dx in range(-5, 6, 2):
            for dy in range(-5, 6, 2):
                pts.append((rid, cx + dx, cy + dy))
                rid += 1
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    out = kmeans_fit_2d(df, "id", "x", "y", k=3, iters=5).collect()
    assert len(out) == 3
    assert sum(r["n_points"] for r in out) == len(pts)
    # the empty-side blob pair is separated by some pair of centroids
    cents = [(r["cx"], r["cy"]) for r in out]
    spread = max(
        (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2 for a in cents for b in cents
    )
    assert spread > 500**2
    # k=1: the centroid IS the global mean, exactly
    one = kmeans_fit_2d(df, "id", "x", "y", k=1, iters=2).collect()[0]
    n = len(pts)
    assert one["n_points"] == n
    assert one["cx"] == sum(p[1] for p in pts) / n  # exact quotient, no rounding
    assert one["cy"] == sum(p[2] for p in pts) / n


def test_kmeans_deterministic_across_layouts(spark):
    from ml_data_pipeline_spark.ml.clustering import kmeans_fit_2d

    df = spark.createDataFrame(
        [(i, i * 37 % 1000, i * 91 % 1000) for i in range(500)], ["id", "x", "y"]
    )
    a = sorted(map(tuple, kmeans_fit_2d(df, "id", "x", "y", 3, 4).collect()))
    b = sorted(map(tuple, kmeans_fit_2d(df.repartition(13), "id", "x", "y", 3, 4).collect()))
    assert a == b


def test_time_series_cv_respects_origins(spark):
    import numpy as np

    from ml_data_pipeline_spark.ml.tuning import time_series_cv_ols

    rng = np.random.RandomState(3)
    rows = []
    for day in range(1, 200):
        for _ in range(5):
            x = float(rng.rand() * 10)
            rows.append((f"2020-{1 + (day - 1) // 28:02d}-{1 + (day - 1) % 28:02d}",
                         x, 4.0 * x + 2.0 + float(rng.randn())))
    df = spark.createDataFrame(rows, ["d", "x", "y"]).select(
        F.col("d").cast("date").alias("ship"), "x", "y"
    )
    out = {
        r["origin"]: r
        for r in time_series_cv_ols(
            df, "ship", "x", "y", ["2020-03-01", "2020-05-01"], horizon_days=28
        ).collect()
    }
    assert set(out) == {"2020-03-01", "2020-05-01"}
    for r in out.values():
        assert r["n_train"] > 0 and r["n_valid"] > 0
        assert abs(r["slope"] - 4.0) < 0.2 and abs(r["intercept"] - 2.0) < 1.0
        assert 0 < r["valid_mae"] < 2.0
    # expanding window: the later origin trains on strictly more data
    assert out["2020-05-01"]["n_train"] > out["2020-03-01"]["n_train"]


def test_time_series_cv_keeps_empty_folds(spark):
    from ml_data_pipeline_spark.ml.tuning import time_series_cv_ols

    rows = [(f"2020-01-{d:02d}", float(d), 2.0 * d) for d in range(1, 20)]
    df = spark.createDataFrame(rows, ["d", "x", "y"]).select(
        F.col("d").cast("date").alias("ship"), "x", "y"
    )
    out = {
        r["origin"]: r
        for r in time_series_cv_ols(
            df, "ship", "x", "y", ["2020-01-10", "2025-01-01"], horizon_days=7
        ).collect()
    }
    # the far-future fold still appears with an empty validation window
    assert set(out) == {"2020-01-10", "2025-01-01"}
    far = out["2025-01-01"]
    assert far["n_valid"] == 0 and far["valid_mae"] is None
    assert far["n_train"] == 19


def test_best_gini_split_hand_computed(spark):
    from ml_data_pipeline_spark.ml.tuning import best_gini_split

    # feature separates labels perfectly at <= 2: gini 0
    rows = [(1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    r = best_gini_split(df, "x", "y").collect()[0]
    assert r["threshold"] == 2.0 and r["gini"] == 0.0
    assert r["n_left"] == 2 and r["n_right"] == 2

    # no signal: every split leaves mixed halves; tie-break picks the
    # smallest threshold among the equal-gini candidates
    flat = spark.createDataFrame([(float(i), i % 2) for i in range(8)], ["x", "y"])
    r2 = best_gini_split(flat, "x", "y").collect()[0]
    assert r2["gini"] > 0.3


def test_best_f1_threshold_hand_computed(spark):
    from ml_data_pipeline_spark.ml.pipeline import best_f1_threshold

    # scores rank positives above negatives except one inversion:
    # y:    1    1    0    1    0    0
    # s:   .9   .8   .7   .6   .5   .4
    rows = [(1, 0.9), (1, 0.8), (0, 0.7), (1, 0.6), (0, 0.5), (0, 0.4)]
    df = spark.createDataFrame(rows, ["y", "s"])
    r = best_f1_threshold(df, "y", "s").collect()[0]
    # t=.6: tp=3 fp=1 fn=0 -> f1 = 6/7 = .857143 (best); t=.8: 4/5 = .8
    assert r["threshold"] == 0.6
    assert (r["tp"], r["fp"], r["fn"]) == (3, 1, 0)
    assert abs(r["f1"] - round(6 / 7, 6)) < 1e-6


def test_split_and_f1_ignore_null_inputs(spark):
    from ml_data_pipeline_spark.ml.pipeline import best_f1_threshold
    from ml_data_pipeline_spark.ml.tuning import best_gini_split

    rows = [(1.0, 1), (None, 1), (2.0, 1), (3.0, 0), (None, 0), (4.0, 0)]
    df = spark.createDataFrame(rows, "x double, y int")
    r = best_gini_split(df, "x", "y").collect()[0]
    # identical to the null-free case: perfect split at 2 over 4 rows
    assert r["threshold"] == 2.0 and r["gini"] == 0.0
    assert r["n_left"] + r["n_right"] == 4

    srows = [(1, 0.9), (1, None), (0, 0.2), (1, 0.8), (0, None)]
    sdf = spark.createDataFrame(srows, "y int, s double")
    f = best_f1_threshold(sdf, "y", "s").collect()[0]
    assert f["threshold"] is not None  # no spurious NULL candidate
    assert f["threshold"] == 0.8 and f["tp"] == 2 and f["fp"] == 0


def test_dbscan_hand_built_graph(spark):
    from ml_data_pipeline_spark.ml.clustering import dbscan_labels

    points = spark.createDataFrame([(i,) for i in range(1, 11)], "vec_id int")
    # cluster A: triangle 1-2-3 plus pendant 4; cluster B: triangle 5-6-7;
    # 9-10 a lone pair (not dense enough); 8 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6), (6, 7), (5, 7), (9, 10)],
        "id_a int, id_b int",
    )
    out = {r["vec_id"]: (r["label"], r["is_core"])
           for r in dbscan_labels(points, pairs, min_pts=3).collect()}
    assert out[1] == (1, True) and out[2] == (1, True) and out[3] == (1, True)
    assert out[4] == (1, False)          # border: core neighbor 3
    assert out[5] == (5, True) and out[6] == (5, True) and out[7] == (5, True)
    for i in (8, 9, 10):
        assert out[i] == (None, False)   # noise


def test_dbscan_isolated_core_keeps_own_label(spark):
    from ml_data_pipeline_spark.ml.clustering import dbscan_labels

    # star: center 1 with 3 leaves; min_pts=4 -> only 1 is core, no
    # core-core edge -> 1 labels itself, leaves become border of 1
    points = spark.createDataFrame([(i,) for i in range(1, 6)], "vec_id int")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a int, id_b int"
    )
    out = {r["vec_id"]: (r["label"], r["is_core"])
           for r in dbscan_labels(points, pairs, min_pts=4).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False) and out[3] == (1, False) and out[4] == (1, False)
    assert out[5] == (None, False)


def test_dbscan_min_pts_guard(spark):
    import pytest
    from ml_data_pipeline_spark.ml.clustering import dbscan_labels

    df = spark.createDataFrame([(1,)], "vec_id int")
    with pytest.raises(ValueError, match="min_pts"):
        dbscan_labels(df, df.select(F.col("vec_id").alias("id_a"),
                                    F.col("vec_id").alias("id_b")), min_pts=1)


def test_isotonic_minimax_agrees_with_mllib(spark):
    """The exact minimax PAV and MLlib's iterative PAV solve the same
    unique optimization — the maps must agree to float tolerance."""
    from ml_data_pipeline_spark.ml.pipeline import (
        isotonic_calibration,
        isotonic_fit_minimax,
    )

    rows = [(i % 7, (1 if (i * 37 % 100) < 30 + (i % 7) * 8 else 0)) for i in range(400)]
    df = spark.createDataFrame(
        [((b + 0.5) / 7.0, float(y)) for b, y in rows], "s double, y double"
    )
    a = {r["score_center"]: r["calibrated_p"]
         for r in isotonic_fit_minimax(df, "y", "s", n_bins=10).collect()}
    b = {r["score_center"]: r["calibrated_p"]
         for r in isotonic_calibration(df, "y", "s", n_bins=10).collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-6, (k, a[k], b[k])


def test_isotonic_minimax_monotone_and_pooled(spark):
    from ml_data_pipeline_spark.ml.pipeline import isotonic_fit_minimax

    # decreasing raw rates must pool into one flat weighted average
    rows = (
        [(0.05, 1.0)] * 8 + [(0.05, 0.0)] * 2   # bin 0: rate .8, w 10
        + [(0.25, 1.0)] * 2 + [(0.25, 0.0)] * 8  # bin 2: rate .2, w 10
    )
    df = spark.createDataFrame(rows, "s double, y double")
    out = isotonic_fit_minimax(df, "y", "s", n_bins=10).collect()
    assert [r["calibrated_p"] for r in out] == [0.5, 0.5]


def test_evaluate_classification_zero_division_conventions(spark):
    """One-pass confusion-matrix suite (r8): MulticlassMetrics parity on
    the degenerate shapes — a true class that is NEVER predicted has
    precision contribution 0 (not NaN), a predicted-only class contributes
    nothing (labels come from y only), and weightedRecall == accuracy."""
    # y in {0,1,2}; model always predicts 0 or 3 (class 3 never true,
    # classes 1/2 never predicted)
    rows = [(0.0, 0.0)] * 4 + [(1.0, 0.0)] * 3 + [(2.0, 3.0)] * 3
    preds = spark.createDataFrame(rows, "label double, prediction double")
    m = MP.evaluate_classification(preds, label_col="label")
    assert m["accuracy"] == pytest.approx(0.4)
    # precision: class 0 -> tp 4 / predicted 7; classes 1,2 -> 0/0 -> 0.0
    assert m["precision"] == pytest.approx((4 * (4 / 7) + 3 * 0.0 + 3 * 0.0) / 10)
    assert m["recall"] == pytest.approx(m["accuracy"])  # weighted recall identity
    # f1: class 0 -> 2pr/(p+r) with p=4/7, r=1; others 0
    p0 = 4 / 7
    assert m["f1"] == pytest.approx((4 * (2 * p0 / (p0 + 1))) / 10)
    assert "roc_auc" not in m  # 3 true classes, no rawPrediction column


def test_predict_single_row_local_matches_transform(spark):
    """M12 driver-local scorer (SURVEY §7.4): zero-Spark-job inference must
    reproduce transform()'s prediction exactly — regression (scaled LR),
    binary + multinomial logistic, string-indexed target — and refuse tree
    ensembles with a pointer to the Spark path."""
    import pytest as _pytest

    rows = [
        (float(i), float(i % 7), float((i * 37) % 11), ["a", "b", "c"][i % 3])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "y double, x1 double, x2 double, cls string")
    probe = [{"x1": float(a), "x2": float(b)} for a, b in [(0, 0), (3, 10), (6.5, 2.2)]]

    # regression, scaled
    pipe, feats, _ = MP.build_pipeline(df, "y", "linear_regression", feature_cols=["x1", "x2"])
    m = pipe.fit(df)
    for p in probe:
        got = MP.predict_single_row_local(m, p)
        want = MP.predict_single_row(m, spark, {"y": 0.0, "cls": "a", **p}, df.schema)
        assert got == pytest.approx(want, rel=1e-9)

    # multinomial logistic on a string target (StringIndexer in the pipeline)
    pipe, _, _ = MP.build_pipeline(df, "cls", "logistic_regression", feature_cols=["x1", "x2"])
    m = pipe.fit(df)
    for p in probe:
        got = MP.predict_single_row_local(m, p)
        want = MP.predict_single_row(m, spark, {"y": 0.0, "cls": "a", **p}, df.schema)
        assert got == want

    # binary logistic on an int target
    dfb = df.withColumn("b", (F.col("x1") > 3).cast("int"))
    pipe, _, _ = MP.build_pipeline(dfb, "b", "logistic_regression", feature_cols=["x1", "x2"])
    m = pipe.fit(dfb)
    for p in probe:
        got = MP.predict_single_row_local(m, p)
        want = MP.predict_single_row(
            m, spark, {"y": 0.0, "cls": "a", "b": 0, **p}, dfb.schema
        )
        assert got == want

    # tree ensembles: explicit refusal
    pipe, _, _ = MP.build_pipeline(dfb, "b", "random_forest", feature_cols=["x1", "x2"])
    m = pipe.fit(dfb)
    with _pytest.raises(NotImplementedError):
        MP.predict_single_row_local(m, probe[0])


def test_predict_single_row_local_scaler_flag_combinations(spark):
    """Review fix (r8): the local scorer must honor the fitted
    withMean/withStd flags and MLlib's zero-std convention — pinned by
    direct parity with transform() on hand-built pipelines, including a
    constant (std 0) feature scored on an out-of-training value."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml.regression import LinearRegression

    rows = [(float(i), float(i % 7), 5.0) for i in range(60)]  # x2 constant
    df = spark.createDataFrame(rows, "y double, x1 double, x2 double")
    va = VectorAssembler(inputCols=["x1", "x2"], outputCol="__raw")
    for wm, ws in [(True, True), (False, True), (True, False), (False, False)]:
        sc = StandardScaler(
            inputCol="__raw", outputCol="features", withMean=wm, withStd=ws
        )
        lr = LinearRegression(labelCol="y", featuresCol="features")
        m = Pipeline(stages=[va, sc, lr]).fit(df)
        # probe x2=9.0: out-of-training for the constant feature — the
        # zero-std convention (zero out vs pass through) becomes visible
        probe = {"x1": 3.5, "x2": 9.0}
        got = MP.predict_single_row_local(m, probe)
        want = MP.predict_single_row(
            m, spark, {"y": 0.0, **probe}, df.schema
        )
        assert got == pytest.approx(want, rel=1e-9, abs=1e-9), (wm, ws, got, want)


def test_linear_shap_exact_values_and_additivity(spark):
    """linear_shap's phi_i = c_i*(x_i - mean_i) and base = f(E[x]) are
    exact: hand-check on a 3-row frame, and additivity base + sum(phi)
    must reconstruct the linear prediction bit-for-bit-ish (1e-9)."""
    from ml_data_pipeline_spark.ml import explain as ME

    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (3.0, 30.0)], "a double, b double"
    )
    out = ME.linear_shap(df, ["a", "b"], [2.0, -0.5], 7.0).collect()
    # means: a=2, b=20 → base = 7 + 2*2 - 0.5*20 = 1.0
    assert all(abs(r["shap_base"] - 1.0) < 1e-12 for r in out)
    by_a = {r["a"]: r for r in out}
    assert by_a[1.0]["phi_a"] == -2.0 and by_a[3.0]["phi_a"] == 2.0
    assert by_a[1.0]["phi_b"] == 5.0 and by_a[2.0]["phi_b"] == 0.0
    for r in out:
        pred = 7.0 + 2.0 * r["a"] - 0.5 * r["b"]
        assert abs(r["shap_base"] + r["phi_a"] + r["phi_b"] - pred) < 1e-9


def test_permute_column_is_partition_local_exact_permutation(spark):
    """VERDICT r9 item 1: _permute_column must (a) be an exact permutation
    — same row count, same value multiset, other columns riding untouched
    with their original row — and (b) never funnel the frame through one
    task: the permuted frame's physical plan contains NO 'Exchange
    SinglePartition' (the partition-less WindowExec shape it replaced)."""
    from ml_data_pipeline_spark.ml import explain as ME

    df = spark.createDataFrame(
        [(i, float(i), float(i % 7)) for i in range(500)],
        "id long, v double, w double",
    )
    out = ME._permute_column(df, "v", seed=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    rows = out.collect()
    assert len(rows) == 500
    assert sorted(r["v"] for r in rows) == [float(i) for i in range(500)]
    assert all(r["w"] == float(r["id"] % 7) for r in rows)
    # it actually moves values: ~P fixed points expected (one per bucket),
    # 500 would mean the identity came back
    assert sum(1 for r in rows if r["v"] == float(r["id"])) < 150


def test_permute_column_exact_on_shuffled_lineage(spark):
    """r10 review: the bucket is a seeded CONTENT hash, not rand, so the
    two join sides agree row-for-row even when the input's scan order is
    nondeterministic (shuffle/join upstream) — the permutation stays
    exact: same row count, same value multiset."""
    from ml_data_pipeline_spark.ml import explain as ME

    a = spark.createDataFrame([(i, float(i)) for i in range(300)], "id long, v double")
    b = spark.createDataFrame([(i, float(i % 11)) for i in range(300)], "id long, w double")
    joined = a.join(b, "id").repartition(16)  # shuffle upstream
    out = ME._permute_column(joined, "v", seed=9)
    rows = out.collect()
    assert len(rows) == 300
    assert sorted(r["v"] for r in rows) == [float(i) for i in range(300)]
    assert all(r["w"] == float(r["id"] % 11) for r in rows)


def test_r10_ml_robustness_fixes(spark):
    """r10 review: unseen test labels must not crash scoring; regression
    CV resolves its own metric default; zero-positive lift is NULL not an
    ANSI crash; an unscoreable single row raises a clear error."""
    import pytest

    from ml_data_pipeline_spark.ml import pipeline as MP
    from ml_data_pipeline_spark.ml import tuning as MT

    # unseen label in test: StringIndexer handleInvalid='keep'
    train = spark.createDataFrame(
        [(float(i), float(i % 5), "hi" if i % 2 else "lo") for i in range(60)],
        "x double, z double, cls string",
    )
    test = train.limit(10).union(
        spark.createDataFrame([(99.0, 1.0, "NEW_CLASS")], "x double, z double, cls string")
    )
    model, metrics = MP.train_and_evaluate(train, test, "cls", "logistic_regression")
    assert 0.0 <= metrics["accuracy"] <= 1.0  # no 'Unseen label' crash
    # regression CV with the default metric resolves to r2 (was KeyError 'f1')
    reg = spark.createDataFrame(
        [(float(i), 2.0 * i + 1.0 + (i % 7) * 0.01) for i in range(200)],
        "x double, y double",
    )
    cv = MT.cross_val_scores(reg, "y", "linear_regression", n_folds=2)
    assert cv["metric"] == "r2" and cv["mean"] > 0.9
    # zero-positive lift: NULL lift/capture, not DIVIDE_BY_ZERO
    scores = spark.createDataFrame(
        [(0, float(i)) for i in range(40)], "y int, s double"
    )
    rows = MP.lift_table(scores, "y", "s", n_bins=4).collect()
    assert all(r["lift"] is None and r["cum_capture"] is None for r in rows)
    # unscoreable single row raises ValueError, not NoneType TypeError
    with pytest.raises(ValueError, match="missing or NULL"):
        MP.predict_single_row(
            model, spark, {"x": None, "z": 1.0, "cls": "hi"}, "x double, z double, cls string"
        )


def test_ivf_candidate_pairs_subset_of_brute_and_complete_single_cell(spark):
    """r14 (sf1 probe finding): the IVF candidate path must (a) emit ONLY
    true >= threshold pairs (verification is exact — a subset of the brute
    pairs regardless of recall), and (b) equal the brute set exactly when
    every point probes EVERY cell (nprobe == n_clusters — recall 1 by
    construction; MLlib KMeans needs k >= 2, so k=2/nprobe=2). Multiprobe
    must not duplicate pairs that share both cells."""
    import random

    from ml_data_pipeline_spark.operators import similarity as SS

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in SS.brute_force_cosine_pairs(df, threshold=0.3).collect()
    }
    all_cells = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in SS.ivf_candidate_pairs(
            df, dim=8, threshold=0.3, n_clusters=2, nprobe=2
        ).collect()
    }
    assert all_cells == brute and len(brute) > 0
    multi = SS.ivf_candidate_pairs(
        df, dim=8, threshold=0.3, n_clusters=4, nprobe=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in multi}
    assert len(got) == len(multi)  # no duplicate pairs after multiprobe
    assert set(got).issubset(set(brute))
    for k, v in got.items():
        assert v == brute[k]


def test_nearest_cells_udf_matches_numpy_argsort(spark):
    from ml_data_pipeline_spark.functions.vec_kernels import nearest_cells_udf

    cents = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]]
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [9.0, 1.0]), (3, [1.0, 9.0]), (4, [5.0, 0.0])],
        "id long, v array<double>",
    )
    udf = nearest_cells_udf(cents, nprobe=2)
    got = {r["id"]: list(r["c"]) for r in df.select("id", udf("v").alias("c")).collect()}
    assert got[1] == [0, 1] and got[2] == [1, 0] and got[3] == [2, 0]
    # (5,0) is equidistant to cells 0 and 1: stable argsort -> lowest index
    assert got[4] == [0, 1]
