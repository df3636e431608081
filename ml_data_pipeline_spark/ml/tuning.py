"""Cross-validation, random search, learning curves, importances
(SURVEY.md §2.8 M4-M9).

The reference's parallelism boundary is a joblib process pool; here every
fold/trial fit is a distributed MLlib job and the driver only orchestrates —
``CrossValidator(parallelism=...)`` overlaps fold fits across the cluster.
"""

from __future__ import annotations

import random
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .pipeline import (
    LABEL,
    build_pipeline,
    evaluate_classification,
    evaluate_regression,
    train_and_evaluate,
)


def add_fold_column(
    df: DataFrame, n_folds: int, target: str | None = None, seed: int = 42
) -> DataFrame:
    """Fold assignment column. With a target: STRATIFIED folds (per-class
    round-robin over a shuffled window — every fold gets ~n/k of each class),
    reproducing sklearn StratifiedKFold semantics (ref /root/reference/
    researching_models/cross_validation/cross_validation_optuna_logic.py:166-190).
    One window shuffle; no driver data."""
    if target is None:
        return df.withColumn("__fold", (F.rand(seed) * n_folds).cast("int"))
    w = Window.partitionBy(target).orderBy(F.rand(seed))
    return df.withColumn("__fold", (F.row_number().over(w) - 1) % n_folds)


def cross_val_scores(
    df: DataFrame,
    target: str,
    model_type: str,
    params: dict[str, Any] | None = None,
    n_folds: int = 5,
    metric: str | None = None,
    stratified: bool | str = "auto",
    seed: int = 42,
    fold_col: str | None = None,
) -> dict[str, Any]:
    """M5 — k-fold CV: mean ± std of the chosen metric across folds.
    Driver loops over folds; each fit is a cluster job.

    metric=None resolves by task — 'f1' for classification, 'r2' for
    regression (r10 review: a hard 'f1' default KeyError'd every
    regression CV/tuning call AFTER paying for the first fold's fit).

    stratified='auto' stratifies ONLY for classification — stratifying on a
    continuous target would put every 1-row "class" in fold 0 and leave the
    other folds empty (sklearn draws the same KFold/StratifiedKFold line).

    fold_col (r11): use the caller's own integer fold assignment in
    [0, n_folds) instead of the seeded shuffle — e.g. a hash of a business
    key, which is reproducible across runs/engines (what the m5 oracle
    replays) and keeps examples from migrating between folds as a corpus
    grows, the same property split_by_hash documents. The column is
    consumed (never leaks into the feature set)."""
    from .pipeline import detect_task_type

    # detect ONCE: per-fold re-detection costs a distinct-count job per
    # fold and can FLIP on a fold's subsample (r10 review)
    task = detect_task_type(df, target)
    if stratified == "auto":
        stratified = task == "classification"
    metric = metric or ("f1" if task == "classification" else "r2")
    if fold_col is not None:
        folded = df.withColumn("__fold", F.col(fold_col).cast("int"))
        if fold_col != "__fold":
            folded = folded.drop(fold_col)
        folded = folded.cache()
        # loud range contract (r11 review): an out-of-range fold — e.g.
        # xxhash64(key) % n, NEGATIVE for negative hashes under Spark's
        # sign-preserving % — would sit in every training fold and no
        # test fold, silently skewing all scores. One narrow probe.
        bad = folded.where(
            F.col("__fold").isNull()
            | (F.col("__fold") < 0)
            | (F.col("__fold") >= n_folds)
        ).limit(1)
        if bad.count() > 0:
            raise ValueError(
                f"fold_col {fold_col!r} must hold integers in [0, {n_folds}); "
                "use a non-negative bucket recipe (e.g. sampling.hash_bucket "
                "or pmod) — Spark's % is sign-preserving"
            )
    else:
        folded = add_fold_column(df, n_folds, target if stratified else None, seed).cache()
    # materialized BEFORE the fold pool so concurrent cold scans cannot
    # compute the fold frame twice
    folded.count()
    cv = _fold_scores(folded, target, model_type, params, n_folds, metric, task)
    folded.unpersist()
    return cv


def _fold_scores(
    folded: DataFrame,
    target: str,
    model_type: str,
    params: dict[str, Any] | None,
    n_folds: int,
    metric: str,
    task: str,
) -> dict[str, Any]:
    """Score every fold of ``folded``: a frame whose ``__fold`` column holds
    integers in [0, n_folds), already cached and materialized by the caller,
    which also unpersists it. Concurrent callers can share one such frame."""

    def _one_fold(k: int) -> float:
        train = folded.where(F.col("__fold") != k).drop("__fold")
        test = folded.where(F.col("__fold") == k).drop("__fold")
        _, metrics = train_and_evaluate(train, test, target, model_type, params, task=task)
        return metrics[metric]

    # overlap independent fold fits from driver threads (r16, guide §2.6):
    # actions are only sequential because the driver calls them
    # sequentially — fold k+1's jobs back-fill executor slots freed by
    # fold k's stragglers. Results are keyed by fold index so the score
    # list (and therefore mean/std and every hash-pinned trial table) is
    # order-identical to the sequential loop; each fit is deterministic
    # on the same cached fold data.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(n_folds, 3)) as pool:
        scores = list(pool.map(_one_fold, range(n_folds)))
    n = len(scores)
    mean = sum(scores) / n
    var = sum((s - mean) ** 2 for s in scores) / n
    return {"scores": scores, "mean": mean, "std": var**0.5, "metric": metric}


# hyperparameter space mirroring the reference's random grids
# (ref /root/reference/researching_models/cross_validation/cross_validation_random_search_logic.py:103-172)
DEFAULT_SPACE = {
    "numTrees": [50, 100, 200, 300],
    "maxDepth": [3, 5, 7, 10],
    "stepSize": (0.01, 0.3),  # uniform range (GBT learning rate)
    "regParam": (1e-4, 10.0),  # log-uniform (LogisticRegression C⁻¹)
}


def random_search(
    df: DataFrame,
    target: str,
    model_type: str,
    space: dict[str, Any] | None = None,
    n_trials: int = 10,
    n_folds: int = 3,
    metric: str | None = None,
    direction: str = "max",
    seed: int = 42,
) -> dict[str, Any]:
    """M6/M8 — random hyperparameter search, each trial scored by k-fold CV.
    Driver samples params; cluster fits. Returns best trial + history.

    metric=None resolves by task like cross_val_scores ('f1'
    classification, 'r2' regression) — a hard 'f1' default KeyError'd
    every regression tuning call with default args AFTER paying for the
    first fold fits (ADVICE r10)."""
    rng = random.Random(seed)
    space = space or DEFAULT_SPACE
    # probe which params this estimator supports
    from .pipeline import make_estimator, detect_task_type

    task = detect_task_type(df, target)
    metric = metric or ("f1" if task == "classification" else "r2")
    probe = make_estimator(model_type, task)
    allowed = {p.name for p in probe.params}
    # pre-sample every trial's params SEQUENTIALLY so the rng draws are
    # byte-identical to the old one-at-a-time loop, then overlap the
    # independent CV evaluations from driver threads (r16, guide §2.6 —
    # random-search trials share no history, unlike TPE). Results keep
    # trial order; fold assignment was already FIXED across trials (r10
    # review), so one shared fold frame replaces n_trials identical
    # add_fold_column builds. Values unchanged: same folds, same params,
    # same deterministic fits — the hash-pinned trial tables are the gate.
    all_params: list[dict[str, Any]] = [
        {
            name: _sample_param(rng, choices)
            for name, choices in space.items()
            if name in allowed
        }
        for _ in range(n_trials)
    ]
    stratified = task == "classification"
    folded = add_fold_column(df, n_folds, target if stratified else None, seed).cache()
    folded.count()  # materialize before concurrent trials share it

    def _one_trial(t: int) -> dict[str, Any]:
        # straight to the fold loop: cross_val_scores would re-cache this
        # frame per trial, and Spark keeps ONE cache entry per plan, so the
        # first trial to finish dropped it under the others; the fold range
        # needs no probe either (add_fold_column builds it in range)
        cv = _fold_scores(folded, target, model_type, all_params[t], n_folds, metric, task)
        return {"trial": t, "params": all_params[t], "mean": cv["mean"], "std": cv["std"]}

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(n_trials, 2)) as pool:
        trials = list(pool.map(_one_trial, range(n_trials)))
    folded.unpersist()
    best = None
    for rec in trials:
        if best is None or (
            rec["mean"] > best["mean"] if direction == "max" else rec["mean"] < best["mean"]
        ):
            best = rec
    return {"best": best, "trials": trials, "metric": metric}


def _sample_param(rng: random.Random, choices) -> Any:
    """One draw from a space entry: (lo, hi) tuple = uniform (log-uniform
    when the span exceeds 2 decades), list = choice."""
    if isinstance(choices, tuple):
        lo, hi = choices
        if lo > 0 and hi / lo > 100:
            import math

            x = math.exp(rng.uniform(math.log(lo), math.log(hi)))
        else:
            x = rng.uniform(lo, hi)
        # an all-int bounds tuple is an integer parameter (maxDepth=(3,5));
        # applies to BOTH branches — a log-uniform float for an int param
        # crashes MLlib's TypeConverters.toInt
        return int(round(x)) if all(isinstance(c, int) for c in choices) else x
    return rng.choice(choices)


def tpe_propose(
    rng: random.Random,
    space: dict[str, Any],
    history: list[tuple[dict[str, Any], float]],
    direction: str = "max",
    gamma: float = 0.25,
    n_candidates: int = 24,
    n_startup: int = 5,
) -> dict[str, Any]:
    """One Tree-structured Parzen Estimator proposal (Bergstra et al.,
    'Algorithms for Hyper-Parameter Optimization', NeurIPS 2011 — public
    literature; no optuna dependency).

    Splits the observed trials into the best ceil(gamma*n) ('good') and
    the rest ('bad'), models each numeric parameter with a Parzen window
    (Gaussian KDE, bandwidth = the observed-set std-dev / cube-root rule
    floored at 1% of the range) per side, each categorical with additive-
    smoothed frequencies, then draws n_candidates from the GOOD model and
    returns the candidate maximizing l(x)/g(x) — the expected-improvement
    argmax under TPE's two-density formulation. Falls back to a pure
    random draw for the first n_startup trials (nothing to model yet).

    Pure driver-side arithmetic over the trial history (tiny); every
    objective evaluation remains a distributed Spark job.
    """
    import math

    if len(history) < n_startup:
        return {k: _sample_param(rng, v) for k, v in space.items()}
    hist = sorted(history, key=lambda h: h[1], reverse=(direction == "max"))
    n_good = max(1, math.ceil(gamma * len(hist)))
    good = [h[0] for h in hist[:n_good]]
    bad = [h[0] for h in hist[n_good:]] or good

    def bandwidth(obs: list[float], lo: float, hi: float) -> float:
        # ONE definition shared by the sampler and the density — an inline
        # copy of this formula is exactly how random_search's draw logic
        # once drifted from _sample_param
        mean = sum(obs) / len(obs)
        var = sum((o - mean) ** 2 for o in obs) / len(obs)
        return max((var ** 0.5) / max(len(obs) ** (1 / 3), 1.0), 0.01 * (hi - lo), 1e-12)

    def kde_logpdf(x: float, obs: list[float], lo: float, hi: float) -> float:
        if not obs:
            return -math.log(max(hi - lo, 1e-12))
        bw = bandwidth(obs, lo, hi)
        dens = sum(
            math.exp(-0.5 * ((x - o) / bw) ** 2) / (bw * math.sqrt(2 * math.pi))
            for o in obs
        ) / len(obs)
        return math.log(max(dens, 1e-300))

    def cat_logp(v, obs: list, choices: list) -> float:
        # additive smoothing keeps unseen categories proposable
        c = sum(1 for o in obs if o == v) + 1.0
        return math.log(c / (len(obs) + len(choices)))

    best_cand, best_score = None, None
    for _ in range(n_candidates):
        cand: dict[str, Any] = {}
        score = 0.0
        for name, choices in space.items():
            gv = [g[name] for g in good if name in g]
            bv = [b[name] for b in bad if name in b]
            if isinstance(choices, tuple):
                lo, hi = float(choices[0]), float(choices[1])
                # draw from the good-side Parzen model: pick an observed
                # good value, perturb by its bandwidth, clamp into range
                if gv:
                    center = rng.choice(gv)
                    bw = bandwidth([float(v) for v in gv], lo, hi)
                    x = min(hi, max(lo, rng.gauss(center, bw)))
                else:
                    x = rng.uniform(lo, hi)
                if all(isinstance(c, int) for c in choices):
                    x = int(round(x))
                cand[name] = x
                score += kde_logpdf(float(x), [float(v) for v in gv], lo, hi)
                score -= kde_logpdf(float(x), [float(v) for v in bv], lo, hi)
            else:
                # categorical: sample by good-side smoothed frequency
                weights = [math.exp(cat_logp(c, gv, list(choices))) for c in choices]
                total = sum(weights)
                r, acc, pick = rng.random() * total, 0.0, choices[-1]
                for c, wgt in zip(choices, weights):
                    acc += wgt
                    if r <= acc:
                        pick = c
                        break
                cand[name] = pick
                score += cat_logp(pick, gv, list(choices))
                score -= cat_logp(pick, bv, list(choices))
        if best_score is None or score > best_score:
            best_cand, best_score = cand, score
    return best_cand


def tpe_search(
    df: DataFrame,
    target: str,
    model_type: str,
    space: dict[str, Any] | None = None,
    n_trials: int = 10,
    n_folds: int = 3,
    metric: str | None = None,
    direction: str = "max",
    seed: int = 42,
) -> dict[str, Any]:
    """M7 without the optuna package: the same trial loop as random_search
    but with TPE proposals after the startup trials — history-adaptive
    search that concentrates evaluations near the best region. Each trial
    is still scored by distributed k-fold CV. metric=None resolves by
    task like cross_val_scores (ADVICE r10)."""
    rng = random.Random(seed)
    space = space or DEFAULT_SPACE
    from .pipeline import detect_task_type, make_estimator

    task = detect_task_type(df, target)
    metric = metric or ("f1" if task == "classification" else "r2")
    allowed = {p.name for p in make_estimator(model_type, task).params}
    space = {k: v for k, v in space.items() if k in allowed}
    history: list[tuple[dict[str, Any], float]] = []
    trials = []
    best = None
    for t in range(n_trials):
        params = tpe_propose(rng, space, history, direction)
        # fixed folds across trials (r10 review — same rationale as
        # random_search; resplitting also fed TPE a history whose
        # objectives came from different partitionings)
        cv = cross_val_scores(
            df, target, model_type, params, n_folds=n_folds, metric=metric, seed=seed
        )
        history.append((params, cv["mean"]))
        rec = {"trial": t, "params": params, "mean": cv["mean"], "std": cv["std"]}
        trials.append(rec)
        if best is None or (
            cv["mean"] > best["mean"] if direction == "max" else cv["mean"] < best["mean"]
        ):
            best = rec
    return {"best": best, "trials": trials, "metric": metric}


def optuna_search(
    df: DataFrame,
    target: str,
    model_type: str,
    n_trials: int = 10,
    n_folds: int = 3,
    metric: str | None = None,
    direction: str = "maximize",
    seed: int = 42,
) -> dict[str, Any]:
    """M7 — Optuna study on the driver; each objective call launches Spark CV
    jobs (ref cross_validation_optuna_logic.py:116-164). Gated import: when
    optuna is absent the fallback is tpe_search — the SAME sampler family
    (TPE) self-contained above, not a silent downgrade to random search.
    metric=None resolves by task like cross_val_scores (ADVICE r10)."""
    try:
        import optuna
    except ImportError:
        return tpe_search(
            df, target, model_type, n_trials=n_trials, n_folds=n_folds,
            metric=metric, direction="max" if direction == "maximize" else "min", seed=seed,
        )
    from .pipeline import detect_task_type, make_estimator

    task = detect_task_type(df, target)
    metric = metric or ("f1" if task == "classification" else "r2")
    allowed = {p.name for p in make_estimator(model_type, task).params}

    def objective(trial):
        params = {}
        if "numTrees" in allowed:
            params["numTrees"] = trial.suggest_int("numTrees", 50, 300)
        if "maxDepth" in allowed:
            params["maxDepth"] = trial.suggest_int("maxDepth", 3, 10)
        if "stepSize" in allowed:
            params["stepSize"] = trial.suggest_float("stepSize", 0.01, 0.3)
        if "regParam" in allowed:
            params["regParam"] = trial.suggest_float("regParam", 1e-4, 10.0, log=True)
        return cross_val_scores(
            df, target, model_type, params, n_folds=n_folds, metric=metric, seed=seed
        )["mean"]

    study = optuna.create_study(
        direction=direction, sampler=optuna.samplers.TPESampler(seed=seed)
    )
    study.optimize(objective, n_trials=n_trials)
    return {
        "best": {"params": study.best_params, "mean": study.best_value},
        "trials": [{"trial": t.number, "params": t.params, "mean": t.value} for t in study.trials],
        "metric": metric,
    }


def learning_curve(
    df: DataFrame,
    target: str,
    model_type: str,
    params: dict[str, Any] | None = None,
    fractions: list[float] | None = None,
    test_size: float = 0.2,
    metric: str | None = None,
    seed: int = 42,
) -> list[dict[str, float]]:
    """M9 — train on growing fractions, score train & held-out test
    (ref /root/reference/researching_models/learning_curve/learning_curve_optuna_logic.py:162-191).

    metric=None resolves by task like cross_val_scores; the scores are
    indexed directly so a metric absent from the suite raises loudly
    instead of the old .get(metric, nan) silently emitting a curve of
    NaNs (ADVICE r10)."""
    from pyspark.sql.types import StringType

    from .pipeline import detect_task_type

    fractions = fractions or [0.1 * i for i in range(1, 11)]
    task = detect_task_type(df, target)
    metric = metric or ("f1" if task == "classification" else "r2")
    is_string_target = isinstance(df.schema[target].dataType, StringType)
    train_full, test = df.randomSplit([1 - test_size, test_size], seed=seed)
    train_full = train_full.cache()
    # materialize before the pool: concurrent cold scans of a lazy cache
    # would compute the split twice (r16, guide §2.6 overlap — the curve
    # points are independent: each samples its own seeded subset and
    # scores against the shared held-out test; output keeps fraction order)
    train_full.count()

    def _one_point(frac: float) -> dict[str, float]:
        sub = train_full if frac >= 1.0 else train_full.sample(fraction=frac, seed=seed)
        # task pinned from the FULL frame (r10 review: re-detection on a
        # small fraction could flip regression->classification mid-curve)
        model, test_metrics = train_and_evaluate(
            sub, test, target, model_type, params, task=task
        )
        preds_train = model.transform(sub)
        if task == "classification":
            train_metrics = evaluate_classification(
                preds_train, LABEL if is_string_target else target
            )
        else:
            train_metrics = evaluate_regression(preds_train, target)
        return {
            "fraction": frac,
            "train_score": train_metrics[metric],
            "test_score": test_metrics[metric],
        }

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(fractions), 2)) as pool:
        out = list(pool.map(_one_point, fractions))
    train_full.unpersist()
    return out


def feature_importances(model, feature_names: list[str]) -> list[tuple[str, float]]:
    """M4 — impurity importances (tree models) or mean |coefficient|
    (ref /root/reference/researching_models/check_models_logic.py:233-254)."""
    last = model.stages[-1] if hasattr(model, "stages") else model
    if hasattr(last, "featureImportances"):
        imp = last.featureImportances.toArray().tolist()
    elif hasattr(last, "coefficientMatrix"):
        m = last.coefficientMatrix.toArray()
        imp = [float(abs(m[:, j]).mean()) for j in range(m.shape[1])]
    elif hasattr(last, "coefficients"):
        imp = [abs(float(c)) for c in last.coefficients]
    else:
        raise ValueError(f"model {type(last).__name__} exposes no importances")
    pairs = list(zip(feature_names, imp))
    pairs.sort(key=lambda x: -x[1])
    return pairs


def time_series_cv_ols(
    df,
    date_col: str,
    x_col: str,
    y_col: str,
    fold_dates: list[str],
    horizon_days: int = 90,
):
    """Rolling-origin (expanding-window) cross-validation — the
    temporally-correct CV for forecasting: fold k trains on everything
    STRICTLY BEFORE its origin date and validates on [origin,
    origin+horizon). Random/stratified folds (m5) leak future
    information into training for time-indexed targets; this is the
    standard fix (public forecasting practice).

    Per fold: closed-form 1-feature OLS on the train side (sums in one
    aggregate, coefficients rounded 4dp — the engine-exactness recipe
    m23/m24 use), then mean-absolute-error on the validation side (MAE,
    not MSE: squared-residual sums reach magnitudes where float-sum
    order drift survives rounding; absolute sums do not). All folds are
    computed in ONE plan — the fold spec is a literal explode, each side
    a conditional aggregate, so the event table is scanned once, not
    once per fold."""
    from pyspark.sql import functions as F

    folds = F.explode(
        F.array(*[F.lit(d) for d in fold_dates])
    ).alias("origin")
    base = df.select(
        F.col(date_col).cast("date").alias("d"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).select(folds, "d", "x", "y")
    origin = F.col("origin").cast("date")
    in_train = F.col("d") < origin
    in_valid = (F.col("d") >= origin) & (
        F.col("d") < F.date_add(origin, horizon_days)
    )
    agg = base.groupBy("origin").agg(
        F.sum(F.when(in_train, 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(in_valid, 1).otherwise(0)).alias("n_valid"),
        F.sum(F.when(in_train, F.col("x"))).alias("sx"),
        F.sum(F.when(in_train, F.col("y"))).alias("sy"),
        F.sum(F.when(in_train, F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(F.when(in_train, F.col("x") * F.col("y"))).alias("sxy"),
    )
    slope = F.round(
        (F.col("n_train") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.nullif(
            # 0 exactly for a 1-row or constant-x training window — a NULL
            # fold row, not an ANSI crash that kills ALL folds in the
            # shared plan (r10 review)
            F.col("n_train") * F.col("sxx") - F.col("sx") * F.col("sx"),
            F.lit(0.0),
        ),
        4,
    )
    # slope inlined into the intercept expression — a second pass over agg
    # (self-join) re-evaluated the whole scan+aggregate subtree for nothing
    # checkpoint the per-fold coefficients (len(fold_dates) rows): the
    # scoring join AND the final left join both consume fit — untruncated,
    # each re-runs the fold aggregate from its own scan (plan_audit:
    # lineitem x3)
    fit = agg.select(
        "origin",
        "n_train",
        "n_valid",
        slope.alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n_train"), 4).alias(
            "intercept"
        ),
    ).localCheckpoint()
    scored = base.join(F.broadcast(fit), "origin").where(in_valid)
    mae = scored.groupBy("origin").agg(
        F.round(
            F.avg(F.abs(F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x")))),
            6,
        ).alias("valid_mae")
    )
    # LEFT join so a fold with an empty validation window still appears
    # (null valid_mae, n_valid=0) instead of silently vanishing
    return fit.join(mae, "origin", "left").select(
        "origin", "n_train", "n_valid", "slope", "intercept", "valid_mae"
    )


def best_gini_split(
    df,
    feature_col: str,
    label_col: str,
):
    """Exact decision-stump learning / split-quality screening: the
    threshold of `feature_col` minimizing weighted Gini impurity of the
    binary `label_col` — the inner step of tree induction and the
    screening score feature selectors use, computed for EVERY candidate
    threshold in one pass: per-value (n, positives) aggregate, cumulative
    windows for the left partition, arithmetic for both Gini sides, and
    an argmin with (gini, threshold) tie-break. All counts are exact
    integers; the impurities are single IEEE expressions over them, so
    the whole scan is engine-replayable. Thresholds are 'split at
    <= value'; the maximum value is excluded (its split leaves the right
    side empty). Rows with a NULL feature are excluded up front — they
    satisfy no threshold at predict time, and Spark's nulls-first window
    order would otherwise fold them into every left partition AND score
    a meaningless NULL-threshold candidate."""
    from ml_data_pipeline_spark.operators.profiling import ranged_cumsum

    per_v = df.where(F.col(feature_col).isNotNull()).groupBy(
        F.col(feature_col).alias("v")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col).cast("long")).alias("pos"),
    )
    # r14: cumulative left-partition counts on ranged_cumsum (parallel
    # per-range prefixes — a continuous feature no longer serializes the
    # threshold sweep); totals are a broadcast aggregate over the
    # kernel's cached per-value frame (no second corpus scan)
    cumr = ranged_cumsum(per_v, ["v"], ["n", "pos"])
    tot = cumr.agg(F.sum("n").alias("nt"), F.sum("pos").alias("pt"))
    cum = (
        cumr.crossJoin(F.broadcast(tot))
        .withColumnRenamed("__cum_n", "nl")
        .withColumnRenamed("__cum_pos", "pl")
        .where(F.col("nl") < F.col("nt"))  # rightmost split excluded
    )
    nl = F.col("nl").cast("double")
    nr = (F.col("nt") - F.col("nl")).cast("double")
    pl = F.col("pl").cast("double")
    pr = (F.col("pt") - F.col("pl")).cast("double")
    gini_l = 1.0 - F.pow(pl / nl, 2) - F.pow(1.0 - pl / nl, 2)
    gini_r = 1.0 - F.pow(pr / nr, 2) - F.pow(1.0 - pr / nr, 2)
    weighted = (nl * gini_l + nr * gini_r) / F.col("nt").cast("double")
    scored = cum.select(
        F.col("v").alias("threshold"),
        F.col("nl").alias("n_left"),
        (F.col("nt") - F.col("nl")).alias("n_right"),
        F.round(weighted, 6).alias("gini"),
    )
    # argmin via TakeOrderedAndProject (per-partition top-1 + driver
    # merge) — never a global sort or an unpartitioned rank window (r14)
    return scored.orderBy(F.asc("gini"), F.asc("threshold")).limit(1)
