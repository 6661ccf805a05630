"""Model training: grid-searched, stratified-CV model fitting on Spark ML
(SURVEY.md §2.7 T1-T11; reference /root/reference/src/ml_pipeline/training.py).

Parity decisions:
- registry keys and the unknown-model error message match the reference
  (training.py:15-19,45-46);
- param grids keep the reference's sklearn-style names in config and map to
  Spark ML params here (C → regParam=1/C, n_estimators → numTrees/maxIter,
  learning_rate → stepSize, subsample → subsamplingRate,
  min_samples_leaf → minInstancesPerNode; min_samples_split has no Spark
  knob and is accepted-and-ignored, documented);
- "xgboost" resolves to xgboost.spark.SparkXGBClassifier when the package
  exists, else GBTClassifier with the same grid names (SURVEY.md §7.3.7);
- CV scoring "f1" means binary positive-class f1 (sklearn default), i.e.
  MulticlassClassificationEvaluator(metricName="fMeasureByLabel",
  metricLabel=1.0) — NOT Spark's weighted-macro default (T7);
- stratified k-fold via a window-built foldCol (Spark CV is unstratified).
- MLflow logging is optional (import-gated) — absent in this environment.
"""

from __future__ import annotations

from typing import Any

from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame

from airflow_ml_pipeline_spark.operators.split import stratified_fold_column

try:  # pragma: no cover - optional dependency
    from xgboost.spark import SparkXGBClassifier  # type: ignore

    _HAS_XGB = True
except ImportError:
    _HAS_XGB = False

MODEL_REGISTRY = {
    "logistic_regression": "logistic_regression",
    "random_forest": "random_forest",
    "xgboost": "xgboost",
}

#: sklearn-style grid name -> (spark param name, value mapping). Mappings
#: taking two args receive (value, n_train): sklearn LR minimizes
#: C*sum(loss) + ||w||^2/2, Spark minimizes mean(loss) + regParam*||w||^2/2,
#: so the equivalent is regParam = 1/(C*n).
_PARAM_MAPS: dict[str, dict[str, tuple[str, Any]]] = {
    "logistic_regression": {
        "C": ("regParam", lambda v, n: 1.0 / (float(v) * n)),
        "penalty": ("elasticNetParam", lambda v: 0.0 if v == "l2" else 1.0),
        "max_iter": ("maxIter", int),
    },
    "random_forest": {
        "n_estimators": ("numTrees", int),
        "max_depth": ("maxDepth", int),
        "min_samples_split": (None, None),  # no Spark equivalent — ignored
        "min_samples_leaf": ("minInstancesPerNode", int),
    },
    "gbt": {
        "n_estimators": ("maxIter", int),
        "max_depth": ("maxDepth", int),
        "learning_rate": ("stepSize", float),
        "subsample": ("subsamplingRate", float),
    },
    "xgb_native": {
        "n_estimators": ("n_estimators", int),
        "max_depth": ("max_depth", int),
        "learning_rate": ("learning_rate", float),
        "subsample": ("subsample", float),
    },
}

FEATURES_COL = "features"
LABEL_COL = "label"


def assemble(
    features_df: DataFrame,
    feature_names: list[str],
    label_col: str = "churn",
    keep: list[str] | None = None,
) -> DataFrame:
    """Columnar features -> Spark ML (features vector, label double) frame.
    The assembler is the ONLY place the engine leaves plain columns.
    ``keep`` names extra passthrough columns (e.g. a row id)."""
    df = features_df
    if label_col in df.columns and label_col != LABEL_COL:
        df = df.withColumnRenamed(label_col, LABEL_COL)
    assembler = VectorAssembler(inputCols=feature_names, outputCol=FEATURES_COL)
    cols = [FEATURES_COL] + ([LABEL_COL] if LABEL_COL in df.columns else [])
    cols += [c for c in (keep or []) if c in df.columns]
    out = assembler.transform(df)
    if LABEL_COL in out.columns:
        out = out.withColumn(LABEL_COL, out[LABEL_COL].cast("double"))
    return out.select(*cols)


def _make_estimator(model_name: str, random_state: int):
    if model_name == "logistic_regression":
        return (
            LogisticRegression(featuresCol=FEATURES_COL, labelCol=LABEL_COL),
            _PARAM_MAPS["logistic_regression"],
        )
    if model_name == "random_forest":
        return (
            RandomForestClassifier(
                featuresCol=FEATURES_COL, labelCol=LABEL_COL, seed=random_state
            ),
            _PARAM_MAPS["random_forest"],
        )
    if model_name == "xgboost":
        if _HAS_XGB:
            return (
                SparkXGBClassifier(
                    features_col=FEATURES_COL,
                    label_col=LABEL_COL,
                    eval_metric="logloss",
                ),
                _PARAM_MAPS["xgb_native"],
            )
        return (
            GBTClassifier(featuresCol=FEATURES_COL, labelCol=LABEL_COL, seed=random_state),
            _PARAM_MAPS["gbt"],
        )
    raise ValueError(
        f"Unknown model: {model_name}. Available: {list(MODEL_REGISTRY.keys())}"
    )


def _build_grid(estimator, param_map, param_grid: dict, n_train: int):
    """Reference-style dict-of-lists grid -> ParamGridBuilder grid, plus a
    reverse lookup (spark param name -> {spark value: sklearn value}) so
    best_params can be reported in the reference's sklearn names."""
    builder = ParamGridBuilder()
    reverse: dict[str, tuple[str, dict]] = {}
    for sk_name, values in param_grid.items():
        mapping = param_map.get(sk_name)
        if mapping is None or mapping[0] is None:
            continue
        spark_name, conv = mapping
        if not estimator.hasParam(spark_name):
            continue
        code = getattr(conv, "__code__", None)
        takes_n = code is not None and code.co_argcount == 2
        converted = [conv(v, n_train) if takes_n else conv(v) for v in values]
        builder.addGrid(estimator.getParam(spark_name), converted)
        reverse[spark_name] = (sk_name, dict(zip(converted, values)))
    return builder.build(), reverse


def _grid_combo_sklearn_names(grid_point, reverse: dict) -> dict:
    """Translate one ParamMap back to sklearn-style names/values via the
    exact value-reverse lookup built alongside the grid."""
    out = {}
    for param, value in grid_point.items():
        entry = reverse.get(param.name)
        if entry is None:
            continue
        sk_name, value_map = entry
        out[sk_name] = value_map.get(value, value)
    return out


def train_model(
    model_name: str,
    train_df: DataFrame,
    param_grid: dict,
    cv_folds: int = 5,
    scoring: str = "f1",
    random_state: int = 42,
) -> tuple[Any, dict]:
    """Grid search + stratified k-fold CV for one model family; returns
    (best_model, cv_results) with the reference's cv_results keys
    (training.py:79-84)."""
    if model_name not in MODEL_REGISTRY:
        raise ValueError(
            f"Unknown model: {model_name}. Available: {list(MODEL_REGISTRY.keys())}"
        )
    estimator, param_map = _make_estimator(model_name, random_state)

    evaluator = _make_evaluator(scoring)
    folded = stratified_fold_column(
        train_df, LABEL_COL, cv_folds, seed=random_state, fold_col="fold"
    ).cache()
    n_train = folded.count()  # materialize once; CV scans it folds x grid times
    grid, reverse = _build_grid(estimator, param_map, param_grid, n_train)

    cv = CrossValidator(
        estimator=estimator,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=cv_folds,
        foldCol="fold",
        parallelism=4,
        seed=random_state,
    )
    cv_model = cv.fit(folded)

    best_idx = max(range(len(cv_model.avgMetrics)), key=lambda i: cv_model.avgMetrics[i])
    std_metrics = getattr(cv_model, "stdMetrics", None)
    best_model = cv_model.bestModel
    train_score = evaluator.evaluate(best_model.transform(folded))
    folded.unpersist()

    cv_results = {
        "best_params": _grid_combo_sklearn_names(grid[best_idx], reverse),
        "best_cv_score": float(cv_model.avgMetrics[best_idx]),
        "mean_train_score": float(train_score),
        "std_cv_score": float(std_metrics[best_idx]) if std_metrics else 0.0,
    }
    return best_model, cv_results


def _make_evaluator(scoring: str) -> MulticlassClassificationEvaluator:
    """sklearn scoring name -> Spark evaluator. 'f1' is binary
    positive-class f1 (fMeasureByLabel on label 1.0), matching
    sklearn.f1_score's default average='binary'."""
    if scoring == "f1":
        return MulticlassClassificationEvaluator(
            labelCol=LABEL_COL, metricName="fMeasureByLabel", metricLabel=1.0
        )
    if scoring == "accuracy":
        return MulticlassClassificationEvaluator(labelCol=LABEL_COL, metricName="accuracy")
    if scoring == "precision":
        return MulticlassClassificationEvaluator(
            labelCol=LABEL_COL, metricName="precisionByLabel", metricLabel=1.0
        )
    if scoring == "recall":
        return MulticlassClassificationEvaluator(
            labelCol=LABEL_COL, metricName="recallByLabel", metricLabel=1.0
        )
    raise ValueError(f"Unsupported scoring metric: {scoring}")


def train_all_models(train_df: DataFrame, config: dict) -> dict[str, dict]:
    """Train every enabled model family (training.py:98-150). MLflow logging
    happens when mlflow is importable; otherwise skipped silently."""
    training_cfg = config["training"]
    results: dict[str, dict] = {}

    mlf = _mlflow_or_none(config)

    for model_name, model_cfg in training_cfg["models"].items():
        if not model_cfg.get("enabled", False):
            continue
        best_model, cv_results = train_model(
            model_name=model_name,
            train_df=train_df,
            param_grid=model_cfg["params"],
            cv_folds=training_cfg.get("cv_folds", 5),
            scoring=training_cfg.get("scoring_metric", "f1"),
            random_state=training_cfg.get("random_state", 42),
        )
        run_id = None
        if mlf is not None:
            with mlf.start_run(run_name=model_name, nested=True) as run:
                mlf.log_params(cv_results["best_params"])
                mlf.log_metric(
                    f"cv_{training_cfg.get('scoring_metric', 'f1')}",
                    cv_results["best_cv_score"],
                )
                mlf.log_metric("cv_std", cv_results["std_cv_score"])
                mlf.log_metric("mean_train_score", cv_results["mean_train_score"])
                run_id = run.info.run_id
        results[model_name] = {
            "model": best_model,
            "cv_results": cv_results,
            "run_id": run_id,
        }
    return results


def _mlflow_or_none(config: dict):
    try:  # pragma: no cover - optional dependency
        import mlflow

        mlflow_cfg = config.get("mlflow", {})
        mlflow.set_tracking_uri(mlflow_cfg.get("tracking_uri", "mlruns"))
        mlflow.set_experiment(mlflow_cfg.get("experiment_name", "churn_prediction"))
        return mlflow
    except ImportError:
        return None
