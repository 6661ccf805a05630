"""IVF-PQ index-TRAIN step (no dependency on the frozen artifact, so
``tools/freeze_pq_codebooks.py`` can run before ``pq_codebooks.py``
exists — the same bootstrap order as the coarse quantizer's
``build_ivf_index`` / ``ivf_centroids.py`` pair)."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.operators.similarity import ivf_assign
from airflow_ml_pipeline_spark.sources.catalog import load_table

PQ_M = 8  # subspaces (64 dims / 8 = 8 dims per subspace)
PQ_SUBDIM = 8
PQ_K = 16  # codewords per subspace -> 4-bit codes, 32 bits per vector


def _centroid_array_sql() -> str:
    """The frozen coarse centroids as a Spark ``array(array(...))``
    literal (each component ``{v!r}D`` — repr round-trips to the
    identical IEEE double as ``F.lit``)."""
    from airflow_ml_pipeline_spark.operators.ivf_centroids import IVF_CENTROIDS

    return ", ".join(
        "array(" + ", ".join(f"{float(v)!r}D" for v in c) + ")"
        for c in IVF_CENTROIDS
    )


def residual_expr(emb_col: str = "embedding") -> F.Column:
    """r = v - coarse_centroid[cluster_id], as one parsed expression.
    Requires a ``cluster_id`` column (from ``similarity.ivf_assign``)."""
    return F.expr(
        f"zip_with(`{emb_col}`, element_at(array({_centroid_array_sql()}),"
        " cluster_id + 1), (x, y) -> CAST(x AS DOUBLE) - y)"
    )


def build_pq_codebooks(
    spark: SparkSession, sf_dir: str, m: int = PQ_M, k: int = PQ_K
) -> list[list[list[float]]]:
    """Fit one KMeans(k, seed=42) per subspace over the coarse-residual
    slices of ``sf_dir``'s corpus and return the codebooks as
    ``[m][k][PQ_SUBDIM]`` floats. Run via
    ``tools/freeze_pq_codebooks.py`` to regenerate
    ``operators/pq_codebooks.py`` after a corpus change
    (tests/test_corpus_fingerprints.py is the staleness gate, the same
    contract as the coarse quantizer's)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb)
    resid = assigned.select("cluster_id", residual_expr().alias("r")).cache()
    resid.count()  # materialize once: m independent fits read it
    books: list[list[list[float]]] = []
    for mi in range(m):
        sub = resid.select(
            array_to_vector(
                F.slice(F.col("r"), mi * PQ_SUBDIM + 1, PQ_SUBDIM)
            ).alias("v")
        )
        model = KMeans(k=k, seed=42, featuresCol="v", predictionCol="c").fit(
            sub
        )
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    resid.unpersist()
    return books
