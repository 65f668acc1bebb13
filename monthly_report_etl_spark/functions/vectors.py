"""Vector math over ``array<float|double>`` columns — pure built-in
higher-order functions (JVM-side, codegen'd; no UDFs).

Summation is explicitly LEFT-TO-RIGHT SEQUENTIAL (``aggregate`` fold) so
results are bit-reproducible and match a DuckDB oracle computing the same
fold — important because floating-point addition isn't associative.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from monthly_report_etl_spark.sources.parquet import read_table


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two equal-length array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def read_vectors(spark, sf_dir: str):
    """The ``embeddings`` scan with the index contract applied: a row
    whose embedding is NULL is not an indexable vector and is dropped AT
    THE SCAN (``IsNotNull`` pushes into the parquet reader — free at any
    scale).

    r15 boundary hunt: a single NULL embedding row crashed EVERY
    numpy-matmul entry in the family (LSH bucketing, IVF/PQ/k-means
    training and assignment, PCA projection) — ``np.stack`` over an
    Arrow batch containing a None raises ValueError and fails the whole
    job, the same crash class the multimodal batchers had with
    ``bytes(None)``. The expression-based entries (brute-force cosine,
    int8 quantize, standardize) survived via NULL propagation, but
    'silently carry a NULL non-vector through the index' is not better
    semantics than 'the index contains vectors'; the filter is uniform
    across the family and every oracle mirrors it with
    ``WHERE embedding IS NOT NULL``. (Ragged dimensions remain OUT of
    contract: the table schema guarantees fixed-dim vectors; a
    wrong-dim row is a corrupt upstream write, not a boundary this
    engine reinterprets.)
    """
    return read_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
