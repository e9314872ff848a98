"""PCA whitening for embedding columns — the SemDeDup/clustering
preprocessing step (decorrelate + unit-variance components before
cosine/Euclidean structure mining).

Fit is MLlib's distributed PCA (covariance eigendecomposition over the
corpus); the PROJECTION is re-expressed as pure column arithmetic
because `PCAModel.transform` has a documented quirk — it projects the
RAW vectors, not the centered ones — and because k dot products
against literal weight arrays stay JVM-side with no ml.Vector
round-trip on the 100 TB pass:

    comp_j(x) = dot(x, w_j) - dot(mu, w_j)        (centering folded
                                                   into a driver-side
                                                   scalar offset)
    w_j = sign_j * pc_j / sqrt(var_j)             (whitening folded
                                                   into the weights)

Eigenvector SIGNS are arbitrary — each axis is flipped so its
largest-|loading| coordinate is positive, making the output a
reproducible function of the data rather than of LAPACK internals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import dot


def pca_whiten_weights(
    df: DataFrame, k: int = 8, vec_col: str = "embedding"
):
    """Fit on the corpus; returns (weights, offsets, explained) where
    ``weights`` is a dim×k list of whitened/sign-fixed loadings,
    ``offsets[j]`` = dot(mean, w_j), and ``explained`` the variance
    ratios — driver-sized model constants (like class weights)."""
    import numpy as np
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    feat = df.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features")
    )
    from ..operators.util import fit_released

    model = fit_released(MLPCA(k=k, inputCol="features", outputCol="pc"), feat)
    stats = feat.select(
        Summarizer.mean(F.col("features")).alias("mu"),
        Summarizer.variance(F.col("features")).alias("var"),
    ).first()
    mu = np.array(stats["mu"].toArray())
    total_var = float(np.sum(stats["var"].toArray()))
    pc = np.array(model.pc.toArray())  # (dim, k)
    ratios = np.array(model.explainedVariance.toArray())
    comp_var = np.maximum(ratios * total_var, 1e-12)
    signs = np.sign(pc[np.abs(pc).argmax(axis=0), np.arange(pc.shape[1])])
    signs[signs == 0] = 1.0
    w = pc * (signs / np.sqrt(comp_var))  # (dim, k), whitened + sign-fixed
    offsets = mu @ w  # (k,)
    return (
        [[float(x) for x in w[:, j]] for j in range(k)],
        [float(o) for o in offsets],
        [float(r) for r in ratios],
    )


def project_whitened(
    df: DataFrame,
    weights: list[list[float]],
    offsets: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """The projection stage alone: pc_j = round(dot(v, w_j) − o_j,
    ``decimals``) from caller-supplied (already-fitted) constants —
    lets a persisted weights artifact drive the projection (m08's
    value-check materializes the fit and replays THIS stage in the
    oracle)."""
    from ..operators.util import double_array_literal

    cols = [F.col(id_col)]
    for j, (wj, oj) in enumerate(zip(weights, offsets), start=1):
        arr = double_array_literal(wj)
        cols.append(
            F.round(dot(F.col(vec_col), arr) - F.lit(oj), decimals).alias(
                f"pc{j}"
            )
        )
    return df.select(*cols)
