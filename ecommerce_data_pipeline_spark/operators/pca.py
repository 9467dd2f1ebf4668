"""Distributed PCA over an embedding column (X3/embedding-hygiene tier).

Why this shape: at 100 TB the ONLY thing that may leave the cluster is
the d×d second-moment matrix — d(d+1)/2 cells for d=64 is 2080 numbers,
bounded by dimensionality, never by corpus size. The plan is

  posexplode(vec) → (vec_id, pos, val)                 [rows × d, co-keyed]
  self-join on vec_id with pos_i <= pos_j              [rows × d(d+1)/2,
                                                        partition-local]
  ONE hash aggregate → covar_pop per (pos_i, pos_j)    [d(d+1)/2 cells]
  driver-side numpy.linalg.eigh on the 64×64 matrix    [microseconds]
  broadcast top-k eigenvectors as literal arrays       [k×d doubles]
  per-row projection = codegen'd zip_with/aggregate dot [no shuffle]

Same fan-out geometry as ``embedding_covariance_top_pairs``
(plans/similarity_plans.py) — the join never crosses the network because
both sides hash on vec_id. The eigendecomposition itself is O(d³) on 64
numbers wide — driver-side by contract, like PQ/IVF codebook training
(operators/pq.py): the COLLECT IS BOUNDED BY d², NOT BY ROWS.

Determinism: numpy's eigh is deterministic for a fixed matrix, and the
covariance matrix is itself exact-deterministic only up to float addition
order — covar_pop partials merge in partition order. In practice the
variation is ~1e-12 and projections are stable at the 6dp the query
rounds to; eigenvector SIGN is pinned by making each component's
largest-|coordinate| entry positive (sign is otherwise arbitrary).
Registered oracle=None (no SQL engine exposes eigh); pytest pins variance
ordering, orthonormality, layout-independence, and centering instead.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.functions.vectors import dot


@dataclass(frozen=True)
class PCAModel:
    dim: int
    k: int
    mean: tuple[float, ...]          # d
    components: tuple[tuple[float, ...], ...]  # k × d, rows orthonormal
    explained_variance: tuple[float, ...]      # k, descending


def train_pca(
    corpus: DataFrame, k: int = 4, max_train_rows: int | None = 100_000
) -> PCAModel:
    """Fit the top-``k`` principal axes of ``embedding``. Cluster work: one posexplode +
    one partition-local pair fan-out + one hash agg; driver work: eigh
    on d×d. The collect is d(d+1)/2 + d cells — corpus-size-free.

    The DRIVER collect is bounded by d² regardless of corpus size (the
    aggregation is distributive), so unlike PQ/IVF no cap is needed for
    memory. ``max_train_rows`` instead bounds CLUSTER wall-clock: the
    pair fan-out costs rows × d(d+1)/2 tuples, and covariance estimates
    concentrate at O(1/√n) — 100k rows pins every cell to ~3 decimals,
    which is all eigh needs. The sample is the same deterministic
    hash-ordered limit as PQ training (layout-independent; see
    operators/pq.py::train_pq_codebooks). Pass None to use the full
    corpus (exact covariance — the fixture-scale/oracle mode)."""
    import numpy as np

    if max_train_rows is not None:
        corpus = (
            corpus.select("vec_id", "embedding")
            .orderBy(F.xxhash64(F.col("embedding")))
            .limit(max_train_rows)
        )
    # persist: three consumers (both covariance self-join sides + the
    # means aggregate) — unpersisted, the sampled-corpus lineage
    # (including the hash-ordered limit's sort) re-executes three times
    ex = corpus.select(
        F.col("vec_id").alias("_vid"), F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double")).persist()
    a, b = ex.alias("a"), ex.alias("b")
    cells = (
        a.join(
            b,
            (F.col("a._vid") == F.col("b._vid"))
            & (F.col("a.pos") <= F.col("b.pos")),
        )
        .groupBy(F.col("a.pos").alias("i"), F.col("b.pos").alias("j"))
        .agg(F.covar_pop(F.col("a.val"), F.col("b.val")).alias("cov"))
        .collect()
    )
    means_rows = (
        ex.groupBy("pos").agg(F.avg("val").alias("m")).collect()
    )
    ex.unpersist()  # both consumers collected — training is one-shot
    dim = max(r["pos"] for r in means_rows) + 1
    if k > dim:
        raise ValueError(f"k={k} exceeds dimensionality {dim}")
    mean = np.zeros(dim)
    for r in means_rows:
        mean[r["pos"]] = r["m"]
    cov = np.zeros((dim, dim))
    for r in cells:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps, variances = [], []
    for idx in order:
        v = evecs[:, idx]
        # sign fix: the largest-|coordinate| entry is made positive
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append(tuple(float(x) for x in v))
        variances.append(float(evals[idx]))
    return PCAModel(
        dim=dim,
        k=k,
        mean=tuple(float(x) for x in mean),
        components=tuple(comps),
        explained_variance=tuple(variances),
    )


def pca_project(corpus: DataFrame, model: PCAModel, round_dp: int = 6) -> DataFrame:
    """Project every ``embedding`` vector onto the model's axes: pc_j = (x − μ)·w_j,
    computed as dot(x, w_j) − (μ·w_j) so the per-row work is one
    codegen'd fold per component against a BROADCAST literal axis —
    no shuffle, no Python, linear scan at any scale."""
    cols = [F.col("vec_id")]
    for j, comp in enumerate(model.components, start=1):
        # one array literal per axis, not one F.lit per coordinate
        w = F.lit([float(x) for x in comp])
        offset = sum(m * x for m, x in zip(model.mean, comp))
        cols.append(
            F.round(dot(F.col("embedding"), w) - F.lit(offset), round_dp).alias(
                f"pc{j}"
            )
        )
    return corpus.select(*cols)
