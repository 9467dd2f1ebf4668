"""IVF (inverted-file) approximate nearest neighbor search.

The second scale path for similarity search (alongside the hyperplane
LSH in operators/similarity.py), mirroring the classic IVF design:

1. **Train** a coarse quantizer: k-means centroids over a sample of the
   corpus. The sample is tiny by construction, so Lloyd iterations run
   driver-side in NumPy (seconds for k≤4096·dim≤4096); only the final
   centroid matrix ships to executors.
2. **Assign** every corpus vector to its nearest centroid — one
   broadcast-join + argmin over k centroids, fully distributed. The
   (centroid_id → vectors) lists are the inverted file.
3. **Probe**: each query scores only the vectors in its ``nprobe``
   nearest centroid lists — corpus-scan cost drops ~k/nprobe-fold.

All scoring is the same codegen'd cosine fold as the exact path, so
results are directly comparable; recall is tuned by k and nprobe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F



def train_centroids(
    corpus: DataFrame, n_centroids: int = 16, max_train_rows: int = 100_000
) -> list[list[float]]:
    """K-means (Lloyd, 5 iterations) on a seeded corpus sample,
    driver-side NumPy.

    The driver-side collect is ALWAYS bounded: ``limit(max_train_rows)``
    hard-caps the rows pulled to the driver — so a 100 TB corpus trains
    on at most ``max_train_rows`` vectors instead of OOMing the driver.
    Centroid quality needs only a sketch of the density, not the full
    corpus."""
    import numpy as np

    # deterministic cap: a bare LIMIT is partition-layout-dependent once
    # the corpus exceeds the cap (the pq.py trainer's documented bug,
    # same fix: rank by a content hash before the limit)
    sample = corpus.select("embedding").orderBy(
        F.xxhash64(F.col("embedding"))
    ).limit(max_train_rows)
    x = np.asarray([list(map(float, r[0])) for r in sample.collect()])
    rng = np.random.default_rng(42)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(5):
        # cosine assignment: normalize, argmax of dot products
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = (xn @ cn.T).argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [list(map(float, c)) for c in cent]


def _nearest_centroids(
    vec: str, centroids: list[list[float]], n: int
) -> Column:
    """Array of the ``n`` nearest centroid ids (by cosine), as a Column.

    Two plan-build-time costs are engineered out here:
    - The centroids are L2-normalized DRIVER-side: ranking by
      ``dot(vec, ĉ)`` equals ranking by cosine because 1/|vec| is a
      positive per-row constant, so the per-row cost drops from 3k folds
      (dot + both norms, with the constant centroid's norm re-evaluated
      every row) to k single-fold dot products.
    - The whole scoring array is ONE ``F.expr`` SQL string: composing it
      from F.lit/F.array/HOF-lambda Columns costs O(k·dim) py4j
      round-trips — a measured ~2.2 s of pure DRIVER latency for 16×64
      before any job ran. A 20 KB SQL literal is one round-trip and
      parses JVM-side in milliseconds; the resulting expression tree is
      identical (same zip_with/aggregate fold, same sort/slice).
    """
    import math

    # column NAME only: splicing an arbitrary Column's JVM string into
    # F.expr is fragile (no _jc under Spark Connect; non-attribute
    # expressions render in internal syntax that expr() cannot parse) —
    # callers alias complex expressions to a name first
    if not isinstance(vec, str):
        raise TypeError(
            "_nearest_centroids takes a column NAME; alias the expression "
            "to a column first"
        )
    vec_sql = f"`{vec}`"
    terms = []
    for i, c in enumerate(centroids):
        nrm = math.sqrt(sum(x * x for x in c)) or 1.0
        vals = ",".join(f"{float(x) / nrm!r}D" for x in c)
        terms.append(
            f"struct(aggregate(zip_with({vec_sql}, array({vals}),"
            f" (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x) AS s,"
            f" {i} AS c)"
        )
    # sort descending by (score, centroid id), take n centroid ids
    return F.expr(
        f"transform(slice(sort_array(array({','.join(terms)}), false), 1, {n}),"
        " t -> t.c)"
    )


def ivf_topk(queries: DataFrame, corpus: DataFrame, nprobe: int = 4) -> DataFrame:
    """Approximate top-10: probe the query's nprobe nearest of 16
    inverted lists.

    Same output/determinism contract as cosine_topk (6dp rounding, id
    tiebreak). Scored fraction ≈ nprobe/16 of the corpus.
    """
    centroids = train_centroids(corpus)
    from ecommerce_data_pipeline_spark.functions.vectors import (
        cosine_with_norms,
        l2_norm,
    )
    from ecommerce_data_pipeline_spark.operators.similarity import (
        spread_for_fanout,
    )

    # spread before the computed columns: centroid assignment + norm +
    # post-join scoring are interpreted folds that must not run on the
    # scan's single input split
    c_assigned = (
        spread_for_fanout(
            corpus.select(
                F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
            )
        )
        .withColumn("cn", l2_norm("cv"))
        .withColumn(
            "list_id",
            _nearest_centroids("cv", centroids, 1).getItem(0),
        )
    )
    q_probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm("embedding").alias("qn"),
        F.explode(_nearest_centroids("embedding", centroids, nprobe)).alias(
            "list_id"
        ),
    )
    scored = (
        c_assigned.join(F.broadcast(q_probes), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_with_norms("qv", "cv", "qn", "cn"), 6).alias("cosine"),
        )
    )
    from ecommerce_data_pipeline_spark.operators.similarity import rank_topk

    return rank_topk(scored, 10)
