"""Product-quantization (PQ) approximate nearest-neighbor search.

The third ANN scale path next to hyperplane LSH (operators/similarity.py)
and IVF (operators/ivf.py), following the classic PQ design (Jégou,
Douze, Schmid — "Product Quantization for Nearest Neighbor Search",
TPAMI 2011):

1. **Train**: L2-normalize a bounded corpus sample, split each vector
   into ``m`` contiguous subspaces, and run k-means independently per
   subspace (driver-side NumPy on the capped sample, same bounded-collect
   contract as ``ivf.train_centroids``). The codebook is m × k_codes
   centroids of dim/m floats each.
2. **Encode**: every corpus vector compresses to ``m`` uint8 codes — its
   nearest centroid per subspace. At 100 TB this is the point: a 64-dim
   float32 embedding (256 B) becomes 8 one-byte codes (32× less state to
   scan/shuffle), and encoding is a pure Column expression (argmin over k
   codegen'd subspace-distance folds), fully distributed, no Python.
3. **ADC scan**: for each query, precompute the m × k table of
   squared-L2 distances from the query's subvectors to every centroid
   (driver-side — queries are the small side, as in ``cosine_topk``'s
   broadcast). A candidate's approximate distance is then m
   table lookups + a sum; the scan never touches the original vectors.
4. **Re-rank**: the top ``rerank`` ADC candidates are re-scored with the
   EXACT cosine fold, and the final top-k ranks on that — the standard
   production shape (cheap approximate prefilter, exact order at the top).

Because both sides are L2-normalized, squared L2 is monotone in cosine
(||a−b||² = 2 − 2·cos), so ADC ordering approximates cosine ordering and
the re-ranked output is directly comparable with ``cosine_topk``
(same schema: query_id, cand_id, cosine, rnk — recall measured in
tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.functions.vectors import cosine_similarity


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    k_codes: int = 16,
    max_train_rows: int = 100_000,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks (m = 8 subspaces, 8 Lloyd
    iterations) on a bounded, seeded corpus sample.

    Returns ``codebooks[sub][code] -> list[float]`` (length dim/m).
    The driver-side collect is hard-capped at ``max_train_rows`` rows
    regardless of corpus size (the 100 TB rule: training needs a sketch
    of the density, never the corpus). The sample itself is DETERMINISTIC:
    rows are ranked by xxhash64 of the vector before the limit (a bare
    LIMIT is partition-layout-dependent once the corpus exceeds the cap,
    which would let codebooks — and thus pq_topk results — differ between
    runs). xxhash64 evaluates natively on the array column (measured 5×
    cheaper than hashing a string cast); hash ties are either identical
    vectors (interchangeable for training) or 2⁻⁶⁴ collisions.
    """
    m = 8
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    import numpy as np

    sub_dim = dim // m
    rows = (
        corpus.select("embedding")
        .orderBy(F.xxhash64(F.col("embedding")))
        .limit(max_train_rows)
        .collect()
    )
    x = np.asarray([list(map(float, r[0])) for r in rows])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(42)
    books: list[list[list[float]]] = []
    for s in range(m):
        xs = x[:, s * sub_dim : (s + 1) * sub_dim]
        k = min(k_codes, len(xs))
        cent = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(8):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append([list(map(float, c)) for c in cent])
    return books


def pq_encode(
    df: DataFrame, codebooks: list[list[list[float]]], vectorized: bool = True
) -> DataFrame:
    """Compress vectors to ``m`` codes: argmin centroid per subspace.

    ``vectorized=True`` (default since r13) runs the SAME math as an
    Arrow-batched NumPy kernel (one pandas_udf): every operation is
    kept in the JVM fold's sequential order — norm accumulates
    left-to-right over the dim loop, each subdistance accumulates
    left-to-right over the sub_dim loop, argmin keeps the smaller code
    on exact ties — so the emitted codes are BIT-IDENTICAL to the fold
    form (pinned in tests/test_similarity.py). The fold form remains
    below (``vectorized=False``) as the zero-Python-worker fallback and
    the parity pin's reference. Measured same-session on the sf0.1
    fixture (2000 x 64-dim, m=8, k=16): the interpreted HOF folds cost
    ~5 us each (m*k per row, ~1.3 s per materialization); the NumPy
    kernel does ~1.1k vectorized ops per batch (guide §4.2) and the
    whole encode drops to Arrow-transfer cost.

    A ZERO-SHUFFLE projection: the vector is normalized once (``_nv``),
    then one fold per (sub, code) computes the squared subdistance
    against a literal centroid and a (dist, code) struct sort takes the
    deterministic argmin. The whole encode is a map over the corpus —
    at 100 TB it pipelines with the scan, no intermediate state to
    shuffle (the previous relational form moved rows × dim × k_codes
    intermediates through four exchanges).

    Formulations measured on the sf0.1 fixture (2000 × 64-dim, m=8,
    k=16), for the record:
    - Python-lambda HOF fold with the normalization fold re-evaluated
      inside every distance term: ~80 s (interpreted, single-split) —
      the r3 regression.
    - Relational fan-out (posexplode → broadcast centroid join →
      hash-agg argmin): ~1 s execution + 4 shuffles + ~1 s plan-build.
    - Fully-scalar codegen (unpack to element columns, expand the
      distances to multiply-adds): the 128-argmin projection exceeds
      the JVM's 64 KB method limit, Janino fails, and the whole stage
      falls back to interpreted eval — slower AND noisy. Rejected.
    - This form: ~1.4 s execution (interpreted HOF folds cost ~5 µs
      each; m·k per row), zero shuffle, no codegen fallback. SQL
      strings (selectExpr), not per-coordinate F.lit/F.array Columns,
      which cost O(m·k·dim) py4j round-trips at plan-BUILD time (the
      _nearest_centroids lesson).

    Output: (cand_id, codes array<int>), code i for subspace i — the
    32×-smaller scan unit for ADC.
    """
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    dim = m * sub_dim
    # drop NULL / wrong-length vectors BEFORE encoding (the former
    # relational form dropped them implicitly via posexplode; without
    # this filter the fold's dist is NULL, the struct sort places NULL
    # dists first, and the row would enter the ADC shortlist with a
    # garbage code)
    df = df.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == F.lit(dim))
    )
    if vectorized:
        from pyspark.sql.functions import pandas_udf

        books = [[list(map(float, c)) for c in book] for book in codebooks]

        # no type hints on purpose: `from __future__ import annotations`
        # makes them strings this module can't resolve for pyspark's
        # hint inference
        def _codes(v):
            import numpy as np
            import pandas as pd

            if len(v) == 0:
                return pd.Series([], dtype="object")
            mat = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in v]
            )
            n_rows = mat.shape[0]
            # norm: left-to-right accumulation over the dim loop —
            # bit-parity with the JVM aggregate() fold
            ss = np.zeros(n_rows)
            for d in range(dim):
                col = mat[:, d]
                ss = ss + col * col
            nrm = np.maximum(np.sqrt(ss), 1e-12)
            nv = mat / nrm[:, None]
            out = np.empty((n_rows, m), dtype=np.int64)
            for s_i, book in enumerate(books):
                best_d = None
                best_c = None
                for code, cent in enumerate(book):
                    acc = np.zeros(n_rows)
                    for d in range(sub_dim):
                        diff = nv[:, s_i * sub_dim + d] - cent[d]
                        acc = acc + diff * diff
                    if code == 0:
                        best_d = acc
                        best_c = np.zeros(n_rows, dtype=np.int64)
                    else:
                        # strict <: exact ties keep the smaller code,
                        # matching the (dist, code) struct-sort argmin
                        better = acc < best_d
                        best_d = np.where(better, acc, best_d)
                        best_c = np.where(better, code, best_c)
                out[:, s_i] = best_c
            return pd.Series(list(out))

        codes_udf = pandas_udf(_codes, returnType="array<int>")
        return df.select(
            F.col("vec_id").alias("cand_id"),
            codes_udf(F.col("embedding")).alias("codes"),
        )
    # 1. unpack the array into scalar columns — getItem is codegen'd, so
    #    everything downstream stays plain (fusable) arithmetic. The
    #    interpreted-HOF fold form of this encode (aggregate/zip_with per
    #    (sub, code)) measured ~5 µs PER FOLD — 1.4 s on the 2000-row
    #    fixture; this scalar form runs the same math inside whole-stage
    #    codegen.
    sub_exprs = []
    for s, book in enumerate(codebooks):
        cands = []
        for code, c in enumerate(book):
            vals = ",".join(f"{float(x)!r}D" for x in c)
            # slice() is 1-based; _nv is the pre-normalized vector column
            cands.append(
                f"struct(aggregate(zip_with(slice(_nv, {s * sub_dim + 1},"
                f" {sub_dim}), array({vals}), (x, y) -> (x - y) * (x - y)),"
                f" 0.0D, (acc, x) -> acc + x) AS dist, {code} AS code)"
            )
        # deterministic argmin: (dist, code) struct sort breaks dist ties
        sub_exprs.append(f"sort_array(array({','.join(cands)}))[0].code")
    # The norm is projected as its OWN column first: a norm subtree
    # inside the transform lambda body is re-evaluated per vector
    # ELEMENT (no loop-invariant hoisting in HOF eval) — O(dim²)
    # multiply-adds per row instead of O(dim).
    return (
        df.selectExpr(
            "vec_id AS cand_id",
            "embedding AS _v",
            "greatest(sqrt(aggregate(transform(embedding,"
            f" v -> CAST(v AS DOUBLE) * v), 0.0D, (acc, x) -> acc + x)),"
            " 1e-12D) AS _norm",
        )
        .selectExpr(
            "cand_id", "transform(_v, x -> CAST(x AS DOUBLE) / _norm) AS _nv"
        )
        .selectExpr("cand_id", f"array({','.join(sub_exprs)}) AS codes")
    )


def pq_topk(
    queries: DataFrame, corpus: DataFrame, dim: int, rerank: int = 50
) -> DataFrame:
    """Approximate top-10 cosine via PQ ADC scan (8 subspaces × 16
    codes) + exact re-rank.

    Output/determinism contract matches cosine_topk (6dp-rounded cosine,
    id tiebreak). The ADC prefilter ranks on the compressed codes only;
    the top ``rerank`` candidates per query are re-scored exactly.
    """
    from ecommerce_data_pipeline_spark.operators.similarity import (
        spread_for_fanout,
    )

    codebooks = train_pq_codebooks(corpus, dim=dim)
    m = len(codebooks)
    sub_dim = dim // m
    # the encode is a pure projection now — spread the scan first so the
    # per-row m×k distance folds parallelize (single-split fixture rule)
    encoded = pq_encode(
        spread_for_fanout(corpus.select("vec_id", "embedding")), codebooks
    )

    # Per-query ADC tables, computed driver-side over the collected query
    # matrix (small side by contract) and shipped as one literal per query:
    # dt[sub][code] = ||q_sub - centroid||².
    import numpy as np

    q_rows = queries.select("vec_id", "embedding").collect()
    adc_rows = []
    for r in q_rows:
        qv = np.asarray(list(map(float, r[1])))
        qv = qv / max(float(np.linalg.norm(qv)), 1e-12)
        dt = []
        for s, book in enumerate(codebooks):
            qs = qv[s * sub_dim : (s + 1) * sub_dim]
            dt.append(
                [float(((qs - np.asarray(c)) ** 2).sum()) for c in book]
            )
        adc_rows.append((r[0], r[1], dt))
    # derive the query_id field type from the caller's id column — a
    # hardcoded LONG would break (or silently coerce) string/int32 ids,
    # diverging from the generic contract of cosine_topk/ivf_topk
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    q_lit = queries.sparkSession.createDataFrame(
        adc_rows,
        StructType(
            [
                StructField("query_id", queries.schema["vec_id"].dataType),
                StructField("qv", ArrayType(DoubleType())),
                StructField("dt", ArrayType(ArrayType(DoubleType()))),
            ]
        ),
    )

    # ADC distance: m table lookups + sum, evaluated against the codes
    # column only — the original vectors are not touched until re-rank.
    adc = None
    for s in range(m):
        term = F.col("dt").getItem(s).getItem(F.col("codes").getItem(s))
        adc = term if adc is None else adc + term
    scored = (
        encoded.join(F.broadcast(q_lit), F.col("cand_id") != F.col("query_id"))
        .withColumn("adc", adc)
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("cand_id"))
    shortlist = scored.withColumn("adc_rnk", F.row_number().over(w_adc)).filter(
        F.col("adc_rnk") <= rerank
    )
    # re-rank fetches the original vectors ONLY for the shortlist
    # (queries × rerank rows), never for the full corpus
    cv = corpus.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    exact = cv.join(
        F.broadcast(shortlist.select("query_id", "qv", "cand_id")), "cand_id"
    ).select(
        "query_id",
        "cand_id",
        F.round(cosine_similarity("qv", "cv"), 6).alias("cosine"),
    )
    from ecommerce_data_pipeline_spark.operators.similarity import rank_topk

    return rank_topk(exact, 10)
