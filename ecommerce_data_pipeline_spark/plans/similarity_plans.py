"""Dedup + similarity-search queries (SURVEY.md §2.11 extension tier).

The exact variants (n-gram Jaccard, brute-force cosine) carry DuckDB
oracles; the LSH-accelerated variants (MinHash banding, SimHash, bucketed
ANN) are engine-specific (xxhash64 signatures) so they register
oracle=None → rows-only driver check, but tests/test_similarity.py pins
them against the exact variants (recall checks), which is stronger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)
from ecommerce_data_pipeline_spark.operators.similarity import (
    jaccard_pairs,
    minhash_lsh_neardup,
    simhash_neardup,
    simhash_table,
)
from ecommerce_data_pipeline_spark.plans import similarity_ann as _ann
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.plans.similarity_ann import _JL_K, _JL_SIGNS
from ecommerce_data_pipeline_spark.sources.readers import load_table

_SQL_TOKENS = "string_split_regex(lower(text), '[^a-z0-9]+')"

# Document-frequency cap for every shared-shingle pair join (and its
# oracle twin). A shingle appearing in d documents yields d²/2 self-join
# rows, so an uncapped hot shingle (boilerplate 3-gram) is quadratic at
# corpus scale; capping df bounds per-shingle fan-out at MAX_SHINGLE_DF²/2
# for one extra linear hash-aggregate. 64 ≈ 13% of the sf0.01 corpus and
# ~1% of sf0.1 — at real corpus scale the guidance is ~1e-4 × corpus size
# (see operators/similarity.py::jaccard_pairs).
MAX_SHINGLE_DF = 64

# Shared oracle CTE prefix: tokenized docs → distinct 3-gram shingles →
# df-capped shingle relation → per-doc capped set sizes. Mirrors
# df_capped_shingles exactly.
_SQL_SHINGLES_CAPPED = f"""
    tok AS (SELECT doc_id, list_filter({_SQL_TOKENS}, t -> t <> '') AS ts FROM documents),
    sh_all AS (SELECT doc_id,
                      unnest(list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                            for i in generate_series(1, len(ts)-2)])) AS s
               FROM tok),
    sh AS (SELECT sh_all.doc_id, sh_all.s FROM sh_all
           JOIN (SELECT s FROM sh_all GROUP BY s
                 HAVING count(*) <= {MAX_SHINGLE_DF}) ok USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)"""

# Exact-Jaccard near-dup pairs (id1 < id2, J >= 0.8) over the capped
# shingles — the oracle twin of jaccard_pairs(threshold=0.8,
# max_df=MAX_SHINGLE_DF), shared by the cluster-assignment oracles.
_SQL_EXACT_PAIRS = """
    cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    pairs AS (SELECT id1, id2
              FROM cand
              JOIN sizes sa ON cand.id1 = sa.doc_id
              JOIN sizes sb ON cand.id2 = sb.doc_id
              WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8)"""

# The exact-Jaccard pair relation in jaccard_pairs' output contract
# (id1 < id2, common, n1, n2, jaccard; J >= 0.8) over whichever ``sh`` /
# ``sizes`` CTEs precede it — the oracle of the four exact-pair queries.
_SQL_JACCARD_PAIRS = """
    pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id1, id2, common,
           CAST(sa.n AS BIGINT) AS n1, CAST(sb.n AS BIGINT) AS n2,
           common * 1.0 / (sa.n + sb.n - common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.id1 = sa.doc_id
    JOIN sizes sb ON p.id2 = sb.doc_id
    WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8"""

# Connected components of ``pairs`` as a recursive-CTE transitive
# closure: label(n) = min reachable node id — the SQL twin of
# operators/graph.py::connected_components (same fixpoint). Needs
# WITH RECURSIVE.
_SQL_CC_LABELS = """
    edges AS (SELECT id1 AS u, id2 AS v FROM pairs
              UNION SELECT id2, id1 FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (SELECT u AS node, least(u, min(v)) AS label
               FROM reach GROUP BY u)"""

# UNCAPPED shingle CTE — only for minhash_recall_vs_exact, whose contract
# is equality with the full exact-Jaccard relation (the LSH verify step
# runs on full shingle sets).
_SQL_SHINGLES_EXACT = f"""
    tok AS (SELECT doc_id, list_filter({_SQL_TOKENS}, t -> t <> '') AS ts FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                        for i in generate_series(1, len(ts)-2)])) AS s
           FROM tok),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)"""


@register(
    "ngram_jaccard_neardup",
    oracle=f"""
    WITH {_SQL_SHINGLES_CAPPED},{_SQL_JACCARD_PAIRS}
    """,
    tags=("extension", "dedup"),
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.8) over
    df-capped shingles (df ≤ MAX_SHINGLE_DF).

    The ground-truth variant: explode shingles → df-cap → self-join →
    count. The cap bounds the self-join's per-shingle fan-out (the
    uncapped form is quadratic on a hot shingle — the r3 scale flag);
    the LSH variant below remains the 100 TB discovery path."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, threshold=0.8, max_df=MAX_SHINGLE_DF)


@register(
    "prefix_filter_jaccard_join",
    # The oracle is the UNCAPPED exact-Jaccard pair relation — prefix
    # filtering is an exact algorithm (recall 1 by the AllPairs prefix
    # theorem), so its output must EQUAL the naive self-join's, unlike
    # the df-capped variant (changed semantics) or LSH (miss probability).
    oracle=f"""
    WITH {_SQL_SHINGLES_EXACT},{_SQL_JACCARD_PAIRS}
    """,
    tags=("extension", "dedup"),
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.8 near-dup pairs via PREFIX FILTERING
    (AllPairs/PPJoin): shingles ranked by ascending global df, candidate
    join restricted to each doc's first |S|−⌈0.8|S|⌉+1 shingles, exact
    verify after. The third point of the dedup design space — exact AND
    scale-bounded (hot shingles sort out of every prefix), vs the
    df-capped exact join (changed semantics) and MinHash-LSH
    (~1e-6 miss). Oracle: the uncapped naive self-join."""
    from ecommerce_data_pipeline_spark.operators.similarity import (
        prefix_filter_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Cleanup note: a registered plan is one-shot and must return a LAZY
    # DataFrame — it cannot unpersist the operator's caches without
    # losing them DURING execution — so repeated-execution harnesses own
    # the cleanup (bench.py clears the session cache before every
    # execution; Spark's LRU eviction bounds a single run).
    return prefix_filter_jaccard_pairs(docs, threshold_num=4)


@register(
    "dedup_clusters",
    # DuckDB replays the iterative label propagation as a recursive-CTE
    # transitive closure over the SAME exact-jaccard pair relation:
    # label(n) = min reachable node id — identical fixpoint, so the
    # cluster assignment is fully oracle-checked despite the Spark side
    # being an iterative (non-single-SQL) algorithm.
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES_CAPPED},{_SQL_EXACT_PAIRS},{_SQL_CC_LABELS}
    SELECT d.doc_id,
           CAST(coalesce(l.label, d.doc_id) AS BIGINT) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY coalesce(l.label, d.doc_id)) AS BIGINT)
             AS cluster_size
    FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
    """,
    tags=("extension", "dedup", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment: exact-jaccard near-dup pairs →
    connected components (iterative min-label propagation,
    operators/graph.py) → every doc labeled with its component's min
    doc_id + cluster size. ``doc_id = cluster_id`` is the canonical
    keep-one-per-cluster dedup filter — pairs alone can't express it
    (a~b~c must collapse to ONE survivor even though (a,c) is no pair)."""
    from ecommerce_data_pipeline_spark.operators.graph import (
        dedup_cluster_assignment,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.8, max_df=MAX_SHINGLE_DF).select(
        "id1", "id2"
    )
    return dedup_cluster_assignment(docs, pairs)


@register(
    "minhash_lsh_neardup",
    oracle=None,  # xxhash64 signatures are engine-specific; tests pin
    # this against ngram_jaccard_neardup (exact recall check)
    tags=("extension", "dedup", "lsh"),
)
def minhash_lsh_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) candidates, verified with exact
    Jaccard ≥ 0.8 — the scale path: shuffle volume O(docs·bands), never
    all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_neardup(docs)


@register(
    "minhash_recall_vs_exact",
    # The oracle is the UNCAPPED exact-Jaccard pair relation: the LSH
    # path's verified output must EQUAL it (banding miss probability at
    # j≥0.8 with b=8,r=2 is <2e-6 — see minhash_lsh_neardup). A missed
    # pair shows up as a driver hash mismatch, so this row certifies the
    # MinHash+LSH family's recall, not just its row count.
    oracle=f"""
    WITH {_SQL_SHINGLES_EXACT},{_SQL_JACCARD_PAIRS}
    """,
    tags=("extension", "dedup", "lsh"),
)
def minhash_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs graded against the EXACT relation.

    `minhash_lsh_neardup` itself is rows-only (xxhash64 signatures are
    engine-specific), but its exact-verified OUTPUT is engine-neutral:
    candidates that survive the exact-Jaccard verify step are precisely
    the true pairs, minus any pair all 8 bands missed. Registering the
    LSH path against the exact-pairs oracle turns the local recall
    pytest into a driver-certified hash match."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_neardup(docs)


@register(
    "simhash_signatures",
    oracle=None,  # xxhash64-based signature, engine-specific
    tags=("extension", "dedup", "simhash"),
)
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash (bitwise majority over shingle hashes) +
    near-dup pairs at Hamming ≤ 7 found via byte-band pigeonholing."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash_table(docs).withColumnsRenamed({"id": "doc_id", "sig": "simhash"})
    pairs = simhash_neardup(docs, max_hamming=3)
    # publish signatures joined with each doc's near-dup degree
    deg = (
        pairs.select(F.col("id1").alias("doc_id"))
        .unionByName(pairs.select(F.col("id2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_neardups"))
    )
    return sigs.join(deg, "doc_id", "left").fillna(0, ["n_neardups"])


# Exact brute-force cosine top-10 for query vectors vec_id < 8 — the
# oracle for embedding_cosine_topk AND the three ANN recall certificates
# (each ANN family at its exhaustive setting must reproduce this relation
# bit-for-bit).
_SQL_EXACT_COSINE_TOPK = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT q.query_id, c.cand_id,
             round(list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))),
                   6) AS cosine
      FROM c CROSS JOIN q
      WHERE c.cand_id <> q.query_id
    )
    SELECT query_id, cand_id, cosine, rnk FROM (
      SELECT query_id, cand_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """


embedding_cosine_topk = register(
    "embedding_cosine_topk",
    oracle=_SQL_EXACT_COSINE_TOPK,
    tags=("extension", "similarity"),
)(_ann.embedding_cosine_topk)


embedding_lsh_topk = register(
    "embedding_lsh_topk",
    oracle=None,  # approximate: bucket contents are scheme-specific;
    # tests measure recall against embedding_cosine_topk
    tags=("extension", "similarity", "lsh"),
)(_ann.embedding_lsh_topk)


lsh_recall_vs_exact = register(
    "lsh_recall_vs_exact",
    # Certificate row for the hyperplane-LSH family: at the EXHAUSTIVE
    # probe setting (probe_hamming = planes → every bucket probed) the
    # approximate pipeline must reproduce the exact brute-force top-k
    # relation bit-for-bit. Recall is 1.0 by construction IF the
    # implementation is right — any bucketing, probe-mask, scoring, or
    # tiebreak bug (e.g. r4's probe_hamming≥2 silently delivering H≤1)
    # breaks the driver hash. Production-parameter recall (H≤1) is pinned
    # by tests/test_similarity.py::test_lsh_ann_recall_vs_bruteforce.
    oracle=_SQL_EXACT_COSINE_TOPK,
    tags=("extension", "similarity", "lsh", "certificate"),
)(_ann.lsh_recall_vs_exact)


ivf_recall_vs_exact = register(
    "ivf_recall_vs_exact",
    # Certificate row for the IVF family: probing ALL inverted lists
    # (nprobe = n_centroids) must equal brute-force top-k. Exercises
    # k-means training, centroid assignment, probe explode, and the
    # rank/tiebreak contract end-to-end against an engine-neutral oracle.
    # Production-parameter recall (nprobe=4/16) is pinned by
    # tests/test_similarity.py::test_ivf_recall_vs_bruteforce.
    oracle=_SQL_EXACT_COSINE_TOPK,
    tags=("extension", "similarity", "ivf", "certificate"),
)(_ann.ivf_recall_vs_exact)


pq_recall_vs_exact = register(
    "pq_recall_vs_exact",
    # Certificate row for the PQ family: with the re-rank shortlist
    # covering the whole corpus, ADC ordering can exclude nothing and the
    # exact re-rank must reproduce brute-force top-k. Exercises codebook
    # training, the zero-shuffle projection encode, ADC lookup, and
    # re-rank against an engine-neutral oracle. Production-parameter
    # recall (rerank=50) is pinned by
    # tests/test_similarity.py::test_pq_recall_and_determinism.
    oracle=_SQL_EXACT_COSINE_TOPK,
    tags=("extension", "similarity", "pq", "certificate"),
)(_ann.pq_recall_vs_exact)


@register(
    "simhash_recall_certificate",
    # SimHash cannot carry an equality certificate: unlike MinHash-LSH
    # (miss prob < 2e-6 at j≥0.8), a true near-dup pair CAN legitimately
    # land > 7 signature bits apart (measured: 1 of 256 exact pairs at
    # sf0.1 shares no byte-band at all). What IS exact at every scale is
    # the pigeonhole theorem behind the banding: two 64-bit signatures
    # within Hamming distance ≤ 7 MUST agree on ≥ 1 of the 8 byte-bands,
    # so every exact-Jaccard pair whose signatures are ≤ 7 apart must be
    # emitted by simhash_neardup. This row certifies that theorem-backed
    # recall (n_pigeonhole_misses = 0 — r4's shared-sentinel bug was
    # exactly the class of defect this catches) alongside the
    # oracle-computed exact-pair count, so the row is non-trivial: the
    # shingle/Jaccard pipeline must agree cross-engine on n_exact_pairs.
    oracle=f"""
    WITH {_SQL_SHINGLES_EXACT},
    pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    exact AS (SELECT id1, id2
              FROM pairs p
              JOIN sizes sa ON p.id1 = sa.doc_id
              JOIN sizes sb ON p.id2 = sb.doc_id
              WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8)
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           CAST(0 AS BIGINT) AS n_pigeonhole_misses
    FROM exact
    """,
    tags=("extension", "dedup", "simhash", "certificate"),
)
def simhash_recall_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding recall certificate: count exact-Jaccard(≥0.8)
    pairs, and assert zero of those within signature-Hamming ≤ 7 are
    missed by the byte-band candidate generation (pigeonhole: ≤7 bit
    flips cannot dirty all 8 bands). Pairs where a side has no signature
    (< 3 tokens → no shingles) carry no Hamming evidence and are outside
    the claim — they are equally invisible to any simhash pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    exact = jaccard_pairs(docs, threshold=0.8).select("id1", "id2")
    sigs = simhash_table(docs)
    s1 = sigs.select(F.col("id").alias("id1"), F.col("sig").alias("s1"))
    s2 = sigs.select(F.col("id").alias("id2"), F.col("sig").alias("s2"))
    covered = (
        exact.join(s1, "id1")
        .join(s2, "id2")
        .filter(F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))) <= 7)
        .select("id1", "id2")
    )
    found = simhash_neardup(docs, max_hamming=7).select("id1", "id2")
    misses = covered.join(found, ["id1", "id2"], "left_anti")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_missed = misses.agg(F.count(F.lit(1)).alias("n_pigeonhole_misses"))
    # two 1-row aggregates — the broadcast crossJoin is metadata-sized
    return n_exact.crossJoin(n_missed)


embedding_cosine_neardup = register(
    "embedding_cosine_neardup",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                6) >= 0.35
    """,
    tags=("extension", "dedup", "similarity"),
)(_ann.embedding_cosine_neardup)


@register(
    "multimodal_features",
    # The fixture text is pure ASCII (verified: octet_length == length for
    # all rows), so DuckDB can replay the stubbed byte-level decode with
    # ord(substring(...)) per position — the mapInPandas path becomes
    # fully oracle-checked, not rows-only.
    oracle="""
    WITH b AS (
      SELECT doc_id, ord(substring(text, CAST(i AS INT), 1)) AS byte
      FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
    ),
    h AS (
      SELECT doc_id, byte // 16 AS bucket, count(*) AS c
      FROM b GROUP BY doc_id, byte // 16
    ),
    full_h AS (
      SELECT d.doc_id,
             array_to_string(list(coalesce(h.c, 0) ORDER BY g.bucket), ',')
               AS byte_histogram
      FROM documents d
      CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) g
      LEFT JOIN h ON h.doc_id = d.doc_id AND h.bucket = g.bucket
      GROUP BY d.doc_id
    ),
    s AS (SELECT doc_id, sum(byte) AS total, count(*) AS n FROM b GROUP BY doc_id)
    SELECT d.doc_id AS media_id,
           CAST(length(d.text) AS BIGINT) AS n_bytes,
           CAST(s.total AS DOUBLE) / s.n AS byte_mean,
           f.byte_histogram,
           CAST(16 + ord(substring(d.text, 1, 1)) % 64 AS INT) AS width,
           CAST(16 + ord(substring(d.text, length(d.text), 1)) % 64 AS INT)
             AS height
    FROM documents d
    JOIN full_h f USING (doc_id) JOIN s USING (doc_id)
    """,
    tags=("extension", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents → binary payload table
    (opaque media + typed metadata) → Arrow-batched mapInPandas feature
    extraction (decode step stubbed, see operators/multimodal.py). The
    histogram array is CSV-serialized in the public projection so the
    output is scalar-only (driver canonicalizer contract)."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "byte_mean",
        F.concat_ws(
            ",", F.transform("byte_histogram", lambda x: x.cast("string"))
        ).alias("byte_histogram"),
        "width",
        "height",
    )


embedding_ivf_topk = register(
    "embedding_ivf_topk",
    oracle=None,  # approximate (coarse-quantizer probing); tests measure
    # recall against embedding_cosine_topk
    tags=("extension", "similarity", "ivf"),
)(_ann.embedding_ivf_topk)


embedding_pq_topk = register(
    "embedding_pq_topk",
    oracle=None,  # approximate (compressed-code ADC prefilter); tests
    # measure recall against embedding_cosine_topk
    tags=("extension", "similarity", "pq"),
)(_ann.embedding_pq_topk)


@register(
    "clean_corpus_pipeline",
    # End-to-end training-corpus cleaning, fully oracle-checked: the
    # recursive CTE replays the connected-components fixpoint, then the
    # same filter → keep-min-per-cluster → per-source rollup.
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES_CAPPED},{_SQL_EXACT_PAIRS},{_SQL_CC_LABELS},
    filtered AS (
      SELECT d.doc_id, d.source,
             coalesce(l.label, d.doc_id) AS cluster_id,
             len(t.ts) AS n_tokens
      FROM documents d
      JOIN tok t USING (doc_id)
      LEFT JOIN labels l ON d.doc_id = l.node
      WHERE d.lang = 'en' AND len(t.ts) BETWEEN 10 AND 1000
    ),
    kept AS (
      SELECT *, min(doc_id) OVER (PARTITION BY cluster_id) AS keeper
      FROM filtered
    )
    SELECT source,
           CAST(COUNT(*) FILTER (doc_id = keeper) AS BIGINT) AS docs_kept,
           CAST(COUNT(*) FILTER (doc_id <> keeper) AS BIGINT) AS docs_dropped_neardup,
           CAST(SUM(n_tokens) FILTER (doc_id = keeper) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source
    """,
    tags=("extension", "dedup", "pipeline"),
)
def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data cleaning pass as ONE composed plan:
    language filter → token-length bounds → near-dup cluster keep-one
    (connected components over exact-jaccard pairs, min-id survivor) →
    per-source yield report (docs kept/dropped, tokens kept).

    Composition notes at scale: clusters are computed over the FULL
    corpus (pair discovery must see cross-language/any-length dups),
    filters apply before the survivor choice, and the survivor is the
    min doc id among FILTERED members — all window/join algebra, no
    driver data paths beyond the CC change counter."""
    from ecommerce_data_pipeline_spark.operators.graph import (
        dedup_cluster_assignment,
    )
    from ecommerce_data_pipeline_spark.operators.text import token_count
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.8, max_df=MAX_SHINGLE_DF).select(
        "id1", "id2"
    )
    clusters = dedup_cluster_assignment(docs, pairs).select(
        "doc_id", "cluster_id"
    )
    filtered = (
        docs.filter(F.col("lang") == "en")
        .select("doc_id", "source", token_count("text").alias("n_tokens"))
        .filter(F.col("n_tokens").between(10, 1000))
        .join(clusters, "doc_id")
    )
    w = Window.partitionBy("cluster_id")
    kept = filtered.withColumn("keeper", F.min("doc_id").over(w))
    is_keeper = F.col("doc_id") == F.col("keeper")
    return kept.groupBy("source").agg(
        F.sum(F.when(is_keeper, 1).otherwise(0)).cast("bigint").alias("docs_kept"),
        F.sum(F.when(is_keeper, 0).otherwise(1))
        .cast("bigint")
        .alias("docs_dropped_neardup"),
        F.sum(F.when(is_keeper, F.col("n_tokens")))
        .cast("bigint")
        .alias("tokens_kept"),
    )


embedding_label_centroids = register(
    "embedding_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, CAST(i AS INT) - 1 AS pos,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    m AS (SELECT label, pos, avg(val) AS m FROM ex GROUP BY label, pos)
    SELECT label,
           array_to_string(list(printf('%.6f', round(m, 6)) ORDER BY pos), ',')
             AS centroid,
           CAST(count(*) AS BIGINT) AS dim
    FROM m GROUP BY label
    """,
    tags=("extension", "similarity", "vector-agg"),
)(_ann.embedding_label_centroids)


embedding_standardize_by_label = register(
    "embedding_standardize_by_label",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, CAST(i AS INT) - 1 AS pos,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    stats AS (
      SELECT label, pos, avg(val) AS m, stddev_pop(val) AS sd
      FROM ex GROUP BY label, pos
    ),
    z AS (
      SELECT e.vec_id, e.label, e.pos,
             CASE WHEN s.sd > 0 THEN (e.val - s.m) / s.sd ELSE 0.0 END AS zv
      FROM ex e JOIN stats s ON e.label = s.label AND e.pos = s.pos
    )
    SELECT vec_id, label,
           array_to_string(list(printf('%.6f', round(zv, 6)) ORDER BY pos), ',')
             AS z_embedding
    FROM z GROUP BY vec_id, label
    """,
    tags=("extension", "similarity", "vector-agg"),
)(_ann.embedding_standardize_by_label)


@register(
    "incremental_neardup_delta",
    oracle=None,  # xxhash64 banding is engine-specific; pinned against
    # the full-corpus run in tests/test_similarity.py (exact equality on
    # the delta-touching pair set)
    tags=("extension", "dedup", "incremental"),
)
def incremental_neardup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus growth: docs with doc_id % 7 == 0 arrive as a
    delta batch against the rest (whose MinHash signature store is
    already persisted from 'yesterday'). Emits only the near-dup pairs
    the delta introduces — banding cost O(delta·bands), base text
    touched only for exact-verify candidates
    (operators/similarity.py::incremental_neardup)."""
    from ecommerce_data_pipeline_spark.operators.similarity import (
        incremental_neardup,
        signature_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 7 != 0)
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    base_sigs = signature_store(base)
    return incremental_neardup(base_sigs, base, delta)


@register(
    "incremental_recall_vs_exact",
    # Same certificate pattern as minhash_recall_vs_exact, applied to the
    # INCREMENTAL path: the delta-batch run must reproduce the exact
    # Jaccard≥0.8 relation restricted to delta-touching pairs (banding
    # miss probability <2e-6 at b=8,r=2). This grades the two properties
    # the incremental contract promises — no pair the delta introduces is
    # missed, and no base×base pair is re-emitted — as a driver hash row.
    oracle=f"""
    WITH {_SQL_SHINGLES_EXACT},{_SQL_JACCARD_PAIRS}
      AND (id1 % 7 = 0 OR id2 % 7 = 0)
    """,
    tags=("extension", "dedup", "incremental", "certificate"),
)
def incremental_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup graded against the exact delta-touching
    pair relation (see oracle comment). Same plan as
    ``incremental_neardup_delta`` — that entry stays rows-only for the
    raw signature store; this one converts its recall into hash-graded
    driver signal."""
    from ecommerce_data_pipeline_spark.operators.similarity import (
        incremental_neardup,
        signature_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 7 != 0)
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    base_sigs = signature_store(base)
    return incremental_neardup(base_sigs, base, delta)


@register(
    "text_containment_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLES_CAPPED},
    pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id1, id2, common,
           CAST(sa.n AS BIGINT) AS n1, CAST(sb.n AS BIGINT) AS n2,
           round(common * 1.0 / sa.n, 6) AS containment_1_in_2,
           round(common * 1.0 / sb.n, 6) AS containment_2_in_1
    FROM pairs p
    JOIN sizes sa ON p.id1 = sa.doc_id
    JOIN sizes sb ON p.id2 = sb.doc_id
    WHERE greatest(common * 1.0 / sa.n, common * 1.0 / sb.n) >= 0.9
    """,
    tags=("extension", "dedup", "containment"),
)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B|/|A| ≥ 0.9 in either
    direction — catches a document verbatim-included in a larger one
    (quotes, concatenated crawls, benchmark leakage), which symmetric
    Jaccard dilutes below any usable threshold as the size ratio grows.
    Same shared-shingle join shape as jaccard_pairs (shuffle keys on the
    shingle, never all-pairs, df-capped at MAX_SHINGLE_DF); only the
    normalization differs."""
    from ecommerce_data_pipeline_spark.operators.similarity import (
        df_capped_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = df_capped_shingles(docs, max_df=MAX_SHINGLE_DF).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        pairs.join(sizes.withColumnsRenamed({"id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"id": "id2", "n": "n2"}), "id2")
        .withColumn("containment_1_in_2", F.round(F.col("common") / F.col("n1"), 6))
        .withColumn("containment_2_in_1", F.round(F.col("common") / F.col("n2"), 6))
        .filter(
            F.greatest("containment_1_in_2", "containment_2_in_1") >= 0.9
        )
    )
    return out.select(
        "id1", "id2", "common",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        "containment_1_in_2", "containment_2_in_1",
    )


@register(
    "cross_lang_duplicate_leakage",
    oracle=f"""
    WITH {_SQL_SHINGLES_CAPPED},
    pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    neardup AS (
      SELECT id1, id2
      FROM pairs p
      JOIN sizes sa ON p.id1 = sa.doc_id
      JOIN sizes sb ON p.id2 = sb.doc_id
      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8
    )
    SELECT d1.lang AS lang1, d2.lang AS lang2,
           count(*) AS n_pairs,
           CAST(count(*) FILTER (d1.lang <> d2.lang) AS BIGINT)
             AS n_cross_lang
    FROM neardup n
    JOIN documents d1 ON n.id1 = d1.doc_id
    JOIN documents d2 ON n.id2 = d2.doc_id
    GROUP BY d1.lang, d2.lang
    """,
    tags=("extension", "dedup", "quality"),
)
def cross_lang_duplicate_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs bucketed by (lang1, lang2) — the audit that shows
    WHY dedup must run before language filtering: duplicates crossing a
    language label (mislabeled or translated boilerplate) would survive
    any per-language pipeline. Pair discovery is the exact-jaccard
    relation; the lang attribution is two broadcast joins against the
    doc metadata."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.8, max_df=MAX_SHINGLE_DF).select(
        "id1", "id2"
    )
    meta = docs.select("doc_id", "lang")
    return (
        pairs.join(
            F.broadcast(meta.withColumnsRenamed({"doc_id": "id1", "lang": "lang1"})),
            "id1",
        )
        .join(
            F.broadcast(meta.withColumnsRenamed({"doc_id": "id2", "lang": "lang2"})),
            "id2",
        )
        .groupBy("lang1", "lang2")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("lang1") != F.col("lang2")).cast("long")).alias(
                "n_cross_lang"
            ),
        )
    )


embedding_norm_outliers = register(
    "embedding_norm_outliers",
    oracle="""
    WITH n AS (
      SELECT vec_id, label,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
      FROM embeddings
    ),
    stats AS (
      SELECT label, avg(norm) AS mu, stddev_pop(norm) AS sigma
      FROM n GROUP BY label
    )
    SELECT n.vec_id, n.label,
           round(n.norm, 6) AS norm,
           round((n.norm - s.mu) / s.sigma, 6) AS zscore,
           abs(n.norm - s.mu) > 2 * s.sigma AS is_outlier
    FROM n JOIN stats s ON n.label = s.label
    """,
    tags=("extension", "similarity", "anomaly"),
)(_ann.embedding_norm_outliers)


embedding_covariance_top_pairs = register(
    "embedding_covariance_top_pairs",
    oracle="""
    WITH ex AS (
      SELECT vec_id, CAST(i AS INT) - 1 AS pos,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    stats AS (
      SELECT a.pos AS pos_i, b.pos AS pos_j,
             round(covar_pop(a.val, b.val), 6) AS cov,
             round(corr(a.val, b.val), 4) AS corr
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos < b.pos
      GROUP BY a.pos, b.pos
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY abs(cov) DESC, pos_i, pos_j)
               AS rnk
      FROM stats
    )
    SELECT pos_i, pos_j, cov, corr, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 25
    """,
    tags=("extension", "similarity", "vector-agg"),
)(_ann.embedding_covariance_top_pairs)


embedding_filtered_topk = register(
    "embedding_filtered_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS cand_id, label, embedding::DOUBLE[] AS cv
          FROM embeddings),
    scored AS (
      SELECT q.query_id, c.cand_id,
             round(list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cosine
      FROM c JOIN q ON c.label = q.qlabel AND c.cand_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, cand_id) AS rnk
      FROM scored
    )
    SELECT query_id, cand_id, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 10
    """,
    tags=("extension", "similarity", "ann"),
)(_ann.embedding_filtered_topk)


embedding_quantize_int8 = register(
    "embedding_quantize_int8",
    oracle="""
    WITH ex AS (
      SELECT vec_id, CAST(i AS INT) - 1 AS pos,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    rng AS (
      SELECT pos, min(val) AS vmin, max(val) AS vmax,
             greatest((max(val) - min(val)) / 255.0, 1e-12) AS scale
      FROM ex GROUP BY pos
    ),
    err AS (
      SELECT ex.pos,
             abs(ex.val - (rng.vmin + round((ex.val - rng.vmin) / rng.scale)
                                       * rng.scale)) AS aerr
      FROM ex JOIN rng USING (pos)
    )
    SELECT err.pos,
           round(r.vmin, 6) AS vmin,
           round(r.vmax, 6) AS vmax,
           round(r.scale, 9) AS scale,
           round(avg(err.aerr), 9) AS avg_abs_err,
           round(max(err.aerr), 9) AS max_abs_err
    FROM err JOIN rng r USING (pos)
    GROUP BY err.pos, r.vmin, r.vmax, r.scale
    """,
    tags=("extension", "similarity", "compression"),
)(_ann.embedding_quantize_int8)


@register(
    "dedup_yield_curve",
    oracle=f"""
    WITH {_SQL_SHINGLES_CAPPED},
    cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    pairs AS (SELECT id1, id2,
                     common * 1.0 / (sa.n + sb.n - common) AS jaccard
              FROM cand
              JOIN sizes sa ON cand.id1 = sa.doc_id
              JOIN sizes sb ON cand.id2 = sb.doc_id
              WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.70),
    th AS (SELECT 0.70 + 0.05 * g AS threshold
           FROM generate_series(0, 5) AS t(g))
    SELECT CAST(round(th.threshold, 2) AS DOUBLE) AS threshold,
           CAST(count(p.id1) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.id2) AS BIGINT) AS n_docs_droppable
    FROM th LEFT JOIN pairs p ON p.jaccard >= th.threshold
    GROUP BY th.threshold
    """,
    tags=("extension", "dedup", "tuning"),
)
def dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup THRESHOLD sweep in one pass: for jaccard thresholds
    0.70–0.95 (step 0.05), how many pairs fire and how many documents
    become droppable (distinct higher-id member — the keep-min-id
    greedy). The tuning curve a curator reads before committing to a
    dedup threshold: the knee separates true duplicates from the
    near-miss cloud.

    One df-capped pair materialization (jaccard ≥ the loosest threshold)
    serves every point on the curve — the sweep is a 6-row broadcast
    range join over the already-tiny pair relation, so exploring 6
    thresholds costs the same shuffle work as scoring one."""
    from pyspark.sql.functions import broadcast

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, threshold=0.70, max_df=MAX_SHINGLE_DF
    ).select("id1", "id2", "jaccard")
    th = spark.range(6).select(
        F.round(0.70 + 0.05 * F.col("id"), 2).alias("threshold")
    )
    return (
        broadcast(th)
        .join(pairs, pairs["jaccard"] >= th["threshold"], "left")
        .groupBy("threshold")
        .agg(
            F.count("id1").alias("n_pairs"),
            F.count_distinct("id2").alias("n_docs_droppable"),
        )
    )


# Sign-grid bucket shared by semantic_dedup_pairs and its oracle:
# bucket b = Σ 2^i · [e_i ≥ 0] over the first `bits` dimensions. DuckDB
# lists are 1-indexed, Spark arrays 0-indexed — same element, same sign
# test. The REGISTERED queries run at the module default (6 bits = 64
# orthants — right for the sf0.01/sf0.1 corpora and frozen into their
# static oracle strings); at scale, callers size the grid from the
# corpus via ``sign_grid_bits`` — each extra bit halves expected bucket
# population, keeping the within-bucket all-pairs join ~linear in N.
_SIGN_GRID_BITS = 6


def sign_grid_bits(
    n_vectors: int, target_bucket_rows: int = 1024, max_bits: int = 24
) -> int:
    """Choose the orthant-grid width from corpus size: bits ≈
    log2(N / target_bucket_rows), clamped to [_SIGN_GRID_BITS, max_bits].
    Expected within-bucket pair volume is then Σ C(n_b, 2) ≈ N · target/2
    — linear in N, not O(N²/2^bits) with a fixed grid. ``max_bits`` must not exceed the
    embedding dimension (sign bits beyond it don't exist); 24 covers
    any realistic embedding width."""
    import math

    if n_vectors <= target_bucket_rows:
        return _SIGN_GRID_BITS
    return max(
        _SIGN_GRID_BITS,
        min(max_bits, math.ceil(math.log2(n_vectors / target_bucket_rows))),
    )


def _sql_sign_bucket(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )


def _sign_bucket_col(bits: int, col: str = "embedding"):
    """The Spark twin of ``_sql_sign_bucket``: one codegen'd projection.

    NULL-safe per bit: an index past the array end contributes 0 (the
    same semantics the SQL twin's CASE gives a NULL comparison), so
    bits > dim degrades to an effective min(bits, dim)-bit grid instead
    of NULLing every bucket and silently emptying the pair join.
    ``F.get`` (not ``[]``): ANSI mode makes out-of-bounds indexing THROW,
    get() returns NULL, which the coalesce then folds to bit 0."""
    bucket = None
    for i in range(bits):
        bit = (
            F.coalesce(F.get(F.col(col), i) >= 0, F.lit(False)).cast("int")
            * (1 << i)
        )
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


_SQL_SIGN_BUCKET = _sql_sign_bucket(_SIGN_GRID_BITS)


def semantic_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    bits: int | None = None,
) -> DataFrame:
    """Sign-orthant-blocked exact-cosine near-dup pairs — the
    parameterized operator behind ``semantic_dedup_pairs``. ``bits=None``
    sizes the grid from the corpus row count (one cheap count job; at
    100 TB pass the catalog's row count instead). Returns
    (id1, id2, bucket, cosine) with id1 < id2 and cosine ≥ threshold."""
    from ecommerce_data_pipeline_spark.functions.vectors import (
        cosine_with_norms,
        l2_norm,
    )

    from ecommerce_data_pipeline_spark.operators.similarity import (
        spread_for_fanout,
    )

    if bits is None:
        # one tiny job for both sizing inputs; clamp the grid to the
        # embedding dimension — sign bits beyond it don't exist, and an
        # unclamped grid would (before the NULL-safe bucket fix) have
        # NULLed every bucket on narrow embeddings
        stats = emb.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size("embedding")).alias("dim"),
        ).first()
        bits = sign_grid_bits(
            stats["n"], max_bits=min(24, int(stats["dim"] or 24))
        )
    # norm once per VECTOR (interpreted HOF fold), not once per pair side;
    # the pair join below then runs a single fold per comparison. The
    # STREAM side is spread first (broadcast-join parallelism follows the
    # streamed side — see spread_for_fanout) so bucket/norm projection and
    # the per-pair scoring fold run across all cores.
    v = emb.select("vec_id", "embedding")
    a = (
        spread_for_fanout(
            v.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
        )
        .withColumn("bucket", _sign_bucket_col(bits, "e1"))
        .withColumn("n1", l2_norm("e1"))
    )
    b = v.select(
        F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"),
        _sign_bucket_col(bits, "e2").alias("bucket2"),
        l2_norm("e2").alias("n2"),
    )
    return (
        a.join(b, (F.col("bucket") == F.col("bucket2")) & (F.col("id1") < F.col("id2")))
        .select(
            "id1", "id2", "bucket",
            F.round(cosine_with_norms("e1", "e2", "n1", "n2"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


@register(
    "semantic_dedup_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {_SQL_SIGN_BUCKET} AS bucket
               FROM embeddings)
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           CAST(a.bucket AS INT) AS bucket,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6) AS cosine
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                6) >= 0.35
    """,
    tags=("extension", "dedup", "similarity"),
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs with DETERMINISTIC
    data-independent blocking: vectors agreeing on the sign of their
    first 6 dimensions (a 64-cell hypercube-orthant grid) are compared
    exactly; cross-bucket pairs are never materialized.

    Unlike ``embedding_cosine_neardup`` (label-blocked — needs metadata)
    this is the metadata-free scale path: the bucket is one codegen'd
    projection, the self-join shuffles both sides on the 6-bit key, and
    per-bucket fan-out is corpus/64 on average (add bits to subdivide —
    each extra sign bit halves expected bucket population, the same
    knob as LSH planes). Sign-agreement blocking is exact-oracle-able
    (unlike k-means cells): the recall contract is 'pairs within one
    orthant', which for near-duplicate vectors (cosine → 1) is almost
    always satisfied since a near-dup pair differs in few coordinates.

    The registered entry pins ``bits=_SIGN_GRID_BITS`` because its
    oracle string is frozen at registration; scale callers use
    ``semantic_neardup_pairs`` directly (bits=None → sized from corpus
    count, see ``sign_grid_bits``).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_neardup_pairs(emb, threshold=0.35, bits=_SIGN_GRID_BITS)


@register(
    "multimodal_chunk_dedup",
    # Payload bytes are the UTF-8 text (pure-ASCII fixture), so DuckDB
    # replays the binary chunk checksum as sha256 over the VARCHAR
    # prefix — same 64 bytes, same digest.
    oracle="""
    WITH chunks AS (
      SELECT doc_id, lower(sha256(substr(text, 1, 64))) AS chunk_sha
      FROM documents
    )
    SELECT chunk_sha,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS keeper_id,
           array_to_string(list_sort(list(doc_id)), ',') AS member_ids
    FROM chunks
    GROUP BY chunk_sha
    HAVING count(*) >= 2
    """,
    tags=("extension", "dedup", "multimodal"),
)
def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level binary dedup over the multimodal payload column: the
    first fixed-size chunk (64 bytes — a stand-in for a content-defined
    chunk boundary) is hashed and payloads sharing a chunk digest are
    grouped into keeper + members. This is the CDC/storage-dedup shape
    for 100 TB media lakes: hashing is a per-row projection, the only
    shuffle is the hash-keyed groupBy, and the digest (32 bytes) — not
    the payload — is what moves. Groups are serialized as a sorted CSV
    of ids (same convention as collect_set_agg) for engine-neutral
    hashing."""
    media = attach_binary_payload(load_table(spark, sf_dir, "documents"))
    chunk_sha = F.sha2(F.substring(F.col("payload"), 1, 64), 256)
    return (
        media.select(F.col("media_id").alias("doc_id"), chunk_sha.alias("chunk_sha"))
        .groupBy("chunk_sha")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_id"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
                "member_ids"
            ),
        )
        .filter(F.col("n_copies") >= 2)
    )


_HEX = "0123456789abcdef"
# 60-bit value of md5 digest column ``h`` as a digit polynomial (DuckDB
# has no conv(hex,16,10); value parity with Spark's conv — see
# plans/sketches.py::_poly_from_hex).
_SQL_H_POLY = " + ".join(
    f"(strpos('{_HEX}', substr(h, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
    for i in range(15)
)


@register(
    "leakage_safe_split",
    # Recursive-CTE transitive closure over the SAME capped exact-jaccard
    # pair relation as dedup_clusters, then the split is hashed from the
    # CLUSTER id (md5-poly, engine-portable) — every member of a near-dup
    # cluster lands in the same split by construction.
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES_CAPPED},{_SQL_EXACT_PAIRS},{_SQL_CC_LABELS},
    assigned AS (
      SELECT d.doc_id,
             CAST(coalesce(l.label, d.doc_id) AS BIGINT) AS cluster_id
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
    ),
    hashed AS (
      SELECT doc_id, cluster_id,
             md5('split#' || CAST(cluster_id AS VARCHAR)) AS h
      FROM assigned
    )
    SELECT doc_id, cluster_id,
           CAST(({_SQL_H_POLY}) % 100 AS BIGINT) AS bucket,
           CASE WHEN ({_SQL_H_POLY}) % 100 < 80 THEN 'train'
                WHEN ({_SQL_H_POLY}) % 100 < 90 THEN 'validation'
                ELSE 'test' END AS split
    FROM hashed
    """,
    tags=("extension", "dedup", "ml-prep"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation/test split that CANNOT leak near-duplicates
    across splits: documents are first clustered by near-dup connected
    components (capped exact-jaccard pairs → min-label propagation),
    then the 80/10/10 assignment hashes the CLUSTER id, so every member
    of a duplicate cluster — including transitive a~b~c chains where
    (a,c) is not itself a pair — moves as one unit. Hashing the doc id
    instead (hash_split_train_test) is the classic eval-contamination
    bug: a test document's near-twin trains the model.

    Scale: the split adds one per-row projection on top of the cluster
    assignment (itself banded/capped + iterative label propagation); no
    new shuffle — and the assignment is stable under incremental corpus
    growth as long as cluster min-ids persist (pair with
    incremental_neardup_delta's signature store at 100 TB)."""
    from ecommerce_data_pipeline_spark.operators.graph import (
        dedup_cluster_assignment,
    )
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.8, max_df=MAX_SHINGLE_DF).select(
        "id1", "id2"
    )
    assigned = dedup_cluster_assignment(docs, pairs).select("doc_id", "cluster_id")
    bucket = (_hash60(F.col("cluster_id"), "split#") % 100).alias("bucket")
    return assigned.select("doc_id", "cluster_id", bucket).select(
        "doc_id",
        "cluster_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.when(F.col("bucket") < 80, F.lit("train"))
        .when(F.col("bucket") < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


embedding_pca_project = register(
    "embedding_pca_project",
    oracle=None,  # eigh has no SQL twin; tests pin variance ordering,
    # orthonormality, centering, and layout-independence instead
    tags=("extension", "similarity", "hygiene"),
)(_ann.embedding_pca_project)


pca_variance_certificate = register(
    "pca_variance_certificate",
    # Certificate pattern (cf. sketch_error_certificate): eigh itself has
    # no SQL twin, but its INVARIANTS do. total_variance is computed by
    # BOTH engines from raw data (Spark per-dim var_pop sum vs DuckDB
    # unnest+var_pop sum — a cross-engine check of the whole
    # posexplode→covariance aggregation path), and the booleans assert
    # the eigendecomposition against that measured value: Σλ = trace,
    # λ nonincreasing, eigenvector rows orthonormal, and — the property
    # a user of PCA actually relies on — the projected corpus has
    # per-component variance λ_j and zero cross-component covariance.
    # Tolerances are ≥1e3× the observed float noise (~1e-12); any real
    # defect flips a boolean → driver hash mismatch.
    oracle="""
    SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
           (SELECT CAST(max(len(embedding)) AS INT) FROM embeddings) AS dim,
           round((SELECT sum(v) FROM (
                    SELECT var_pop(val) AS v FROM (
                      SELECT generate_subscripts(embedding, 1) AS i,
                             unnest(embedding) AS val
                      FROM embeddings) GROUP BY i)), 4) AS total_variance,
           TRUE AS trace_matches_total_var,
           TRUE AS eigvals_nonincreasing,
           TRUE AS components_orthonormal,
           TRUE AS projection_var_matches_eigvals,
           TRUE AS projections_decorrelated
    """,
    tags=("extension", "similarity", "hygiene", "certificate", "eager"),
)(_ann.pca_variance_certificate)


ivf_probe_recall_curve = register(
    "ivf_probe_recall_curve",
    oracle=None,  # k-means centroids are engine-specific; pytest pins
    # recall monotonicity in nprobe and the exact-at-full-probe limit
    tags=("extension", "similarity", "tuning"),
)(_ann.ivf_probe_recall_curve)


@register(
    "semantic_dedup_keeplist",
    # The recursive CTE replays the connected-components fixpoint over
    # the SAME sign-orthant cosine pair relation as semantic_dedup_pairs
    # — the embedding-space mirror of clean_corpus_pipeline's oracle.
    oracle=f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e, {_SQL_SIGN_BUCKET} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                  6) >= 0.35
    ),{_SQL_CC_LABELS}
    SELECT emb.vec_id,
           CAST(coalesce(l.label, emb.vec_id) AS BIGINT) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY coalesce(l.label, emb.vec_id)) AS BIGINT)
             AS cluster_size,
           (coalesce(l.label, emb.vec_id) = emb.vec_id) AS is_keeper
    FROM embeddings emb LEFT JOIN labels l ON emb.vec_id = l.node
    """,
    tags=("extension", "dedup", "similarity", "pipeline"),
)
def semantic_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end: sign-orthant-blocked cosine near-dup pairs →
    connected components → every vector labeled with its cluster and a
    keep/drop verdict (min-id survivor per semantic cluster). The
    embedding-space mirror of clean_corpus_pipeline, fully
    oracle-checked including the transitive a~b~c collapse that pairwise
    output alone cannot express. Scale shape: the pair relation is
    orthant-bounded (semantic_dedup_pairs), label propagation is
    iterative min-label with localCheckpoint rounds (operators/graph.py),
    and the final labeling is one broadcast-size join back."""
    from ecommerce_data_pipeline_spark.operators.graph import (
        dedup_cluster_assignment,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(spark, sf_dir).select("id1", "id2")
    assigned = dedup_cluster_assignment(
        emb, pairs, id_col="vec_id"
    ).withColumnsRenamed({"doc_id": "vec_id"})
    return assigned.select(
        "vec_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("cluster_id") == F.col("vec_id")).alias("is_keeper"),
    )


embedding_drift_by_label = register(
    "embedding_drift_by_label",
    oracle="""
    WITH ex AS (
      SELECT label, vec_id % 2 AS half, CAST(i AS INT) - 1 AS pos,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    m AS (SELECT label, half, pos, avg(val) AS m
          FROM ex GROUP BY label, half, pos),
    j AS (
      SELECT a.label, a.pos, a.m AS m0, b.m AS m1
      FROM m a JOIN m b ON a.label = b.label AND a.pos = b.pos
      WHERE a.half = 0 AND b.half = 1
    ),
    n AS (SELECT label,
                 count(DISTINCT vec_id) FILTER (vec_id % 2 = 0) AS n0,
                 count(DISTINCT vec_id) FILTER (vec_id % 2 = 1) AS n1
          FROM embeddings GROUP BY label)
    SELECT j.label,
           CAST(n.n0 AS BIGINT) AS n0, CAST(n.n1 AS BIGINT) AS n1,
           round(sqrt(sum((m0 - m1) * (m0 - m1))), 6) AS centroid_l2_drift,
           round(sum(m0 * m1)
                 / (sqrt(sum(m0 * m0)) * sqrt(sum(m1 * m1))), 6)
             AS centroid_cosine
    FROM j JOIN n ON j.label = n.label
    GROUP BY j.label, n.n0, n.n1
    """,
    tags=("extension", "similarity", "monitoring"),
)(_ann.embedding_drift_by_label)


embedding_hard_negatives = register(
    "embedding_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neg_id, label AS nlabel,
                 embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT q.query_id, c.neg_id, c.nlabel AS neg_label,
             round(list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))),
                   6) AS cosine
      FROM c JOIN q ON c.nlabel <> q.qlabel
    )
    SELECT query_id, neg_id, neg_label, cosine, rnk FROM (
      SELECT query_id, neg_id, neg_label, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neg_id) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
    tags=("extension", "similarity", "ml-prep"),
)(_ann.embedding_hard_negatives)


knn_label_vote = register(
    "knn_label_vote",
    # Deterministic end-to-end: the neighbor set follows the cosine_topk
    # contract (6dp rounding, id tiebreak) and the vote tie-break is
    # (votes desc, label asc), so both engines reproduce the exact same
    # predictions.
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                      label AS true_label
               FROM embeddings WHERE vec_id < 16),
    c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv,
                 label AS cand_label FROM embeddings),
    scored AS (
      SELECT q.query_id, c.cand_id, c.cand_label,
             round(list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cosine
      FROM c CROSS JOIN q WHERE c.cand_id <> q.query_id
    ),
    knn AS (SELECT query_id, cand_label FROM (
      SELECT query_id, cand_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, cand_id) AS rnk
      FROM scored) WHERE rnk <= 10),
    votes AS (SELECT query_id, cand_label, count(*) AS n_votes
              FROM knn GROUP BY 1, 2),
    pred AS (SELECT query_id, cand_label AS predicted_label, n_votes FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, cand_label) AS r
      FROM votes) WHERE r = 1)
    SELECT p.query_id, t.true_label, p.predicted_label,
           CAST(p.n_votes AS BIGINT) AS n_votes,
           (t.true_label = p.predicted_label) AS correct
    FROM pred p
    JOIN (SELECT vec_id AS query_id, label AS true_label
          FROM embeddings WHERE vec_id < 16) t USING (query_id)
    """,
    tags=("extension", "similarity", "classification"),
)(_ann.knn_label_vote)


mmr_diverse_topk = register(
    "mmr_diverse_topk",
    # Exact twin of the greedy MMR selection as a DuckDB RECURSIVE CTE
    # (precedent: semantic_dedup_keeplist's recursive-CTE fixpoint twin).
    # Cross-engine determinism: relevance and pairwise sims are both
    # 6dp-rounded with identical accumulation order, every argmax ties
    # on cand_id, and lambda = 0.5 keeps both weights EXACT doubles
    # (1 − 0.7 ≠ 0.3 in IEEE arithmetic — a 0.7/0.3 split would compute
    # different last-ulp scores in the two engines and could flip ties).
    oracle="""
    WITH RECURSIVE
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 16),
    c0 AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
           FROM embeddings),
    cand AS (
      SELECT query_id, cand_id, cv, rel FROM (
        SELECT q.query_id, c0.cand_id, c0.cv,
               round(list_dot_product(q.qv, c0.cv)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c0.cv, c0.cv))), 6) AS rel,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, c0.cv)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c0.cv, c0.cv))), 6) DESC,
                          c0.cand_id) AS rnk
        FROM c0 CROSS JOIN q WHERE c0.cand_id <> q.query_id) WHERE rnk <= 20),
    mmr AS (
      SELECT query_id, [cand_id] AS chosen, 1 AS step
      FROM (SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, cand_id) AS r
            FROM cand) WHERE r = 1
      UNION ALL
      SELECT m.query_id,
             list_append(m.chosen, (
               SELECT c.cand_id FROM cand c
               WHERE c.query_id = m.query_id
                 AND NOT list_contains(m.chosen, c.cand_id)
               ORDER BY 0.5 * c.rel - 0.5 * (
                   SELECT max(round(list_dot_product(c.cv, c2.cv)
                         / (sqrt(list_dot_product(c.cv, c.cv))
                            * sqrt(list_dot_product(c2.cv, c2.cv))), 6))
                   FROM cand c2
                   WHERE c2.query_id = m.query_id
                     AND list_contains(m.chosen, c2.cand_id)
                 ) DESC, c.cand_id
               LIMIT 1)),
             m.step + 1
      FROM mmr m WHERE m.step < 5
    )
    SELECT query_id, CAST(generate_subscripts(chosen, 1) AS INT) AS mmr_rank,
           unnest(chosen) AS cand_id
    FROM mmr WHERE step = 5
    """,
    tags=("extension", "similarity", "diversity", "grouped-map"),
)(_ann.mmr_diverse_topk)


# Truncated-dimension exact top-10 (cosine over the first d coordinates,
# same 6dp/id-tiebreak contract), joined against the full-dim top-10 —
# one UNION ALL branch per prefix width.
_SQL_MATRYOSHKA = " UNION ALL ".join(
    f"""
    SELECT {d} AS dims,
           CAST(count(*) AS BIGINT) AS matched,
           CAST((SELECT count(*) FROM full_topk) AS BIGINT) AS total
    FROM (
      SELECT query_id, cand_id FROM (
        SELECT q.query_id, c.cand_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv[1:{d}], c.cv[1:{d}])
                     / (sqrt(list_dot_product(q.qv[1:{d}], q.qv[1:{d}]))
                        * sqrt(list_dot_product(c.cv[1:{d}], c.cv[1:{d}]))), 6)
                   DESC, c.cand_id) AS rnk
        FROM c CROSS JOIN q WHERE c.cand_id <> q.query_id
      ) WHERE rnk <= 10
    ) t JOIN full_topk f USING (query_id, cand_id)
    """
    for d in (16, 32, 64)
)


matryoshka_recall_curve = register(
    "matryoshka_recall_curve",
    # Matryoshka-representation-learning eval (Kusupati et al. 2022):
    # how much of the exact top-10 survives truncating the embedding to
    # its first d coordinates — the measurement behind "can we serve
    # 16-dim vectors and rerank with 64". Both engines compute exact
    # truncated and full top-10 sets under the shared 6dp/id-tiebreak
    # contract; recall is a ratio of the same integers, so the double
    # divides identically.
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
          FROM embeddings),
    full_topk AS (
      SELECT query_id, cand_id FROM (
        SELECT q.query_id, c.cand_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, c.cv)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.cv, c.cv))), 6)
                   DESC, c.cand_id) AS rnk
        FROM c CROSS JOIN q WHERE c.cand_id <> q.query_id
      ) WHERE rnk <= 10
    )
    SELECT dims, matched, total,
           round(matched * 1.0 / total, 6) AS recall_at_10
    FROM ({_SQL_MATRYOSHKA})
    ORDER BY dims
    """,
    tags=("extension", "similarity", "hygiene", "tuning"),
)(_ann.matryoshka_recall_curve)


@register(
    "dedup_quality_survivor",
    # Survivorship policy: within each near-dup cluster keep the doc
    # with the MOST tokens (most complete copy), tie-break min doc_id —
    # instead of the min-id keeper clean_corpus_pipeline uses. Token
    # count is an exact integer, so the argmax has zero float-tie risk
    # cross-engine. Same recursive-CTE transitive closure as the
    # leakage_safe_split oracle over the capped exact-jaccard pairs.
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES_CAPPED},
    cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    prs AS (SELECT id1, id2
            FROM cand
            JOIN sizes sa ON cand.id1 = sa.doc_id
            JOIN sizes sb ON cand.id2 = sb.doc_id
            WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8),
    edges AS (SELECT id1 AS u, id2 AS v FROM prs
              UNION SELECT id2, id1 FROM prs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    lbl AS (SELECT u AS node, least(u, min(v)) AS label
            FROM reach GROUP BY u),
    assigned AS (
      SELECT d.doc_id,
             CAST(coalesce(l.label, d.doc_id) AS BIGINT) AS cluster_id,
             CAST(length(list_filter({_SQL_TOKENS}, t -> t <> ''))
                  AS INT) AS n_tokens
      FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node
    )
    SELECT doc_id, cluster_id, n_tokens,
           (row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n_tokens DESC, doc_id) = 1)
             AS is_survivor
    FROM assigned
    """,
    tags=("extension", "dedup", "survivorship"),
)
def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based dedup survivorship: every document gets its near-dup
    cluster id and a keep/drop verdict where the KEPT copy is the
    longest (token count, tie min id) — the curation policy when
    duplicates differ by truncation or boilerplate stripping and "first
    id wins" would keep the worst copy. One window over the
    cluster-assigned relation; cluster assignment itself is the banded/
    capped pair join + iterative min-label CC (operators/graph.py)."""
    from ecommerce_data_pipeline_spark.operators.graph import (
        dedup_cluster_assignment,
    )
    from ecommerce_data_pipeline_spark.operators.text import token_count
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.8, max_df=MAX_SHINGLE_DF).select(
        "id1", "id2"
    )
    assigned = dedup_cluster_assignment(docs, pairs).select(
        "doc_id", "cluster_id"
    )
    with_q = assigned.join(
        docs.select("doc_id", token_count("text").alias("n_tokens")),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return with_q.select(
        "doc_id",
        "cluster_id",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection constants live in similarity_ann.py
# (the sign matrix is shared by the moved plan body and the oracle SQL
# built below from _JL_SIGNS/_JL_K).
_SQL_JL_ROWS = [
    "[" + ", ".join(f"{s}.0" for s in row) + "]" for row in _JL_SIGNS
]
_SQL_JL_PROJ = (
    "["
    + ", ".join(
        f"list_dot_product(embedding, {row})" for row in _SQL_JL_ROWS
    )
    + "]"
)
_SQL_JL_PD2 = "list_aggregate([" + ", ".join(
    f"(a.proj[{j + 1}] - b.proj[{j + 1}]) * (a.proj[{j + 1}] - b.proj[{j + 1}])"
    for j in range(_JL_K)
) + "], 'sum')"


jl_projection_certificate = register(
    "jl_projection_certificate",
    oracle=f"""
    WITH e64 AS (
      -- DuckDB's list_dot_product ACCUMULATES IN FLOAT32 on FLOAT[]
      -- inputs (~1e-7 relative error — measured; large enough to flip
      -- integer-micro rounding). Promote once; Spark's fold casts each
      -- element to DOUBLE inside zip_with.
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings
    ),
    pr AS (
      SELECT vec_id,
             {_SQL_JL_PROJ} AS proj,
             list_dot_product(embedding, embedding) AS nn,
             embedding
      FROM e64
    ),
    pairs AS (
      SELECT a.vec_id AS id1,
             (a.nn - 2 * list_dot_product(a.embedding, b.embedding)) + b.nn
               AS orig_d2,
             {_SQL_JL_PD2} AS proj_d2
      FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1
    ),
    micro AS (
      SELECT CAST(round(proj_d2 / ({_JL_K}.0 * orig_d2) * 1000000, 0)
                  AS BIGINT) AS m
      FROM pairs WHERE orig_d2 > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(SUM(m) / 1000000.0 / COUNT(*), 6) AS mean_ratio,
           round(MIN(m) / 1000000.0, 6) AS min_ratio,
           round(MAX(m) / 1000000.0, 6) AS max_ratio,
           round(SUM(CASE WHEN abs(m - 1000000) <= 300000 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS frac_within_30pct
    FROM micro
    """,
    tags=("extension", "similarity", "certificate"),
)(_ann.jl_projection_certificate)


# ---------------------------------------------------------------------------
# MinHash band-tuning curve (r7): pick (bands, rows) from DATA, not folklore.

# (bands, rows-per-band) design points spanning the practical S-curve
# family: b·r = signature length 8..128.
_BAND_CONFIGS: tuple[tuple[int, int], ...] = (
    (4, 2),
    (8, 4),
    (16, 4),
    (8, 8),
    (16, 8),
    (32, 4),
)

# Detection probability of an LSH banding scheme at a pair similarity s
# is 1-(1-s^r)^b. Evaluated at each similarity-bin MIDPOINT in PYTHON at
# import time and baked as the SAME literal into the Spark constant
# relation and the oracle's VALUES list — cross-engine pow() last-ulp
# drift cannot exist when neither engine computes the pow.
_BAND_GRID: list[tuple[int, int, int, float, float]] = [
    (
        b,
        r,
        s_bin,
        round((s_bin + 0.5) / 20.0, 6),
        round(1.0 - (1.0 - ((s_bin + 0.5) / 20.0) ** r) ** b, 6),
    )
    for (b, r) in _BAND_CONFIGS
    for s_bin in range(1, 20)
]

_SQL_BAND_GRID = ", ".join(
    f"({b}, {r}, {s_bin}, {s_mid!r}, {p!r})"
    for (b, r, s_bin, s_mid, p) in _BAND_GRID
)


@register(
    "minhash_band_tuning_curve",
    # The observed pair-similarity histogram is the df-capped exact
    # Jaccard relation (same CTE as ngram_jaccard_neardup) at floor 0.05,
    # binned at 0.05 width; detection probabilities are import-time
    # Python constants shared verbatim by both engines (see _BAND_GRID).
    # floor(jaccard*20) is the same IEEE double op on both sides, so the
    # binning is bit-identical.
    oracle=f"""
    WITH {_SQL_SHINGLES_CAPPED},
    pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jac AS (
      SELECT common * 1.0 / (sa.n + sb.n - common) AS jaccard
      FROM pairs p
      JOIN sizes sa ON p.id1 = sa.doc_id
      JOIN sizes sb ON p.id2 = sb.doc_id
      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.05
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR(jaccard * 20) AS INT), 19) AS s_bin,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM jac GROUP BY 1
    ),
    grid(b, r, s_bin, s_mid, p_detect) AS (VALUES {_SQL_BAND_GRID})
    SELECT CAST(g.b AS INT) AS b, CAST(g.r AS INT) AS r,
           CAST(g.s_bin AS INT) AS s_bin,
           CAST(g.s_mid AS DOUBLE) AS s_mid,
           c.n_pairs,
           CAST(g.p_detect AS DOUBLE) AS p_detect,
           round(c.n_pairs * g.p_detect, 4) AS expected_hits
    FROM binned c JOIN grid g USING (s_bin)
    """,
    tags=("extension", "dedup", "lsh", "tuning"),
)
def minhash_band_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design curve, evaluated against the corpus's OWN pair
    similarity distribution: for each candidate (bands, rows) scheme and
    each 0.05-wide similarity bin, the number of observed pairs in the
    bin and the scheme's analytic detection probability at the bin
    midpoint — expected candidate volume per scheme falls straight out
    (expected_hits), which is how you pick b/r so the S-curve knee sits
    at your dedup threshold instead of guessing. Pipeline: the df-capped
    exact-Jaccard pair relation (bounded fan-out — the same scale story
    as ngram_jaccard_neardup), one hash-agg histogram (≤19 rows), and a
    broadcast join against a 114-row constant grid. Everything after the
    pair relation is metadata-scale."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.05, max_df=MAX_SHINGLE_DF)
    counts = (
        pairs.select(
            F.least(F.floor(F.col("jaccard") * 20), F.lit(19))
            .cast("int")
            .alias("s_bin")
        )
        .groupBy("s_bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    grid = spark.createDataFrame(
        _BAND_GRID, "b int, r int, s_bin int, s_mid double, p_detect double"
    )
    return counts.join(F.broadcast(grid), "s_bin").select(
        "b",
        "r",
        "s_bin",
        "s_mid",
        "n_pairs",
        "p_detect",
        F.round(F.col("n_pairs") * F.col("p_detect"), 4).alias(
            "expected_hits"
        ),
    )
