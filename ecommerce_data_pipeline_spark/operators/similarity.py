"""Near-duplicate detection and similarity search at scale.

Three families (SURVEY.md §2.11, the BASELINE north-star extension tier):

1. **Exact n-gram Jaccard** (`jaccard_pairs`): explode distinct shingles →
   self-join on shingle → per-pair intersection counts → Jaccard. Exact,
   SQL-expressible (oracle-checkable), but all-pairs-sharing-a-shingle:
   only viable when shingle frequencies are bounded. The 100 TB path is:

2. **MinHash + LSH** (`minhash_signature_agg` / `lsh_candidate_pairs` /
   `minhash_lsh_neardup`): k seeded xxhash64 min-hashes per document,
   banded into b groups of r; documents colliding on any band become
   candidates; candidates are verified with exact Jaccard. Every stage is
   a join/groupBy on hash keys — shuffle volume is O(docs·b), independent
   of pairwise combinations.

3. **SimHash** (`simhash_table`): one 64-bit signature per document via
   bitwise majority vote over shingle hashes; near-dups = signatures
   within small Hamming distance, found by exact-matching byte bands
   (pigeonhole: d≤7 ⇒ at least one of 8 bytes equal).

Plus embedding-space search:

4. **Brute-force cosine top-k** (`cosine_topk`): query set × corpus via
   broadcast, JVM-side fold for the dot product, per-query window rank.
   The bucketed variant (`lsh_bucketed_topk`) hashes vectors through
   signed random projections and multi-probes the home bucket plus all
   Hamming-1 neighbors — the 100 TB path (operators/ivf.py holds the
   IVF coarse-quantizer alternative).

All hashing is seeded and deterministic — reruns produce identical
signatures (required for both the driver contract and idempotent
re-ingest).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.functions.vectors import (  # noqa: F401 — re-exported for callers
    cosine_similarity,
)
from ecommerce_data_pipeline_spark.operators.text import tokens

# --- exact Jaccard (oracle-checkable) --------------------------------------


def shingle_rows(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """(id, shingle) rows via posexplode + lead windows.

    Deliberately NOT the array-higher-order form (`transform(sequence)`
    building the shingle array in place): higher-order lambdas are
    interpreted, not codegen'd, and a single-file source keeps them on one
    core. Exploding tokens first (a) shuffles by id, spreading documents
    across all executors regardless of input file layout, and (b) keeps
    every downstream expression (lead/concat_ws/xxhash64) inside
    whole-stage codegen. Measured ~10× faster on the fixture corpus.
    """
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(tokens("text")).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    cols = [F.col("tok").alias("t0")] + [
        F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, n)
    ]
    sh = (
        tok.select("id", *cols)
        .filter(F.col(f"t{n-1}").isNotNull())
        .select("id", F.concat_ws(" ", *[f"t{i}" for i in range(n)]).alias("s"))
    )
    return sh.distinct() if distinct else sh


def df_capped_shingles(docs: DataFrame, max_df: int | None = None) -> DataFrame:
    """(id, shingle) relation with shingles of document-frequency > max_df
    removed.

    The DF count is one linear hash-aggregate over the shingle relation —
    no pair expansion — so the cap costs one extra shuffle on the shingle
    key and removes the quadratic hot-key blowup in any downstream
    shared-shingle self-join (a shingle in d docs yields d²/2 join rows;
    a boilerplate 3-gram at corpus scale is unbounded d). ``max_df=None``
    keeps the exact relation.
    """
    sh = shingle_rows(docs)
    if max_df is None:
        return sh
    ok = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    return sh.join(ok, "s")


def jaccard_pairs(
    docs: DataFrame, threshold: float, max_df: int | None = None
) -> DataFrame:
    """All document pairs with shingle-Jaccard ≥ threshold (exact).

    Returns (id1, id2, common, n1, n2, jaccard) with id1 < id2.

    ``max_df`` bounds the document frequency of shingles entering the
    self-join (and the set sizes — i.e. the semantics become "Jaccard
    over discriminative shingles", the IR df-filter convention). Without
    it the shared-shingle self-join is quadratic on a hot shingle, which
    is the 100 TB scale-killer; with it, join fan-out per shingle is
    ≤ max_df²/2. At corpus scale pass max_df ≈ 1e-4 × corpus size (and
    run exact-hash dedup FIRST — a cluster of k verbatim copies puts df≥k
    on every one of its shingles, so the cap would otherwise hide it).
    """
    # the shingle relation feeds three consumers (sizes + both join
    # sides); persist it so the explode+window shuffle runs once
    sh = df_capped_shingles(docs, max_df=max_df).persist()
    # shuffle_hash pinned on the three joins below: AQE broadcast whichever
    # side's cached stats landed first, and every side is corpus-sized
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n")).hint("shuffle_hash")
    a = sh.alias("a")
    b = sh.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        pairs.join(sizes.withColumnsRenamed({"id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"id": "id2", "n": "n2"}), "id2")
        .withColumn("jaccard", F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id1", "id2", "common", "n1", "n2", "jaccard")


def prefix_filter_jaccard_pairs(docs: DataFrame, threshold_num: int = 4) -> DataFrame:
    """EXACT Jaccard ≥ num/5 pairs via prefix filtering (AllPairs /
    PPJoin family) — no df cap, no probabilistic miss.

    Same output contract as `jaccard_pairs` with ``max_df=None``
    (id1, id2, common, n1, n2, jaccard), but the candidate join runs on
    each document's PREFIX only: order a document's shingles by ascending
    global document frequency (ties by shingle value — a total order),
    keep the first ``|S| - ceil(t·|S|) + 1``. Theorem (Chaudhuri et al.
    SSJoin / Bayardo et al. AllPairs): for any pair with Jaccard ≥ t, the
    globally-smallest shared shingle sits inside BOTH prefixes — in doc A,
    every token ordered before it is outside the intersection, and
    |A| − |A∩B| ≤ |A| − ceil(t·|A|) such tokens exist — so the prefix
    equi-join finds every qualifying pair and exact verification drops
    the rest. Recall is exactly 1 by construction.

    Why this is the 100 TB exact path: hot (boilerplate) shingles carry
    the quadratic fan-out in the naive self-join, but they sort LAST in
    df order, so they fall out of prefixes entirely; candidate volume is
    driven by rare shingles whose fan-out is intrinsically small. The
    df-capped `jaccard_pairs` changes semantics to hit the same bound;
    MinHash-LSH keeps semantics but pays a ~1e-6 miss probability. This
    operator is exact AND bounded. PPJoin's LENGTH filter is applied in
    the candidate join (J ≥ t forces den·min(|A|,|B|) ≥ num·max — at
    sf0.1 it prunes 118.8k → 43.5k candidates); the positional/suffix
    refinements would only shrink the (already verified-away) false
    candidates further. Verification intersects the two candidate docs'
    sorted shingle ARRAYS row-locally (semi-filtered build, so its
    shuffle volume scales with candidates) instead of re-joining
    exploded shingle rows — see the inline measurement.

    The ceil uses integer arithmetic ((num·|S| + den − 1) div den):
    float ceil(0.8·n) rounds UP spuriously when 0.8·n lands above the
    true product (e.g. n = 5 → 4.0000000000000002 → 5), silently
    shortening the prefix below the theorem bound.
    """
    threshold_den = 5
    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            f"threshold must be in (0, 1]: got {threshold_num}/{threshold_den}"
        )
    threshold = threshold_num / threshold_den
    # the shingle relation feeds df counts, the ranked prefix, sizes and
    # both verify sides — persist so the explode+window shuffle runs once
    sh = shingle_rows(docs).persist()
    # shuffle_hash pinned on every join below: AQE broadcast whichever
    # side's cached stats landed first, and every side is corpus-sized
    df_tbl = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).hint("shuffle_hash")
    # rank + set size in ONE window partition (same key → no extra
    # shuffle beyond the df join)
    w = Window.partitionBy("id")
    ranked = (
        sh.join(df_tbl, "s")
        .select(
            "id",
            "s",
            F.row_number().over(w.orderBy("df", "s")).alias("rk"),
            F.count(F.lit(1)).over(w).alias("set_n"),
        )
    )
    ceil_tn = F.expr(
        f"CAST((set_n * {threshold_num} + {threshold_den} - 1) "
        f"DIV {threshold_den} AS INT)"
    )
    # Carry set_n on every prefix row: candidate pairs then already know
    # both set sizes, so verification needs NO separate sizes
    # aggregation/joins (two shuffles fewer than the generic
    # verify_exact_jaccard path, which serves callers whose candidates
    # arrive without sizes, e.g. LSH).
    prefix = ranked.filter(F.col("rk") <= F.col("set_n") - ceil_tn + 1).select(
        "id", "s", "set_n"
    )
    a = prefix.alias("a")
    b = prefix.alias("b").hint("shuffle_hash")
    # PPJoin length filter: |∩| ≤ min(n1,n2) and |∪| ≥ max(n1,n2), so
    # J ≥ num/den forces den·min ≥ num·max — both inequalities below.
    # Sound (never drops a qualifying pair), and it prunes candidates
    # BEFORE the distinct+verify fan-out (measured at sf0.1: 118.8k →
    # 43.5k candidate pairs, 4.15 s → see docstring).
    length_ok = (
        (threshold_num * F.col("a.set_n") <= threshold_den * F.col("b.set_n"))
        & (threshold_num * F.col("b.set_n") <= threshold_den * F.col("a.set_n"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            & length_ok,
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.set_n").alias("n1"),
            F.col("b.set_n").alias("n2"),
        )
        .distinct()
        .persist()
    )
    # Array-intersect verification: build each CANDIDATE doc's sorted
    # shingle array (semi-filtered first, so the groupBy shuffles
    # candidate docs' shingles only — verify volume scales with
    # candidates, not corpus), then two hash joins and one row-local
    # array_intersect per pair — no candidate×shingle row fan-out and
    # re-aggregation, as re-joining exploded shingle rows would pay.
    def sorted_sets(side: str, out: str) -> DataFrame:
        ids = cand.select(F.col(side).alias("id")).distinct().hint("shuffle_hash")
        return (
            sh.join(ids, "id", "left_semi")
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("s")).alias(out))
            .withColumnsRenamed({"id": side})
            .hint("shuffle_hash")
        )

    return (
        cand.join(sorted_sets("id1", "ss1"), "id1")
        .join(sorted_sets("id2", "ss2"), "id2")
        .withColumn(
            "common", F.size(F.array_intersect("ss1", "ss2")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "common", "n1", "n2", "jaccard")
    )


# --- MinHash + LSH (the scale path) -----------------------------------------

# The dedup family's one MinHash geometry: k = 16 hashes in b = 8 bands
# of r = 2 (b·r = k, so every band indexes inside ``mh``).
_NUM_HASHES = 16
_BANDS, _ROWS = 8, 2


def minhash_signature_agg(sh: DataFrame) -> DataFrame:
    """(id, n, mh) from a distinct (id, s) shingle relation: shingle
    count + MinHash signature in ONE aggregation pass. THE signature
    scheme of the dedup family — signature_store, minhash_lsh_neardup,
    and incremental_neardup all call this (previously three inline
    copies; a salt-format change now has exactly one home)."""
    mins = [
        F.min(F.xxhash64(F.concat(F.col("s"), F.lit(f"#{j}")))).alias(f"_m{j}")
        for j in range(_NUM_HASHES)
    ]
    return (
        sh.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"), *mins)
        .select(
            "id",
            "n",
            F.array(*[f"_m{j}" for j in range(_NUM_HASHES)]).alias("mh"),
        )
    )


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """(id, band, sig) rows: each signature exploded into its b band
    hashes (shared by lsh_candidate_pairs and incremental_neardup)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    *[F.col("mh").getItem(i * _ROWS + j) for j in range(_ROWS)]
                ).alias("sig"),
            )
            for i in range(_BANDS)
        ]
    )
    return sigs.select("id", F.explode(band_structs).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
    )


def verify_exact_jaccard(
    cand: DataFrame, sh1: DataFrame, sh2: DataFrame, sizes: DataFrame
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidates: intersection count
    via the shingle relations (pre-filtered to candidates by the
    caller), sizes joined back, Jaccard ≥ 0.8 filter. Shared output contract
    (id1, id2, common, n1, n2, jaccard).

    PRECONDITION (advisor r13): sh1/sh2 must be (id, s)-DISTINCT —
    array_intersect dedupes, so duplicated shingle rows would count
    differently than the retired join-count form did. Both callers
    satisfy it (shingle_rows distinct=True; the incremental path's
    anti-joins keep base/delta disjoint).

    r13 form (the prefix_filter_jaccard_pairs array-intersect shape,
    measured 3.6 s -> 2.0 s there): build each candidate doc's sorted
    shingle ARRAY once per side (one hash aggregate each), then two
    pair joins and a row-local array_intersect — instead of the
    exploded cand x shingle fan-out through a (id2, s)-keyed join plus
    a re-aggregation (two exchanges more, and the fan-out intermediate
    scales with candidates x shingles rather than candidates). A pair
    with zero common shingles produced no row in the join form; the
    common >= 1 filter keeps that contract for any threshold."""
    s1 = sh1.groupBy("id1").agg(F.sort_array(F.collect_list("s")).alias("ss1"))
    s2 = sh2.groupBy("id2").agg(F.sort_array(F.collect_list("s")).alias("ss2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "common", F.size(F.array_intersect("ss1", "ss2")).cast("long")
        )
        .filter(F.col("common") >= 1)
        .join(sizes.withColumnsRenamed({"id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"id": "id2", "n": "n2"}), "id2")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("id1", "id2", "common", "n1", "n2", "jaccard")
    )


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """(id1, id2) candidates: documents agreeing on all r hashes of ≥1 band.

    One explode (docs×b rows) + one self-join on (band, signature) — the
    join key is a 64-bit hash of the band slice, so skew is bounded by
    true duplicate clusters, not by popular shingles.
    """
    banded = banded_signatures(signatures)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )


def minhash_lsh_neardup(docs: DataFrame) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ 0.8.

    Output matches `jaccard_pairs` minus any pair LSH missed: with b=8,
    r=2 the miss probability at j=0.9 is (1-j²)⁸ ≈ 1.7e-6 (b=4,r=4
    measurably missed real j≈0.9 pairs). The shorter bands admit more
    low-similarity candidates, but candidates are exact-verified, so
    false positives cost verification work only — the right trade for a
    dedup pipeline where recall is the product guarantee.
    """
    # one shingle materialization feeds signatures, sizes, and both
    # verify-join sides (4 consumers — without persist the explode+window
    # shuffle re-runs for each)
    sh = shingle_rows(docs).persist()
    # one aggregation pass produces BOTH the signature and the set size
    per_doc = minhash_signature_agg(sh).persist()
    cand = lsh_candidate_pairs(per_doc.select("id", "mh"))
    sizes = per_doc.select("id", "n")
    # Verification cost scales with the CANDIDATE set, not the corpus:
    # semi-filter the shingle relation to candidate documents before the
    # pairwise intersection join (candidates ≪ corpus after banding, so
    # these semi-joins broadcast and the big relation never reshuffles).
    sh1 = sh.join(
        cand.select(F.col("id1").alias("id")).distinct(), "id", "left_semi"
    ).withColumnsRenamed({"id": "id1"})
    sh2 = sh.join(
        cand.select(F.col("id2").alias("id")).distinct(), "id", "left_semi"
    ).withColumnsRenamed({"id": "id2"})
    return verify_exact_jaccard(cand, sh1, sh2, sizes)


# --- SimHash -----------------------------------------------------------------

_SIMHASH_BITS = 64


def simhash_table(docs: DataFrame) -> DataFrame:
    """(id, sig): bitwise-majority SimHash over 3-gram shingle hashes.

    Distributed form: explode shingles → xxhash64 → ONE hash aggregate
    with 64 codegen'd SUM(bit_b) columns → recombine the majority
    bits. Entirely whole-stage-codegen (an earlier array-accumulator
    `aggregate()` formulation ran ~25x slower, interpreted).

    3-gram shingles, not unigram tokens: with a small vocabulary unigram
    features saturate the signature (every doc shares most words).
    Shingle multiplicity is kept — classic frequency-weighted SimHash.
    """
    ex = shingle_rows(docs, distinct=False).select(
        "id", F.xxhash64("s").alias("h")
    )
    bit_sums = [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"_c{b}")
        for b in range(_SIMHASH_BITS)
    ]
    counted = ex.groupBy("id").agg(F.count(F.lit(1)).alias("_n"), *bit_sums)
    sig = F.lit(0).cast("long")
    for b in range(_SIMHASH_BITS):
        # bit 63 can't be written as 1<<63 (overflows signed long); its
        # two's-complement value is Long.MIN, and summing it with the
        # positive lower-bit masks composes the intended bit pattern
        mask = (1 << b) if b < 63 else -(1 << 63)
        sig = sig + F.when(
            F.col(f"_c{b}") * 2 >= F.col("_n"), F.lit(mask).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    # documents with no shingles (< 3 tokens) are EXCLUDED, mirroring
    # the minhash path: they carry no shingle evidence, and assigning
    # them a shared sentinel signature (the old fillna(0)) made every
    # pair of unrelated short docs a hamming-0 "near-duplicate"
    return counted.select("id", sig.alias("sig"))


def simhash_neardup(docs: DataFrame, max_hamming: int = 7) -> DataFrame:
    """(id1, id2, hamming) pairs within Hamming distance ≤ max_hamming.

    64-bit signatures, 8 byte-bands: by pigeonhole any pair at distance
    ≤7 matches exactly on ≥1 band — candidates come from 8 exact-match
    self-joins, never a cross product. (The earlier 32-bit/4-band form
    measurably lost recall on true j≈0.9 pairs: expected bit-flips scale
    with signature width, so the wider signature separates better at the
    same relative threshold.)
    """
    sigs = simhash_table(docs)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("sig"), i * 8).bitwiseAND(F.lit(255)).alias("bv"),
            )
            for i in range(8)
        ]
    )
    banded = sigs.select("id", "sig", F.explode(bands).alias("b")).select(
        "id", "sig", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- embedding similarity search ---------------------------------------------


def spread_for_fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition of the STREAM side before a broadcast
    scoring join.

    Broadcast-hash-join parallelism follows the streamed side's partition
    count, and a small parquet table (or a single-row-group file, like
    the bench fixture) arrives as ONE split — so the O(pairs·dim)
    interpreted cosine fold after the join would run in a single task no
    matter how many cores exist. One linear round-robin shuffle of the
    narrow pre-join relation is negligible against the quadratic-ish
    scoring fan-out it parallelizes, at any scale; with a genuinely
    multi-split scan it is a cheap no-op reshuffle.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE ANN-family output contract in one place: rank a
    (query_id, cand_id, cosine) relation per query by rounded score desc
    with the cand_id tie-break, keep the top k. Shared by cosine_topk,
    lsh_bucketed_topk, ivf_topk, and pq_topk — previously inline copies
    of the same six lines, where a tie-break or policy change had to be
    applied to each. NULL scores
    (zero-norm vectors, cosine_with_norms contract) sort last under
    desc, so they rank beyond k whenever k real candidates exist."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "cosine", "rnk")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (brute force baseline).

    Broadcast the (small) query set against the corpus; the dot product is
    a codegen'd fold. Ranking uses the score rounded to 6 digits
    with an id tiebreak, making the k-set deterministic cross-engine.
    """
    from ecommerce_data_pipeline_spark.functions.vectors import (
        cosine_with_norms,
        l2_norm,
    )

    # norms once per side before the fan-out: the q×corpus scoring loop
    # then runs one interpreted fold per pair instead of three
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    # spread BEFORE the computed columns so the norm fold (and the
    # scoring fold after the join) run across all cores, not on the
    # scan's single input split
    c = spread_for_fanout(
        corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    ).withColumn("cn", l2_norm("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_with_norms("qv", "cv", "qn", "cn"), 6).alias("cosine"),
        )
    )
    return rank_topk(scored, k)


def random_hyperplanes(dim: int, planes: int) -> list[list[float]]:
    """Deterministic signed-projection hyperplanes (public LSH scheme:
    Charikar, STOC'02 — random projections for cosine)."""
    rng = random.Random(42)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def lsh_bucket(vec_col: str | Column, hyperplanes: list[list[float]]) -> Column:
    """Bucket id = sign bits of the projections onto each hyperplane."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for i, h in enumerate(hyperplanes):
        # one array literal per plane (not one F.lit per coordinate —
        # that costs planes·dim py4j round-trips at plan-build time)
        plane = F.lit([float(x) for x in h])
        proj = F.aggregate(
            F.zip_with(v, plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_bucketed_topk(
    queries: DataFrame, corpus: DataFrame, dim: int, probe_hamming: int = 1
) -> DataFrame:
    """Approximate top-10 via multi-probe LSH: score only candidates whose
    bucket is within Hamming distance ``probe_hamming`` of the query's.

    With p = 4 planes the corpus splits into 2^p buckets; each query
    probes 1 + p buckets (H≤1), so the scored fraction is ~(1+p)/2^p of
    the corpus. probe_hamming is the recall/cost knob — clustered
    real-world embeddings concentrate neighbors in the home bucket,
    allowing more planes; p = 4 is tuned for near-uniform vectors.
    """
    planes = 4
    hp = random_hyperplanes(dim, planes)
    # each query probes its own bucket plus every bucket within
    # probe_hamming bit-flips (mask count = Σ C(planes, h) — the old
    # form silently capped at H≤1, delivering less recall than the knob
    # promised for probe_hamming ≥ 2)
    from itertools import combinations

    if not 0 <= probe_hamming <= planes:
        raise ValueError(
            f"probe_hamming ({probe_hamming}) must be in [0, planes={planes}]"
        )
    probe_masks = [0]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(planes), h):
            probe_masks.append(sum(1 << b for b in bits))
    # project the home bucket ONCE, then derive the probe set from the
    # projected column — inlining lsh_bucket into every probe expression
    # would recompute the p interpreted projection folds per probe
    from ecommerce_data_pipeline_spark.functions.vectors import (
        cosine_with_norms,
        l2_norm,
    )

    q_home = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm("embedding").alias("qn"),
        lsh_bucket("embedding", hp).alias("_home"),
    )
    q = q_home.select(
        "query_id",
        "qv",
        "qn",
        F.explode(
            F.array(
                *[
                    F.col("_home").bitwiseXOR(F.lit(m).cast("long"))
                    for m in probe_masks
                ]
            )
        ).alias("bucket"),
    )
    c = (
        spread_for_fanout(
            corpus.select(
                F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
            )
        )
        .withColumn("cn", l2_norm("cv"))
        .withColumn("bucket", lsh_bucket("cv", hp))
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_with_norms("qv", "cv", "qn", "cn"), 6).alias("cosine"),
        )
    )
    return rank_topk(scored, 10)


def signature_store(docs: DataFrame) -> DataFrame:
    """(id, n, mh) — the persistable per-document MinHash state: shingle
    count + signature in ONE aggregation pass. This is what an
    incremental dedup pipeline stores between batches (bytes per doc)
    so corpus growth never re-reads old text."""
    return minhash_signature_agg(shingle_rows(docs))


def incremental_neardup(
    base_sigs: DataFrame,
    base_docs: DataFrame,
    delta_docs: DataFrame,
    out: dict | None = None,
) -> DataFrame:
    """Near-dup pairs (Jaccard ≥ 0.8) INTRODUCED by a delta batch:
    delta×(base ∪ delta),
    never base×base (those pairs were found when base was ingested).

    ``out``, when given, receives ``{"delta_sigs": <DataFrame>,
    "persisted": [<DataFrame>...]}`` — the delta's signature-store rows
    (so a caller landing them needn't recompute the shingle+minhash
    pass) and every relation this call persisted, for the caller to
    unpersist once the result is materialized. Long-running callers
    (the streaming foreachBatch loop) MUST do that cleanup: persists
    register with the session CacheManager and are never GC-reclaimed,
    so per-trigger invocations would otherwise accumulate cache entries
    without bound.

    The incremental-corpus contract: ``base_sigs`` is the persisted
    signature store (signature_store output) — base TEXT is touched only
    for the candidate docs that must be exact-verified (semi-filtered
    shingling; a production deployment stores shingles too and skips
    even that). Banding cost is O(delta·bands), not O(corpus·bands):
    only delta's bands probe the combined band table.

    Output schema matches minhash_lsh_neardup; equality with the
    full-corpus run restricted to delta-touching pairs is asserted in
    tests/test_similarity.py.
    """
    # Disjointness is enforced HERE, not assumed: a delta id already in
    # base (re-delivered batch, overlapping backfill) would otherwise put
    # its signature in all_sigs twice and its shingles in sh_all twice —
    # duplicate ids still fan out the size join (duplicate rows, doubled
    # n1/n2), and they would violate verify_exact_jaccard's (id, s)-
    # distinct precondition (the r13 array_intersect form dedupes where
    # the retired join-count form inflated common to 2c). The delta
    # version wins on overlap.
    delta_ids = delta_docs.select(F.col("doc_id").alias("id")).distinct()
    base_sigs = base_sigs.join(delta_ids, "id", "left_anti")
    base_docs = base_docs.join(
        delta_ids.withColumnsRenamed({"id": "doc_id"}), "doc_id", "left_anti"
    )
    sh_delta = shingle_rows(delta_docs).persist()
    delta_sigs = minhash_signature_agg(sh_delta).persist()
    # persist: THREE consumers (the banded probe table + the two
    # size-join sides inside verify_exact_jaccard). When base_sigs is a
    # computed plan (the registered queries recompute it from text), an
    # unpersisted union re-ran the whole base shingle+minhash pipeline
    # three times — measured 46 parquet scans in the executed plan.
    # Narrow relation (id, n, mh): bytes per doc, cache-safe at scale.
    all_sigs = base_sigs.unionByName(delta_sigs).persist()

    a = banded_signatures(delta_sigs).alias("a")
    b = banded_signatures(all_sigs).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least("a.id", "b.id").alias("id1"),
            F.greatest("a.id", "b.id").alias("id2"),
        )
        .distinct()
        # persist: consumed by both cand_ids projections and the verify
        # join — unpersisted, the band self-join re-ran three times
        .persist()
    )
    # exact verification: delta shingles are in hand; base shingles are
    # recomputed ONLY for candidate base docs
    cand_ids = cand.select(F.col("id1").alias("id")).unionByName(
        cand.select(F.col("id2").alias("id"))
    ).distinct()
    base_cand_docs = base_docs.join(
        cand_ids.withColumnsRenamed({"id": "doc_id"}), "doc_id", "left_semi"
    )
    # both verify-join sides read it
    sh_all = sh_delta.unionByName(shingle_rows(base_cand_docs)).persist()
    sh1 = sh_all.withColumnsRenamed({"id": "id1"})
    sh2 = sh_all.withColumnsRenamed({"id": "id2"})
    if out is not None:
        out["delta_sigs"] = delta_sigs
        out["persisted"] = [sh_delta, delta_sigs, all_sigs, cand, sh_all]
    return verify_exact_jaccard(cand, sh1, sh2, all_sigs.select("id", "n"))


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's ``pool`` most-relevant candidates, greedily pick
    ``k`` that trade relevance against redundancy —
    score(c) = lam·rel(q,c) − (1−lam)·max_{s∈S} sim(c,s). The diversity
    sampler for retrieval-augmented training batches and eval panels.

    Scale shape: the corpus-sized work is exactly the ``cosine_topk``
    candidate scan; MMR itself is inherently sequential (each pick
    conditions on the set so far), so it runs as a grouped-map
    ``applyInPandas`` whose per-group batch is bounded by ``pool`` rows
    (pool × dim floats), never the corpus — the same bounded-batch
    contract as PAV calibration (operators/calibration.py).

    Determinism/cross-engine: relevance is the 6dp-rounded cosine_topk
    score; pairwise sims are rounded to 6dp with the SAME sequential
    dimension-order accumulation as the JVM fold (the numpy loop below
    adds one dimension at a time), and every argmax ties on cand_id —
    so a DuckDB recursive-CTE twin reproduces the selection exactly.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    nn = cosine_topk(queries, corpus, k=pool, id_col=id_col, vec_col=vec_col)
    cand = (
        nn
        # zero-norm vectors carry NULL cosine (cosine_with_norms contract);
        # they can reach the pool when a query has < pool non-NULL
        # candidates, and a zero-norm QUERY makes every rel NULL. Inside
        # pick() a zero norm would divide to NaN, whose tuple comparisons
        # are all-False — list-order-dependent selection instead of an
        # error. Undefined relevance is excluded up front instead.
        .filter(F.col("cosine").isNotNull())
        .join(
            corpus.select(
                F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
            ),
            "cand_id",
        )
        .select("query_id", "cand_id", F.col("cosine").alias("rel"), "cv")
    )

    # id type derived from the input schema (pq_topk precedent) — a
    # hardcoded LONG would break string/int32 ids
    id_type = corpus.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("mmr_rank", IntegerType()),
            StructField("cand_id", id_type),
        ]
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["cand_id"].to_numpy())  # stable input order
        ids = pdf["cand_id"].to_numpy()[order]
        rel = pdf["rel"].to_numpy(dtype=np.float64)[order]
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["cv"].to_numpy()[order]]
        )
        n, d = V.shape
        # sequential dimension-order accumulation == the JVM fold's order
        dots = np.zeros((n, n))
        sq = np.zeros(n)
        for j in range(d):
            dots += V[:, j, None] * V[None, :, j]
            sq += V[:, j] * V[:, j]
        norms = np.sqrt(sq)
        sims = np.round(dots / (norms[:, None] * norms[None, :]), 6)
        chosen: list[int] = []
        remaining = list(range(n))
        while remaining and len(chosen) < k:
            if not chosen:
                scores = [(-rel[i], ids[i], i) for i in remaining]
            else:
                scores = [
                    (
                        -(lam * rel[i] - (1 - lam) * max(sims[i, c] for c in chosen)),
                        ids[i],
                        i,
                    )
                    for i in remaining
                ]
            _, _, best = min(scores)
            chosen.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "cand_id": ids[chosen],
            }
        )

    return cand.groupBy("query_id").applyInPandas(pick, out_schema)
