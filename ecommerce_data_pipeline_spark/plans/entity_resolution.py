"""Entity-resolution / data-governance plans (r8 — VERDICT r7 task #2):
golden-record survivorship merge and k-anonymity generalization.

Both are the MUTATING halves of audit surfaces that already exist:
``dedup_quality_survivor`` picks one whole record per duplicate cluster,
while ``survivorship_merge_rules`` assembles a per-ATTRIBUTE golden
record (newest-non-null / greatest-value rules — the master-data-
management merge); ``k_anonymity_audit`` measures re-identification
risk, while ``group_k_anonymity_generalize`` rewrites each record to the
coarsest level of a fixed generalization lattice that makes its
equivalence class k-anonymous.

Reference context: the reference repo (Javier009/eCommerce_Data_Pipeline,
397 lines of mock-data + queue orchestration) has no MDM or privacy
tier; these extend the survey's extension tier (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


@register(
    "survivorship_merge_rules",
    oracle="""
    WITH rec AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' THEN o_orderpriority END
               AS rec_priority,
             CASE WHEN o_orderstatus IN ('F', 'P')
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) END
               AS verified_cents,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_recent,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY (CASE WHEN o_orderstatus = 'F' THEN o_orderpriority
                         END IS NOT NULL) DESC,
                        o_orderdate DESC, o_orderkey DESC) AS rn_prio
      FROM orders
    )
    SELECT o_custkey AS entity_key,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(rec_priority) AS BIGINT) AS n_priority_known,
           MIN(o_orderdate) AS first_seen,
           MAX(o_orderdate) AS last_seen,
           MAX(CASE WHEN rn_recent = 1 THEN o_orderstatus END)
             AS last_status,
           MAX(CASE WHEN rn_prio = 1 THEN rec_priority END)
             AS surviving_priority,
           MAX(verified_cents) AS max_verified_cents
    FROM rec GROUP BY o_custkey
    """,
)
def survivorship_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record assembly over each entity's record cluster (entity =
    customer, records = their orders — the MDM survivorship merge).
    Per-attribute rules, each a classic survivorship policy:

    - ``last_status``: MOST-RECENT rule — the newest record wins
      (recency key: o_orderdate desc, o_orderkey desc).
    - ``surviving_priority``: NEWEST-NON-NULL rule — priority is only
      trusted on finalized ('F') records, so the survivor comes from the
      newest record that HAS one; entities with no finalized record get
      NULL (completeness is reported alongside, n_priority_known).
    - ``max_verified_cents``: GREATEST-VALUE rule over verified ('F'/'P')
      records, in exact integer cents.
    - first/last_seen + record counts: lineage metadata.

    Both arg-max picks are row_number windows partitioned by the entity
    key — a partition is one entity's record cluster, bounded by
    per-customer order volume, never corpus-sized; the two windows share
    one shuffle (same partition key). All survivors are strings/
    integers/timestamps picked from the rows themselves, so the oracle
    replays the merge exactly."""
    orders = load_table(spark, sf_dir, "orders")
    rec_priority = F.when(
        F.col("o_orderstatus") == "F", F.col("o_orderpriority")
    )
    verified_cents = F.when(
        F.col("o_orderstatus").isin("F", "P"),
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )
    w_recent = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    w_prio = Window.partitionBy("o_custkey").orderBy(
        rec_priority.isNotNull().desc(),
        F.desc("o_orderdate"),
        F.desc("o_orderkey"),
    )
    rec = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        rec_priority.alias("rec_priority"),
        verified_cents.alias("verified_cents"),
        F.row_number().over(w_recent).alias("rn_recent"),
        F.row_number().over(w_prio).alias("rn_prio"),
    )
    return rec.groupBy(F.col("o_custkey").alias("entity_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.count("rec_priority").cast("long").alias("n_priority_known"),
        F.min("o_orderdate").alias("first_seen"),
        F.max("o_orderdate").alias("last_seen"),
        F.max(F.when(F.col("rn_recent") == 1, F.col("o_orderstatus"))).alias(
            "last_status"
        ),
        F.max(F.when(F.col("rn_prio") == 1, F.col("rec_priority"))).alias(
            "surviving_priority"
        ),
        F.max("verified_cents").alias("max_verified_cents"),
    )


_KANON_K = 5

# Fixed generalization lattice for the (nation, segment, order_year)
# quasi-identifier — the same QI as k_anonymity_audit
# (plans/profiling.py). Level ℓ is strictly coarser than ℓ−1; level 4 is
# full suppression (every QI column '*'), the unconditional backstop.
#   0: (nation,  segment, year)
#   1: (region,  segment, year)
#   2: (region,  segment, *)
#   3: (*,       segment, *)
#   4: (*,       *,       *)


@register(
    "group_k_anonymity_generalize",
    oracle=f"""
    WITH qi AS (
      SELECT o_orderkey, r_name AS region, n_name AS nation,
             c_mktsegment AS segment,
             CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    ),
    c0 AS (SELECT region, nation, segment, order_year, COUNT(*) AS n0
           FROM qi GROUP BY 1, 2, 3, 4),
    r1 AS (SELECT region, segment, order_year,
                  CAST(SUM(n0) AS BIGINT) AS n1r
           FROM c0 WHERE n0 < {_KANON_K} GROUP BY 1, 2, 3),
    r2 AS (SELECT region, segment, CAST(SUM(n1r) AS BIGINT) AS n2r
           FROM r1 WHERE n1r < {_KANON_K} GROUP BY 1, 2),
    r3 AS (SELECT segment, CAST(SUM(n2r) AS BIGINT) AS n3r
           FROM r2 WHERE n2r < {_KANON_K} GROUP BY 1),
    r4 AS (SELECT CAST(SUM(n3r) AS BIGINT) AS n4r
           FROM r3 WHERE n3r < {_KANON_K}),
    decision AS (
      SELECT c0.nation, c0.segment, c0.order_year,
             CAST(CASE WHEN n0 >= {_KANON_K} THEN 0
                       WHEN n1r >= {_KANON_K} THEN 1
                       WHEN n2r >= {_KANON_K} THEN 2
                       WHEN n3r >= {_KANON_K} THEN 3
                       ELSE 4 END AS INT) AS anon_level,
             CASE WHEN n0 >= {_KANON_K} THEN c0.nation
                  WHEN n1r >= {_KANON_K} OR n2r >= {_KANON_K}
                  THEN c0.region ELSE '*' END AS gen_geo,
             CASE WHEN n0 >= {_KANON_K} OR n1r >= {_KANON_K}
                       OR n2r >= {_KANON_K} OR n3r >= {_KANON_K}
                  THEN c0.segment ELSE '*' END AS gen_segment,
             CASE WHEN n0 >= {_KANON_K} OR n1r >= {_KANON_K}
                  THEN CAST(c0.order_year AS VARCHAR)
                  ELSE '*' END AS gen_year,
             CAST(CASE WHEN n0 >= {_KANON_K} THEN n0
                       WHEN n1r >= {_KANON_K} THEN n1r
                       WHEN n2r >= {_KANON_K} THEN n2r
                       WHEN n3r >= {_KANON_K} THEN n3r
                       ELSE n4r END AS BIGINT) AS class_size
      FROM c0
      LEFT JOIN r1 USING (region, segment, order_year)
      LEFT JOIN r2 USING (region, segment)
      LEFT JOIN r3 USING (segment)
      CROSS JOIN r4
    )
    SELECT o_orderkey, anon_level, gen_geo, gen_segment, gen_year,
           class_size
    FROM qi JOIN decision USING (nation, segment, order_year)
    """,
)
def group_k_anonymity_generalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-anonymity GENERALIZATION via residual-class promotion (the
    mutating twin of k_anonymity_audit): rewrite every record's
    quasi-identifier (nation, segment, order_year) to the coarsest-
    necessary level of a fixed lattice — nation→region→'*' on
    geography, year→'*' on time, segment→'*' only at the level-4
    suppression backstop — such that the record's RELEASED equivalence
    class has ≥ k = 5 members.

    Released-class semantics (advisor r8): the naive per-record rule
    ("my level-ℓ lattice class has ≥ k members") counts class members
    that are released at FINER levels with different generalized
    strings, so an actually-released class could be < k. This plan
    counts each level over the RESIDUAL — records not yet safe at any
    finer level. The key structural fact making that cheap: promotion
    is CLASS-wise (every record of a level-0 class shares its n0, so
    whole classes fall through together), which means every residual
    count is an aggregate of CLASS COUNTS — n1r = Σ n0 over unsafe c0
    classes, n2r = Σ n1r over unsafe r1 classes, and so on. Released
    classes at levels 0–3 are therefore genuinely ≥ k; the level-4
    residual is a single fully-suppressed class — ≥ k whenever the
    dataset has ≥ k unresolvable rows (in a real release those rows
    would be withheld; here they carry the all-'*' QI plus the audit
    level). class_size is the true released-class size, and the pytest
    pins ≥ k on the released Counter
    (tests/test_sampling_sketches_privacy.py).

    Scale shape: the ENTIRE promotion ladder runs on the class-count
    relation (≤ nations × segments × years ≈ 10³ rows — metadata
    scale), so the fact is touched exactly twice however large it is:
    one partially-aggregated groupBy building c0, and one BROADCAST
    join-back of the ~10³-row decision table (no fact-side shuffle at
    all — the r8 per-record formulation needed two keyed fact
    shuffles). No windows, no collects; all arithmetic is integer
    counts and string CASE rewrites, replayed exactly by the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = F.broadcast(
        customer.select("c_custkey", "c_mktsegment", "c_nationkey")
        .join(
            nation.select("n_nationkey", "n_name", "n_regionkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            region.select("r_regionkey", "r_name"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "c_custkey",
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    # Deliberately UNPINNED for its two consumers (the c0 class count +
    # the broadcast join-back): local[32] overlaps the two
    # scan+broadcast-join lineages for free, and the r8 A/B with qi
    # persisted measured ~20% SLOWER walls (0.80 vs 0.98 s at sf0.1,
    # when the plan had FIVE consumers) — the materialization barrier
    # costs more than the redundant narrow scans save.
    qi = orders.join(dims, orders["o_custkey"] == dims["c_custkey"]).select(
        "o_orderkey",
        "region",
        "nation",
        "segment",
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    k = _KANON_K
    # class relation: region rides along (functionally determined by
    # nation), so every residual level can re-aggregate class counts
    c0 = qi.groupBy("region", "nation", "segment", "order_year").agg(
        F.count(F.lit(1)).alias("n0")
    )
    # residual promotion ladder — CLASS counts only (≤ ~10³ rows):
    # whole classes fall through together, so n_{ℓ}r = Σ of the unsafe
    # finer-level counts, never a rescan of records
    r1 = (
        c0.filter(F.col("n0") < k)
        .groupBy("region", "segment", "order_year")
        .agg(F.sum("n0").alias("n1r"))
    )
    r2 = (
        r1.filter(F.col("n1r") < k)
        .groupBy("region", "segment")
        .agg(F.sum("n1r").alias("n2r"))
    )
    r3 = (
        r2.filter(F.col("n2r") < k)
        .groupBy("segment")
        .agg(F.sum("n2r").alias("n3r"))
    )
    # global agg => exactly one row even when nothing is suppressed (a
    # crossJoin against an EMPTY relation would wipe the release)
    r4 = r3.filter(F.col("n3r") < k).agg(F.sum("n3r").alias("n4r"))
    safe0 = F.col("n0") >= k
    safe1 = F.col("n1r") >= k
    safe2 = F.col("n2r") >= k
    safe3 = F.col("n3r") >= k
    decision = (
        c0.join(r1, ["region", "segment", "order_year"], "left")
        .join(r2, ["region", "segment"], "left")
        .join(r3, ["segment"], "left")
        .crossJoin(r4)
        .select(
            "nation",
            "segment",
            "order_year",
            F.when(safe0, 0)
            .when(safe1, 1)
            .when(safe2, 2)
            .when(safe3, 3)
            .otherwise(4)
            .cast("int")
            .alias("anon_level"),
            F.when(safe0, F.col("nation"))
            .when(safe1 | safe2, F.col("region"))
            .otherwise("*")
            .alias("gen_geo"),
            F.when(safe0 | safe1 | safe2 | safe3, F.col("segment"))
            .otherwise("*")
            .alias("gen_segment"),
            F.when(safe0 | safe1, F.col("order_year").cast("string"))
            .otherwise("*")
            .alias("gen_year"),
            F.when(safe0, F.col("n0"))
            .when(safe1, F.col("n1r"))
            .when(safe2, F.col("n2r"))
            .when(safe3, F.col("n3r"))
            .otherwise(F.col("n4r"))
            .cast("long")
            .alias("class_size"),
        )
    )
    # one broadcast join-back: the fact never shuffles
    return qi.join(
        F.broadcast(decision), ["nation", "segment", "order_year"]
    ).select(
        "o_orderkey",
        "anon_level",
        "gen_geo",
        "gen_segment",
        "gen_year",
        "class_size",
    )


@register(
    "gdpr_erasure_cascade_audit",
    # the pseudo request list is a deterministic 1%-ish key filter so
    # both engines see the identical erasure batch
    oracle="""
    WITH req AS (
      SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 97 = 0
    ),
    ord AS (
      SELECT o_orderkey, r.c_nationkey
      FROM orders JOIN req r ON o_custkey = r.c_custkey
    ),
    li AS (
      SELECT o.c_nationkey, COUNT(*) AS n_li
      FROM lineitem JOIN ord o ON l_orderkey = o.o_orderkey
      GROUP BY 1
    ),
    ev AS (
      SELECT r.c_nationkey, COUNT(*) AS n_ev
      FROM events JOIN req r ON user_id = r.c_custkey
      GROUP BY 1
    ),
    base AS (
      SELECT c_nationkey,
             COUNT(*) AS n_customers,
             (SELECT COUNT(*) FROM ord o
              WHERE o.c_nationkey = req.c_nationkey) AS n_orders
      FROM req GROUP BY c_nationkey
    )
    SELECT n_name AS nation,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(coalesce(li.n_li, 0) AS BIGINT) AS n_lineitems,
           CAST(coalesce(ev.n_ev, 0) AS BIGINT) AS n_events,
           CAST(n_customers + n_orders + coalesce(li.n_li, 0)
                + coalesce(ev.n_ev, 0) AS BIGINT) AS total_rows_to_erase
    FROM base
    LEFT JOIN li USING (c_nationkey)
    LEFT JOIN ev USING (c_nationkey)
    JOIN nation ON c_nationkey = n_nationkey
    """,
)
def gdpr_erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure blast-radius audit: given a deterministic batch
    of erasure requests (1%-ish of customers), walk the FK closure and
    count, per nation, every row the cascade would delete — the
    customer records themselves, their orders, those orders' line
    items, and their event history. The pre-flight every GDPR/CCPA
    deletion pipeline runs before mutating 100 TB of facts: the audit
    is pure keyed joins + counts (no mutation), so it costs one pass
    and its output IS the deletion plan's row budget.

    Scale shape: the request list is customer-dimension-bounded and
    broadcast into the first hop of each branch; the orders→lineitem
    hop joins a FACT-derived relation and therefore carries no
    broadcast hint (shuffle join at scale, AQE-broadcast at small SF).
    Every hop ends in a hash aggregate on nationkey — no windows, no
    collects, fan-out bounded by the requesters' actual activity."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation")
    req = customer.filter(F.col("c_custkey") % 97 == 0).select(
        "c_custkey", "c_nationkey"
    )
    ord_ = orders.join(
        F.broadcast(req), orders["o_custkey"] == req["c_custkey"]
    ).select("o_orderkey", "c_nationkey")
    # NO broadcast hint on ord_: it is fact-derived (~1% of ORDERS, not
    # dimension-bounded), so the lineitem hop must stay a shuffle join
    # at scale — AQE converts it to broadcast at small SF on its own
    # (r8 review finding; only req carries the hard hint).
    #
    # AGGREGATE-THEN-JOIN (r9 skew probe finding): the cascade only
    # needs per-order lineitem COUNTS, so the fact pre-aggregates by
    # l_orderkey BEFORE the join. This is structurally skew-immune — a
    # celebrity requester whose one order owns 10% of lineitem arrives
    # at the join as ONE row per map task (partial aggregation), never
    # as a fat shuffle partition. The probe showed AQE's byte-based
    # skew split CANNOT protect the naive join-then-count shape here:
    # the shuffled payload is a single repeated key column that
    # compresses ~100:1, so the hot partition's compressed map-output
    # size never crosses any threshold while its row count explodes.
    # Pre-aggregation also cuts shuffle volume ~4x in the benign case
    # (avg lineitems per order). Values identical; oracle unchanged.
    li_cnt = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_li_order")
    )
    li_n = (
        li_cnt.join(ord_, li_cnt["l_orderkey"] == ord_["o_orderkey"])
        .groupBy("c_nationkey")
        .agg(F.sum("n_li_order").cast("long").alias("n_li"))
    )
    ev_n = (
        events.join(F.broadcast(req), events["user_id"] == req["c_custkey"])
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    base = req.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    ord_n = ord_.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        base.join(ord_n, "c_nationkey", "left")
        .join(li_n, "c_nationkey", "left")
        .join(ev_n, "c_nationkey", "left")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_customers").cast("long").alias("n_customers"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("n_li", F.lit(0)).cast("long").alias("n_lineitems"),
            F.coalesce("n_ev", F.lit(0)).cast("long").alias("n_events"),
            (
                F.col("n_customers")
                + F.coalesce("n_orders", F.lit(0))
                + F.coalesce("n_li", F.lit(0))
                + F.coalesce("n_ev", F.lit(0))
            )
            .cast("long")
            .alias("total_rows_to_erase"),
        )
    )


# Bitemporal version grid: three deterministic version batches of the
# customer balance (original load, a business-dated correction recorded
# LATE, and a retroactive re-correction recorded even later), and four
# (valid-time, transaction-time) observation points chosen to separate
# all three worlds. Literal dates — both engines build the identical
# version relation.
_BT_VERSIONS = (
    # (version tag, key filter modulo, delta cents, valid_from, tx_from)
    ("v0", 1, 0, "2023-01-01", "2023-01-01"),
    ("v1", 10, 10000, "2023-06-01", "2023-09-01"),
    ("v2", 20, 25000, "2023-06-01", "2023-12-01"),
)
_BT_ASOF = (
    ("before_effect", "2023-03-01", "2024-01-01"),
    ("effect_not_recorded", "2023-07-01", "2023-08-01"),
    ("first_correction", "2023-07-01", "2023-10-01"),
    ("final_restatement", "2023-07-01", "2024-01-01"),
)


@register(
    "bitemporal_as_of_audit",
    oracle=f"""
    WITH versions AS (
      {" UNION ALL ".join(
          f'''SELECT c_custkey, '{tag}' AS ver,
                     CAST(round(c_acctbal * 100) AS BIGINT) + {delta}
                       AS bal_cents,
                     DATE '{vf}' AS valid_from, DATE '{tf}' AS tx_from
              FROM customer WHERE c_custkey % {mod} = 0'''
          for tag, mod, delta, vf, tf in _BT_VERSIONS)}
    ),
    obs(world, as_of_valid, as_of_tx) AS (VALUES {", ".join(
        f"('{w}', DATE '{v}', DATE '{t}')" for w, v, t in _BT_ASOF)}),
    visible AS (
      SELECT a.world, v.c_custkey, v.ver, v.bal_cents,
             ROW_NUMBER() OVER (
               PARTITION BY a.world, v.c_custkey
               ORDER BY v.valid_from DESC, v.tx_from DESC) AS rn
      FROM versions v JOIN obs a
        ON v.valid_from <= a.as_of_valid AND v.tx_from <= a.as_of_tx
    )
    SELECT world,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents,
           CAST(SUM(CASE WHEN ver <> 'v0' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_restated
    FROM visible WHERE rn = 1
    GROUP BY world
    """,
)
def bitemporal_as_of_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of reconstruction — the two-axis version query a
    regulated warehouse must answer: "what did we BELIEVE on tx-date T
    the balance WAS on business-date V?". The version table carries both
    a business-effective date (valid time) and a recording date
    (transaction time): a June-effective correction recorded in
    September is invisible to an August report even for July business
    dates, and December's retroactive restatement changes July's
    balances only for reports run after December. Four observation
    worlds separate all three version generations; per world the audit
    reports headcount, exact total balance (cents), and how many
    balances are restated relative to the original load.

    As-of pick: restrict versions to (valid_from ≤ V, tx_from ≤ T),
    then latest valid_from with latest tx_from as the tiebreak — one
    row_number window whose partitions are (world × customer) version
    chains, bounded by the version count (≤3), never fact-sized. The
    version relation is built from literal dates + integer-cent deltas,
    so the oracle replays every world exactly. SCD2's single-axis form
    is scd2_dimension_history (plans/misc_plans.py); this is the
    two-axis extension (Snodgrass, 'Developing Time-Oriented Database
    Applications in SQL', 1999)."""
    customer = load_table(spark, sf_dir, "customer")
    versions = None
    for tag, mod, delta, vf, tf in _BT_VERSIONS:
        v = customer.filter(F.col("c_custkey") % mod == 0).select(
            "c_custkey",
            F.lit(tag).alias("ver"),
            (F.round(F.col("c_acctbal") * 100).cast("long") + delta).alias(
                "bal_cents"
            ),
            F.lit(vf).cast("date").alias("valid_from"),
            F.lit(tf).cast("date").alias("tx_from"),
        )
        versions = v if versions is None else versions.unionByName(v)
    asof = spark.createDataFrame(
        [(w, v, t) for w, v, t in _BT_ASOF],
        "world string, as_of_valid string, as_of_tx string",
    ).select(
        "world",
        F.col("as_of_valid").cast("date").alias("as_of_valid"),
        F.col("as_of_tx").cast("date").alias("as_of_tx"),
    )
    visible = versions.join(
        F.broadcast(asof),
        (F.col("valid_from") <= F.col("as_of_valid"))
        & (F.col("tx_from") <= F.col("as_of_tx")),
    )
    w = Window.partitionBy("world", "c_custkey").orderBy(
        F.desc("valid_from"), F.desc("tx_from")
    )
    picked = visible.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return picked.groupBy("world").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("bal_cents").cast("long").alias("total_bal_cents"),
        F.sum(F.when(F.col("ver") != "v0", 1).otherwise(0))
        .cast("long")
        .alias("n_restated"),
    )


# ---------------------------------------------------------------------------
# Differential-privacy contribution bounding (r9) — the preprocessing
# step every DP aggregate release requires (Wilson et al., "Differentially
# Private SQL with Bounded User Contribution", PETS 2020): cap each
# user's row count and clip each row's value so the L1 sensitivity of a
# per-partition SUM is bounded by cap * clip BY CONSTRUCTION, then audit
# the realized contributions against that bound. Completes the privacy
# tier next to k-anonymity (group-size privacy) and the GDPR cascade
# (erasure) — this one is the TRAINING-DATA angle: per-source/per-user
# contribution caps before aggregate or model release.

_DP_CAP_ORDERS = 3  # per-customer row cap
_DP_CLIP_CENTS = 30_000_000  # $300k per-order value clip


@register(
    "dp_contribution_bounding",
    oracle=f"""
    WITH ranked AS (
      SELECT o.o_custkey, c.c_mktsegment AS segment,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             LEAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT), {_DP_CLIP_CENTS}) AS clip_cents,
             ROW_NUMBER() OVER (PARTITION BY o.o_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_seg AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS true_orders,
             CAST(SUM(CASE WHEN rn <= {_DP_CAP_ORDERS} THEN 1 ELSE 0 END)
                  AS BIGINT) AS kept_orders,
             CAST(SUM(cents) AS BIGINT) AS true_cents,
             CAST(SUM(CASE WHEN rn <= {_DP_CAP_ORDERS} THEN clip_cents
                           ELSE 0 END) AS BIGINT) AS bounded_cents
      FROM ranked GROUP BY 1
    ),
    user_contrib AS (
      SELECT segment, o_custkey,
             CAST(SUM(CASE WHEN rn <= {_DP_CAP_ORDERS} THEN clip_cents
                           ELSE 0 END) AS BIGINT) AS u_cents,
             CAST(COUNT(*) AS BIGINT) AS u_orders
      FROM ranked GROUP BY 1, 2
    ),
    sens AS (
      SELECT segment,
             CAST(MAX(u_cents) AS BIGINT) AS max_user_cents,
             CAST(MAX(u_orders) AS BIGINT) AS max_user_orders_raw
      FROM user_contrib GROUP BY 1
    )
    SELECT p.segment, p.true_orders, p.kept_orders,
           CAST(p.true_orders - p.kept_orders AS BIGINT) AS dropped_orders,
           CAST(p.true_cents AS DOUBLE) / 100.0 AS true_revenue,
           CAST(p.bounded_cents AS DOUBLE) / 100.0 AS bounded_revenue,
           s.max_user_orders_raw,
           CAST(s.max_user_cents AS DOUBLE) / 100.0
             AS max_user_bounded_contribution,
           CAST({_DP_CAP_ORDERS * _DP_CLIP_CENTS} AS DOUBLE) / 100.0
             AS l1_sensitivity_bound,
           s.max_user_cents <= {_DP_CAP_ORDERS * _DP_CLIP_CENTS}
             AS bound_holds
    FROM per_seg p JOIN sens s ON p.segment = s.segment
    """,
)
def dp_contribution_bounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-user-contribution audit per market segment: each order's
    value is clipped at $300k, each customer keeps only their FIRST 3
    orders (by order date, orderkey tiebreak — a deterministic cap, not
    a sampled one, so reruns keep the same rows), and the query reports
    the true vs bounded aggregate, the dropped-row mass, and the
    realized max per-user contribution against the closed-form L1
    sensitivity bound cap * clip that a downstream DP noise mechanism
    would calibrate to. bound_holds is the in-band certificate: both
    engines must agree it is TRUE for every segment by construction.

    Exactness: all cents are exact BIGINTs (clip via LEAST on the cent
    integers); the published revenues are single divisions by 100.

    Scale shape: one (o_custkey)-partitioned row_number window (the
    standard per-entity cap — partitioned, never global), shared by the
    segment rollup and the per-user contribution aggregate (unpinned:
    the two branches re-scan and overlap). The dim join is broadcast-
    sized (customer segment column only)."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cents = (dec("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        "o_custkey",
        F.col("c_mktsegment").alias("segment"),
        cents.alias("cents"),
        F.least(cents, F.lit(_DP_CLIP_CENTS).cast("long")).alias(
            "clip_cents"
        ),
        F.row_number().over(w).alias("rn"),
    )
    kept = F.col("rn") <= _DP_CAP_ORDERS
    per_seg = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("true_orders"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("kept_orders"),
        F.sum("cents").cast("long").alias("true_cents"),
        F.sum(F.when(kept, F.col("clip_cents")).otherwise(0))
        .cast("long")
        .alias("bounded_cents"),
    )
    user_contrib = ranked.groupBy("segment", "o_custkey").agg(
        F.sum(F.when(kept, F.col("clip_cents")).otherwise(0))
        .cast("long")
        .alias("u_cents"),
        F.count(F.lit(1)).cast("long").alias("u_orders"),
    )
    sens = user_contrib.groupBy("segment").agg(
        F.max("u_cents").cast("long").alias("max_user_cents"),
        F.max("u_orders").cast("long").alias("max_user_orders_raw"),
    )
    bound = _DP_CAP_ORDERS * _DP_CLIP_CENTS
    return per_seg.join(sens, "segment").select(
        "segment",
        "true_orders",
        "kept_orders",
        (F.col("true_orders") - F.col("kept_orders"))
        .cast("long")
        .alias("dropped_orders"),
        (F.col("true_cents").cast("double") / F.lit(100.0)).alias(
            "true_revenue"
        ),
        (F.col("bounded_cents").cast("double") / F.lit(100.0)).alias(
            "bounded_revenue"
        ),
        "max_user_orders_raw",
        (F.col("max_user_cents").cast("double") / F.lit(100.0)).alias(
            "max_user_bounded_contribution"
        ),
        (F.lit(bound).cast("double") / F.lit(100.0)).alias(
            "l1_sensitivity_bound"
        ),
        (F.col("max_user_cents") <= F.lit(bound)).alias("bound_holds"),
    )
