"""Remaining surface odds-and-ends: UNION ALL, explode/word counts,
unpivot (long-form reshape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.scd import cdc_compact
from ecommerce_data_pipeline_spark.operators.text import tokens
from ecommerce_data_pipeline_spark.plans._helpers import rows_equal
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


@register(
    "union_all_quarters",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'h1' AS half FROM orders
    WHERE month(o_orderdate) <= 6
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'h2' AS half FROM orders
    WHERE month(o_orderdate) > 6
    """,
)
def union_all_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) — merging per-period partition loads, the
    natural reassembly of the reference's time-partitioned landing zone
    (S4 layout)."""
    orders = load_table(spark, sf_dir, "orders")
    h1 = orders.filter(F.month("o_orderdate") <= 6).select(
        "o_orderkey", "o_totalprice", F.lit("h1").alias("half")
    )
    h2 = orders.filter(F.month("o_orderdate") > 6).select(
        "o_orderkey", "o_totalprice", F.lit("h2").alias("half")
    )
    return h1.unionByName(h2)


@register(
    "word_frequencies",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    t -> t <> '')) AS word
      FROM documents
    )
    SELECT word, COUNT(*) AS n
    FROM tok GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequencies: explode tokens → count → top-20 (the
    vocabulary profile step of corpus analysis). Explode + hash-agg +
    TakeOrdered — the canonical scalable shape."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@register(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long reshape): the measure columns as
    (measure, value) rows — the melt step feeding generic metric sinks."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    ).withColumn("measure", F.expr("substring(measure, 3)"))


@register(
    "stats_corr_covar",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS qty_price_corr,
           round((sxy - sx * sy / n) / (n - 1), 4) AS qty_price_covar
    FROM m
    """,
)
def stats_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance from EXACT decimal moments: the engine-
    native corr()/covar() implementations accumulate in floating point
    with engine-specific formulas (Welford vs naive) and diverge at any
    rounding boundary; sums of 2dp measures and their scale-4 products
    are exact; the one residual divergence is DuckDB's int128→double cast
    of the large squared-price moment (~1e-16 relative), absorbed by a
    6dp round — versus the ~1e-5 divergence of the native aggregates."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sx"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sy"),
        F.sum(dec("l_quantity") * dec("l_quantity")).cast("double").alias("sxx"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice")).cast("double").alias("syy"),
        F.sum(dec("l_quantity") * dec("l_extendedprice")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("qty_price_corr"),
        F.round((sxy - sx * sy / n) / (n - 1), 4).alias("qty_price_covar"),
    )


@register(
    "bool_and_string_agg",
    oracle="""
    SELECT n_regionkey,
           bool_and(n_nationkey >= 0) AS all_nonneg,
           bool_or(n_nationkey > 20) AS any_gt20,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           arg_max(n_name, n_nationkey) AS max_key_nation
    FROM nation GROUP BY n_regionkey
    """,
)
def bool_and_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or, ordered string aggregation, and arg-max on a
    unique ordering key (tie-free, hence cross-engine deterministic)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.bool_and(F.col("n_nationkey") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("n_nationkey") > 20).alias("any_gt20"),
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias(
            "nations_csv"
        ),
        # n_nationkey is unique → arg-max is tie-free and deterministic
        F.max_by(F.col("n_name"), F.col("n_nationkey")).alias("max_key_nation"),
    )


@register(
    "map_functions",
    oracle="""
    SELECT event_id,
           'k' AS prop_keys,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR)
             AS prop_values,
           CAST(1 AS INT) AS n_props
    FROM events
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON payload into map<string,bigint>,
    extract sorted keys / aligned values / cardinality. Keys and values
    are serialized to CSV strings in the public projection (driver
    canonicalizer hashes scalars only). The fixture's payloads are
    single-key, so the oracle enumerates the key literally; the Spark
    side exercises the general map machinery."""
    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    keys = F.sort_array(F.map_keys(m))
    return events.select(
        "event_id",
        F.concat_ws(",", keys).alias("prop_keys"),
        F.concat_ws(
            ",", F.transform(keys, lambda k: m[k].cast("string"))
        ).alias("prop_values"),
        F.size(m).alias("n_props"),
    )


@register(
    "salted_revenue_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_extendedprice,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def salted_revenue_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation (operators/skew.py::salted_sum):
    the oracle is the PLAIN grouped sum — salting must be algebraically
    invisible, which the exact-decimal partials guarantee."""
    from ecommerce_data_pipeline_spark.operators.skew import salted_sum

    li = load_table(spark, sf_dir, "lineitem")
    return salted_sum(li, ["l_returnflag"], "l_extendedprice")


@register(
    "scd2_dimension_history",
    oracle="""
    WITH updates AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0
                  THEN round(c_acctbal + 100.0, 2) ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer
    ),
    changed AS (SELECT u.c_custkey FROM updates u
                JOIN customer c ON u.c_custkey = c.c_custkey
                WHERE u.c_acctbal <> c.c_acctbal)
    -- unchanged keys: still-open original version
    SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
           TIMESTAMP '2024-01-01' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM customer c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL
    -- changed keys: original version closed at t1
    SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
           TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', FALSE
    FROM customer c WHERE c.c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    -- changed keys: new current version opened at t1
    SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment,
           TIMESTAMP '2024-02-01', CAST(NULL AS TIMESTAMP), TRUE
    FROM updates u WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
    """,
)
def scd2_dimension_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension versioning (operators/scd.py): bootstrap the
    customer dim at t0, apply an update snapshot at t1 (+100.00 balance
    for every 10th key), return the full history — the oracle rebuilds
    the same three row classes set-algebraically."""
    import datetime

    from ecommerce_data_pipeline_spark.operators.scd import scd2_init, scd2_merge

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    hist = scd2_init(customer, t0)
    updates = customer.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 10 == 0, F.round(F.col("c_acctbal") + 100.0, 2)
        ).otherwise(F.col("c_acctbal")),
    )
    return scd2_merge(hist, updates, "c_custkey", t1)


@register(
    "try_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(TRY_CAST(l_extendedprice AS DOUBLE) / nullif(l_discount, 0), 4)
             AS price_per_disc,
           TRY_CAST(l_returnflag AS INT) AS flag_as_int,
           TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_roundtrip
    FROM lineitem
    """,
)
def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant scalar surface: try_divide / try_cast return NULL
    instead of failing the job — at 100 TB one malformed row must never
    kill a 10-hour pipeline (the scale twin of FAILFAST ingestion: fail
    loudly at the schema boundary, degrade gracefully inside the plan).
    try_divide(x, 0) ≡ x / nullif(0) on the oracle side; both engines
    agree on NULL-on-unparseable casts."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 4
        ).alias("price_per_disc"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.col("l_quantity").cast("string").try_cast("double").alias(
            "qty_roundtrip"
        ),
    )


@register(
    "pii_pseudonymization",
    oracle="""
    SELECT c_custkey,
           substring(sha256(c_name), 1, 16) AS pseudonym,
           regexp_replace(c_name, '[0-9]', 'X', 'g') AS masked_name,
           c_mktsegment
    FROM customer
    """,
)
def pii_pseudonymization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy pass every training/analytics pipeline needs before data
    leaves the trust boundary: a deterministic surrogate key (sha-256
    prefix — joinable across tables without exposing the identifier) plus
    digit masking of the display name.

    Row-local Column expressions only — zero shuffle, scales linearly; the
    same-input→same-pseudonym property is what keeps referential
    integrity across independently-processed 100 TB partitions.
    """
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.sha2(F.col("c_name"), 256).substr(1, 16).alias("pseudonym"),
        F.regexp_replace("c_name", "[0-9]", "X").alias("masked_name"),
        "c_mktsegment",
    )


@register(
    "rollup_grouping_id",
    oracle="""
    SELECT COALESCE(c_mktsegment, '(all)') AS seg,
           COALESCE(CAST(c_nationkey AS INT), -1) AS nation,
           CAST(GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey) AS BIGINT)
             AS gid,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    """,
)
def rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id (A4 completion): the bitmask that lets a
    single rollup result serve per-level consumers (detail vs subtotal vs
    grand total) without re-aggregating — how a 100 TB cube publishes all
    levels in one shuffle."""
    return (
        load_table(spark, sf_dir, "customer")
        .rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        # rollup NULLs → sentinels: the published projection stays
        # null-free (grouping level is recoverable from gid), so the
        # driver's pandas canonicalizer never sees a nullable int column
        .select(
            F.coalesce("c_mktsegment", F.lit("(all)")).alias("seg"),
            F.coalesce("c_nationkey", F.lit(-1)).alias("nation"),
            "gid",
            "n_customers",
        )
    )


# z-order bit-interleave, generated once for both engines: 8 bits per
# dimension, x in even positions, y in odd.  DuckDB and Spark share the
# same >> / & semantics on BIGINT, so the oracle is the same arithmetic.
_Z_SQL = " + ".join(
    f"(((xb >> {i}) & 1) * {1 << (2 * i)}) + "
    f"(((yb >> {i}) & 1) * {1 << (2 * i + 1)})"
    for i in range(8)
)


@register(
    "zorder_layout_key",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey,
             o_custkey % 256 AS xb,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 256 AS yb
      FROM orders
    )
    SELECT o_orderkey,
           CAST(xb AS BIGINT) AS xb,
           CAST(yb AS BIGINT) AS yb,
           CAST({_Z_SQL} AS BIGINT) AS zval,
           CAST(({_Z_SQL}) // 1024 AS BIGINT) AS file_id
    FROM b
    """,
)
def zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day): the
    data-layout primitive behind multi-dimensional file skipping.

    Writing a 100 TB fact table sorted by `zval` makes every file's
    parquet min/max footer tight in BOTH dimensions at once, so scans
    filtered by customer *or* date range prune files — a single-column
    sort can only serve one of the two. `file_id = zval // 1024` is the
    target-file assignment a repartitionByRange(file_id) writer would
    use. Pure integer bit arithmetic (shift/mask/add), fully codegen'd,
    zero shuffle to compute; the optional range-partition write is the
    only exchange.
    """
    o = load_table(spark, sf_dir, "orders")
    xb = (F.col("o_custkey") % 256).cast("long")
    yb = (
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        % 256
    ).cast("long")
    b = o.select("o_orderkey", xb.alias("xb"), yb.alias("yb"))
    zval = None
    for i in range(8):
        term = (F.shiftright(F.col("xb"), i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))) + (
            F.shiftright(F.col("yb"), i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
        zval = term if zval is None else (zval + term)
    return b.select(
        "o_orderkey",
        "xb",
        "yb",
        zval.cast("long").alias("zval"),
        F.floor(zval / F.lit(1024)).cast("long").alias("file_id"),
    )


@register(
    "cdc_apply_snapshot",
    oracle="""
    WITH log AS (
      SELECT user_id,
             CAST(ts AS TIMESTAMP) AS ts,
             event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value,
             event_type
      FROM events
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM log
    )
    SELECT user_id,
           epoch_us(ts) AS last_ts_us,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM ranked
    WHERE rn = 1 AND op = 'U'
    """,
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture log compaction: replay an ordered
    upsert/delete changelog (Debezium-style) into the final snapshot —
    last writer wins per key, keys whose latest operation is a delete
    vanish. The event stream stands in as the changelog ('error' = D,
    everything else = U), keyed by user.

    This is THE shape every CDC sink (Hudi/Iceberg/Delta merge-on-read
    compaction) reduces to (``operators/scd.py::cdc_compact``): one
    shuffle on the primary key, a per-key ordered latest-row pick, a
    filter. No global ordering — the (ts, event_id) tiebreak is per-key,
    so a 100 TB changelog compacts with exactly one exchange. Tiebreak is
    unique (event_id), so the snapshot is deterministic and the oracle
    matches exactly.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
        "event_type",
    )
    return cdc_compact(ev, "user_id", ["ts", "event_id"]).select(
        "user_id",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "global_row_ids",
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id
    FROM orders
    """,
)
def global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dense global row enumeration (1..N in key order)
    WITHOUT a single-reducer global window — the distributed
    zipWithIndex pattern, re-expressed relationally.

    Two-pass construction: (1) bucket rows by key range (o_orderkey div
    4096) and count per bucket — a tiny aggregate; (2) each bucket's
    starting offset is the sum of all smaller buckets' counts, computed
    by a self-join ON THE BUCKET TABLE (dozens of rows — quadratic there
    is free), then broadcast back and added to a PARTITIONED
    row_number() within each bucket. The oracle is the global
    ROW_NUMBER the naive plan would use; the engine plan spreads the
    sort across buckets, so a 100 TB enumeration never funnels through
    one reducer (the plan-shape test rejects any registered query that
    does). Unique key (o_orderkey) makes the ids reproducible.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    b = o.withColumn("bucket", F.floor(F.col("o_orderkey") / 4096))
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    lower = counts.alias("lo")
    offsets = (
        counts.alias("hi")
        .join(lower, F.col("lo.bucket") < F.col("hi.bucket"), "left")
        .groupBy(F.col("hi.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("lo.cnt"), F.lit(0)).alias("offset"))
    )
    w = Window.partitionBy("bucket").orderBy("o_orderkey")
    return (
        b.join(broadcast(offsets), "bucket")
        .select(
            "o_orderkey",
            (F.row_number().over(w) + F.col("offset")).alias("row_id"),
        )
    )


@register(
    "scd2_point_in_time",
    oracle="""
    SELECT 'as_of_jan15' AS state, c_custkey, c_acctbal, c_mktsegment
    FROM customer
    UNION ALL
    SELECT 'as_of_feb15', c_custkey,
           CASE WHEN c_custkey % 10 = 0
                THEN round(c_acctbal + 100.0, 2) ELSE c_acctbal END,
           c_mktsegment
    FROM customer
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel reads over SCD2 history (operators/scd.py::scd2_as_of):
    the same bootstrap+merge lifecycle as scd2_dimension_history, then
    the dimension state reconstructed AS OF two instants — one before
    the update batch (every key at its original balance) and one after
    (every 10th key at +100.00). The oracle derives both states
    set-algebraically from the base table, so the validity-interval
    filter semantics (valid_from <= t < valid_to, NULL = open) are fully
    checked. A pure filter per state: with history partitioned by
    valid_from this is a pruned scan at any scale."""
    import datetime

    from ecommerce_data_pipeline_spark.operators.scd import (
        scd2_as_of,
        scd2_init,
        scd2_merge,
    )

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    hist = scd2_init(customer, t0)
    updates = customer.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 10 == 0, F.round(F.col("c_acctbal") + 100.0, 2)
        ).otherwise(F.col("c_acctbal")),
    )
    # persist: the merged history feeds BOTH as-of reads; without it each
    # point-in-time filter re-executes the whole bootstrap+merge lineage
    # (in production the history is a stored table — this bootstrap is
    # the in-memory grading stand-in, so cut the recompute explicitly)
    hist = scd2_merge(hist, updates, "c_custkey", t1).persist()
    jan = scd2_as_of(hist, datetime.datetime(2024, 1, 15)).select(
        F.lit("as_of_jan15").alias("state"), "c_custkey", "c_acctbal", "c_mktsegment"
    )
    feb = scd2_as_of(hist, datetime.datetime(2024, 2, 15)).select(
        F.lit("as_of_feb15").alias("state"), "c_custkey", "c_acctbal", "c_mktsegment"
    )
    return jan.unionByName(feb)


@register(
    "queue_drain_summary",
    oracle=None,  # the queue's message generator is a Python RNG — not
    # SQL-replayable; determinism and stream==batch equality are pinned
    # in tests/test_streaming.py (txqueue tests)
)
def queue_drain_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 queue consumer ON the graded surface: drain 2000 messages from
    the custom Python Data Source (sources/queue_source.py — the
    reference's SQS producer turned first-class Spark source), parse the
    reference's non-ISO timestamp, and roll up per (payment_type,
    status). Deterministic by the source's (seed, offset) contract."""
    from ecommerce_data_pipeline_spark.sources.queue_source import (
        register_queue_source,
    )

    register_queue_source(spark)
    q = (
        spark.read.format("txqueue")
        .option("nMessages", 2000)
        .option("numPartitions", 8)
        .load()
    )
    return (
        q.withColumn(
            "ts", F.to_timestamp("transaction_date", "yyyy-MM-dd-HH:mm:ss")
        )
        .groupBy("payment_type", "status")
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.sum("quantity").cast("bigint").alias("total_quantity"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


@register(
    "queue_source_certificate",
    # Certificate twin of queue_drain_summary (rows-only above: the
    # message payload comes from a Python RNG with no SQL replay). The
    # SOURCE CONTRACT is oracle-gradable: exactly nMessages rows with
    # unique transaction ids, labels drawn only from the spec's sets
    # (dimension_tables_mock.py-style fixed vocabularies), quantity in
    # the generator's [1,5], timestamps parseable in the reference's
    # non-ISO format — and, the actual point of the (seed, offset)
    # design, the drained relation is IDENTICAL across re-reads AND
    # across different partition counts (4 vs 8). A violation of any
    # flips a boolean → driver hash mismatch.
    oracle="""
    SELECT CAST(2000 AS BIGINT) AS n_messages,
           CAST(2000 AS BIGINT) AS n_distinct_ids,
           TRUE AS labels_valid,
           TRUE AS quantity_in_range,
           TRUE AS timestamps_parse,
           TRUE AS redrain_identical,
           TRUE AS partition_layout_independent
    """,
)
def queue_source_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue-source contract certificate (see oracle comment). The
    layout-independence check drains the queue at two partition counts
    and diffs both directions with exceptAll — the distributed set-diff,
    no driver collect."""
    from ecommerce_data_pipeline_spark.sources.queue_source import (
        register_queue_source,
    )

    register_queue_source(spark)

    def drain(parts: int):
        return (
            spark.read.format("txqueue")
            .option("nMessages", 2000)
            .option("numPartitions", parts)
            .load()
        )

    q8 = drain(8).localCheckpoint()  # several consumers below
    stats = q8.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("transaction_id").alias("nd"),
        F.sum(
            (
                F.col("payment_type").isin(
                    "credit_card", "debit_card", "paypal", "gift_card"
                )
                & F.col("status").isin("completed", "pending", "failed")
            ).cast("int")
        ).alias("n_labels_ok"),
        F.sum(F.col("quantity").between(1, 5).cast("int")).alias("n_qty_ok"),
        F.sum(
            F.to_timestamp("transaction_date", "yyyy-MM-dd-HH:mm:ss")
            .isNotNull()
            .cast("int")
        ).alias("n_ts_ok"),
    ).first()
    n = stats["n"]
    redrain_same = rows_equal(drain(8), q8)
    layout_same = rows_equal(drain(4), q8)
    from pyspark.sql import Row

    return spark.createDataFrame(
        [
            Row(
                n_messages=n,
                n_distinct_ids=stats["nd"],
                labels_valid=bool(stats["n_labels_ok"] == n),
                quantity_in_range=bool(stats["n_qty_ok"] == n),
                timestamps_parse=bool(stats["n_ts_ok"] == n),
                redrain_identical=bool(redrain_same),
                partition_layout_independent=bool(layout_same),
            )
        ],
        "n_messages bigint, n_distinct_ids bigint, labels_valid boolean, "
        "quantity_in_range boolean, timestamps_parse boolean, "
        "redrain_identical boolean, partition_layout_independent boolean",
    )


@register(
    "streaming_flagship_certificate",
    # The end-to-end streaming lifecycle graded as constants the pipeline
    # must reproduce (streaming/flagship.py — the composition the
    # reference runs as its Lambda loop, transactions_mock_data.py:
    # 125-150). Bounded deterministic input: 600 queue messages delivered
    # TWICE (at-least-once redelivery) plus every-20th message
    # resubmitted under a fresh transaction id (client retry, 30 rows) —
    # 1230 deliveries total. The contract:
    #   · watermarked key-dedup keeps exactly the 630 key-distinct facts
    #     (600 redeliveries removed),
    #   · the landed warehouse EQUALS the batch-mode enrichment twin
    #     (exceptAll both directions),
    #   · the near-dedup audit store flags exactly the 30 resubmissions
    #     (payload-identical, new id) and EQUALS the batch-mode pair
    #     relation over the same corpus,
    #   · a post-drain availableNow restart appends nothing
    #     (replay-stable: offsets committed, _batch_id sinks idempotent).
    # Any violation flips a count/boolean → driver hash mismatch.
    oracle="""
    SELECT CAST(630 AS BIGINT) AS n_appended,
           CAST(600 AS BIGINT) AS redeliveries_removed,
           CAST(30 AS BIGINT) AS resends_flagged,
           TRUE AS streamed_equals_batch,
           TRUE AS neardup_equals_batch,
           TRUE AS replay_stable
    """,
)
def streaming_flagship_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the composed streaming flagship over a bounded queue and
    grade the landed warehouse + near-dedup audit against batch twins
    (see oracle comment). Eager by design: the streaming run and the
    set-diffs happen here; the returned relation is the one-row
    certificate."""
    import os
    import tempfile

    from ecommerce_data_pipeline_spark.functions.datetime import (
        parse_reference_ts,
    )
    from ecommerce_data_pipeline_spark.operators.similarity import (
        minhash_lsh_neardup,
    )
    from ecommerce_data_pipeline_spark.sources.queue_source import (
        register_queue_source,
    )
    from ecommerce_data_pipeline_spark.streaming.flagship import (
        enrich_transactions,
        payload_text,
        queue_dimensions,
        resend_overlay,
        run_streaming_flagship,
    )
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        drain,
        run_stream_with_handshake_retry,
        stateful_shuffle_partitions,
    )

    seed, max_offset, rows_per_batch, resend_every = 7, 600, 200, 20
    dim_products, dim_customers = queue_dimensions(spark)
    with tempfile.TemporaryDirectory(
        prefix="stream_flagship_cert_"
    ) as root, stateful_shuffle_partitions(spark):
        wh, ckpt = os.path.join(root, "wh"), os.path.join(root, "ckpt")

        # one continuous query, 3 micro-batch triggers (200 offsets each);
        # stop in a finally — an abandoned active query would race the
        # store reads below and the cleanup, poisoning the shared session.
        # Each query start forks a driver-side Python source runner (the
        # one txqueue source the 3-way union reads), which races Spark's
        # hard-coded 10 s connect-back window — under full load that
        # handshake flakes (VERIFY_r13), so start+drain runs under the
        # bounded retry (value-safe: checkpointed offsets + idempotent
        # _batch_id sinks).
        def _drain() -> None:
            q = run_streaming_flagship(
                spark, wh, ckpt, dim_products, dim_customers,
                available_now=False, seed=seed,
                rows_per_batch=rows_per_batch,
                max_offset=max_offset, resend_every=resend_every,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_stream_with_handshake_retry(_drain)
        fact = spark.read.parquet(f"{wh}/fact_enriched")
        n_after_drain = fact.count()

        # restart after saturation: one availableNow pass must add nothing
        def _restart_pass() -> None:
            drain(
                run_streaming_flagship(
                    spark, wh, ckpt, dim_products, dim_customers,
                    available_now=True, seed=seed,
                    rows_per_batch=rows_per_batch,
                    max_offset=max_offset, resend_every=resend_every,
                )
            )

        run_stream_with_handshake_retry(_restart_pass)
        fact = spark.read.parquet(f"{wh}/fact_enriched")
        n_appended = fact.count()
        replay_stable = n_appended == n_after_drain

        # batch-mode twins over the SAME deterministic input; the resend
        # overlay is the SHARED helper the streaming side used
        register_queue_source(spark)
        base = (
            spark.read.format("txqueue")
            .option("seed", seed)
            .option("nMessages", max_offset)
            .load()
        )
        all_msgs = base.unionByName(resend_overlay(base, resend_every)).withColumn(
            "ts", parse_reference_ts(F.col("transaction_date"))
        )
        twin = enrich_transactions(
            all_msgs, dim_products, dim_customers
        ).localCheckpoint()  # two exceptAll consumers
        got = fact.drop("_batch_id").localCheckpoint()
        streamed_equals_batch = rows_equal(got, twin.select(*got.columns))

        pairs = spark.read.parquet(f"{wh}/neardup_pairs").drop("_batch_id")
        pairs = pairs.localCheckpoint()
        pair_twin = minhash_lsh_neardup(payload_text(all_msgs)).localCheckpoint()
        resends_flagged = pairs.count()
        neardup_equals_batch = rows_equal(
            pairs, pair_twin.select(*pairs.columns)
        )

    from pyspark.sql import Row

    n_delivered = 2 * max_offset + max_offset // resend_every
    return spark.createDataFrame(
        [
            Row(
                n_appended=n_appended,
                redeliveries_removed=n_delivered - n_appended,
                resends_flagged=resends_flagged,
                streamed_equals_batch=bool(streamed_equals_batch),
                neardup_equals_batch=bool(neardup_equals_batch),
                replay_stable=bool(replay_stable),
            )
        ],
        "n_appended bigint, redeliveries_removed bigint, "
        "resends_flagged bigint, streamed_equals_batch boolean, "
        "neardup_equals_batch boolean, replay_stable boolean",
    )


@register(
    "queue_drain_values_certificate",
    # VALUE certificate for queue_drain_summary (rows-only above): the
    # r6 queue_source_certificate pinned the SOURCE contract (row count,
    # id uniqueness, label vocabularies, replay identity) but never the
    # drain rollup's own output values. The generator is (seed, offset)-
    # deterministic and partition-layout independent (both
    # driver-graded, r6), so the per-(payment_type, status) rollup is a
    # CONSTANT relation — pinned here as its exact group count, message
    # and quantity totals, and an order-insensitive fingerprint
    # (bit_xor of xxhash64 over canonicalized group rows: XOR is
    # commutative, so partitioning cannot move the value; any changed
    # cell in any group flips it). Constants derived from the committed
    # source spec; the relation does not depend on sf_dir.
    oracle="""
    SELECT CAST(12 AS BIGINT) AS n_groups,
           CAST(2000 AS BIGINT) AS total_messages,
           CAST(6090 AS BIGINT) AS total_quantity,
           CAST(4 AS BIGINT) AS n_payment_types,
           CAST(3 AS BIGINT) AS n_statuses,
           CAST(1569968368443727713 AS BIGINT) AS rollup_fingerprint
    """,
)
def queue_drain_values_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-value pin of the queue drain rollup (see oracle comment).
    Fully lazy: one aggregate over the 12-row rollup relation."""
    roll = queue_drain_summary(spark, sf_dir)
    canon = F.concat_ws(
        "|",
        "payment_type",
        "status",
        F.col("n_messages").cast("string"),
        F.col("total_quantity").cast("string"),
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss"),
    )
    return roll.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_messages").cast("bigint").alias("total_messages"),
        F.sum("total_quantity").cast("bigint").alias("total_quantity"),
        F.count_distinct("payment_type").alias("n_payment_types"),
        F.count_distinct("status").alias("n_statuses"),
        F.bit_xor(F.xxhash64(canon)).alias("rollup_fingerprint"),
    )


# ---------------------------------------------------------------------------
# CDC compaction IO audit (r9) — the merge-on-read vs copy-on-write
# amplification ledger over the cdc_apply_snapshot changelog lineage.

_CDC_BUCKETS = 16  # base-table file layout: hash buckets of the key


@register(
    "cdc_compaction_io_audit",
    oracle=f"""
    WITH log AS (
      SELECT user_id,
             user_id % {_CDC_BUCKETS} AS bucket,
             CAST(ts AS DATE) AS batch_day,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del,
             ts, event_id
      FROM events
    ),
    perkb AS (
      SELECT user_id, bucket, batch_day,
             CASE WHEN is_del = 0 THEN 1 ELSE 0 END AS alive_after
      FROM (
        SELECT log.*, ROW_NUMBER() OVER (
                 PARTITION BY user_id, batch_day
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
      ) WHERE rn = 1
    ),
    deltas AS (
      SELECT bucket, batch_day, CAST(SUM(d) AS BIGINT) AS d
      FROM (
        SELECT bucket, batch_day,
               alive_after - COALESCE(LAG(alive_after) OVER (
                   PARTITION BY user_id ORDER BY batch_day), 0) AS d
        FROM perkb
      ) GROUP BY 1, 2
    ),
    ops AS (
      SELECT bucket, batch_day,
             CAST(COUNT(*) AS BIGINT) AS n_ops,
             CAST(SUM(is_del) AS BIGINT) AS n_deletes
      FROM log GROUP BY 1, 2
    ),
    bb AS (
      SELECT bucket, batch_day, n_ops, n_deletes,
             CAST(SUM(d) OVER (PARTITION BY bucket ORDER BY batch_day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS alive
      FROM ops JOIN deltas USING (bucket, batch_day)
    ),
    per_batch AS (
      SELECT batch_day,
             CAST(SUM(n_ops) AS BIGINT) AS n_ops,
             CAST(SUM(n_deletes) AS BIGINT) AS n_deletes,
             CAST(COUNT(*) AS BIGINT) AS n_buckets_touched,
             CAST(SUM(alive) AS BIGINT) AS cow_rows_written
      FROM bb GROUP BY 1
    )
    SELECT batch_day, n_ops, n_deletes, n_buckets_touched,
           cow_rows_written,
           n_ops AS mor_rows_written,
           CAST(SUM(n_ops) OVER (ORDER BY batch_day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS mor_reader_rows,
           round(CAST(cow_rows_written AS DOUBLE)
                 / CAST(n_ops AS DOUBLE), 4) AS cow_write_amplification
    FROM per_batch
    """,
)
def cdc_compaction_io_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read vs copy-on-write IO ledger for the CDC changelog
    (same Debezium-style log as cdc_apply_snapshot: events keyed by
    user, 'error' = delete, daily micro-batches, base table laid out as
    {_CDC_BUCKETS} hash buckets of the key). Per batch:

    - copy-on-write REWRITES every touched bucket file: rows written =
      the bucket's post-batch snapshot size, computed incrementally as
      the running sum of per-key liveness TRANSITIONS (a key's last op
      in a batch flips it alive/dead; the +-1 deltas aggregate per
      bucket and cumulative-sum — never a per-batch snapshot rescan);
    - merge-on-read appends only the delta (rows written = ops), but an
      uncompacted reader must merge every delta so far (mor_reader_rows
      = cumulative ops);
    - cow_write_amplification = cow rows / delta rows — the number a
      table-format tuner actually reads off this ledger.

    Scale shape: two fact passes (per-key-batch last-op ranking — one
    shuffle on user_id; per-bucket-batch op counts), unpinned so they
    overlap; everything downstream lives on the bucket x day
    grid (~{_CDC_BUCKETS} x calendar rows). The per-key windows are
    key-partitioned; the only unpartitioned window is the reader
    cumulative over the BATCH GRID (calendar-bounded — the cusum
    exemption contract). All outputs exact integers; the amplification
    ratio is one rounded division of identical integers."""
    events = load_table(spark, sf_dir, "events")
    log = events.select(
        "user_id",
        (F.col("user_id") % _CDC_BUCKETS).alias("bucket"),
        F.to_date("ts").alias("batch_day"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias(
            "is_del"
        ),
        "ts",
        "event_id",
    )
    w_last = Window.partitionBy("user_id", "batch_day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    perkb = (
        log.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "bucket",
            "batch_day",
            F.when(F.col("is_del") == 0, 1).otherwise(0).alias(
                "alive_after"
            ),
        )
    )
    w_key = Window.partitionBy("user_id").orderBy("batch_day")
    deltas = (
        perkb.withColumn(
            "d",
            F.col("alive_after")
            - F.coalesce(F.lag("alive_after").over(w_key), F.lit(0)),
        )
        .groupBy("bucket", "batch_day")
        .agg(F.sum("d").cast("long").alias("d"))
    )
    ops = log.groupBy("bucket", "batch_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_ops"),
        F.sum("is_del").cast("long").alias("n_deletes"),
    )
    w_bucket = (
        Window.partitionBy("bucket")
        .orderBy("batch_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bb = ops.join(deltas, ["bucket", "batch_day"]).withColumn(
        "alive", F.sum("d").over(w_bucket).cast("long")
    )
    per_batch = bb.groupBy("batch_day").agg(
        F.sum("n_ops").cast("long").alias("n_ops"),
        F.sum("n_deletes").cast("long").alias("n_deletes"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_touched"),
        F.sum("alive").cast("long").alias("cow_rows_written"),
    )
    w_grid = Window.orderBy("batch_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_batch.select(
        "batch_day",
        "n_ops",
        "n_deletes",
        "n_buckets_touched",
        "cow_rows_written",
        F.col("n_ops").alias("mor_rows_written"),
        F.sum("n_ops").over(w_grid).cast("long").alias("mor_reader_rows"),
        F.round(
            F.col("cow_rows_written").cast("double")
            / F.col("n_ops").cast("double"),
            4,
        ).alias("cow_write_amplification"),
    )
