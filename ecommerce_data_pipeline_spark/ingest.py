"""The reference's full ingest lifecycle (EP1 + EP2), composed.

EP1 (``dimension_tables_mock.py:134-147``): candidate dimension rows →
dedup against existing keys → append surviving rows.
EP2 (``transactions_mock_data.py:125-150``): fact batch → CSV landing
zone (time-partitioned) → enrichment join with both dims → warehouse
append.

The reference runs these as two Lambdas wired through Redshift polling, an
S3 sleep, and a blind Glue trigger; here each cycle is synchronous
DataFrame code — dimension loads are idempotent (key dedup, EP1's
invariant), fact appends are reference-faithful blind appends with an
OPT-IN fact-key dedup (``dedup_key``) for exactly-once re-runs, and the
whole cycle is shuffle-minimal (dims broadcast; facts write partitioned
by event time). Join losses are never silent: the cycle metrics report
facts that found no dimension row (``facts_orphaned``) from the same
pass as the write.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ecommerce_data_pipeline_spark.functions.datetime import parse_reference_ts
from ecommerce_data_pipeline_spark.operators.dedup import new_rows_only
from ecommerce_data_pipeline_spark.operators.joins import enrich_facts
from ecommerce_data_pipeline_spark.sources.readers import read_parquet_or_none
from ecommerce_data_pipeline_spark.sources.writers import (
    append_table,
    write_partitioned_parquet,
)


@dataclass
class Warehouse:
    """Paths of the engine-local warehouse (stand-in for Redshift)."""

    root: str

    def table(self, name: str) -> str:
        return f"{self.root}/{name}"


def refresh_dimension(
    spark: SparkSession,
    wh: Warehouse,
    table: str,
    candidates: DataFrame,
    key: str,
) -> int:
    """EP1: insert candidate rows whose key is not yet present.

    Returns the number of rows actually inserted (0 on re-run with the
    same candidates — the reference's invariant). The existing-keys side
    reads only the key column (column-pruned scan). The count-then-append
    double pass is deliberate: candidates are Lambda-batch-sized by
    contract, and the P4 empty-set guard needs the count before writing.
    """
    path = wh.table(table)
    existing = read_parquet_or_none(spark, path)
    if existing is None:  # first load
        candidates.write.mode("overwrite").parquet(path)
        return candidates.count()
    fresh = new_rows_only(candidates, existing.select(key), key)
    n = fresh.count()
    if n > 0:  # P4 empty-set guard
        append_table(fresh, path)
    return n


def ingest_fact_batch(
    spark: SparkSession,
    wh: Warehouse,
    facts: DataFrame,
    ts_col: str,
    dims: dict[str, tuple[str, DataFrame]],
    landing_path: str | None = None,
    dedup_key: str | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """EP2: land the batch (optional, reference's S3 zone, hour
    partitions), enrich with
    dimensions (broadcast), and APPEND to the warehouse fact table
    (the append happens inside this function; the returned DataFrame is
    the already-written enriched batch for further use).

    ``dims`` maps fact FK column → (dim key column, dim DataFrame).
    ``dedup_key``: when given (e.g. ``"transaction_id"``), rows whose key
    already exists in the fact table are dropped before the append —
    the opt-in exactly-once form for re-delivered batches; default None
    is the reference's blind append.
    ``metrics_out``: when given, receives single-pass Observation counts
    {facts_in, facts_enriched, facts_appended} collected DURING the
    append (no extra scans); facts_in − facts_enriched = rows dropped by
    the inner dimension join (orphans), facts_enriched − facts_appended
    = rows dropped by ``dedup_key``.
    """
    if landing_path:
        # the landing copy keeps the raw column (reference layout); the
        # PARTITION DERIVATION parses the reference's non-ISO string
        # format when needed — F.year() on the raw string would cast to
        # NULL and land every row in __HIVE_DEFAULT_PARTITION__
        ts_for_partition = (
            parse_reference_ts(F.col(ts_col))
            if isinstance(facts.schema[ts_col].dataType, StringType)
            else F.col(ts_col)
        )
        write_partitioned_parquet(facts, ts_for_partition, landing_path)

    obs_in = Observation("facts_in")
    facts = facts.observe(obs_in, F.count(F.lit(1)).alias("n"))

    renamed: dict[str, DataFrame] = {}
    # names already claimed by the fact side OR by an earlier dim's
    # payload — two dims carrying the same payload column (absent from
    # the facts) would otherwise both keep it and the enriched frame
    # would hold duplicate column names (parquet write rejects them)
    taken = set(facts.columns)
    for fk, (dk, dim) in dims.items():
        d = dim.withColumnRenamed(dk, fk) if dk != fk else dim
        # disambiguate dim payload columns that collide with fact columns
        # (e.g. the reference's `price` lives in both dim_products and the
        # transaction): prefix with the FK stem → product_price
        stem = fk.removesuffix("_id")
        for c in d.columns:
            if c != fk and c in taken:
                new_name = f"{stem}_{c}"
                if new_name in taken:
                    raise ValueError(
                        f"dim payload column {c!r} for FK {fk!r} collides "
                        f"even after prefixing ({new_name!r} already taken)"
                    )
                d = d.withColumnRenamed(c, new_name)
        taken.update(c for c in d.columns if c != fk)
        renamed[fk] = d
    enriched = enrich_facts(facts, renamed)
    obs_enriched = Observation("facts_enriched")
    enriched = enriched.observe(obs_enriched, F.count(F.lit(1)).alias("n"))

    fact_path = wh.table("fact_enriched")
    if dedup_key is not None:
        existing = read_parquet_or_none(spark, fact_path)
        if existing is not None:
            enriched = new_rows_only(
                enriched, existing.select(dedup_key), dedup_key
            )
    obs_app = Observation("facts_appended")
    to_append = enriched.observe(obs_app, F.count(F.lit(1)).alias("n"))
    append_table(to_append, fact_path)
    if metrics_out is not None:
        metrics_out["facts_in"] = int(obs_in.get["n"])
        metrics_out["facts_enriched"] = int(obs_enriched.get["n"])
        metrics_out["facts_appended"] = int(obs_app.get["n"])
    return enriched


def run_ingest_cycle(
    spark: SparkSession,
    wh: Warehouse,
    product_candidates: DataFrame,
    customer_candidates: DataFrame,
    fact_batch: DataFrame,
    ts_col: str,
    landing_path: str | None = None,
    dedup_key: str | None = None,
) -> dict[str, int]:
    """One full reference cycle: EP1 for both dims, then EP2 for the facts.

    Column contract mirrors FIXTURES.md §A: dims keyed product_id /
    customer_id; facts carry both FKs. Metrics come from the append's
    own Observation pass — no second execution of the enrichment DAG.
    ``facts_orphaned`` > 0 means inner-join losses (a fact FK with no
    dimension row): the rows exist in the landing zone but not in
    fact_enriched — surfaced here instead of silently vanishing.
    """
    n_prod = refresh_dimension(
        spark, wh, "dim_products", product_candidates, "product_id"
    )
    n_cust = refresh_dimension(
        spark, wh, "dim_customers", customer_candidates, "customer_id"
    )
    dim_products = spark.read.parquet(wh.table("dim_products"))
    dim_customers = spark.read.parquet(wh.table("dim_customers"))
    metrics: dict[str, int] = {}
    ingest_fact_batch(
        spark,
        wh,
        fact_batch,
        ts_col,
        {
            "product_id": ("product_id", dim_products),
            "customer_id": ("customer_id", dim_customers),
        },
        landing_path=landing_path,
        dedup_key=dedup_key,
        metrics_out=metrics,
    )
    return {
        "new_products": n_prod,
        "new_customers": n_cust,
        "facts_ingested": metrics["facts_appended"],
        "facts_orphaned": metrics["facts_in"] - metrics["facts_enriched"],
    }
