"""The declared schemas of every table the engine reads, as DDL strings.

- ``TABLE_SCHEMAS``: the ten star-schema Parquet tables (FIXTURES.md
  part B). ``sources/readers.py::load_table`` reads with them, so a scan
  infers nothing from the file footers. This map is the one home of the
  testdata layout.
- ``TRANSACTIONS_RAW``: the reference's CSV-landed transactions fact,
  pinned implicitly by its CSV header order
  (``transactions_mock_data.py:95``). Declared, CSV ingest never falls
  back to sampling-based inference (non-deterministic and a full extra
  pass at 100 TB).
"""

from __future__ import annotations

# Stored timestamps are Parquet TIMESTAMP(MICROS) without UTC adjustment:
# declared timestamp_ntz, the stored wall clock in any session time zone.
TABLE_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
    "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

# transactions fact, CSV-landed — transactions_mock_data.py:68-77.
# transaction_date lands as a STRING in the reference's non-ISO format
# 'yyyy-MM-dd-HH:mm:ss' (transactions_mock_data.py:74); parsing happens in
# the engine (functions/datetime.py), not at ingest.
TRANSACTIONS_RAW = (
    "transaction_id string NOT NULL, customer_id string, product_id string, "
    "quantity int, price double, transaction_date string, "
    "payment_type string, status string"
)
