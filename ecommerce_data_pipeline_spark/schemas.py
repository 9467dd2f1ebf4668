"""The explicit schema of the reference's CSV-landed transactions fact.

The reference pins this schema implicitly, through its CSV header order
(``transactions_mock_data.py:95``). Here it is an explicit ``StructType``
so CSV ingest (``sources/readers.py``) never falls back to sampling-based
inference (non-deterministic and a full extra pass at 100 TB). The
parquet fixture tables carry their own schemas in their footers.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# transactions fact, CSV-landed — transactions_mock_data.py:68-77.
# transaction_date lands as a STRING in the reference's non-ISO format
# 'yyyy-MM-dd-HH:mm:ss' (transactions_mock_data.py:74); parsing happens in
# the engine (functions/datetime.py), not at ingest.
TRANSACTIONS_RAW = StructType(
    [
        StructField("transaction_id", StringType(), False),
        StructField("customer_id", StringType(), True),
        StructField("product_id", StringType(), True),
        StructField("quantity", IntegerType(), True),
        StructField("price", DoubleType(), True),
        StructField("transaction_date", StringType(), True),
        StructField("payment_type", StringType(), True),
        StructField("status", StringType(), True),
    ]
)
