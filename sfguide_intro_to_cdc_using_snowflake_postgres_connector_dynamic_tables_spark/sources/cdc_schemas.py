"""Explicit schemas for the reference's CDC domain.

Mirrors the Postgres DDL (reference ``scripts/postgresql_setup.sql:9-42``,
FIXTURES.md section 1).  Money stays DoubleType on purpose -- the
reference stores ``price``/``total_price`` as ``double precision``
(``scripts/postgresql_setup.sql:28,39``) and oracle-matching requires
reproducing that, footgun and all.
"""

from __future__ import annotations

from pyspark.sql import types as T

CUSTOMERS_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType(), False),
        T.StructField("firstname", T.StringType(), True),
        T.StructField("lastname", T.StringType(), True),
        T.StructField("age", T.IntegerType(), True),
        T.StructField("email", T.StringType(), True),
        T.StructField("phone_number", T.StringType(), True),
    ]
)

MERCHANTS_SCHEMA = T.StructType(
    [
        T.StructField("merchant_id", T.IntegerType(), False),
        T.StructField("merchant_name", T.StringType(), True),
        T.StructField("merchant_category", T.StringType(), True),
    ]
)

PRODUCTS_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.IntegerType(), False),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("product_category", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
    ]
)

TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("customer_id", T.IntegerType(), True),
        T.StructField("product_id", T.IntegerType(), True),
        T.StructField("merchant_id", T.IntegerType(), True),
        T.StructField("transaction_date", T.DateType(), True),
        # String 'HH:mm:ss', NOT a time type (postgresql_setup.sql:37,101).
        T.StructField("transaction_time", T.StringType(), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("total_price", T.DoubleType(), True),
        T.StructField("transaction_card", T.StringType(), True),
        T.StructField("transaction_category", T.StringType(), True),
    ]
)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "customers": CUSTOMERS_SCHEMA,
    "merchants": MERCHANTS_SCHEMA,
    "products": PRODUCTS_SCHEMA,
    "transactions": TRANSACTIONS_SCHEMA,
}

#: Upsert key per table = declared PK (postgresql_setup.sql:10,19,25,32).
PRIMARY_KEYS: dict[str, str] = {
    "customers": "customer_id",
    "merchants": "merchant_id",
    "products": "product_id",
    "transactions": "transaction_id",
}
