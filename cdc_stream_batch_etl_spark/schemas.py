"""Explicit StructTypes for every boundary the reference leaves untyped.

The reference's schemas are fixed in Postgres DDL (/root/reference/sql/
init.sql:4-50) but degrade to untyped JSON through Kafka/Redis
(utils.py:81,131-147). SURVEY §1.1: "Our engine should make the schema
explicit everywhere" — this module is that contract.

- e-commerce tables: init.sql:4-50
- Debezium CDC envelope: cdc_processor.py:26-43 +
  debezium/postgres-connector.json (payload.{op, ts_ms, source.table,
  before, after}; op ∈ c/u/d/r)
- alert messages: stream_processor.py:292-311
"""

from __future__ import annotations

from pyspark.sql import types as T

# ids are LongType (SERIAL in the DDL) — 32-bit ids overflow at 100 TB scale
CUSTOMERS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("first_name", T.StringType(), False),
        T.StructField("last_name", T.StringType(), False),
        T.StructField("email", T.StringType(), False),
        T.StructField("phone", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("zip_code", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("customer_id", T.LongType()),
        T.StructField("order_date", T.TimestampType()),
        T.StructField("total_amount", T.DecimalType(10, 2), False),
        T.StructField("status", T.StringType()),
        T.StructField("shipping_address", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)

PRODUCTS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("description", T.StringType()),
        T.StructField("price", T.DecimalType(10, 2), False),
        T.StructField("category", T.StringType()),
        T.StructField("stock_quantity", T.IntegerType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)

ORDER_ITEMS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("order_id", T.LongType()),
        T.StructField("product_id", T.LongType()),
        T.StructField("quantity", T.IntegerType(), False),
        T.StructField("unit_price", T.DecimalType(10, 2), False),
        T.StructField("created_at", T.TimestampType()),
    ]
)

TABLE_SCHEMAS = {
    "customers": CUSTOMERS,
    "orders": ORDERS,
    "products": PRODUCTS,
    "order_items": ORDER_ITEMS,
}


def cdc_envelope(row_schema: T.StructType) -> T.StructType:
    """Debezium-style change-event envelope for one table's row schema
    (cdc_processor.py:26-34: payload.{op, ts_ms, source.table, before,
    after}; before null for c/r, after null for d)."""
    return T.StructType(
        [
            T.StructField("op", T.StringType(), False),  # c / u / d / r
            T.StructField("ts_ms", T.LongType(), False),
            T.StructField(
                "source",
                T.StructType([T.StructField("table", T.StringType(), False)]),
                False,
            ),
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
        ]
    )
