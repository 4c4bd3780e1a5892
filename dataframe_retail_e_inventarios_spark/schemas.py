"""Explicit StructTypes for the CSV tables the engine reads and writes.

The reference infers all schemas from CSV (``PRACTICA3.py:183``,
``generador.py:31``); at scale, inference means an extra full scan and
nondeterministic typing, so every CSV reader here takes an explicit
schema. Parquet tables carry their own schema in the footer, which
``sources.readers.load_table`` resolves once per file.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Main sales fact as consumed after the reference's rename
# (PRACTICA3.py:183-194): InvoiceDate/Product_ID/Store_ID/Units_Sold.
VENTAS_SCHEMA = StructType(
    [
        StructField("InvoiceDate", TimestampType()),
        StructField("StockCode", StringType()),
        StructField("Country", StringType()),
        # Raw Quantity may contain garbage; read as string, coerce later
        # with try_cast (matches pd.to_numeric(errors="coerce"),
        # PRACTICA3.py:193).
        StructField("Quantity", StringType()),
    ]
)

# Engine output / report input (PRACTICA3.py:165-175 -> generador.py:31-84).
# Parquet keeps Forecast/Test as native arrays; the CSV round-trip form
# stringifies them (FIXTURES.md §3).
FORECAST_RESULTS_SCHEMA = StructType(
    [
        StructField("SKU", StringType()),
        StructField("Store", StringType()),
        StructField("MAPE", DoubleType()),
        StructField("Forecast", ArrayType(DoubleType())),
        StructField("Test", ArrayType(DoubleType())),
        StructField("Safety_Stock", LongType()),
        StructField("Reorder_Point", LongType()),
        StructField("Qty_to_Order", LongType()),
        StructField("Runtime_sec", DoubleType()),
    ]
)

# CSV round-trip form of the same (arrays stringified, as the reference's
# to_csv produces at PRACTICA3.py:209).
FORECAST_RESULTS_CSV_SCHEMA = StructType(
    [
        StructField("SKU", StringType()),
        StructField("Store", StringType()),
        StructField("MAPE", DoubleType()),
        StructField("Forecast", StringType()),
        StructField("Test", StringType()),
        StructField("Safety_Stock", LongType()),
        StructField("Reorder_Point", LongType()),
        StructField("Qty_to_Order", LongType()),
        StructField("Runtime_sec", DoubleType()),
    ]
)

# FreshRetailNet-50K shape (limpieza_de_datos.py:12-28).
FRESH_RETAIL_SCHEMA = StructType(
    [
        StructField("product_id", LongType()),
        StructField("store_id", LongType()),
        StructField("dt", TimestampType()),
        StructField("sale_amount", DoubleType()),
    ]
)

__all__ = [
    "VENTAS_SCHEMA",
    "FORECAST_RESULTS_SCHEMA",
    "FORECAST_RESULTS_CSV_SCHEMA",
    "FRESH_RETAIL_SCHEMA",
    "BooleanType",
]
