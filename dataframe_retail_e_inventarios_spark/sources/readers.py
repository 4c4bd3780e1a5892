"""Readers [SURVEY §2.1 S1-S3, S5].

All CSV reads take an explicit schema (never ``inferSchema`` — an extra
full scan and nondeterministic typing at 100 TB). Parquet is the
primary format: columnar at rest, predicate pushdown + column pruning
reach the scan, and ArrayType columns stay native (no stringify/reparse
round-trip, unlike the reference's CSV intermediate —
``PRACTICA3.py:209`` / ``generador.py:46-69``).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV scan with explicit schema [S1/S2: PRACTICA3.py:183, generador.py:31].

    Timestamp columns parse directly from the schema (the reference's
    ``parse_dates=``); malformed rows become nulls (PERMISSIVE), the
    moral equivalent of ``errors='coerce'`` downstream.
    """
    return spark.read.csv(path, header=True, schema=schema, mode="PERMISSIVE")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSONL scan with explicit schema — the canonical training-data
    interchange format (one document object per line). Explicit schema
    for the same reason as CSV: ``inferSchema``/sampling costs an extra
    pass and yields nondeterministic types at corpus scale. Corrupt
    lines land in nulls (PERMISSIVE) rather than failing the scan."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (schema from file metadata, like parquet)."""
    return spark.read.orc(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw-text scan: one row per line in a single ``value`` string
    column — the entry format for unstructured corpus ingest before
    any parsing (each line becomes a document candidate)."""
    return spark.read.text(path)


def require_path(path: str) -> str:
    """Existence guard on a source [S5: generador.py:25-28]."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"input path does not exist: {path}")
    return path


# Session confs that change the schema parquet inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# (realpath, conf values) -> (file identity, raw schema), plus
# (realpath, "nanos") -> (file identity, events footer probe). A
# rewrite replaces its path's entry, so the memo holds one per path.
# Process-wide on purpose: an entry is a pure function of the file and
# the confs, so any session may reuse it, and a lost race between two
# threads costs one more resolution, never a stale schema.
_RESOLVED: dict[tuple, tuple] = {}


def _file_identity(path: str) -> tuple:
    """What changes when a parquet source is rewritten: inode, size and
    mtime for a file; every part file's name, size and mtime for a
    Spark-written directory."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    parts = []
    for root, _, files in os.walk(path):
        for f in files:
            fst = os.stat(os.path.join(root, f))
            rel = os.path.relpath(os.path.join(root, f), path)
            parts.append((rel, fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(parts))


def _memo(key: tuple, ident: tuple, resolve):
    hit = _RESOLVED.get(key)
    if hit is not None and hit[0] == ident:
        return hit[1]
    value = resolve()
    _RESOLVED[key] = (ident, value)
    return value


def _has_nanos_ts(path: str) -> bool:
    # pyarrow reads the footer driver-side, with no session mutation;
    # dataset() handles both single files and Spark-written directories
    import pyarrow.dataset as pads

    ts_type = str(pads.dataset(path, format="parquet").schema.field("ts").type)
    return ts_type.startswith("timestamp[ns")


def read_raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver testdata table as parquet stores it, before any
    normalization; a missing table raises ``FileNotFoundError`` naming
    it and ``sf_dir``.

    Inferring a parquet schema runs a Spark job that reads the footer,
    so the schema is resolved once per file, memoized under the file's
    identity and the session confs that change inference, and passed
    explicitly on later reads, which start no job. Only the schema is
    kept, never the DataFrame: each call returns a fresh relation, so
    two loads of one table carry distinct attribute ids and self-joins
    resolve.

    ``events.ts`` has appeared as parquet TIMESTAMP(NANOS), which Spark
    cannot read natively (PARQUET_TYPE_ILLEGAL). For such a file the
    ``nanosAsLong`` legacy conf is set and ``ts`` arrives as LongType
    nanos. The conf is consulted again at scan execution, so it cannot
    be save-restored around the read; in a nanos environment it stays
    set for the session (the engine's one deliberate session-scoped
    setting).
    """
    path = require_path(os.path.join(sf_dir, f"{name}.parquet"))
    real = os.path.realpath(path)
    ident = _file_identity(real)
    if name == "events" and _memo((real, "nanos"), ident, lambda: _has_nanos_ts(real)):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    schema = _memo((real, confs), ident, lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) through
    ``read_raw_table``.

    Timestamp columns are normalized to TIMESTAMP_NTZ wall-clocks
    (functions/timewall.to_wall_ntz): the fixture generator has
    flipped between naive and UTC-adjusted parquet timestamps across
    rounds, and NTZ is the flavor that matches the DuckDB oracle's
    naive TIMESTAMP under any session timezone. A TIMESTAMP(NANOS)
    ``events.ts`` arrives as LongType nanos, which we truncate to a
    micro timestamp — exactly what DuckDB does when it reads the same
    file, keeping both engines bucket-identical.
    """
    from ..functions.timewall import to_wall_ntz, wall_ntz_from_micros

    df = read_raw_table(spark, sf_dir, name)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # exact long division, truncating toward zero as DuckDB does
        # (a double division rounds sub-micro remainders near 1 up)
        df = df.withColumn("ts", wall_ntz_from_micros(F.expr("ts div 1000")))
    return to_wall_ntz(df)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}
