"""Self-check harness mirroring the driver's correctness gate.

Runs a registered Spark query and its DuckDB oracle on the same parquet
tables, sorts columns by name and rows by value, and compares. Used by
tests and tools/selfcheck.py; strict by default (bitwise equality for
every cell) so any engine-vs-oracle drift surfaces before the driver's
value-hash does.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from .sources.readers import TESTDATA_TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            # Spark-written table = a directory of part files; DuckDB
            # needs the glob (stress fixtures land this way).
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
        elif os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


@contextmanager
def spark_jobs(spark: SparkSession, group: str):
    """Yield a list that, when the block exits, holds the ids of the
    Spark jobs this thread started inside it (a job group read back
    through the status tracker, which works with the UI off)."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


@dataclass
class CompareResult:
    name: str
    ok: bool
    rows_spark: int
    rows_oracle: int
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.rows_spark} oracle={self.rows_oracle}"
        for i in self.issues[:8]:
            msg += f"\n    - {i}"
        return msg


def compare_query(
    spark: SparkSession,
    name: str,
    fn,
    sql: str,
    sf_dir: str,
    float_tol: float = 0.0,
) -> CompareResult:
    sdf = _normalize(fn(spark, sf_dir).toPandas())
    con = duckdb_con(sf_dir)
    try:
        odf = _normalize(con.execute(sql).fetchdf())
    finally:
        con.close()

    issues: list[str] = []
    if list(sdf.columns) != list(odf.columns):
        issues.append(f"columns differ: spark={list(sdf.columns)} oracle={list(odf.columns)}")
    if len(sdf) != len(odf):
        issues.append("row count differs")
    if not issues:
        for c in sdf.columns:
            a, b = sdf[c], odf[c]
            issues.extend(_compare_column(c, a, b, float_tol))
    return CompareResult(name, not issues, len(sdf), len(odf), issues)


def _kind(s: pd.Series) -> str:
    """Dtype kind as the driver's value-hash would see it: an object
    column of Decimal/date is its own kind, not a float/datetime."""
    k = s.dtype.kind
    if k == "O" and len(s):
        # NaN-skipping probe; `v == v` alone is ambiguous for cells
        # holding numpy arrays (ArrayType toPandas), so restrict the
        # NaN test to float scalars
        first = next(
            (v for v in s if v is not None and not (isinstance(v, float) and v != v)),
            None,
        )
        if isinstance(first, Decimal):
            return "decimal"
        import datetime

        if isinstance(first, datetime.datetime):
            return "M"
        if isinstance(first, datetime.date):
            return "date"
    return k


def _compare_column(c: str, a: pd.Series, b: pd.Series, float_tol: float) -> list[str]:
    """Driver-faithful strict compare for one column.

    The driver hashes FORMATTED cell values, so divergences invisible
    to numeric equality are real failures there (all observed in
    CORRECTNESS_r03): DuckDB sum(BIGINT)->HUGEINT fetches as float64
    ("5.0" vs Spark int64 "5"); Spark SQL decimal-literal division
    yields object-dtype Decimal cells; DuckDB keeps IEEE -0.0 where
    Spark's BigDecimal-based round returns +0.0. Hence: dtype-KIND
    mismatch is an issue, floats compare bitwise (signbit-aware,
    NaN==NaN) when float_tol==0.
    """
    issues: list[str] = []
    if len(a) == 0 and len(b) == 0:
        # a legitimately empty result carries no cells to hash; pandas
        # may fetch the two empty frames with different placeholder
        # dtypes (object vs float64), which is not a real divergence
        return issues
    ka, kb = _kind(a), _kind(b)
    # benign cross-fetch representations: unify date-ish kinds
    if {ka, kb} <= {"M", "date"}:
        a = pd.to_datetime(a)
        b = pd.to_datetime(b)
        ka = kb = "M"
    if ka != kb:
        issues.append(
            f"col {c}: dtype kind differs (spark={a.dtype}/{ka} vs oracle={b.dtype}/{kb})"
            " — driver hash formats these differently"
        )
        return issues
    if ka == "f":
        af = a.to_numpy(dtype=np.float64)
        bf = b.to_numpy(dtype=np.float64)
        bad = 0
        maxd = 0.0
        first = None
        for i, (x, y) in enumerate(zip(af, bf)):
            if math.isnan(x) and math.isnan(y):
                continue
            if float_tol == 0.0:
                ok = x == y and np.signbit(x) == np.signbit(y)
            else:
                ok = abs(x - y) <= float_tol
            if not ok:
                bad += 1
                d = abs(x - y)
                maxd = max(maxd, d if not math.isnan(d) else float("inf"))
                if first is None:
                    first = (i, x, y)
        if bad:
            issues.append(
                f"col {c}: {bad} float cells differ (max abs diff {maxd:.3e}, "
                f"first at row {first[0]}: {first[1]!r} vs {first[2]!r})"
            )
    else:
        neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = int(neq.idxmax())
            issues.append(
                f"col {c}: {int(neq.sum())} cells differ "
                f"(first at row {i}: {a[i]!r} vs {b[i]!r})"
            )
    return issues
