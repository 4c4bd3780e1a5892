"""The benchmark's workloads, their timed operations and output checks.

Every timed operation fully materializes what a user would get: the
query workloads write each query's DataFrame to the ``noop`` sink, and
the pipeline workload writes the real results CSV and renders the
report. Outputs are checked after the timed region: query results
against their DuckDB oracle (``registry.oracle_sql()``), pipeline
results against the same oracle the registry uses to certify the
model-UDF path, evaluated over the same ``ventas.csv``.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

import gen

PACKAGE = "dataframe_retail_e_inventarios_spark"

# Registered queries at bench scale, read from the fixed sf0.1 fixture
# tables (byte copies of the ones TESTDATA.md describes, kept in
# ``perfbench/fixtures/sf0.1``): three queries of the repository's
# original bench, chosen to cover the layers a query's time sits in (a
# one-table scan, a six-table join, an Arrow UDF). At smoke scale
# (sf0.001) the same ops are fixed-cost bound and their run-to-run
# spread on a shared 4-CPU VM was ~25%; at sf0.1 execution is about
# half of each op and the spread is smaller, while table resolution,
# build and planning still show. dedup_minhash_lsh (eager checkpoint
# jobs) was measured here too, but its op and its oracle check took a
# third of a run and it was the noisiest op.
QUERIES = [
    "tpch_pricing_summary",
    "volume_shipping_nation_pairs",
    "semantic_dedup_signature",
]
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.1")

# ventas.csv size: 100,000 rows over 100 Zipf-popular stock codes and
# 20 stores (2,000 series of about 50 rows, about 98% of them admitted),
# the reference-size input's shape scaled down 20x.
VENTAS_ROWS = 100_000
VENTAS_CODES = 100

REPORT_STAMP = "2026-01-01 00:00:00"
MA_TOL = 5e-5 + 1e-9


def span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else nullcontext()


def tracker_seconds(qe) -> float:
    """Analysis + optimization + planning time recorded by the
    QueryExecution's phase tracker."""
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        if p.isDefined():
            total += p.get().durationMs()
    return total / 1e3


def plan_step(tracer, df) -> None:
    """Traced runs only: plan the DataFrame explicitly, so planning is
    its own span."""
    with tracer.span("spark.plan") as s:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
    s["attrs"]["tracker_s"] = tracker_seconds(qe)


class QueryWorkload:
    """Registered queries at bench scale, one op per query.

    Every op's output is checked through a digest computed during the
    op's own execution: the DataFrame is observed (``Observation``) for
    its row count and the sum of ``xxhash64`` over every row, which is
    order-insensitive and costs one hash per output row. The first op
    of a query in a run is certified outside the timed region: the same
    query is collected under a second observation and compared with its
    DuckDB oracle, and the op's digest must equal the collected rows'
    digest. Every later op's digest must equal the certified one, so a
    result that goes wrong only on repeated executions fails its op."""

    name = "queries_sf0.1"
    warmup_passes = 1
    # seconds of benchmark work inside the last op (the observation),
    # taken out of its wall
    untimed_s = 0.0

    def __init__(self, queries: dict | None = None):
        # ``queries`` overrides registry lookups (the self-test plants
        # wrong results this way)
        self._override = queries or {}
        self.names = list(QUERIES)
        self.sf_dir = FIXTURES
        self._certified: dict[str, tuple] = {}

    def prepare(self, work: str, seed: int) -> dict:
        rows = {f[:-len(".parquet")]: pq.ParquetFile(os.path.join(self.sf_dir, f)).metadata.num_rows
                for f in sorted(os.listdir(self.sf_dir)) if f.endswith(".parquet")}
        return {"tables": rows, "queries": self.names, "fixtures": "perfbench/fixtures/sf0.1"}

    def bind(self, spark) -> None:
        from dataframe_retail_e_inventarios_spark.registry import oracle_sql, queries

        qs = queries()
        self.fns = {n: self._override.get(n, qs[n]) for n in self.names}
        self.oracles = oracle_sql()

    def install(self, tracer) -> list:
        return [tracer.install(PACKAGE, "sources.readers", "load_table",
                               "sources.load_table", key=lambda a, k: (a[1], a[2]))]

    @staticmethod
    def observed(df):
        """``df`` with a digest observation: its row count and the sum
        of every row's ``xxhash64`` (as a decimal, so it cannot
        overflow)."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        obs = Observation()
        digest = F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)"))
        return df.observe(obs, F.count(F.lit(1)).alias("rows"), digest.alias("digest")), obs

    def run_op(self, spark, name: str, tracer):
        with span(tracer, "plans.build"):
            df = self.fns[name](spark, self.sf_dir)
        t = time.perf_counter()
        with span(tracer, "bench.observe"):
            df, obs = self.observed(df)
        self.untimed_s = time.perf_counter() - t
        if tracer is not None:
            plan_step(tracer, df)
        with span(tracer, "spark.exec"):
            df.write.format("noop").mode("overwrite").save()
        return obs

    def check(self, spark, name: str, obs) -> str | None:
        got = (obs.get["rows"], obs.get["digest"])
        if name not in self._certified:
            reason, digest = self.certify(spark, name)
            if reason is not None:
                return reason
            self._certified[name] = digest
        if got != self._certified[name]:
            return (f"output digest {got} differs from the oracle-certified "
                    f"{self._certified[name]}")
        return None

    def certify(self, spark, name: str) -> tuple[str | None, tuple | None]:
        """Collect the query once more under an observation, compare
        the rows with the DuckDB oracle, and return the digest of the
        rows that passed."""
        from dataframe_retail_e_inventarios_spark.testing import compare_query

        seen = {}

        def collected(spark, sf_dir):
            df, seen["obs"] = self.observed(self.fns[name](spark, sf_dir))
            return df

        try:
            r = compare_query(spark, name, collected, self.oracles[name], self.sf_dir)
        except Exception as e:  # a failing check is a failed op, not a crash
            return f"check raised {e!r}"[:300], None
        if not r.ok:
            return "; ".join(r.issues[:3]) or "mismatch", None
        return None, (seen["obs"].get["rows"], seen["obs"].get["digest"])

    def extra(self, name: str, obs) -> dict:
        return {"rows": obs.get["rows"]}


class VentasWorkload:
    """The reference's user workflow over a seeded ventas.csv."""

    name = "ventas_pipeline"
    names = ["pipeline"]
    warmup_passes = 3
    untimed_s = 0.0

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.csv = os.path.join(work, "ventas.csv")
        df = gen.write_ventas(self.csv, seed, VENTAS_ROWS, VENTAS_CODES)
        self.out = os.path.join(work, "results_csv")
        self.report = os.path.join(work, "report.txt")
        self._oracle = None
        return {"rows": len(df), "stock_codes": VENTAS_CODES, "stores": len(gen.COUNTRIES),
                "series": int(df.groupby(["StockCode", "Country"]).ngroups),
                "weeks": gen.VENTAS_WEEKS, "csv_bytes": os.path.getsize(self.csv)}

    def bind(self, spark) -> None:
        pass

    def install(self, tracer) -> list:
        return [
            tracer.install(PACKAGE, "sources.readers", "read_csv", "sources.read_csv",
                           key=lambda a, k: a[1]),
            tracer.install(PACKAGE, "sources.writers", "write_csv", "sources.write_csv",
                           key=lambda a, k: a[1]),
        ]

    def run_op(self, spark, name: str, tracer):
        from dataframe_retail_e_inventarios_spark.plans.pipeline import (
            build_report,
            forecast_inventory,
            load_ventas,
            read_results_csv,
            write_results_csv,
        )
        from dataframe_retail_e_inventarios_spark.plans.report_render import render_report

        with span(tracer, "plans.build"):
            results = forecast_inventory(load_ventas(spark, self.csv), use_models=True)
        if tracer is not None:
            plan_step(tracer, results)
        write_results_csv(results, self.out)
        with span(tracer, "plans.build"):
            report = build_report(read_results_csv(spark, self.out))
        with span(tracer, "plans.report_render"):
            doc = render_report(report, self.report, generated_at=REPORT_STAMP)
        return doc

    def oracle(self):
        """The registry's model-UDF certificate (Safety_Stock, the MA
        member, the Test sums of every admitted series), evaluated by
        DuckDB over ventas.csv mapped onto the lineitem columns it
        reads."""
        if self._oracle is None:
            import duckdb
            from dataframe_retail_e_inventarios_spark.registry import oracle_sql

            con = duckdb.connect()
            try:
                path = self.csv.replace("'", "''")
                con.execute(
                    "CREATE VIEW lineitem AS SELECT StockCode AS l_partkey, Country AS l_suppkey, "
                    "InvoiceDate AS l_shipdate, Quantity AS l_quantity "
                    f"FROM read_csv('{path}', header=true, "
                    "columns={'InvoiceDate': 'TIMESTAMP', 'StockCode': 'VARCHAR', "
                    "'Country': 'VARCHAR', 'Quantity': 'VARCHAR'})"
                )
                self._oracle = con.execute(oracle_sql()["forecast_udf_ensemble"]).fetchdf()
            finally:
                con.close()
        return self._oracle

    def read_results(self):
        import pandas as pd

        parts = sorted(glob.glob(os.path.join(self.out, "part-*.csv")))
        return pd.concat([pd.read_csv(p, dtype={"SKU": str, "Store": str}) for p in parts],
                         ignore_index=True)

    def check(self, spark, name: str, doc) -> str | None:
        return check_pipeline(self.read_results(), doc, self.oracle())

    def extra(self, name: str, doc) -> dict:
        parts = glob.glob(os.path.join(self.out, "part-*.csv"))
        return {"series": len(self.read_results()),
                "sources.write_csv.bytes": sum(os.path.getsize(p) for p in parts)}


def test_sum(cell: str) -> float:
    import numpy as np

    vals = np.array([float(v) for v in cell.strip("[]").split(",")])
    return float(np.round(vals * 10000).sum() / 10000.0)


def check_pipeline(res, doc: str, oracle) -> str | None:
    """Compare one pipeline op's results CSV and report with the
    oracle: same admitted (SKU, Store) set, equal Safety_Stock, MA
    member within rounding, equal Test sums, one report section per
    result row."""
    if res is None or doc is None:
        return "no output"
    keys = ["SKU", "Store"]
    if res.duplicated(keys).any():
        return "duplicate (SKU, Store) rows"
    m = res.merge(oracle, on=keys, how="outer", indicator=True)
    missing = int((m["_merge"] != "both").sum())
    if missing:
        return f"{missing} series differ from the oracle's admitted set"
    if (m["Safety_Stock_x"] != m["Safety_Stock_y"]).any():
        return "Safety_Stock differs"
    if ((m["MA_Member"] - m["ma_wk1"]).abs() > MA_TOL).any():
        return "MA member differs"
    if ((m["Test"].map(test_sum) - m["test_sum"]).abs() > 1e-9).any():
        return "Test sums differ"
    sections = doc.count("Analisis Detallado de SKU:")
    if sections != len(res) or f"Se analizaron {len(res)} combinaciones" not in doc:
        return f"report has {sections} sections for {len(res)} results"
    return None


WORKLOADS = {w.name: w for w in (VentasWorkload, QueryWorkload)}


def tail(walls: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return None
    idx = n - 11
    return {"value": sorted(walls)[idx], "percentile": round(100.0 * (idx + 1) / n, 1),
            "beyond": 10, "samples": n}


def per_name_medians(ops: list[dict], key: str) -> dict[str, float]:
    """Each op name's median ``key`` over the given ops."""
    by: dict[str, list] = {}
    for o in ops:
        if o.get(key) is not None:
            by.setdefault(o["name"], []).append(o[key])
    return {n: statistics.median(v) for n, v in by.items()}


def per_name_median_sum(ops: list[dict], key: str) -> float:
    """One pass's total of ``key``, each op at its median."""
    return sum(per_name_medians(ops, key).values())
