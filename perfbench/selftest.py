"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

Runs from the repository root, exits non-zero on the first failure.
Covers: the ventas.csv generator (determinism per seed, the stated
shares of garbage, negative and gate-failing rows), the event-log
reader (per job group sums over a small committed Spark 4.1 log), the
output checks (planted wrong results, one of them wrong only on
repeated executions, count as failed ops), and the Python-worker
import path (a pandas-UDF op run from a temporary working directory).
"""

from __future__ import annotations

import filecmp
import os
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SCRATCH = HERE / ".work" / "selftest"
EVENT_LOG = HERE / "testdata"


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def test_generators_are_seeded():
    d = Path(tempfile.mkdtemp(dir=SCRATCH))
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_ventas(str(d / name / "ventas.csv"), seed, 20_000, 100)
    f = "ventas.csv"
    expect(filecmp.cmp(d / "a" / f, d / "b" / f, shallow=False), f"{f}: same seed, other bytes")
    expect(not filecmp.cmp(d / "a" / f, d / "c" / f, shallow=False), f"{f}: other seed, same bytes")


def test_ventas_shares():
    import numpy as np
    import pandas as pd

    df = gen.ventas_frame(5, workloads.VENTAS_ROWS, workloads.VENTAS_CODES)
    qty = pd.to_numeric(df["Quantity"], errors="coerce")
    garbage, negative = qty.isna().mean(), (qty < 0).mean()
    expect(0.001 <= garbage <= 0.003, f"garbage share {garbage:.4f}, expected ~0.2%")
    expect(0.007 <= negative <= 0.013, f"negative share {negative:.4f}, expected ~1%")
    # the pipeline's admission gates: >= 12 weekly buckets, >= 10 units
    clean = df.assign(q=qty.fillna(0.0), t=pd.to_datetime(df["InvoiceDate"]))
    clean = clean[clean["q"] >= 0]
    week = clean["t"].dt.normalize() + pd.to_timedelta((6 - clean["t"].dt.dayofweek) % 7, "D")
    g = clean.assign(week=week).groupby(["StockCode", "Country"])
    possible = workloads.VENTAS_CODES * len(gen.COUNTRIES)
    expect(g.ngroups >= 0.97 * possible, f"{g.ngroups} of {possible} code-store series present")
    span = (g["week"].max() - g["week"].min()).dt.days // 7 + 1
    fails = (span < 12) | (g["q"].sum() < 10)
    # the reference-size input admits 39,050 of 40,000 series (2.4 % fail)
    share = float(np.mean(fails))
    expect(0.01 <= share <= 0.04, f"gate-failing series share {share:.3f}, expected ~2.4%")


def test_event_log_sums_per_job_group():
    tot = tracing.totals_by_group(tracing.read_events(str(EVENT_LOG)))
    op1, op2 = tot["op1|spark.exec"], tot["op2|sources.load_table"]
    expect((op1["spark.jobs"], op1["spark.stages"], op1["spark.tasks"]) == (3, 3, 6), f"op1 {op1}")
    expect((op2["spark.jobs"], op2["spark.stages"], op2["spark.tasks"]) == (2, 2, 3), f"op2 {op2}")
    expect(op1["spark.shuffle_write_bytes"] == 18901 == op1["spark.shuffle_read_bytes"], "op1 shuffle")
    expect(op2["spark.shuffle_write_bytes"] == 118, "op2 shuffle")
    expect(op1["python_worker.bytes_sent"] == 33464, "python bytes sent")
    expect(op1["python_worker.bytes_returned"] == 32672, "python bytes returned")
    expect(abs(op1["python_worker.run_s"] - 5.252) < 1e-9, "python run time")
    expect(abs(op1["python_worker.start_init_s"] - 4.529) < 1e-9, "python start+init time")
    expect(op2["python_worker.bytes_sent"] == 0, "op2 ran no Python")
    expect(len(op1["job_intervals"]) == 3, "job intervals")


def test_compressed_event_log_is_refused():
    d = Path(tempfile.mkdtemp(dir=SCRATCH)) / "eventlog_v2_x"
    d.mkdir()
    (d / "events_1_x.zstd").write_bytes(b"")
    try:
        tracing.event_log_files(str(d.parent))
    except ValueError:
        return
    raise AssertionError("a compressed log was accepted")


def test_pipeline_check_catches_a_dropped_row():
    import pandas as pd

    oracle = pd.DataFrame({"SKU": ["1", "2"], "Store": ["X", "X"], "Safety_Stock": [3, 4],
                           "ma_wk1": [1.2345, 2.0], "test_sum": [10.0, 4.0]})
    res = pd.DataFrame({"SKU": ["1", "2"], "Store": ["X", "X"], "Safety_Stock": [3, 4],
                        "MA_Member": [1.23451, 2.0],
                        "Test": ["[1.0, 2.0, 3.0, 4.0]", "[1.0, 1.0, 1.0, 1.0]"]})
    doc = "Se analizaron 2 combinaciones\n" + "Analisis Detallado de SKU: a\n" * 2
    expect(workloads.check_pipeline(res, doc, oracle) is None, "a correct result was refused")
    expect(workloads.check_pipeline(res.iloc[:1], doc, oracle) is not None, "dropped row passed")
    short_doc = "Se analizaron 2 combinaciones\nAnalisis Detallado de SKU: a\n"
    expect(workloads.check_pipeline(res, short_doc, oracle) is not None, "short report passed")


def test_planted_wrong_results_count_as_failed():
    """Runs three fixture queries through the measurement loop: one
    wrapped to drop a row, and one run twice and wrapped to drop a row
    from its third execution on (its first op and the certification
    run are correct). The wrong ops must fail their check."""
    import run

    work = Path(tempfile.mkdtemp(dir=SCRATCH))
    run.prepare_env(work, trace=False)
    from dataframe_retail_e_inventarios_spark.registry import queries
    from dataframe_retail_e_inventarios_spark.session import get_spark

    good, bad, flaky = "tpch_pricing_summary", "semantic_dedup_signature", "volume_shipping_nation_pairs"
    qs = queries()
    calls = []

    def drops_a_row(df):
        return df.exceptAll(df.limit(1))

    def wrong_on_repeats(spark, sf_dir):
        calls.append(1)
        df = qs[flaky](spark, sf_dir)
        return drops_a_row(df) if len(calls) >= 3 else df

    wl = workloads.QueryWorkload({bad: lambda spark, sf_dir: drops_a_row(qs[bad](spark, sf_dir)),
                                  flaky: wrong_on_repeats})
    wl.names = [good, bad, flaky, flaky]
    wl.warmup_passes = 0
    wl.prepare(str(work / "inputs"), 1)
    spark = get_spark("perfbench-selftest", cpus=2)
    try:
        wl.bind(spark)
        ops, _ = run.measure(wl, spark, 0.0, 1)
    finally:
        run.stop_spark(spark)
    failed = sorted(o["name"] for o in ops if not o["ok"])
    expect(failed == sorted([bad, flaky]), f"failed ops {[(o['name'], o['reason']) for o in ops]}")
    expect(len(calls) == 3, f"{flaky} ran {len(calls)} times")
    ratio = run.end_to_end(ops, 1.0, 1)[1]["failed_ops_ratio"]
    expect(ratio == 0.5, f"failed_ops_ratio {ratio}")


WORKER_PROBE = """
import os, sys
sys.path.insert(0, {here!r})
import run, gen
from pathlib import Path
work = Path(os.getcwd())
saved = os.environ.get("PYTHONPATH")
run.prepare_env(work, trace=False)
if {without_path!r}:
    os.environ.pop("PYTHONPATH") if saved is None else os.environ.update(PYTHONPATH=saved)
from dataframe_retail_e_inventarios_spark.session import get_spark
from dataframe_retail_e_inventarios_spark.plans.pipeline import forecast_inventory, load_ventas
gen.write_ventas(str(work / "ventas.csv"), 1, 5_000, 20)
spark = get_spark("perfbench-worker-probe", cpus=2)
try:
    df = forecast_inventory(load_ventas(spark, str(work / "ventas.csv")), use_models=True)
    df.write.format("noop").mode("overwrite").save()
finally:
    run.stop_spark(spark)
"""


def _worker_probe(without_path: bool) -> subprocess.CompletedProcess:
    cwd = Path(tempfile.mkdtemp(dir=SCRATCH))
    code = WORKER_PROBE.format(here=str(HERE), without_path=without_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=300)


def test_pandas_udf_op_from_a_temporary_cwd():
    ok = _worker_probe(without_path=False)
    expect(ok.returncode == 0, f"pandas-UDF op failed outside the repository root:\n{ok.stderr[-2000:]}")
    # control: without the runner's PYTHONPATH the workers cannot import
    # the package, so the probe above is a real test of it
    bare = _worker_probe(without_path=True)
    expect(bare.returncode != 0 and "No module named" in bare.stderr,
           "the control run without PYTHONPATH did not fail as expected")


TESTS = [
    test_generators_are_seeded,
    test_ventas_shares,
    test_event_log_sums_per_job_group,
    test_compressed_event_log_is_refused,
    test_pipeline_check_catches_a_dropped_row,
    test_planted_wrong_results_count_as_failed,
    test_pandas_udf_op_from_a_temporary_cwd,
]


def main() -> int:
    import shutil

    SCRATCH.mkdir(parents=True, exist_ok=True)
    failed = 0
    try:
        for t in TESTS:
            try:
                t()
                print(f"ok    {t.__name__}", flush=True)
            except Exception as e:
                failed += 1
                print(f"FAIL  {t.__name__}: {e}", flush=True)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print(f"{len(TESTS) - failed} passed, {failed} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
