"""Data-quality constraint audit queries [SURVEY §2 parity-plus:
ingest contract gate for the 100 TB pipeline].

``dq_constraint_audit`` evaluates the fact/dimension contract the rest
of the engine assumes: primary-key uniqueness, referential integrity,
value ranges and sets, sane date bounds — one audit row per
constraint. The reference trusts its CSVs (limpieza_de_datos.py only
coerces); a production ingest runs exactly this gate on every batch
before the expensive joins, so the audit's plan shape (one
conditional-aggregate scan per table INCLUDING the key-uniqueness
rules (operators/dq.table_audit fuses them — one fact scan total) +
broadcast anti-joins for dimension FKs) is as important as its
answer.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dq import (
    foreign_key_audit,
    table_audit,
    union_audits,
)
from ..registry import register
from ..sources.readers import load_table, read_raw_table


def q_dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    li_rules = table_audit(
        li,
        checks=[
            ("li_quantity_positive", F.col("l_quantity") <= 0),
            (
                "li_discount_in_0_1",
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            ),
            (
                "li_returnflag_in_set",
                ~F.col("l_returnflag").isin("A", "N", "R"),
            ),
            (
                "li_shipdate_in_range",
                (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp_ntz"))
                | (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp_ntz")),
            ),
            ("li_extendedprice_nonnull", F.col("l_extendedprice").isNull()),
        ],
        unique=[("li_pk_unique", ["l_orderkey", "l_linenumber"])],
    )
    ord_rules = table_audit(
        orders,
        checks=[
            ("ord_orderdate_nonnull", F.col("o_orderdate").isNull()),
            ("ord_totalprice_positive", F.col("o_totalprice") <= 0),
        ],
        unique=[("ord_pk_unique", ["o_orderkey"])],
    )
    audits = union_audits(
        li_rules,
        ord_rules,
        # orders is fact-sized at 100 TB: shuffle anti-join, no broadcast
        foreign_key_audit(
            li, "li_orderkey_fk", "l_orderkey", orders, "o_orderkey",
            broadcast_parent=False,
        ),
        foreign_key_audit(orders, "ord_custkey_fk", "o_custkey", customer, "c_custkey"),
        foreign_key_audit(li, "li_partkey_fk", "l_partkey", part, "p_partkey"),
    )
    return audits


_DQ_ORACLE = """
WITH li_wide AS (
  SELECT count(*) AS n,
    CAST(sum(CASE WHEN coalesce(l_quantity <= 0, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
    CAST(sum(CASE WHEN coalesce(l_discount < 0 OR l_discount > 1, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
    CAST(sum(CASE WHEN coalesce(l_returnflag NOT IN ('A','N','R'), TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_rf,
    CAST(sum(CASE WHEN coalesce(l_shipdate < TIMESTAMP '1992-01-01'
                        OR l_shipdate >= TIMESTAMP '1999-01-01', TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_ship,
    CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v_pk
  FROM lineitem
),
ord_wide AS (
  SELECT count(*) AS n,
    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_od,
    CAST(sum(CASE WHEN coalesce(o_totalprice <= 0, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_tp,
    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_pk
  FROM orders
),
fk AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS li_ord_orphans,
    (SELECT CAST(count(*) AS BIGINT) FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS ord_cust_orphans,
    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS li_part_orphans
),
rows_out AS (
  SELECT 'li_quantity_positive' AS "constraint", n AS n_checked, v_qty AS n_violations FROM li_wide
  UNION ALL SELECT 'li_discount_in_0_1', n, v_disc FROM li_wide
  UNION ALL SELECT 'li_returnflag_in_set', n, v_rf FROM li_wide
  UNION ALL SELECT 'li_shipdate_in_range', n, v_ship FROM li_wide
  UNION ALL SELECT 'li_extendedprice_nonnull', n, v_price FROM li_wide
  UNION ALL SELECT 'ord_orderdate_nonnull', n, v_od FROM ord_wide
  UNION ALL SELECT 'ord_totalprice_positive', n, v_tp FROM ord_wide
  UNION ALL SELECT 'li_pk_unique', n, v_pk FROM li_wide
  UNION ALL SELECT 'ord_pk_unique', n, v_pk FROM ord_wide
  UNION ALL SELECT 'li_orderkey_fk', (SELECT n FROM li_wide), li_ord_orphans FROM fk
  UNION ALL SELECT 'ord_custkey_fk', (SELECT n FROM ord_wide), ord_cust_orphans FROM fk
  UNION ALL SELECT 'li_partkey_fk', (SELECT n FROM li_wide), li_part_orphans FROM fk
)
SELECT "constraint", CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS ok
FROM rows_out
"""

register("dq_constraint_audit", q_dq_constraint_audit, _DQ_ORACLE)


# -- k-anonymity audit (data-release governance) ---------------------------
_K_THRESHOLD = 5


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity over the customer quasi-identifier tuple
    (nation, market segment, account-balance band): the data-release
    gate that says how re-identifiable a table is. Reports the
    smallest equivalence class (min_k), how many classes and what row
    share fall below k=5 — the numbers a privacy review asks for
    before an extract ships.

    One scan + one aggregation on the QI tuple, then a metadata-scale
    rollup of the class-size frame — group count is bounded by the QI
    domain, not row volume, so the second aggregate is trivially
    small at any scale. The acctbal band floors to $1000 buckets
    (floor = exact on both engines; no rounding-mode edge)."""
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count("*").alias("k"))
    )
    return classes.agg(
        F.sum("k").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.min("k").alias("min_k"),
        F.sum((F.col("k") < _K_THRESHOLD).cast("long")).alias("classes_below_k"),
        F.sum(F.when(F.col("k") < _K_THRESHOLD, F.col("k")).otherwise(0)).alias(
            "rows_below_k"
        ),
        F.round(
            F.sum(F.when(F.col("k") < _K_THRESHOLD, F.col("k")).otherwise(0))
            / F.sum("k"),
            6,
        ).alias("share_below_k"),
    )


register(
    "k_anonymity_audit",
    q_k_anonymity_audit,
    f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         count(*) AS k
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(sum(CASE WHEN k < {_K_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_k,
       CAST(sum(CASE WHEN k < {_K_THRESHOLD} THEN k ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       round(sum(CASE WHEN k < {_K_THRESHOLD} THEN k ELSE 0 END)
             / CAST(sum(k) AS DOUBLE), 6) AS share_below_k
FROM classes
""",
)


# -- Join-cardinality probe (pre-flight skew/size estimate) ----------------
def q_join_cardinality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight equi-join sizing: before launching orders JOIN
    lineitem at 100 TB, compute the EXACT output cardinality and its
    key-level concentration from the two per-key histograms — sum over
    keys of n_left x n_right, plus how much of that lands on the
    heaviest key and the p99 key. This is the probe that decides
    broadcast vs shuffle vs salt ahead of the expensive join: two
    cheap count aggregates and a join between histograms (one row per
    key, not per fact row). For an equi-join the estimate is exact —
    asserted against the physical join in tests/test_dq.py."""
    orders = load_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("k")
    ).agg(F.count("*").alias("n_l"))
    li = load_table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(F.count("*").alias("n_r"))
    per_key = orders.join(li, "k").select(
        "k", (F.col("n_l") * F.col("n_r")).alias("pairs")
    )
    return per_key.agg(
        F.sum("pairs").alias("est_rows"),
        F.count("*").alias("n_join_keys"),
        F.max("pairs").alias("max_key_pairs"),
        F.round(F.max("pairs") / F.sum("pairs"), 6).alias("max_key_share"),
        F.round(F.percentile("pairs", F.lit(0.99)), 4).alias("p99_key_pairs"),
    )


register(
    "join_cardinality_probe",
    q_join_cardinality_probe,
    """
WITH l AS (SELECT o_orderkey AS k, count(*) AS n_l FROM orders GROUP BY 1),
r AS (SELECT l_orderkey AS k, count(*) AS n_r FROM lineitem GROUP BY 1),
per_key AS (SELECT l.k, n_l * n_r AS pairs FROM l JOIN r ON l.k = r.k)
SELECT CAST(sum(pairs) AS BIGINT) AS est_rows,
       CAST(count(*) AS BIGINT) AS n_join_keys,
       CAST(max(pairs) AS BIGINT) AS max_key_pairs,
       round(max(pairs) / CAST(sum(pairs) AS DOUBLE), 6) AS max_key_share,
       round(quantile_cont(pairs, 0.99), 4) AS p99_key_pairs
FROM per_key
""",
)


# -- Join-key discovery: containment profiling -----------------------------
# (child_table, child_col, parent_table, parent_col): the TRUE FK edges
# of the schema plus planted NEGATIVES (pairs a naive type-match would
# propose) — the discovery score must separate them.
_FK_CANDIDATES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    # negatives: plausible-looking but wrong joins
    ("orders", "o_orderkey", "customer", "c_custkey"),
    ("part", "p_partkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
]


def q_fk_containment_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic join-key discovery — the schema-inference pass a data
    catalog runs over an unlabeled lake: for each candidate (child,
    parent) column pair, the CONTAINMENT of the child's value set in
    the parent's (|child ∩ parent| / |child|, Zhang et al.'s
    inclusion-dependency score) and whether the parent side is unique.
    A pair is flagged as an FK candidate iff containment >= 0.99 AND
    the parent key is unique — the true edges of this schema score
    1.0 and the planted decoys fall out.

    Plan: per pair, two column-pruned distinct aggregates and one
    distinct-to-distinct left join — each candidate touches only its
    two key columns (parquet column pruning does the rest at 100 TB);
    the per-pair 1-row results union into the report."""
    # r13 (guide §2.3/§2.4): the per-pair shape was four independent
    # shuffling subtrees (child distinct, parent distinct, a
    # distinct-to-distinct semi join, a countDistinct aggregate) —
    # ~20 Exchange nodes per pair, 200 for the report, each table
    # scanned up to twice per pair. All four statistics are functions
    # of ONE value-level group: tag each side's key column, union, and
    # groupBy(v) once — per distinct value we learn membership on the
    # child side and the parent's occurrence count, from which
    #   c_distinct  = groups seen on the child side (null group incl.,
    #                 exactly like count(*) over child.distinct()),
    #   n_hit       = child groups with a NON-NULL value present in
    #                 the parent (equi-semi-join never matches null),
    #   p_distinct  = non-null groups present in the parent
    #                 (countDistinct ignores nulls),
    #   p_rows      = sum of parent occurrences over non-null groups
    #                 (count(pc) counts non-null rows).
    # One scan per side, one value shuffle, one 1-row aggregate —
    # identical output for any null/dup geometry, so the oracle's
    # per-pair subquery formulation pins the rewrite.
    parts = []
    for ct, cc, pt, pc in _FK_CANDIDATES:
        child = load_table(spark, sf_dir, ct).select(
            F.col(cc).alias("v"), F.lit(1).alias("is_c"), F.lit(0).alias("is_p")
        )
        parent = load_table(spark, sf_dir, pt).select(
            F.col(pc).alias("v"), F.lit(0).alias("is_c"), F.lit(1).alias("is_p")
        )
        g = (
            child.unionByName(parent)
            .groupBy("v")
            .agg(F.max("is_c").alias("in_c"), F.sum("is_p").alias("p_cnt"))
        )
        notnull = F.col("v").isNotNull()
        in_c = F.col("in_c") == 1
        in_p = F.col("p_cnt") > 0
        row = g.agg(
            F.count(F.when(in_c, 1)).alias("c_distinct"),
            F.count(F.when(in_c & in_p & notnull, 1)).alias("n_hit"),
            F.count(F.when(in_p & notnull, 1)).alias("p_distinct"),
            F.sum(F.when(notnull, F.col("p_cnt")).otherwise(0)).alias("p_rows"),
        ).select(
            F.lit(f"{ct}.{cc}").alias("child_col"),
            F.lit(f"{pt}.{pc}").alias("parent_col"),
            F.col("c_distinct").cast("long").alias("child_distinct"),
            F.col("p_distinct").cast("long").alias("parent_distinct"),
            F.round(F.col("n_hit") / F.col("c_distinct"), 6).alias("containment"),
            (F.col("p_distinct") == F.col("p_rows")).alias("parent_unique"),
        )
        parts.append(row)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "fk_candidate",
        (F.col("containment") >= 0.99) & F.col("parent_unique"),
    ).orderBy("child_col", "parent_col")


_FK_UNION_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{ct}.{cc}' AS child_col, '{pt}.{pc}' AS parent_col,
       (SELECT CAST(count(DISTINCT {cc}) AS BIGINT) FROM {ct}) AS child_distinct,
       (SELECT CAST(count(DISTINCT {pc}) AS BIGINT) FROM {pt}) AS parent_distinct,
       round((SELECT count(*) FROM (SELECT DISTINCT {cc} AS v FROM {ct}) c
              WHERE v IN (SELECT {pc} FROM {pt}))
             / CAST((SELECT count(DISTINCT {cc}) FROM {ct}) AS DOUBLE), 6)
         AS containment,
       (SELECT count(DISTINCT {pc}) = count({pc}) FROM {pt}) AS parent_unique
"""
    for ct, cc, pt, pc in _FK_CANDIDATES
)

register(
    "fk_containment_discovery",
    q_fk_containment_discovery,
    f"""
WITH pairs AS ({_FK_UNION_SQL})
SELECT child_col, parent_col, child_distinct, parent_distinct,
       containment, parent_unique,
       (containment >= 0.99 AND parent_unique) AS fk_candidate
FROM pairs ORDER BY child_col, parent_col
""",
)


# -- dataset stats manifest (data card / provenance) -----------------------
_MANIFEST_COLS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def q_dataset_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset manifest / data-card row per table: exact row count,
    column count, and an md5 schema fingerprint over the RAW parquet
    column list — the provenance record a training run pins so a
    silently-changed input (new column, dropped column, reordered
    write) fails loudly instead of training on it.

    The expected column lists are a static contract in the engine
    (this module); the Spark side RAISES on drift before counting, and
    the fingerprint both engines emit is md5 of the comma-joined
    names, so the oracle match certifies contract == reality. One
    count(*) scan per table (parquet row-group metadata — no column
    IO); the union is 10 one-row plans. The raw column lists come from
    the memoized table resolver, so a build runs no schema job once
    each file has been resolved."""
    import hashlib

    parts = []
    for t, expected in _MANIFEST_COLS.items():
        df = read_raw_table(spark, sf_dir, t)
        if list(df.columns) != expected:
            raise ValueError(
                f"dataset_stats_manifest: {t} schema drift — expected "
                f"{expected}, parquet has {list(df.columns)}"
            )
        fp = hashlib.md5(",".join(expected).encode()).hexdigest()
        parts.append(
            df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(t).alias("table_name"),
                "n_rows",
                F.lit(len(expected)).cast("long").alias("n_cols"),
                F.lit(fp).alias("schema_fp"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


_MANIFEST_SQL = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, count(*) AS n_rows, "
    f"CAST({len(cols)} AS BIGINT) AS n_cols, "
    f"md5('{','.join(cols)}') AS schema_fp FROM {t}"
    for t, cols in _MANIFEST_COLS.items()
)

register(
    "dataset_stats_manifest",
    q_dataset_stats_manifest,
    f"SELECT * FROM ({_MANIFEST_SQL}) ORDER BY table_name",
)


# -- order-insensitive content fingerprint per month-partition ---------------
_FP_MOD = 4611686018427387904  # 2^62 — keeps the modded sum in BIGINT


def q_content_fingerprint_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum of the lineitem fact per
    ship-month — the replication/migration validation primitive:
    re-compute after a copy, a compaction, or an engine swap and
    compare constant-size rows instead of data. Each row is rendered
    to a CANONICAL string (keys/quantity as integers, money as exact
    cents, dates as ISO strings — every piece renders identically on
    any engine), hashed to a 64-BIT md5 prefix (single corrupted-row
    escape probability ~2^-64; the 32-bit prefix was too weak for a
    migration-validation primitive), and the per-month SUM of hashes
    (exact DECIMAL(38,0), then mod 2^62 back into BIGINT) is the
    fingerprint: associative and commutative, so any partitioning,
    file order, or shuffle layout yields the identical value.
    """
    li = load_table(spark, sf_dir, "lineitem")
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("long"),
        F.col("l_partkey").cast("long"),
        F.col("l_suppkey").cast("long"),
        F.col("l_linenumber").cast("long"),
        F.bround(F.col("l_quantity"), 0).cast("long"),
        F.bround(F.col("l_extendedprice") * 100, 0).cast("long"),
        F.bround(F.col("l_discount") * 100, 0).cast("long"),
        F.bround(F.col("l_tax") * 100, 0).cast("long"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.date_format("l_shipdate", "yyyy-MM-dd"),
    )
    # 16 hex chars = full unsigned 64-bit value; conv() handles it and
    # the DECIMAL(38,0) accumulator absorbs ~2^126 before overflow.
    h64 = F.conv(F.substring(F.md5(canon), 1, 16), 16, 10).cast("decimal(38,0)")
    return (
        li.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
            h64.alias("h"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(F.sum("h"), F.lit(_FP_MOD)).cast("long").alias("content_fp"),
        )
        .orderBy("month")
    )


register(
    "content_fingerprint_by_month",
    q_content_fingerprint_by_month,
    f"""
WITH rows_h AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS month,
         CAST(('0x' || substr(md5(
           CAST(l_orderkey AS BIGINT) || '|' ||
           CAST(l_partkey AS BIGINT) || '|' ||
           CAST(l_suppkey AS BIGINT) || '|' ||
           CAST(l_linenumber AS BIGINT) || '|' ||
           CAST(round_even(l_quantity, 0) AS BIGINT) || '|' ||
           CAST(round_even(l_extendedprice * 100, 0) AS BIGINT) || '|' ||
           CAST(round_even(l_discount * 100, 0) AS BIGINT) || '|' ||
           CAST(round_even(l_tax * 100, 0) AS BIGINT) || '|' ||
           l_returnflag || '|' || l_linestatus || '|' ||
           strftime(l_shipdate, '%Y-%m-%d')
         ), 1, 16)) AS UBIGINT) AS h
  FROM lineitem
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(((sum(CAST(h AS HUGEINT)) % {_FP_MOD}) + {_FP_MOD}) % {_FP_MOD}
            AS BIGINT) AS content_fp
FROM rows_h GROUP BY month
ORDER BY month
""",
)
