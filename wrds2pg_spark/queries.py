"""The oracle-checked query registry.

Every operator claimed in SURVEY.md §2 registers here as a
``QuerySpec``: a builder ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an equivalent DuckDB oracle SQL string run by the
driver on the same parquet tables.  ``__spark_entry__.py`` re-exports
``queries()`` / ``oracle_sql()`` from this module.

Determinism contract with the oracle (see functions/numeric.py):
- every computed column is aliased identically on both sides;
- double sums go through exact-decimal casts (order-independent);
- O(1)-magnitude derived floats are rounded to 6 decimals on both
  sides;
- queries that limit rows always order by a unique key first.
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.errors import PySparkAttributeError
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from wrds2pg_spark.functions.numeric import DAVG_SQL, DSUM_SQL, davg, dsum
from wrds2pg_spark.plans.ingest import IngestOptions, apply_options
from wrds2pg_spark.session import FAN_OUT_2MB, fan_out, lineage_cut
from wrds2pg_spark.sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(fn, oracle)
        return fn
    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in REGISTRY.items() if s.oracle is not None}


def _parquet_footer_rows(sf_dir: str, table: str) -> int:
    """Row count from the parquet footer — pyarrow metadata read, no
    Spark job.  Used as a cheap cardinality bound for plan switches
    (e.g. q11's global-threshold window vs broadcast fallback).
    Missing/corrupt source returns 0 (callers take the small-data
    path); a DIRECTORY that exists but yields no footers (exotic
    layout) returns a huge sentinel so callers take the
    bounded-memory path — never the unbounded one (round-6 review
    finding)."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            # glob.escape: a metacharacter in the DIRECTORY part
            # ("/data/run[2024]/...") must not act as a pattern
            files = glob.glob(
                os.path.join(glob.escape(path), "**", "*.parquet"),
                recursive=True)
            if not files:
                return 1 << 62  # unknown layout: assume big
            return sum(pq.read_metadata(f).num_rows for f in files)
        return pq.read_metadata(path).num_rows
    except (OSError, ValueError):
        # missing file: FileNotFoundError; garbage footer: ArrowInvalid
        # (a ValueError).  A plan SWITCH must never crash the query —
        # take the small path.
        return 0


# ---------------------------------------------------------------------------
# Scans & the ingest composite (reference operators A4-A9, SURVEY §2 Part A)
# ---------------------------------------------------------------------------

@register(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity < 10
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate reaching the parquet scan (Catalyst pushdown
    replaces the reference's keep=/where= dataset options, codegen.py:52-65)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") < 10))
    )


@register(
    "scan_csv_typed",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    WHERE n_regionkey >= 2
    """,
)
def scan_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed CSV ingest (sources/csv.py) — the reference's transport
    format read with an explicit PG-typed schema instead of inference
    (wrds2pg/files/parquet.py:42-59 ConvertOptions analog).  The CSV
    fixture is derived once from the nation parquet into a
    deterministic temp path keyed on the sf dir."""
    import hashlib
    import os

    from wrds2pg_spark.sources.csv import read_csv_typed

    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag
    tag = fixture_tag(sf_dir, "nation")
    csv_dir = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/nation_csv_{tag}",
        lambda tmp: (
            load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(tmp)
        ),
    )
    df = read_csv_typed(
        spark,
        csv_dir,
        {"n_nationkey": "integer", "n_name": "text", "n_regionkey": "integer"},
    )
    return df.filter(F.col("n_regionkey") >= 2)


@register(
    "scan_csv_quarantine",
    oracle="""
    SELECT CASE WHEN doc_id % 7 = 3 THEN 'quarantined'
                ELSE 'clean' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN 0
                         ELSE doc_id END) AS BIGINT) AS id_sum
    FROM documents
    GROUP BY 1
    """,
)
def scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row quarantine on CSV ingest: read in PERMISSIVE mode
    with ``columnNameOfCorruptRecord``, so rows that fail the schema
    (here: a non-numeric id written for every doc_id % 7 == 3 row)
    land in a corrupt-record column instead of killing the job or
    silently disappearing — the production ingest posture between
    FAILFAST (one bad row kills a 100-TB load) and DROPMALFORMED
    (silent data loss).  Reports clean/quarantined counts and the sum
    of clean ids; the oracle predicts both from the fixture rule.
    Complements the reference's value-level repairs (fix_missing /
    fix_cr, wrds2pg A9/A10): those fix cell encodings, this catches
    structurally broken rows."""
    import os

    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag

    tag = fixture_tag(sf_dir, "documents")

    def build(tmp_dir: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"])
        with open(os.path.join(tmp_dir, "rows.csv"), "w") as f:
            f.write("doc_id,tag\n")
            for doc_id in t["doc_id"].to_pylist():
                if doc_id % 7 == 3:
                    # structurally broken: non-numeric id
                    f.write(f"id-{doc_id}-broken,x\n")
                else:
                    f.write(f"{doc_id},x\n")

    csv_dir = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/doc_quarantine_{tag}", build)
    # text read + from_csv: the raw-CSV reader refuses plans that
    # reference only its internal corrupt-record column
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN after
    # pruning); the explicit parse stage has no such restriction and
    # makes the quarantine column a first-class expression.
    parsed = (
        spark.read.text(csv_dir)
        .filter(F.col("value") != F.lit("doc_id,tag"))  # header line(s)
        .select(
            F.from_csv(
                F.col("value"),
                "doc_id LONG, tag STRING, _corrupt STRING",
                {"mode": "PERMISSIVE",
                 "columnNameOfCorruptRecord": "_corrupt"},
            ).alias("r")
        )
        .select("r.*")
    )
    status = F.when(
        F.col("_corrupt").isNotNull(), F.lit("quarantined")
    ).otherwise(F.lit("clean"))
    return (
        parsed.select(status.alias("status"), "doc_id")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long")
            .alias("id_sum"),
        )
    )


_FLAGSHIP_ORACLE = f"""
    WITH src AS (
        SELECT l_returnflag AS returnflag,
               l_linestatus AS linestatus,
               l_quantity, l_extendedprice, l_discount, l_tax
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT returnflag, linestatus,
           {DSUM_SQL('l_quantity', 2)} AS sum_qty,
           {DSUM_SQL('l_extendedprice', 2)} AS sum_base_price,
           {DSUM_SQL('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {DSUM_SQL('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {DAVG_SQL('l_quantity', 2)} AS avg_qty,
           {DAVG_SQL('l_extendedprice', 2)} AS avg_price,
           {DAVG_SQL('l_discount', 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM src
    GROUP BY returnflag, linestatus
"""


@register("ingest_q1_composite", oracle=_FLAGSHIP_ORACLE)
def ingest_q1_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's full ingest-option chain (keep + rename +
    SAS-dialect where, A4-A8) feeding a TPC-H-Q1-shape aggregation.

    The where string exercises the SAS dialect translation
    (``le`` + ``'02SEP1998'd`` date literal -> ``<= DATE '1998-09-02'``).
    """
    li = load_table(spark, sf_dir, "lineitem")
    src = apply_options(
        li,
        IngestOptions(
            keep=("l_returnflag l_linestatus l_quantity l_extendedprice "
                  "l_discount l_tax l_shipdate"),
            rename="l_returnflag=returnflag l_linestatus=linestatus",
            where="l_shipdate le '02SEP1998'd",
        ),
    )
    return (
        src.groupBy("returnflag", "linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            .alias("sum_disc_price"),
            dsum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                6,
            ).alias("sum_charge"),
            davg(F.col("l_quantity"), 2).alias("avg_qty"),
            davg(F.col("l_extendedprice"), 2).alias("avg_price"),
            davg(F.col("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2 Part B)
# ---------------------------------------------------------------------------

@register(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 150000
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join; customer is the smaller side, but it SCALES
    with the lake, so the broadcast decision is left to the planner's
    stats (auto-broadcast at bench scale, shuffle join when customer
    outgrows the threshold) — round 6 dropped the forced hint under
    the no-fact-derived-broadcast rule (tests/test_plans.py lint)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@register(
    "join_left",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           {DSUM_SQL('o.o_totalprice', 2)} AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + aggregate: customers keep a row even with no
    orders (n_orders=0, total_spend NULL on both engines)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("total_spend"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Sort / top-k & windows
# ---------------------------------------------------------------------------

@register(
    "sort_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit -> Spark's TakeOrderedAndProject (no global sort
    materialization); unique-key tiebreak keeps it deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "window_rank",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
    WHERE rn <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via ranking window (single shuffle on the group key)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Full outer / range / as-of joins
# ---------------------------------------------------------------------------

@register(
    "join_full",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey, s.s_suppkey, s.s_nationkey
    FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
    FULL JOIN (SELECT * FROM supplier WHERE s_acctbal > 9000) s
      ON c.c_nationkey = s.s_nationkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        "c_custkey", "c_nationkey", "s_suppkey", "s_nationkey"
    )


@register(
    "join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every customer survives, orders only above the
    price filter.  The preserved (right) side cannot broadcast; the
    filtered fact side is the broadcast CANDIDATE — but it is a
    constant fraction of orders, so the hint is left to the planner /
    AQE (runtime stats broadcast it while it fits, shuffle join when
    the lake outgrows it)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .select("o_orderkey", "c_custkey", "c_mktsegment")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): Spark exposes them
    through SQL, so the table registers as a temp view — still one
    Catalyst plan with a single Expand + partial aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@register(
    "join_range_banded",
    oracle="""
    SELECT c.c_custkey, s.s_suppkey, c.c_acctbal, s.s_acctbal
    FROM customer c JOIN supplier s
      ON s.s_acctbal BETWEEN c.c_acctbal - 10 AND c.c_acctbal + 10
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi interval join via bucket banding (operators/rangejoin.py):
    the oracle's BETWEEN is O(N*M) in Spark without an equi key; banding
    turns it into a hash equi-join + post-filter — the 100-TB plan."""
    from wrds2pg_spark.operators.rangejoin import band_join

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    return band_join(c, s, "c_acctbal", "s_acctbal", 10.0).select(
        "c_custkey", "s_suppkey", "c_acctbal", "s_acctbal"
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH u AS (
        SELECT o_orderkey AS a_key,
               date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS s_a,
               date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE))
                   + 1 + o_orderkey % 30 AS e_a
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 20 = 0),
    l AS (
        SELECT o_orderkey AS b_key,
               date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS s_b,
               date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE))
                   + 1 + o_orderkey % 30 AS e_b
        FROM orders
        WHERE o_orderpriority = '5-LOW' AND o_orderkey % 20 = 0)
    SELECT a_key, b_key,
           CAST(least(e_a, e_b) - greatest(s_a, s_b) + 1 AS BIGINT)
               AS overlap_days
    FROM u JOIN l ON s_a <= e_b AND s_b <= e_a
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (validity windows, sessions,
    genomic ranges): urgent-order activity windows joined to low-
    priority windows they overlap, with the overlap length in days.
    Spark plans the raw ``s_a <= e_b AND s_b <= e_a`` predicate as a
    nested loop; operators/rangejoin.py interval_overlap_join turns it
    into a binned hash equi-join emitting each pair exactly once via
    the first-common-bin rule — no dedup pass, one shuffle per side."""
    from wrds2pg_spark.operators.rangejoin import interval_overlap_join

    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    dur = 1 + F.col("o_orderkey") % 30

    def side(priority: str, key: str, s: str, e: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderpriority") == priority)
                & (F.col("o_orderkey") % 20 == 0)
            )
            .select(
                F.col("o_orderkey").alias(key),
                days.cast("long").alias(s),
                (days + dur).cast("long").alias(e),
            )
        )

    u = side("1-URGENT", "a_key", "s_a", "e_a")
    low = side("5-LOW", "b_key", "s_b", "e_b")
    joined = interval_overlap_join(u, low, "s_a", "e_a", "s_b", "e_b", 32)
    return joined.select(
        "a_key",
        "b_key",
        (F.least("e_a", "e_b") - F.greatest("s_a", "s_b") + 1)
        .cast("long")
        .alias("overlap_days"),
    )


@register(
    "join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS asof_o_orderkey,
           o.o_orderdate AS asof_o_orderdate,
           o.o_totalprice AS asof_o_totalprice
    FROM events e LEFT JOIN LATERAL (
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders o
        WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
    ) o ON TRUE
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: each event joined to the user's most recent
    order (operators/asof.py union+window pattern — one shuffle)."""
    return _events_orders_asof(
        spark, sf_dir, ["o_orderkey", "o_orderdate", "o_totalprice"])


def _events_orders_asof(
    spark: SparkSession, sf_dir: str, right_cols: list[str],
    direction: str = "backward", tolerance: float | None = None,
) -> DataFrame:
    """Each event as-of joined on ``ts`` to its user's orders by
    o_orderdate (orderkey breaks ties), carrying ``right_cols`` — the
    body of the join_asof* keys, which differ only in the columns,
    ``direction`` and ``tolerance`` they pass to asof_join."""
    from wrds2pg_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", *right_cols)
    return asof_join(
        e, o,
        left_on="ts", right_on="o_orderdate",
        left_by="user_id", right_by="o_custkey",
        right_cols=right_cols,
        tiebreak="o_orderkey",
        direction=direction,
        tolerance=tolerance,
    )


@register(
    "join_point_in_time",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    changes AS (
        SELECT user_id, event_type, ts AS valid_from
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type),
    probes AS (
        SELECT event_id, user_id, ts FROM events WHERE event_id % 7 = 0)
    SELECT p.event_id, p.user_id, p.ts,
           h.event_type AS state_at_ts,
           h.valid_from AS state_since
    FROM probes p LEFT JOIN LATERAL (
        SELECT event_type, valid_from FROM changes c
        WHERE c.user_id = p.user_id AND c.valid_from <= p.ts
        ORDER BY c.valid_from DESC LIMIT 1
    ) h ON TRUE
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension — THE warehouse
    temporal pattern: each probe row is attached to the dimension
    VERSION that was valid at its timestamp (state_at_ts /
    state_since), here probing a 1-in-7 event sample against the
    scd2_intervals history built from the same stream.  Because SCD2
    intervals are CONTIGUOUS per key (each valid_to equals the next
    valid_from, last interval open), "the version containing ts"
    equals "the last version with valid_from <= ts" — so the join is
    a backward as-of (operators/asof.py union+window: ONE shuffle on
    user_id for |probes|+|history| rows), never an interval
    theta-join, and no valid_to guard is needed.  At 100 TB this is
    how fact-to-dimension temporal enrichment should run: the fact
    pays one keyed exchange, the history rides the same partitioning,
    and nothing is broadcast or re-scanned per version."""
    from wrds2pg_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_id") % 7 == 0).select(
        "event_id", "user_id", "ts")
    # via REGISTRY: scd2_intervals lives in curation.py, which imports
    # from this module (registered by the import at the bottom)
    history = REGISTRY["scd2_intervals"].fn(spark, sf_dir).select(
        "user_id", "event_type", "valid_from")
    out = asof_join(
        probes, history,
        left_on="ts", right_on="valid_from",
        left_by="user_id", right_by="user_id",
        right_cols=["event_type", "valid_from"],
        prefix="pit_",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("pit_event_type").alias("state_at_ts"),
        F.col("pit_valid_from").alias("state_since"),
    )


@register("join_asof_cogrouped", oracle=REGISTRY["join_asof"].oracle)
def join_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same backward as-of join as ``join_asof``, expressed
    through Spark's CoGroupedMap API (``groupBy...cogroup...
    applyInPandas``) with ``pandas.merge_asof`` doing the per-user
    merge — the escape hatch for as-of VARIANTS the union+window
    operator can't express (per-key custom tolerances, multi-column
    nearest, interpolating lookups).  The cogroup key is a HASH
    BUCKET of the user key, not the user itself: merge_asof's ``by=``
    does the per-user split inside each Arrow batch, so the number of
    Python invocations scales with the bucket count (cluster-sized
    knob), never with user cardinality — keyed per-user, 10k users
    cost 10k interpreter calls (measured 17 s at sf0.01; bucketed:
    1.3 s).  Both sides shuffle ONCE on the bucket; sorting right by
    (date, orderkey) makes merge_asof's last-among-ties pick equal
    the oracle's ORDER BY ... DESC LIMIT 1.  Per-bucket frames must
    fit one task's memory — the documented CoGroupedMap trade; the
    JVM union+window form (join_asof) stays the scale default and
    this key exists to keep the Python-boundary path tested against
    the identical oracle."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey", "o_orderdate", "o_totalprice",
    )
    return _cogrouped_asof(e, o)


def _cogrouped_asof(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Backward as-of of ``events`` (event_id, user_id, ts) against
    ``orders`` (user_id, o_orderkey, o_orderdate, o_totalprice) through
    a cogroup on 64 hash buckets of user_id and ``pandas.merge_asof``
    (see :func:`join_asof_cogrouped`).  Users with events but no
    orders keep left-outer nulls."""
    import pandas as _pd

    n_buckets = 64
    e = events.select("*", (F.col("user_id") % n_buckets).alias("__b"))
    o = orders.select("*", (F.col("user_id") % n_buckets).alias("__b"))

    def merge(left: _pd.DataFrame, right: _pd.DataFrame) -> _pd.DataFrame:
        left = left.sort_values("ts", kind="mergesort")
        right = right.sort_values(
            ["o_orderdate", "o_orderkey"], kind="mergesort"
        )
        out = _pd.merge_asof(
            left.drop(columns=["__b"]),
            right.drop(columns=["__b"]),
            left_on="ts", right_on="o_orderdate", by="user_id",
            direction="backward", allow_exact_matches=True,
        )
        return _pd.DataFrame({
            "event_id": out["event_id"],
            "user_id": out["user_id"],
            "ts": out["ts"],
            "asof_o_orderkey": out["o_orderkey"].astype("Int64"),
            "asof_o_orderdate": out["o_orderdate"],
            "asof_o_totalprice": out["o_totalprice"],
        })

    return (
        e.groupBy("__b")
        .cogroup(o.groupBy("__b"))
        .applyInPandas(
            merge,
            schema=(
                "event_id long, user_id long, ts timestamp, "
                "asof_o_orderkey long, asof_o_orderdate timestamp, "
                "asof_o_totalprice double"
            ),
        )
    )


_ASOF_TOL_S = 90 * 86400  # 90 days


@register(
    "join_asof_tolerance",
    oracle=f"""
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS asof_o_orderkey,
           o.o_orderdate AS asof_o_orderdate
    FROM events e LEFT JOIN LATERAL (
        SELECT o_orderkey, o_orderdate
        FROM orders o
        WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
          AND epoch(e.ts) - epoch(o.o_orderdate) <= {_ASOF_TOL_S}
        ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
    ) o ON TRUE
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a 90-day tolerance: matches older than
    the window are VOIDED back to null (left-outer semantics preserved)
    — the last merge_asof parameter, completing the
    backward/forward/nearest/tolerance surface (operators/asof.py).
    The tolerance check is a row-local post-filter on the already-
    carried match, so the plan is identical to the untoleranced join:
    one union+window shuffle, no extra join."""
    return _events_orders_asof(
        spark, sf_dir, ["o_orderkey", "o_orderdate"],
        tolerance=float(_ASOF_TOL_S))


@register(
    "join_asof_nearest",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS asof_o_orderkey,
           o.o_orderdate AS asof_o_orderdate
    FROM events e LEFT JOIN LATERAL (
        SELECT o_orderkey, o_orderdate
        FROM orders o
        WHERE o.o_custkey = e.user_id
        ORDER BY abs(epoch(e.ts) - epoch(o.o_orderdate)) ASC,
                 (o.o_orderdate <= e.ts) DESC,
                 o_orderkey DESC
        LIMIT 1
    ) o ON TRUE
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_asof direction='nearest': each event matched to the
    user's order closest in absolute time, backward winning exact
    ties.  Backward and forward carries ride ONE keyed union shuffle
    (two sort-direction windows over the same partitioning); a
    row-local arbiter picks the closer side — no second pass, no
    theta join (operators/asof.py:_asof_nearest)."""
    return _events_orders_asof(
        spark, sf_dir, ["o_orderkey", "o_orderdate"], direction="nearest")


# ---------------------------------------------------------------------------
# Aggregates
# ---------------------------------------------------------------------------

@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {DSUM_SQL('l_quantity', 2)} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id() markers — the disambiguator
    between a subtotal row's structural NULL and a genuine NULL group
    value (without it, rollup outputs are unconsumable when the
    grouped column itself contains nulls).  Both engines follow the
    SQL standard bit order (leftmost grouping column = most
    significant bit): detail rows gid=0, returnflag subtotals gid=1,
    grand total gid=3 — value-hashed to prove the conventions agree.
    Same single-shuffle Expand plan as agg_grouping_sets."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {DSUM_SQL('l_extendedprice', 2)} AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
    )


@register("agg_approx_distinct", oracle=None)  # non-deterministic -> rows-only
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the scale path when exact
    countDistinct's shuffle is too expensive.  Estimate quality is
    hash-audited by agg_approx_error_audit."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("p50_price"),
    )


@register(
    "agg_approx_error_audit",
    oracle="""
    SELECT 'hllpp_parts' AS sketch, l_returnflag AS grp,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
           CAST(1 AS BIGINT) AS within_band
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'hll_customers' AS sketch, o_orderpriority AS grp,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           CAST(1 AS BIGINT) AS within_band
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_approx_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit for the two rows-only sketch keys (the r4
    verdict's last unaudited numbers): per group, the EXACT distinct
    count plus a within-3-sigma-band flag for (a)
    approx_count_distinct at agg_approx_distinct's OWN configuration
    — the default rsd 0.05, audited against a 15%% (3 sigma) band —
    and (b) the lgK=12 Datasketches HLL on agg_hll_sketch's grouping
    (sigma ~1.6%%, audited against its original 5%% band, ~3 sigma).

    The oracle computes the exact side and pins the flag to 1 — the
    audit contract: both sketches are deterministic functions of the
    data (same hashes, same registers), so the flag is reproducible,
    and a sketch drifting past its configured tolerance breaks the
    value hash instead of passing silently.  (Round 8: the audit
    previously ran a SEPARATE rsd=0.01 HLL++ — tighter than anything
    the audited key computes, and Spark's HLL++ register update is
    the slowest aggregate in the repo bench: rsd 0.01 alone cost
    ~1.0 s at sf0.1 where Datasketches lgK=14 costs 0.34 s.  Auditing
    the key's actual rsd is both truer and ~4x cheaper.)

    Exact and sketch sides share ONE pass over the distinct
    (group, value) pairs (round 8; was two passes + a join): an HLL
    register is a function of the distinct value SET, so feeding each
    value once produces bit-identical sketches, the exact count is a
    plain count over the same stream, and the dreaded Expand rewrite
    (mixing countDistinct with another aggregate in one raw pass:
    every input row duplicated per distinct group, 33.6 s at sf1)
    never triggers because the distinct collapse happens first.  One
    fact scan, one map-side-combined distinct exchange, one tiny
    final agg — measured 1.16 -> ~0.5 s at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def audit(df, grp_col, val_col, sketch_name, approx_agg, band):
        d = df.select(F.col(grp_col).alias("grp"),
                      F.col(val_col).alias("__v")).distinct()
        return d.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("exact_distinct"),
            approx_agg.alias("__approx"),
        ).select(
            F.lit(sketch_name).alias("sketch"), "grp", "exact_distinct",
            (
                F.abs(F.col("__approx").cast("double")
                      - F.col("exact_distinct").cast("double"))
                <= band * F.col("exact_distinct").cast("double")
            ).cast("long").alias("within_band"),
        )

    a = audit(li, "l_returnflag", "l_partkey", "hllpp_parts",
              F.approx_count_distinct("__v"), 0.15)
    b = audit(o, "o_orderpriority", "o_custkey", "hll_customers",
              F.hll_sketch_estimate(
                  F.hll_sketch_agg(F.col("__v"), F.lit(12))), 0.05)
    return a.unionAll(b)


@register(
    "agg_hll_partial_union",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_yr,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           CAST(1 AS BIGINT) AS within_5pct
    FROM orders GROUP BY order_yr
    """,
)
def agg_hll_partial_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch re-aggregation — THE 100-TB rollup pattern:
    distinct-customer sketches are built once at a fine grain
    (year x priority, the shape a daily-partition ETL would
    materialize) with hll_sketch_agg, then rolled UP to year by
    hll_union_agg WITHOUT rescanning the fact table.  At scale the
    fine-grain sketches are tiny persisted aggregates (lgK=12 -> 4 KB
    each), so every coarser rollup is a metadata-sized merge instead
    of a fact-table shuffle — the property exact countDistinct
    fundamentally lacks (its partials are the distinct values
    themselves).

    Audit contract (same as agg_approx_error_audit): Datasketches HLL
    union at equal lgK is a register-wise max, so the merged estimate
    is bit-identical to a direct sketch of the union and a
    deterministic function of the data; the oracle computes the exact
    side and pins the within-5% flag to 1, so a sketch drifting past
    tolerance breaks the value hash.  Exact and sketch sides are
    separate passes joined on the 7-row year key (the multi-distinct
    Expand trap, see agg_approx_error_audit)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_yr", F.year("o_orderdate").cast("int"))
    partials = o.groupBy("order_yr", "o_orderpriority").agg(
        F.hll_sketch_agg(F.col("o_custkey"), F.lit(12)).alias("sk"))
    merged = partials.groupBy("order_yr").agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sk"), F.lit(False))).alias("__est"))
    exact = o.groupBy("order_yr").agg(
        F.countDistinct("o_custkey").alias("__exact"))
    return exact.join(merged, "order_yr").select(
        "order_yr",
        F.col("__exact").cast("long").alias("exact_distinct"),
        (
            F.abs(F.col("__est").cast("double")
                  - F.col("__exact").cast("double"))
            <= 0.05 * F.col("__exact").cast("double")
        ).cast("long").alias("within_5pct"),
    )


@register(
    "agg_theta_setops",
    oracle="""
    WITH d AS (
      SELECT o_custkey,
             MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
               AS in_a,
             MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END)
               AS in_b
      FROM orders WHERE year(o_orderdate) IN (1996, 1997)
      GROUP BY o_custkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
           CAST(SUM(in_a * in_b) AS BIGINT) AS exact_intersect,
           CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS exact_diff,
           CAST(1 AS BIGINT) AS union_within_5pct,
           CAST(1 AS BIGINT) AS intersect_within_5pct,
           CAST(1 AS BIGINT) AS diff_within_5pct
    FROM d
    """,
)
def agg_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS — the capability HLL fundamentally
    lacks (HLL merges are union-only): distinct-customer overlap
    between two order years as sketch INTERSECTION and DIFFERENCE,
    the retention / audience-overlap primitive.  At 100 TB each
    year's sketch is built once from its own partitions (one pass,
    lgK=14 -> <=256 KB), and every pairwise overlap question
    afterwards is a driver-free merge of two sketch values — exact
    set intersection would re-shuffle both years' distinct keys per
    question.  Audit contract (agg_hll_partial_union pattern): theta
    sketches are deterministic functions of the data; the oracle
    computes the exact sides (one conditional-flag pass, no
    self-join) and pins the within-5% flags — measured sketch error
    at sf1 (143k distinct union, estimation mode) is 0.1-0.3%, and
    below 16k distinct the sketch is in exact mode, so the flags are
    stable at every tested scale.  The two 1-row sides combine via a
    broadcast of single-row scalar aggregates (the registered
    crossJoin-of-scalars shape)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate").cast("int")
    ).filter(F.col("yr").isin(1996, 1997))
    sk = o.groupBy("yr").agg(
        F.theta_sketch_agg("o_custkey", F.lit(14)).alias("sk"))
    a = sk.filter(F.col("yr") == 1996).select(F.col("sk").alias("sk_a"))
    b = sk.filter(F.col("yr") == 1997).select(F.col("sk").alias("sk_b"))
    est = a.crossJoin(b).select(
        F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b"))
        .alias("e_or"),
        F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b"))
        .alias("e_and"),
        F.theta_sketch_estimate(F.theta_difference("sk_a", "sk_b"))
        .alias("e_diff"),
    )
    flags = o.groupBy("o_custkey").agg(
        F.max((F.col("yr") == 1996).cast("int")).alias("in_a"),
        F.max((F.col("yr") == 1997).cast("int")).alias("in_b"),
    )
    exact = flags.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_intersect"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).alias("exact_diff"),
    )

    def within(est_col: str, exact_col: str):
        return (
            F.abs(F.col(est_col).cast("double")
                  - F.col(exact_col).cast("double"))
            <= 0.05 * F.col(exact_col).cast("double")
        ).cast("long")

    return exact.crossJoin(est).select(
        F.col("exact_union").cast("long").alias("exact_union"),
        F.col("exact_intersect").cast("long").alias("exact_intersect"),
        F.col("exact_diff").cast("long").alias("exact_diff"),
        within("e_or", "exact_union").alias("union_within_5pct"),
        within("e_and", "exact_intersect").alias("intersect_within_5pct"),
        within("e_diff", "exact_diff").alias("diff_within_5pct"),
    )


@register(
    "agg_kll_quantile_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_yr,
           COUNT(*) AS n_orders,
           CAST(1 AS BIGINT) AS median_rank_ok
    FROM orders GROUP BY order_yr
    """,
)
def agg_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches (Datasketches KLL) — the
    percentile twin of agg_hll_partial_union: per-(year, priority)
    KLL partials over o_totalprice are rolled up to year with
    kll_merge_agg_double (a few-KB sketch merge, never a fact
    rescan), and the merged sketch's median estimate is audited by
    RANK: a second pass re-ranks each year's estimate against the
    raw prices (broadcast of the 10-row estimate table) and flags
    |rank(est) - 0.5| <= 0.02 — KLL's k=200 normalized rank-error
    bound (~1.65%) sits inside that line, and the sketch is a
    deterministic function of the data, so the flag is reproducible
    and drift breaks the value hash.  Rank is the honest audit for
    quantile sketches: VALUE distance depends on local density, rank
    error is what KLL actually bounds.  approx_percentile covers
    one-shot estimation; this key covers the 100-TB property that
    matters operationally — partial sketches materialized at a fine
    grain answer every coarser quantile question by merge."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_yr", F.year("o_orderdate").cast("int"))
    partials = o.groupBy("order_yr", "o_orderpriority").agg(
        F.kll_sketch_agg_double("o_totalprice", F.lit(200)).alias("kll"))
    merged = partials.groupBy("order_yr").agg(
        F.expr("kll_sketch_get_quantile_double("
               "kll_merge_agg_double(kll), 0.5d)").alias("__est"))
    # no broadcast hint on merged (it derives from the fact table —
    # the lint forbids forcing those): AQE sees the ~10-row aggregate
    # at runtime and picks the broadcast join itself (plan-gated on
    # the EXECUTED plan)
    return (
        o.join(merged, "order_yr")
        .groupBy("order_yr")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((F.col("o_totalprice") <= F.col("__est"))
                  .cast("long")).alias("__le"),
        )
        .select(
            "order_yr", "n_orders",
            (
                F.abs(F.col("__le").cast("double")
                      / F.col("n_orders").cast("double") - 0.5)
                <= 0.02
            ).cast("long").alias("median_rank_ok"),
        )
    )


@register(
    "agg_higher_moments",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               {DSUM_SQL('l_discount', 2)} AS s1,
               {DSUM_SQL('l_discount * l_discount', 4)} AS s2,
               {DSUM_SQL('l_discount * l_discount * l_discount', 6)} AS s3,
               {DSUM_SQL(
                   'l_discount * l_discount * l_discount * l_discount', 8
               )} AS s4
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(s1 / n, 6) AS mean_disc,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n)
                  + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * SQRT(s2 / n - (s1 / n) * (s1 / n))), 6) AS skew_disc,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * (s2 / n - (s1 / n) * (s1 / n))) - 3, 6) AS kurt_disc
    FROM s
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group, computed
    from exact scaled-long power sums (the agg_stats determinism trick
    extended to 3rd/4th moments).  Engine-native skewness()/kurtosis()
    use Welford-style merge whose float order is partition-dependent
    AND whose bias conventions differ across engines; raw-moment
    algebra over associative integer sums is bit-identical on any
    partitioning and in the oracle.  One map-side-combined shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_discount")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x, 2).alias("s1"),
        dsum(x * x, 4).alias("s2"),
        dsum(x * x * x, 6).alias("s3"),
        dsum(x * x * x * x, 8).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - F.lit(3) * m * (s2 / n) + F.lit(2) * m * m * m
    m4 = (s4 / n - F.lit(4) * m * (s3 / n)
          + F.lit(6) * m * m * (s2 / n) - F.lit(3) * m * m * m * m)
    return agg.select(
        "l_returnflag", n.cast("long").alias("n"),
        F.round(m, 6).alias("mean_disc"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skew_disc"),
        F.round(m4 / (m2 * m2) - F.lit(3), 6).alias("kurt_disc"),
    )


@register(
    "agg_stats",
    oracle=f"""
    SELECT l_returnflag,
           MIN(l_discount) AS min_disc, MAX(l_discount) AS max_disc,
           {DAVG_SQL('l_discount', 2)} AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(
             SQRT(({DSUM_SQL('l_discount * l_discount', 4)} -
                   {DSUM_SQL('l_discount', 2)} * {DSUM_SQL('l_discount', 2)}
                     / CAST(COUNT(*) AS DOUBLE))
                  / (CAST(COUNT(*) AS DOUBLE) - 1.0)), 6) AS stddev_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev with a deterministic two-pass-free stddev:
    exact decimal sums of x and x^2, combined in double — identical on
    any partitioning and in the oracle (vs engine-specific Welford)."""
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    sx = dsum(F.col("l_discount"), 2)
    sxx = dsum(F.col("l_discount") * F.col("l_discount"), 4)
    return li.groupBy("l_returnflag").agg(
        F.min("l_discount").alias("min_disc"),
        F.max("l_discount").alias("max_disc"),
        davg(F.col("l_discount"), 2).alias("avg_disc"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))), 6)
        .alias("stddev_disc"),
    )


# ---------------------------------------------------------------------------
# More windows
# ---------------------------------------------------------------------------

@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(22,2)")).over(w)
        .cast("double").alias("running_spend"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
             AS next_orderkey
    FROM orders
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long").alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@register(
    "set_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_acctbal") > 9000)
         .select(F.col("c_nationkey").alias("nationkey")))
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT ALL
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL — keeps duplicate cardinalities."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"))
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_mktsegment") == "BUILDING")
         .select(F.col("c_custkey").alias("custkey")))
    return o.exceptAll(c)


# ---------------------------------------------------------------------------
# Scalar functions / array / JSON
# ---------------------------------------------------------------------------

@register(
    "scalar_string_date",
    oracle="""
    SELECT o_orderkey,
           substr(o_orderpriority, 1, 1) AS prio_code,
           upper(o_orderstatus) AS status_u,
           CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(day(o_orderdate) AS BIGINT) AS dom,
           round(o_totalprice / 1000, 1) AS kprice,
           abs(o_totalprice - 150000) AS dist_150k,
           CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS bucket,
           o_orderstatus || '-' || o_orderpriority AS tag
    FROM orders
    """,
)
def scalar_string_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.upper("o_orderstatus").alias("status_u"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.round(F.col("o_totalprice") / 1000, 1).alias("kprice"),
        F.abs(F.col("o_totalprice") - 150000).alias("dist_150k"),
        F.when(F.col("o_totalprice") > 150000, "big").otherwise("small")
        .alias("bucket"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("tag"),
    )


@register(
    "array_embedding_norm",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(SQRT(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
    """,
)
def array_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array funcs (JVM codegen, no UDF) over array<float>."""
    from wrds2pg_spark.functions.vector import l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _json_props_impl(spark, sf_dir, variant=False)


@register(
    "json_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's native VARIANT
    type: ``parse_json`` materializes the props column as the binary
    variant encoding once, ``variant_get`` path-extracts without
    re-parsing the JSON text per access — the engine-native
    replacement for repeated ``get_json_object`` string parsing (and
    the open-lakehouse semi-structured story: the same column could
    land in parquet as a typed VARIANT).  Same oracle as
    json_props_extract: the representation must not change a value."""
    return _json_props_impl(spark, sf_dir, variant=True)


def _json_props_impl(
    spark: SparkSession, sf_dir: str, variant: bool
) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    if variant:
        # try_parse_json: malformed JSON must become NULL, matching
        # get_json_object and the oracle's json_extract_string —
        # strict parse_json would fail the whole job on one bad row
        k = F.try_variant_get(
            F.try_parse_json(F.col("props")), "$.k", "long")
    else:
        k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# North-star: dedup / similarity / text / multimodal / event windows
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, md5(text) AS text_hash,
           COUNT(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wrds2pg_spark.operators.dedup import dedup_exact

    return dedup_exact(fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB))


@register(
    "dedup_exact_normalized",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                   AS t
        FROM documents)
    SELECT MIN(doc_id) AS doc_id, md5(t) AS text_hash,
           COUNT(*) AS n_dups
    FROM norm GROUP BY md5(t)
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-tolerant exact dedup: lowercase + collapse every
    non-alphanumeric run to one space before hashing, so casing,
    punctuation and whitespace variants of the same content collapse
    into one group (the standard first pass before near-dup LSH).
    Same scale shape as dedup_exact — the normalization is a scan-side
    regexp in codegen and only (hash, id) travels in the shuffle."""
    from wrds2pg_spark.operators.dedup import dedup_exact

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    norm = docs.select(
        "doc_id",
        F.trim(F.regexp_replace(F.lower(F.col("text")),
                                "[^a-z0-9]+", " ")).alias("text"),
    )
    return dedup_exact(norm)


# The distinct word set per document and its blocked self-join: the
# SQL model of operators/dedup.py _blocked_token_pairs.
_TOKSET_CTE = """t AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
      FROM documents)"""
_TOKSET_PAIRS = """FROM t a JOIN t b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id"""
_TOKSET_JACCARD = """ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                 (CAST(len(a.toks) AS DOUBLE) + CAST(len(b.toks) AS DOUBLE)
                  - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)),
                 6)"""

_JACCARD_SQL = f"""
    WITH {_TOKSET_CTE}
    SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
           {_TOKSET_JACCARD} AS jaccard
    {_TOKSET_PAIRS}
    WHERE {_TOKSET_JACCARD} >= 0.7
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked by (lang, source)
    (operators/dedup.py) — per-block quadratic, globally linear in the
    number of blocks; intersections run in whole-stage codegen."""
    from wrds2pg_spark.operators.dedup import ngram_jaccard_pairs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(docs, ["lang", "source"], threshold=0.7)


_CONTAIN_SQL = f"""
    WITH {_TOKSET_CTE},
    p AS (
      SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(a.toks), 6) AS contain_a_in_b,
             ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(b.toks), 6) AS contain_b_in_a
      {_TOKSET_PAIRS})
    SELECT * FROM p
    WHERE greatest(contain_a_in_b, contain_b_in_a) >= 0.9
"""


@register("dedup_ngram_containment", oracle=_CONTAIN_SQL)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric token-set containment pairs (Broder's containment,
    |A n B| / |A|): the quote / subset-document detector Jaccard
    misses when document sizes differ (operators/dedup.py
    ngram_containment_pairs — same blocking + codegen'd intersect
    scale shape as the Jaccard twin, both directions in one pair
    row)."""
    from wrds2pg_spark.operators.dedup import ngram_containment_pairs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return ngram_containment_pairs(docs, ["lang", "source"], threshold=0.9)


@register("dedup_minhash_lsh", oracle=None)  # engine-specific hashes
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16-band LSH candidates, exact-Jaccard verified at
    0.5 (operators/dedup.py).  xxhash64 is Spark-specific, so the
    driver records the rows-only check; tests assert consistency with
    the exact blocked-Jaccard result."""
    from wrds2pg_spark.operators.dedup import minhash_lsh_pairs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(docs, threshold=0.5)


@register("dedup_simhash", oracle=None)  # engine-specific hashes
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wrds2pg_spark.operators.dedup import simhash_fingerprints

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return simhash_fingerprints(docs)


@register(
    "dedup_simhash_portable",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(string_split_regex(lower(trim(text)),
                                                '\\s+')) AS t
        FROM documents),
    h AS (
        SELECT doc_id, md5(g) AS d
        FROM (SELECT doc_id, UNNEST(t) AS g FROM toks)),
    bits AS (
        SELECT doc_id, i,
               CASE WHEN strpos('13579bdf', substr(d, i + 1, 1)) > 0
                    THEN 1 ELSE -1 END AS s
        FROM h, UNNEST(generate_series(0, 31)) AS gs(i)),
    sums AS (
        SELECT doc_id, i, sum(s) AS ss FROM bits GROUP BY doc_id, i),
    fp AS (
        SELECT doc_id,
               string_agg(CASE WHEN ss > 0 THEN '1' ELSE '0' END, ''
                          ORDER BY i) AS simhash
        FROM sums GROUP BY doc_id)
    SELECT doc_id, simhash,
           count(*) OVER (PARTITION BY simhash) AS n_same
    FROM fp
    """,
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable md5-parity SimHash — the oracle-CHECKED member of the
    simhash family (the xxhash64 variant `dedup_simhash` is faster but
    engine-specific, so the driver can only rows-check it).  Same
    doctrine as dedup_minhash_portable: a hash family an external SQL
    engine can recompute digit-for-digit proves the pipeline, while
    the engine-hash twin carries the throughput
    (operators/dedup.py:simhash_fingerprints_portable)."""
    from wrds2pg_spark.operators.dedup import simhash_fingerprints_portable

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return simhash_fingerprints_portable(docs)


_EMB_DOT = ("list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)), "
            "list_transform({b}, x -> CAST(x AS DOUBLE)))")


def _emb_cos_sql(a: str, b: str, rounded: bool = True) -> str:
    dot = _EMB_DOT.format(a=a, b=b)
    na = "SQRT(" + _EMB_DOT.format(a=a, b=a) + ")"
    nb = "SQRT(" + _EMB_DOT.format(a=b, b=b) + ")"
    if not rounded:
        return f"({dot} / ({na} * {nb}))"
    return f"ROUND({dot} / ({na} * {nb}), 6)"


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_emb_cos_sql('a.embedding', 'b.embedding', rounded=False)},
                 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_emb_cos_sql('a.embedding', 'b.embedding', rounded=False)} >= 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: exact cosine within label blocks
    (operators/similarity.py blocked_pairs)."""
    from wrds2pg_spark.operators.similarity import blocked_pairs

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    # cap far above fixture label blocks (218 at sf0.1): exact results
    # here, bounded quadratic work on a degenerate hub label
    return blocked_pairs(
        emb, "label", threshold=0.3, max_block_size=8192
    )


# deterministic 64-dim query vector, shared by Spark and the oracle
_QVEC = [(((i * 37 + 11) % 19) - 9) / 9.0 for i in range(64)]
_QVEC_SQL = "[" + ", ".join(repr(x) for x in _QVEC) + "]"


@register(
    "similarity_topk",
    oracle=f"""
    SELECT vec_id, {_emb_cos_sql('embedding', _QVEC_SQL)} AS cos_sim
    FROM embeddings
    ORDER BY cos_sim DESC, vec_id
    LIMIT 20
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact baseline): narrow map +
    TakeOrderedAndProject, no corpus shuffle."""
    from wrds2pg_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _QVEC, k=20)


# Deterministic 4-query batch for range search; query 0 is _QVEC.
_RANGE_NQ = 4
_RANGE_TAU = 0.30


def _range_qvec(q: int, dim: int = 64) -> list[float]:
    return [(((i * 37 + 11 + 13 * q) % 19) - 9) / 9.0 for i in range(dim)]


def _range_search_oracle() -> str:
    rows = ", ".join(
        f"({q}, [" + ", ".join(repr(x) for x in _range_qvec(q)) + "])"
        for q in range(_RANGE_NQ))
    cos = _emb_cos_sql("e.embedding", "q.qv", rounded=False)
    return f"""
    WITH q(query_id, qv) AS (VALUES {rows})
    SELECT CAST(q.query_id AS INT) AS query_id, e.vec_id,
           ROUND({cos}, 6) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE {cos} >= {_RANGE_TAU}
    """


@register("similarity_range_search", oracle=_range_search_oracle())
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold retrieval (range search): every corpus vector with
    cosine >= tau against each query in a batch — the complement of
    top-k used for recall-oriented matching (dedup candidates, policy
    screens) where the hit COUNT is unknown a priori.

    Plan shape: ONE corpus scan, a narrow map computing the row's
    norm once plus one dot per query (the query norms are Python-side
    constants — same left-to-right IEEE sum as the SQL twin), explode
    of the 4-struct array, then a codegen filter on the UNROUNDED
    cosine (bitwise-equal arithmetic on both engines, the
    dedup_embedding_cosine precedent).  No shuffle, no UDF: at 100 TB
    this is the same embarrassingly-parallel scan shape as
    brute-force top-k minus even its TakeOrdered reduction; a LARGE
    query batch would swap the literal array for a broadcast join of
    a query table, same per-row cost."""
    from wrds2pg_spark.functions.vector import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    nrm = l2_norm(e)
    structs = []
    for qid in range(_RANGE_NQ):
        qv = _range_qvec(qid)
        qn = sum(x * x for x in qv) ** 0.5
        cos = dot(e, F.lit([float(x) for x in qv])) / (nrm * F.lit(qn))
        structs.append(F.struct(
            F.lit(qid).alias("query_id"), cos.alias("cos")))
    return (
        emb.select("vec_id", F.explode(F.array(*structs)).alias("p"))
        .filter(F.col("p.cos") >= F.lit(_RANGE_TAU))
        .select(
            "p.query_id", "vec_id",
            F.round(F.col("p.cos"), 6).alias("cos_sim"),
        )
    )


def _maxsim_oracle(n_chunks: int = 8, dim: int = 64, k: int = 20) -> str:
    step = dim // n_chunks
    terms = []
    for i in range(n_chunks):
        q_i = _QVEC[i * step:(i + 1) * step]
        qlit = "[" + ", ".join(repr(x) for x in q_i) + "]"
        dots = []
        for j in range(n_chunks):
            a, b = j * step + 1, (j + 1) * step
            dots.append(_EMB_DOT.format(
                a=f"embedding[{a}:{b}]", b=qlit))
        terms.append("GREATEST(" + ", ".join(dots) + ")")
    score = " + ".join(terms)
    return f"""
    SELECT vec_id, ROUND({score}, 6) AS maxsim
    FROM embeddings
    ORDER BY maxsim DESC, vec_id
    LIMIT {k}
    """


@register("similarity_maxsim", oracle=None)  # generated below
def similarity_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: treat each
    64-dim embedding as 8 token-subvectors of 8 dims; score(query,
    doc) = sum over query subvectors of the MAX dot product against
    any doc subvector.  This is the multi-vector scoring that beats
    single-vector cosine on fine-grained relevance, expressed without
    any UDF: slice + zip_with/aggregate dot products and greatest()
    all run in whole-stage codegen, so the plan is a narrow map over
    the scan followed by TakeOrderedAndProject — no corpus shuffle,
    identical shape to brute-force cosine and the same 100-TB path
    (LSH/IVF block the corpus first, MaxSim re-scores the candidates).
    """
    n_chunks, dim, k = 8, 64, 20
    step = dim // n_chunks
    emb = load_table(spark, sf_dir, "embeddings")
    # dots unrolled to flat subscript*literal sums, NOT
    # zip_with/aggregate lambdas: higher-order functions evaluate
    # INTERPRETED per element and break whole-stage codegen — the HOF
    # form measured 38.9 s on 20k vectors at sf1, the unrolled tree
    # 2.2 s.  The 512-term tree is rendered as ONE SQL string parsed
    # JVM-side (F.expr): building it term-by-term through Column ops
    # cost ~7 s of Py4J round-trips PER CALL (caught when the bench
    # started timing plan construction); the parsed expression is
    # identical, left-to-right addition order preserved, so it stays
    # bitwise equal to the HOF fold and DuckDB's list_dot_product at
    # 6-dp rounding.  The 'D' suffix forces DOUBLE literals (a bare
    # decimal literal would parse as DECIMAL and change the arithmetic).
    chunks = []
    for i in range(n_chunks):
        q_i = _QVEC[i * step:(i + 1) * step]
        dots = []
        for j in range(n_chunks):
            terms = " + ".join(
                f"(CAST(embedding[{j * step + t}] AS DOUBLE)"
                f" * {float(q_i[t])!r}D)"
                for t in range(step))
            dots.append("(" + terms + ")")
        chunks.append("greatest(" + ", ".join(dots) + ")")
    score = F.expr(" + ".join(chunks))
    return (
        emb.select("vec_id", F.round(score, 6).alias("maxsim"))
        .orderBy(F.desc("maxsim"), "vec_id")
        .limit(k)
    )


REGISTRY["similarity_maxsim"].oracle = _maxsim_oracle()


def _bucket_bits_sql(nbits: int, dim: int = 64,
                     col: str = "embedding") -> str:
    """The hyperplane bucket signature as a DuckDB string expression —
    the ONE place the plane formula / repr / '>= 0' convention is
    rendered to SQL (shared by the LSH, recall and incremental
    oracles, which must stay bitwise-aligned with _bucket_sig_udf)."""
    from wrds2pg_spark.operators.similarity import hyperplane

    bits = []
    for j in range(nbits):
        p = hyperplane(j, dim)
        plit = "[" + ", ".join(repr(x) for x in p) + "]"
        bits.append(
            f"(CASE WHEN {_EMB_DOT.format(a=col, b=plit)} >= 0 "
            f"THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


def _lsh_oracle() -> str:
    from wrds2pg_spark.operators.similarity import probe_buckets

    nbits = 8
    bucket = _bucket_bits_sql(nbits)
    probes = ", ".join(f"'{b}'" for b in probe_buckets(_QVEC, nbits, radius=1))
    return f"""
    SELECT vec_id, {_emb_cos_sql('embedding', _QVEC_SQL)} AS cos_sim
    FROM embeddings
    WHERE ({bucket}) IN ({probes})
    ORDER BY cos_sim DESC, vec_id
    LIMIT 20
    """


def _recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """recall@k of an approximate top-k against the exact one: their
    vec_id overlap as one (k, n_overlap, recall_at_k) row."""
    n = F.count(F.lit(1))
    return exact.select("vec_id").join(approx.select("vec_id"), "vec_id").agg(
        F.lit(k).cast("long").alias("k"),
        n.cast("long").alias("n_overlap"),
        (n.cast("double") / k).alias("recall_at_k"),
    )


def _recall_at_k_sql(approx: str, k: int = 20, ctes: str = "") -> str:
    """DuckDB twin of _recall_at_k against the exact cosine top-k of
    _QVEC: ``approx`` is the approximate side's ``SELECT vec_id ...
    LIMIT k`` and ``ctes`` any CTEs it reads."""
    head = f"{ctes},\n    " if ctes else ""
    return f"""
    WITH {head}exact AS (
      SELECT vec_id FROM embeddings
      ORDER BY {_emb_cos_sql('embedding', _QVEC_SQL)} DESC, vec_id
      LIMIT {k}),
    approx AS ({approx})
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_overlap,
           CAST(count(*) AS DOUBLE) / {k} AS recall_at_k
    FROM exact JOIN approx USING (vec_id)
    """


def _recall_oracle() -> str:
    from wrds2pg_spark.operators.similarity import probe_buckets

    nbits, k = 8, 20
    bucket = _bucket_bits_sql(nbits)
    probes = ", ".join(f"'{b}'" for b in probe_buckets(_QVEC, nbits, radius=1))
    return _recall_at_k_sql(f"""
      SELECT vec_id FROM embeddings
      WHERE ({bucket}) IN ({probes})
      ORDER BY {_emb_cos_sql('embedding', _QVEC_SQL)} DESC, vec_id
      LIMIT {k}""", k)


@register("similarity_recall_at_k", oracle=_recall_oracle())
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit: recall@20 of the multi-probe LSH top-k
    against the exact brute-force top-k for the same query — the
    metric that decides nbits/radius before anyone trusts the
    approximate path in production.  Engines ship ANN operators;
    auditing their recall in the same engine closes the loop.
    Both sides are deterministic (integer-formula hyperplanes), so
    even the approximation's QUALITY is oracle-checkable."""
    from wrds2pg_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    k = 20
    return _recall_at_k(
        brute_force_topk(emb, _QVEC, k=k),
        lsh_topk(emb, _QVEC, k=k, nbits=8, radius=1), k)


_MRL_DIM = 16  # serving prefix width for the matryoshka audit


@register(
    "similarity_matryoshka_recall",
    oracle=_recall_at_k_sql(f"""
      SELECT vec_id FROM embeddings
      ORDER BY {_emb_cos_sql(f'embedding[1:{_MRL_DIM}]',
                             f'({_QVEC_SQL})[1:{_MRL_DIM}]')} DESC, vec_id
      LIMIT 20"""),
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / prefix-dimension serving audit: recall@20 of
    cosine top-k computed on the first {_MRL_DIM} embedding
    dimensions against the full-width exact top-k — the measurement
    behind the standard retrieval trade of serving a truncated prefix
    (4x less memory bandwidth and index footprint) and re-ranking
    with full vectors only when recall demands it.  Both sides are
    narrow projection + TakeOrderedAndProject over ONE corpus scan
    each (no shuffle, no index); the prefix side's scan reads the
    same column and slices JVM-side, so at 100 TB the audit costs two
    pruned scans regardless of corpus width.  Deterministic formula
    query vector keeps even the approximation's quality
    oracle-checkable."""
    from wrds2pg_spark.operators.similarity import (
        _exact_topk, brute_force_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = 20
    prefix = F.slice(F.col("embedding"), 1, _MRL_DIM)
    return _recall_at_k(
        brute_force_topk(emb, _QVEC, k=k),
        _exact_topk(emb, _QVEC[:_MRL_DIM], k, prefix, ["vec_id"]), k)


def _anchor_cell_sql(col: str, nlist: int, dim: int) -> tuple[str, str]:
    """The anchored IVF cell (operators/similarity.py
    anchored_cell_expr) as DuckDB SQL.  Two parts, because the argmax
    reads the anchor-dot list twice and a subquery binds it ONCE as
    ``ds``: (``[dots] AS ds``, ``<argmax of ds> AS cell``)."""
    from wrds2pg_spark.operators.similarity import ivf_anchors

    dots = ", ".join(
        _EMB_DOT.format(a=col, b="[" + ", ".join(repr(x) for x in anc) + "]")
        for anc in ivf_anchors(nlist, dim))
    return (f"[{dots}] AS ds",
            "CAST(list_position(ds, list_max(ds)) - 1 AS INTEGER) AS cell")


def _anchor_cells_cte(nlist: int, dim: int = 64) -> str:
    """``cells``: every embeddings row with its anchored cell."""
    ds, cell = _anchor_cell_sql("embedding", nlist, dim)
    return f"""cells AS (
      SELECT vec_id, embedding,
             {cell}
      FROM (SELECT vec_id, embedding, {ds} FROM embeddings))"""


def _ivf_recall_oracle(nlist: int = 16, nprobe: int = 2, k: int = 20) -> str:
    from wrds2pg_spark.operators.similarity import anchored_probe_cells

    probes = ", ".join(
        str(c) for c in anchored_probe_cells(_QVEC, nlist, nprobe)
    )
    return _recall_at_k_sql(f"""
      SELECT vec_id FROM cells
      WHERE cell IN ({probes})
      ORDER BY {_emb_cos_sql('embedding', _QVEC_SQL)} DESC, vec_id
      LIMIT {k}""", k, ctes=_anchor_cells_cte(nlist))


@register("similarity_ivf_recall_at_k", oracle=_ivf_recall_oracle())
def similarity_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality audit: recall@20 of inverted-file probing against
    the exact brute-force top-k.  Runs through the DETERMINISTIC
    anchored coarse quantizer (operators/similarity.py ivf_anchors:
    cell = argmax anchor dot, probe = query's best nprobe cells) so
    cell assignment, pruning, and the recall NUMBER itself are
    reproducible in the oracle — the fitted-KMeans index
    (similarity_ivf) necessarily stays engine-specific, and its
    recall is asserted CI-side instead (tests/test_skew_ivf.py)."""
    from wrds2pg_spark.operators.similarity import (
        brute_force_topk, ivf_anchored_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = 20
    return _recall_at_k(
        brute_force_topk(emb, _QVEC, k=k),
        ivf_anchored_topk(emb, _QVEC, k=k, nlist=16, nprobe=2), k)


def _pq_dists_sql(vec_sql: str, sub_idx: int, m: int = 8, ksub: int = 16,
                  dim: int = 64) -> str:
    """DuckDB list of the ksub squared subvector distances for one
    subspace — term order mirrors the Spark HOF fold exactly."""
    from wrds2pg_spark.operators.similarity import pq_codebook

    subdim = dim // m
    entries = []
    for c in pq_codebook(sub_idx, ksub, subdim):
        terms = [
            f"(CAST({vec_sql}[{sub_idx * subdim + j + 1}] AS DOUBLE)"
            f" - ({c[j]!r}))"
            for j in range(subdim)
        ]
        entries.append(" + ".join(f"{t} * {t}" for t in terms))
    return "[" + ", ".join(entries) + "]"


def _pq_ds_cols(m: int = 8) -> str:
    """``ds0 .. ds{m-1}``: each row's codebook distance lists."""
    return ", ".join(
        f"{_pq_dists_sql('embedding', i)} AS ds{i}" for i in range(m)
    )


def _pq_adc_sql(m: int = 8, ksub: int = 16) -> str:
    """_QVEC's ADC distance over the _pq_ds_cols columns: per subspace,
    the lookup-table entry (operators/similarity.py _pq_luts) at the
    row's argmin code."""
    from wrds2pg_spark.operators.similarity import _pq_luts

    terms = []
    for i, lut in enumerate(_pq_luts(_QVEC, m, ksub)):
        # explicit DOUBLE casts: bare float literals parse as DECIMAL
        # in DuckDB and the sum would come back as a Decimal string
        lut_sql = "[" + ", ".join(
            f"CAST({x!r} AS DOUBLE)" for x in lut) + "]"
        terms.append(f"{lut_sql}[list_position(ds{i}, list_min(ds{i}))]")
    return " + ".join(terms)


def _pq_codes_oracle(m: int = 8, ksub: int = 16, dim: int = 64) -> str:
    packed = " + ".join(
        f"CAST(list_position(ds{i}, list_min(ds{i})) - 1 AS BIGINT)"
        f" * CAST({ksub ** i} AS BIGINT)"
        for i in range(m)
    )
    mse = " + ".join(f"list_min(ds{i})" for i in range(m))
    return f"""
    WITH d AS (SELECT vec_id, {_pq_ds_cols(m)} FROM embeddings)
    SELECT vec_id,
           CAST({packed} AS BIGINT) AS pq_code,
           ROUND(({mse}) / {float(dim)!r}, 6) AS quant_mse
    FROM d
    """


@register("embedding_pq_codes", oracle=_pq_codes_oracle())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantize the corpus (operators/similarity.py pq_encode;
    Jégou et al. 2011): 64 floats -> 8 codes of 4 bits packed in one
    BIGINT (32x compression) + the exact per-vector quantization MSE.
    Deterministic integer-formula codebooks (a fitted k-means codebook
    would be engine-specific) make the codes AND the error number
    hash-checkable — a wrong argmin tie-break, slice offset, or
    packing base fails the value hash."""
    from wrds2pg_spark.operators.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_encode(emb, m=8, ksub=16, dim=64)


def _pq_adc_oracle(m: int = 8, ksub: int = 16, k: int = 20) -> str:
    return f"""
    WITH d AS (SELECT vec_id, {_pq_ds_cols(m)} FROM embeddings)
    SELECT vec_id, ROUND({_pq_adc_sql(m, ksub)}, 6) AS adc_dist
    FROM d
    ORDER BY adc_dist ASC, vec_id
    LIMIT {k}
    """


def _ivfpq_oracle(nlist: int = 16, nprobe: int = 2, m: int = 8,
                  ksub: int = 16, dim: int = 64, k: int = 20) -> str:
    from wrds2pg_spark.operators.similarity import anchored_probe_cells

    ds, cell = _anchor_cell_sql("embedding", nlist, dim)
    probes = ", ".join(
        str(c) for c in anchored_probe_cells(_QVEC, nlist, nprobe))
    return f"""
    WITH d AS (
      SELECT vec_id,
             {cell},
             {_pq_ds_cols(m)}
      FROM (SELECT vec_id, embedding, {ds} FROM embeddings))
    SELECT vec_id, ROUND({_pq_adc_sql(m, ksub)}, 6) AS adc_dist
    FROM d
    WHERE cell IN ({probes})
    ORDER BY adc_dist ASC, vec_id
    LIMIT {k}
    """


@register("similarity_ivfpq_indexed", oracle=_ivfpq_oracle())
def similarity_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k from a MATERIALIZED IVF-PQ index — the FAISS serving
    architecture end-to-end (operators/similarity.py
    build_ivfpq_index / ivfpq_topk_indexed): corpus hive-partitioned
    by anchored coarse cell carrying only (vec_id, packed PQ code);
    the query prunes to its nprobe cell directories at listing time
    (PartitionFilters, plan-asserted) and scores each survivor with
    m unpack-and-lookup expressions on one BIGINT — the raw vectors
    are never read at query time.  Deterministic anchors + codebooks
    keep the whole path value-hash checked."""
    from wrds2pg_spark.operators.similarity import (
        build_ivfpq_index, ivfpq_topk_indexed,
    )
    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag

    tag = fixture_tag(sf_dir, "embeddings")
    index = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/emb_ivfpq_idx_{tag}",
        lambda tmp: build_ivfpq_index(
            load_table(spark, sf_dir, "embeddings"), tmp,
            nlist=16, m=8, ksub=16, dim=64,
        ),
    )
    return ivfpq_topk_indexed(
        spark, index, _QVEC, k=20, nlist=16, nprobe=2, m=8, ksub=16)


@register("similarity_ivfpq_upsert", oracle=_ivfpq_oracle())
def similarity_ivfpq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ maintenance (operators/similarity.py
    upsert_ivfpq_index, r4/r5 verdict item): the index is built from
    ~6/7 of the corpus, then the remaining 1/7 ARRIVES and is
    upserted — encoded with the frozen (formula) anchors/codebooks
    and appended only to the cell directories it lands in; existing
    files are never rewritten (tests/test_skew_ivf.py asserts the
    base file set survives byte-identical).  Serving the upserted
    index must return exactly what a full rebuild over the whole
    corpus returns, so this key shares similarity_ivfpq_indexed's
    full-corpus oracle: upsert(base, delta) == build(base UNION
    delta), hash-checked.  Maintenance cost is O(|arrivals|) — the
    serving twin of dedup_incremental_minhash's measured
    arrival-bounded probe (BASELINE.md r6 scale demo)."""
    from wrds2pg_spark.operators.similarity import (
        build_ivfpq_index, ivfpq_topk_indexed, upsert_ivfpq_index,
    )
    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag

    emb = load_table(spark, sf_dir, "embeddings")

    def build(tmp: str) -> None:
        base = emb.filter(F.col("vec_id") % 7 != 3)
        arrivals = emb.filter(F.col("vec_id") % 7 == 3)
        build_ivfpq_index(base, tmp, nlist=16, m=8, ksub=16, dim=64)
        upsert_ivfpq_index(arrivals, tmp, nlist=16, m=8, ksub=16, dim=64)

    tag = fixture_tag(sf_dir, "embeddings")
    index = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/emb_ivfpq_upsert_{tag}", build)
    return ivfpq_topk_indexed(
        spark, index, _QVEC, k=20, nlist=16, nprobe=2, m=8, ksub=16)


@register("similarity_pq_adc", oracle=_pq_adc_oracle())
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/similarity.py
    pq_adc_topk): the query precomputes its m x ksub distance lookup
    table driver-side and every corpus row scores with m table
    lookups on its PQ codes — the serving path where the scan reads
    8 bytes per vector instead of 256.  Same deterministic codebooks
    as embedding_pq_codes, so even the approximate distances are
    value-hash checked against the oracle."""
    from wrds2pg_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, _QVEC, k=20, m=8, ksub=16)


def _pq_recall_oracle(m: int = 8, ksub: int = 16, k: int = 20) -> str:
    return _recall_at_k_sql(f"""
      SELECT vec_id FROM d
      ORDER BY ROUND({_pq_adc_sql(m, ksub)}, 6) ASC, vec_id
      LIMIT {k}""", k,
        ctes=f"d AS (SELECT vec_id, {_pq_ds_cols(m)} FROM embeddings)")


@register("similarity_pq_recall_at_k", oracle=_pq_recall_oracle())
def similarity_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-quality audit: recall@20 of the PQ
    asymmetric-distance ordering against the exact brute-force top-k
    — the number that decides m/ksub before anyone serves from codes
    alone.  Deterministic codebooks make the recall itself
    hash-checkable, completing the audit trio (LSH, anchored IVF,
    PQ)."""
    from wrds2pg_spark.operators.similarity import (
        brute_force_topk, pq_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = 20
    return _recall_at_k(
        brute_force_topk(emb, _QVEC, k=k),
        pq_adc_topk(emb, _QVEC, k=k, m=8, ksub=16), k)


@register("similarity_ann_lsh", oracle=_lsh_oracle())
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH with multi-probe
    (Hamming radius 1): scans ~(1+8)/2^8 of the corpus instead of a
    single bucket whose contents can be empty at small SF.
    Deterministic integer-formula hyperplanes make even the
    approximation oracle-checkable."""
    from wrds2pg_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, _QVEC, k=20, nbits=8, radius=1)


def _lsh_blocked_oracle(nbits: int = 6, threshold: float = 0.3) -> str:
    bucket = _bucket_bits_sql(nbits)
    # threshold on RAW cosines (bitwise-identical across engines —
    # what lets the Spark side run a vectorized Arrow kernel); the
    # reported cos_sim rounds once for display on both sides
    raw = _emb_cos_sql("a.embedding", "b.embedding", rounded=False)
    return f"""
    WITH bk AS (
      SELECT vec_id, embedding, ({bucket}) AS bucket FROM embeddings)
    SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({raw}, 6) AS cos_sim
    FROM bk a JOIN bk b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {raw} >= {threshold}
    """


@register("dedup_embedding_lsh", oracle=_lsh_blocked_oracle())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup WITHOUT a metadata blocking key: hyperplane
    sign-buckets replace the label equi-join (real crawls have no
    labels), pair generation stays per-bucket quadratic, every pair
    verified with exact cosine (operators/similarity.py
    lsh_blocked_pairs).  Deterministic planes keep it value-hash
    checked."""
    from wrds2pg_spark.operators.similarity import lsh_blocked_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # cap far above fixture bucket sizes (64 buckets over ~6k vectors
    # at sf0.1): exact results here, bounded work on a dense bucket
    return lsh_blocked_pairs(
        emb, threshold=0.3, dim=64, nbits=6, max_block_size=16384
    )


@register("similarity_ann_indexed", oracle=_lsh_oracle())
def similarity_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k against a MATERIALIZED hyperplane-LSH index: the corpus
    is written once hive-partitioned by bucket signature
    (operators/similarity.py build_lsh_index), and the query's
    IN-filter on the partition column prunes the scan to the probe
    directories at listing time — the executable form of the 100-TB
    ANN story (index paid at ingest, queries scan ~(1+nbits)/2^nbits).
    Deterministic planes keep even this variant value-hash checked:
    it must return exactly what the unindexed LSH query returns."""
    from wrds2pg_spark.operators.similarity import (
        build_lsh_index, lsh_topk_indexed,
    )
    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag

    tag = fixture_tag(sf_dir, "embeddings")
    # v2: partition values are 'b'-prefixed strings (see
    # build_lsh_index); the path bump keeps any v1 index from a prior
    # run from being probed with the new key format.
    index = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/emb_lsh_idx_v2_{tag}",
        lambda tmp: build_lsh_index(
            load_table(spark, sf_dir, "embeddings"), tmp, nbits=8, dim=64
        ),
    )
    return lsh_topk_indexed(spark, index, _QVEC, k=20, nbits=8, radius=1)


def _lsh_incremental_oracle(nbits: int = 6, threshold: float = 0.3) -> str:
    bucket = "'b' || " + _bucket_bits_sql(nbits)
    raw = _emb_cos_sql("a.embedding", "b.embedding", rounded=False)
    return f"""
    WITH bk AS (
      SELECT vec_id, embedding, ({bucket}) AS bucket FROM embeddings)
    SELECT a.bucket, a.vec_id AS corpus_id, b.vec_id AS arrival_id,
           ROUND({raw}, 6) AS cos_sim
    FROM bk a JOIN bk b
      ON a.bucket = b.bucket
     AND a.vec_id % 13 != 5 AND b.vec_id % 13 = 5
    WHERE {raw} >= {threshold}
    """


@register("dedup_incremental_embedding", oracle=_lsh_incremental_oracle())
def dedup_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-time EMBEDDING near-dup against the materialized
    hyperplane bucket index (operators/similarity.py
    lsh_incremental_pairs) — the embedding-side twin of
    dedup_incremental_minhash, closing the incremental family: the
    corpus slice (vec_id % 13 != 5) is indexed once, the 'newly
    embedded' slice (% 13 == 5) computes its signatures in one Arrow
    pass, joins the index on the PARTITION column (AQE broadcast +
    dynamic partition pruning at scale), and every candidate pair is
    verified with an exact row-wise cosine kernel.  Maintenance +
    hygiene cost is O(|arrivals| x bucket density), never a corpus
    re-scan; deterministic planes keep the whole probe value-hash
    checked."""
    from wrds2pg_spark.operators.similarity import (
        build_lsh_index, lsh_incremental_pairs,
    )
    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 13 != 5)
    arrivals = emb.filter(F.col("vec_id") % 13 == 5)
    tag = fixture_tag(sf_dir, "embeddings")
    index = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/emb_lsh_corpus_{tag}",
        lambda tmp: build_lsh_index(corpus, tmp, nbits=6, dim=64),
    )
    return lsh_incremental_pairs(
        spark, index, arrivals, threshold=0.3, dim=64, nbits=6)


@register("similarity_lsh_upsert", oracle=_lsh_oracle())
def similarity_lsh_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index maintenance (operators/similarity.py
    upsert_lsh_index) — the ANN-LSH member of the incremental family:
    index built from ~4/5 of the corpus, the remaining 1/5 arrives
    and is appended to its bucket directories with the same frozen
    formula planes; probes unchanged.  Shares
    similarity_ann_indexed's oracle: upsert(base, delta) must serve
    exactly what a full build over the whole corpus serves."""
    from wrds2pg_spark.operators.similarity import (
        build_lsh_index, lsh_topk_indexed, upsert_lsh_index,
    )
    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag

    emb = load_table(spark, sf_dir, "embeddings")

    def build(tmp: str) -> None:
        build_lsh_index(
            emb.filter(F.col("vec_id") % 5 != 2), tmp, nbits=8, dim=64)
        upsert_lsh_index(
            emb.filter(F.col("vec_id") % 5 == 2), tmp, nbits=8, dim=64)

    tag = fixture_tag(sf_dir, "embeddings")
    index = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/emb_lsh_upsert_{tag}", build)
    return lsh_topk_indexed(spark, index, _QVEC, k=20, nbits=8, radius=1)


@register("similarity_ivf", oracle=None)  # kmeans cells are engine-specific
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k against the MATERIALIZED index
    (operators/similarity.py build_ivf_index / ivf_topk_indexed):
    seeded k-means cells written hive-partitioned once, centroid
    sidecar ranked driver-side, only the nprobe nearest cell
    partitions scanned — the 100-TB serving path (index cost paid at
    ingest, queries prune at file-listing time).  Cell boundaries
    depend on the clustering implementation, so the driver records
    the rows-only check; tests assert recall against brute force."""
    from wrds2pg_spark.operators.similarity import (
        build_ivf_index, ivf_topk_indexed,
    )
    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag

    tag = fixture_tag(sf_dir, "embeddings")
    index = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/emb_ivf_idx_{tag}",
        lambda tmp: build_ivf_index(
            load_table(spark, sf_dir, "embeddings"), tmp, nlist=16
        ),
        marker="_ivf_centroids.json",
    )
    return ivf_topk_indexed(spark, index, _QVEC, k=20, nprobe=2)


@register(
    "text_stats",
    oracle=None,  # placeholder replaced below with generated SQL
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality metrics per document, all JVM-side."""
    from wrds2pg_spark.functions import text as X

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars_measured"),
        X.stopword_hits(t, "en").alias("en_stopword_hits"),
        X.punct_ratio(t).alias("punct_ratio"),
        X.quality_score(t).alias("quality"),
    )


def _text_stats_oracle() -> str:
    from wrds2pg_spark.functions import text as X

    return f"""
    SELECT doc_id,
           CAST(len({X.TOKENS_SQL('text')}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           {X.STOPWORD_HITS_SQL('text', 'en')} AS en_stopword_hits,
           {X.PUNCT_RATIO_SQL('text')} AS punct_ratio,
           {X.QUALITY_SCORE_SQL('text')} AS quality
    FROM documents
    """


REGISTRY["text_stats"].oracle = _text_stats_oracle()


def _langid_oracle() -> str:
    from wrds2pg_spark.functions.text import PREDICTED_LANG_SQL

    return f"""
    SELECT doc_id, lang AS labeled_lang,
           {PREDICTED_LANG_SQL('text')} AS predicted_lang
    FROM documents
    """


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID heuristic (argmax with deterministic
    tiebreak) next to the fixture's label."""
    from wrds2pg_spark.functions.text import predicted_lang

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predicted_lang(F.col("text")).alias("predicted_lang"),
    )


def _fingerprint_oracle() -> str:
    from wrds2pg_spark.functions.text import FINGERPRINT_SQL

    return f"""
    SELECT doc_id, {FINGERPRINT_SQL('text')} AS fingerprint
    FROM documents
    """


@register("text_fingerprint", oracle=_fingerprint_oracle())
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wrds2pg_spark.functions.text import fingerprint

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


def _entropy_oracle() -> str:
    from wrds2pg_spark.functions.text import CHAR_ENTROPY_SQL

    return f"""
    SELECT doc_id, {CHAR_ENTROPY_SQL('text')} AS char_entropy
    FROM documents
    """


@register("text_entropy", oracle=_entropy_oracle())
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the gibberish /
    boilerplate quality signal (functions/text.py char_entropy).
    Map-only HOF fold in whole-stage codegen: no explode, no shuffle,
    no UDF — a pure scan-side column at any scale."""
    from wrds2pg_spark.functions.text import char_entropy

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", char_entropy(F.col("text")).alias("char_entropy"))


@register(
    "multimodal_binary_stats",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           sha256(text) AS content_sha256
    FROM documents
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata path: text bytes stand in for an opaque
    media payload (the container has no codecs; see
    operators/multimodal.py)."""
    from wrds2pg_spark.operators.multimodal import binary_stats

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    as_bin = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return binary_stats(as_bin, "payload", "doc_id")


@register(
    "multimodal_image_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             4 + doc_id % 13 AS width,
             4 + doc_id % 11 AS height
      FROM documents)
    SELECT doc_id AS id,
           CAST(54 + ((width*3 + 3) // 4) * 4 * height AS BIGINT) AS n_bytes,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(24 AS INTEGER) AS bpp,
           CAST(list_sum(list_transform(range(0, width*height), i ->
                114 * ((doc_id*2654435761 + (3*i)   * 2246822519) % 256)
              + 587 * ((doc_id*2654435761 + (3*i+1) * 2246822519) % 256)
              + 299 * ((doc_id*2654435761 + (3*i+2) * 2246822519) % 256)))
                AS DOUBLE) / (1000.0 * (width*height)) AS mean_luma
    FROM d
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over real BMP bytes: synth_bmp builds one
    standard 24bpp BMP per document (pixels from a shared LCG), and
    decode_image_bmp parses headers + pixel rows back to features
    (operators/multimodal.py). The oracle predicts every feature
    arithmetically from doc_id, so a header-offset bug, stride/padding
    slip, or channel swap in the decoder fails the value hash."""
    from wrds2pg_spark.operators.multimodal import decode_image_bmp, synth_bmp

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    return decode_image_bmp(synth_bmp(docs, "doc_id"), "payload", "id")


@register(
    "multimodal_png_decode",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             5 + doc_id % 11 AS width,
             3 + doc_id % 7 AS height
      FROM documents)
    SELECT doc_id AS id,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(8 AS INTEGER) AS bit_depth,
           CAST(2 AS INTEGER) AS color_type,
           CAST(list_sum(list_transform(range(0, 3*width*height), j ->
                (doc_id*2654435761 + j*2246822519) % 256)) AS BIGINT)
             AS pixel_sum,
           CAST(list_sum(list_transform(range(0, width*height), i ->
                299 * ((doc_id*2654435761 + (3*i)   * 2246822519) % 256)
              + 587 * ((doc_id*2654435761 + (3*i+1) * 2246822519) % 256)
              + 114 * ((doc_id*2654435761 + (3*i+2) * 2246822519) % 256)))
                AS DOUBLE) / (1000.0 * (width*height)) AS mean_luma
    FROM d
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-codec decode: synth_png emits one genuine PNG
    per document (stdlib-zlib deflate, per-chunk CRC-32, multi-IDAT,
    scanlines cycling through all five spec filters) and
    decode_image_png inflates + unfilters it back to exact features
    (operators/multimodal.py).  Unlike the uncompressed BMP/WAV paths
    this exercises a standard COMPRESSED container end-to-end — a
    wrong filter reverse, CRC slip, or IDAT-concatenation bug fails
    the value hash, because the oracle predicts dims, the exact
    pixel-byte sum, and the BT.601 luma mean arithmetically from
    doc_id."""
    from wrds2pg_spark.operators.multimodal import (
        decode_image_png, synth_png,
    )

    # zlib inflate dominates this key (~10x the other decoders), so
    # it spreads even small corpora: 0.77 vs 1.08-1.34 s at sf0.1
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                   min_bytes=256 * 1024)
    return decode_image_png(synth_png(docs, "doc_id"), "payload", "id")


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id, ROUND(ln(1 + value), 6) AS log1p_value
    FROM events
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) pandas UDF — the sanctioned slow path when
    built-ins can't express a transform.  numpy log1p batches vs the
    oracle's ln(1+x): equal within 1 ulp, pinned by round(6)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def py_log1p(s: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.log1p(s.to_numpy()))

    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id", F.round(py_log1p(F.col("value")), 6).alias("log1p_value")
    )


@register(
    "udtf_word_runs",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents WHERE doc_id % 100 = 0),
    runs AS (
      SELECT doc_id, tok, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, tok
                                      ORDER BY pos) AS anchor
      FROM w),
    grp AS (
      SELECT doc_id, tok, MIN(pos) AS start_pos, COUNT(*) AS run_len
      FROM runs GROUP BY doc_id, tok, anchor),
    idx AS (
      SELECT doc_id, tok AS token, run_len,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY start_pos) - 1 AS INT)
               AS run_idx
      FROM grp)
    SELECT doc_id, run_idx, token, CAST(run_len AS INT) AS run_len
    FROM idx WHERE run_len >= 2
    """,
)
def udtf_word_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+ table function) via LATERAL join:
    maximal runs of adjacent repeated tokens per document — the
    stutter/repetition detector — emitted as (run_idx, token,
    run_len) rows where run_idx counts ALL maximal runs so the index
    is stable even for the singleton runs that aren't emitted.  The
    imperative run scan is a natural table function (one
    input row -> variable output rows with per-row state); the
    oracle proves the same relation is reachable declaratively as
    unnest + gaps-islands — at 100 TB prefer that JVM form (see
    text_chunk_overlap for the fused-generator doctrine) and reach
    for a UDTF only when the per-row logic stops being
    SQL-expressible.  Arrow-batched (useArrow): rows stream through
    the Python worker in columnar batches, no per-row pickling; the
    UDTF evaluates per input row with no shuffle — the lateral is a
    Generate over the scan, plan-gated like explode_unnest."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="run_idx int, token string, run_len int",
          useArrow=True)
    class WordRuns:
        def eval(self, text: str):
            # itertools.groupby IS the maximal-run scan, iterated in
            # C; the irreducible cost is the per-row Python boundary
            # itself (numpy per-row was slower on these short token
            # arrays — object-dtype setup swamped the compare)
            import itertools

            if text is None:
                return
            ri = 0
            for tok, grp in itertools.groupby(text.split(" ")):
                n = sum(1 for _ in grp)
                if n >= 2:
                    yield ri, tok, n
                ri += 1

    spark.udtf.register("udtf_word_runs_fn", WordRuns)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_docs")
    # The doc filter lives INSIDE the FROM subquery, not in the outer
    # WHERE: Catalyst does not push predicates through
    # ArrowEvalPythonUDTF, so the outer-WHERE form ran the UDTF over
    # the ENTIRE corpus and then discarded 99% of the Python work —
    # 0.92 vs 0.22 s at sf0.1 (round-10 A/B, results byte-identical;
    # plan-gated in tests/test_plans.py).  The remaining 0.22 s IS
    # the Python boundary: a no-op UDTF over the same filtered rows
    # reads 0.24 s, and the declarative JVM gaps-islands twin reads
    # 0.29 s — irreducibility record in BASELINE.md r10.
    return spark.sql("""
        SELECT d.doc_id, r.run_idx, r.token, r.run_len
        FROM (SELECT doc_id, text FROM udtf_docs
              WHERE doc_id % 100 = 0) d,
             LATERAL udtf_word_runs_fn(d.text) r
    """)


def _tumbling_sql(src: str) -> str:
    """Hourly (window_start, event_type) counts of ``src`` — the SQL
    form of streaming/events.py tumbling_counts."""
    return f"""SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n, {DSUM_SQL('value', 2)} AS sum_value
    FROM {src} GROUP BY 1, 2"""


@register("stream_tumbling_counts", oracle=_tumbling_sql("events"))
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (batch twin of the Structured
    Streaming pipeline in streaming/events.py)."""
    from wrds2pg_spark.streaming.events import tumbling_counts

    return tumbling_counts(load_table(spark, sf_dir, "events"))


@register(
    "stream_late_drop_counts",
    oracle=f"""
    WITH b AS (
        SELECT ts, event_type, value,
               CAST(floor((epoch(date_trunc('second', ts))
                    + (strpos('0123456789abcdef',
                              substr(md5(CAST(event_id AS VARCHAR)), 1, 1))
                       - 1) * 900) / 3600) AS BIGINT) AS bid
        FROM events),
    bmax AS (SELECT bid, MAX(ts) AS mx FROM b GROUP BY bid),
    wm AS (SELECT bid,
                  MAX(mx) OVER (ORDER BY bid RANGE BETWEEN UNBOUNDED
                                PRECEDING AND 2 PRECEDING)
                  - INTERVAL '10 minutes' AS wmk
           FROM bmax),
    kept AS (SELECT b.ts, b.event_type, b.value
             FROM b JOIN wm ON b.bid = wm.bid
             WHERE wm.wmk IS NULL
                OR date_trunc('hour', b.ts) + INTERVAL '1 hour' > wm.wmk)
    {_tumbling_sql('kept')}
    """,
)
def stream_late_drop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, batch twin: the fixture is
    event-time-sorted (no natural late data), so arrival is simulated
    with a deterministic per-event delay (md5 nibble -> 0..225 min)
    and hourly triggers; an arrival is dropped iff its tumbling
    WINDOW is wholly behind the LATE-EVENT watermark — which in
    Spark's two-watermark design lags one full trigger behind the
    eviction watermark (max event time over batches <= k-2, minus
    10 min; verified empirically against 4.1 in
    tests/test_streaming.py) — late rows into still-open windows are
    aggregated, exactly the engine's rule; then tumbling counts of
    the survivors (streaming/events.py late_drop_counts; the real
    append-mode watermarked stream is streaming_late_drop_counts)."""
    from wrds2pg_spark.streaming.events import late_drop_counts

    return late_drop_counts(load_table(spark, sf_dir, "events"))


@register(
    "stream_topk_per_window",
    oracle=f"""
    WITH counts AS (
        {_tumbling_sql('events')}),
    ranked AS (
        SELECT window_start, event_type, n, sum_value,
               CAST(row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, sum_value DESC, event_type
               ) AS BIGINT) AS rk
        FROM counts)
    SELECT * FROM ranked WHERE rk <= 3
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-k leaderboard (batch twin of the streaming
    update-mode upsert + serving-read rank in streaming/events.py
    streaming_windowed_topk; equivalence-tested in
    tests/test_streaming.py)."""
    from wrds2pg_spark.streaming.events import windowed_topk

    return windowed_topk(load_table(spark, sf_dir, "events"))


@register(
    "stream_sliding_counts",
    oracle=f"""
    WITH starts AS (
      SELECT value, unnest([
        to_timestamp(CAST(floor(epoch(ts)) AS BIGINT) // 1800 * 1800),
        to_timestamp(CAST(floor(epoch(ts)) AS BIGINT) // 1800 * 1800 - 1800)
      ]) AS window_start
      FROM events)
    SELECT CAST(window_start AS TIMESTAMP) AS window_start,
           COUNT(*) AS n, {DSUM_SQL('value', 2)} AS sum_value
    FROM starts GROUP BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m windows — each event contributes to 2 windows."""
    from wrds2pg_spark.streaming.events import sliding_counts

    return sliding_counts(load_table(spark, sf_dir, "events"))


@register(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(tsec) OVER w IS NULL
                    OR tsec - LAG(tsec) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM (SELECT user_id, event_id, ts, value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events) e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ids AS (
      SELECT user_id, event_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, session_id,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) AS session_end,
           COUNT(*) AS n_events, {DSUM_SQL('value', 2)} AS sum_value
    FROM ids GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via cumulative flag sums —
    one shuffle on user_id (streaming/events.py sessionize).

    Session bounds are emitted as epoch seconds (BIGINT): integer
    values hash identically across engines, whereas timestamp
    rendering (tz suffix, sub-second formatting) does not — the
    round-1 driver flagged exactly that mismatch."""
    from wrds2pg_spark.streaming.events import sessionize

    s = sessionize(load_table(spark, sf_dir, "events"), gap_seconds=1800)
    return s.select(
        "user_id", "session_id",
        F.col("session_start").cast("timestamp").cast("long")
        .alias("session_start"),
        F.col("session_end").cast("timestamp").cast("long")
        .alias("session_end"),
        "n_events", "sum_value",
    )


# ---------------------------------------------------------------------------
# Extended SQL surface: subqueries, pivot/unpivot, percentiles, analytic
# windows, multi-join TPC-H shapes
# ---------------------------------------------------------------------------

@register(
    "subquery_scalar",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT {DAVG_SQL('o_totalprice', 2)} FROM orders)
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (orders above the global mean).
    Spark shape: the 1-row aggregate broadcasts into the filter — same
    plan Catalyst produces for a scalar subquery, written explicitly so
    the deterministic mean (davg, functions/numeric.py) is shared with
    the oracle."""
    o = load_table(spark, sf_dir, "orders")
    avg_df = o.agg(davg(F.col("o_totalprice"), 2).alias("__avg"))
    return (
        o.join(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): order counts per priority x status.  Explicit
    pivot values keep the plan a single pass (no distinct-value scan);
    empty cells coalesce to 0 to match COUNT FILTER semantics."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"n_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    )


@register(
    "unpivot_customer_metrics",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric,
           CAST(c_acctbal AS DOUBLE) AS value FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric,
           CAST(c_nationkey AS DOUBLE) AS value FROM customer
    """,
)
def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long, melt): numeric customer metrics into
    (metric, value) rows — Spark's native ``unpivot`` (Expand node, one
    pass, no join or union re-scan)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return c.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "value")


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.50), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``).  Quartile fractions of integral
    quantities stay exactly representable in IEEE doubles, so the
    cross-engine hash matches without an epsilon."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(q, F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile(q, F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile(q, F.lit(0.75)), 6).alias("p75"),
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               l_extendedprice AS v,
               CAST(l_quantity AS BIGINT) AS wt,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cumw,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag) AS totw
        FROM lineitem)
    SELECT l_returnflag,
           min(v) AS weighted_median,
           CAST(min(totw) AS BIGINT) AS total_weight
    FROM w
    WHERE 2 * cumw >= totw
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group (l_extendedprice weighted by
    l_quantity): the smallest value whose cumulative weight reaches
    half the group total — the robust center a pipeline uses when
    rows carry replication counts or importance weights, which no
    built-in percentile covers.  Weights sum exactly as BIGINT, so
    the 2*cumw >= totw boundary is integer-exact on both engines;
    ordering among equal values cannot change the PICKED VALUE (the
    tied rows all carry it), and a unique tiebreak keys the running
    sum deterministically anyway.  One group exchange carries both
    window frames (running and total) and the final min rides the
    same partitioning — a 2-stage plan (functions/numeric.py
    weighted_median, property-tested against a numpy brute force)."""
    from wrds2pg_spark.functions.numeric import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li,
        group_cols=["l_returnflag"],
        value_col="l_extendedprice",
        weight_col=F.col("l_quantity").cast("long"),
        tiebreak_cols=["l_orderkey", "l_linenumber"],
    )


@register(
    "window_ntile",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (ntile / percent_rank / cume_dist) in one
    window spec — a single shuffle on the partition key."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "tpch_q3_shape",
    oracle=f"""
    SELECT l.l_orderkey, {DSUM_SQL('l.l_extendedprice * (1 - l.l_discount)', 4)}
               AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer -> orders -> lineitem,
    revenue per order, top 10.  The filtered customer side is a
    constant fraction of a scaling table, so its broadcast is the
    planner's call (stats/AQE broadcast it at bench scale; a custkey
    exchange when the lake outgrows it) — only lineitem->orders
    shuffles unconditionally; the final top-k is
    TakeOrderedAndProject (no global sort)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return _q3_top_orders(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
    )


def _q3_top_orders(joined: DataFrame) -> DataFrame:
    """Q3's tail over either twin's customer-orders-lineitem join:
    revenue per order, top 10."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev, 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register("tpch_q3_bucketed", oracle=REGISTRY["tpch_q3_shape"].oracle)
def tpch_q3_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 over orderkey-bucketed lineitem+orders (round 7): the
    lineitem->orders join AND the (orderkey, ...) revenue aggregate
    both ride the bucket partitioning via a sort-free ShuffledHashJoin
    (the q21_bucketed doctrine) — the only exchanges left are the
    segment-filtered customer probe (AQE broadcasts it at bench
    scale) and the TakeOrdered top-10.  The per-order groupBy's
    ClusteredDistribution(l_orderkey, ...) is satisfied by
    HashPartitioning(orderkey) (subset rule)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    # hash build on ORDERS (the smaller fact); lineitem probes
    o = _bucketed_fact(spark, sf_dir, "orders", "o_orderkey").hint(
        "shuffle_hash")
    li = _bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey")
    return _q3_top_orders(
        li.join(o, li.l_orderkey == o.o_orderkey)
        # NO forced broadcast: customer SCALES with the lake — AQE
        # broadcasts the segment-filtered probe while it fits (it does
        # at bench scale) and degrades to a shuffle join beyond (the
        # r5-verdict q5 doctrine; the repo's own lint caught the
        # forced hint here in round 7)
        .join(c, o.o_custkey == c.c_custkey)
    )


def _q5_asian_supplier_dims(spark: SparkSession, sf_dir: str):
    """Q5's consolidated dims, shared by the shape and bucketed twins
    (round-6 review: one definition, three consumers previously):
    the pre-joined broadcast "Asian supplier" dim (suppkey,
    s_nationkey, n_name) and customer's 2-column hint-free probe."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name")
    sn = s.join(
        F.broadcast(asian), s.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    cd = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    return sn, cd


@register(
    "tpch_q5_shape",
    oracle=f"""
    SELECT n.n_name,
           {DSUM_SQL('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join, local-supplier revenue by nation.

    Round-5 plan surgery (sf1: 2.1-3.1 s -> 0.9 s): the dimension
    chain region->nation->supplier is PRE-JOINED into one broadcast
    "Asian supplier" dim before touching any fact (one build job
    instead of three), and customer participates only as a 2-column
    (custkey, nationkey) dim probe AFTER the fact join — so the only
    wide exchange left is lineitem<->orders on orderkey.  Round 6:
    the FORCED customer broadcast is gone — customer scales with SF,
    so a hard hint is the scales-with-the-lake anti-pattern this
    project rejects everywhere else (the r5 q3/q8 filtered-orders
    negatives); the planner's stats-based broadcast keeps the same
    physical plan at bench scale and degrades to a custkey exchange
    when customer outgrows the threshold (hint-free form measured
    1.35 s vs 0.96 s forced at sf1 — the price of a plan that
    survives 100x)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sn, cd = _q5_asian_supplier_dims(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(sn), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(
            cd,
            (o.o_custkey == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(rev, 4).alias("revenue"))
    )


# name -> (session, analyzed DataFrame): the r6 bench times plan
# BUILD, and each _bucketed_fact call paid ~0.15 s of
# tableExists + spark.table analysis py4j round-trips — the exact
# r5->r6 driver-tail inflation on the bucketed twins (measured:
# build 0.149 s vs the +0.16/+0.18 s deltas).  DataFrames are
# immutable plans, so per-session reuse is safe; the content tag
# in the name keys out cross-process staleness.
_BUCKETED_ENSURED: dict = {}


def _drop_stopped(memo, session_of) -> None:
    """Delete every ``memo`` entry whose session,
    ``session_of(key, value)``, has stopped (its SparkContext lost its
    JVM handle).  A Spark Connect session has no SparkContext and is
    never memoized live, so it counts as stopped."""
    for k, v in list(memo.items()):
        try:
            stopped = session_of(k, v).sparkContext._jsc is None
        except PySparkAttributeError:  # Spark Connect: no SparkContext
            stopped = True
        if stopped:
            del memo[k]


def _bucketed_fact(
    spark: SparkSession, sf_dir: str, table: str, key: str,
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Session-catalog bucketed copy of a fact table, built once per
    (source identity, bucket key): the ingest-time shuffle that every
    later join/agg on the key skips.  repartition(n_buckets, key)
    before the write yields ONE file per bucket, which is what lets
    the reader trust the sortBy order and elide the SMJ sorts too.
    ``sort_cols`` defaults to [key]; pass a key-prefixed list to make
    composite-key windows sort-free as well.

    The ensured-table set is memoized per catalog name: the r6 bench
    (which times plan BUILD too) measured ~0.15 s per bucketed key of
    pure spark.catalog.tableExists py4j round-trips — the r5->r6
    driver-tail inflation on the bucketed twins (VERDICT r6 next-round
    item 1).  The catalog is session-local and tables are only created
    here, so a hit cannot go stale within the process; the content
    tag in the name keeps cross-process staleness impossible."""
    from wrds2pg_spark.sinks.bucketed import read_bucketed, write_bucketed
    from wrds2pg_spark.sources.testdata import fixture_tag

    tag = fixture_tag(sf_dir, table)
    name = f"bkt_{table}_{key}_{n_buckets}_{tag}"
    hit = _BUCKETED_ENSURED.get((id(spark), name))
    if hit is not None and hit[0] is spark:
        return hit[1]
    # Miss: evict entries whose session has been stopped, so the cache
    # cannot grow unboundedly (or pin dead JVMs) across session churn
    # (round-8 advice).  Keying on (id(spark), name) also keeps two
    # LIVE sessions sharing a table name from thrashing a single slot;
    # the strong session ref in the value keeps the id from being
    # reused while the entry exists.
    _drop_stopped(_BUCKETED_ENSURED, lambda _k, v: v[0])
    if not spark.catalog.tableExists(name):
        # the session catalog is in-memory (no persistent metastore in
        # this sandbox), so a prior process's managed-table files may
        # linger in the warehouse without metadata; clear them — the
        # bucket spec lives in the catalog entry, not the files, so
        # they can't be adopted as-is
        import os
        import shutil

        wh = spark.conf.get(
            "spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        write_bucketed(
            load_table(spark, sf_dir, table).repartition(
                n_buckets, F.col(key)),
            name, key, n_buckets, sort_cols=sort_cols or [key],
        )
    df = read_bucketed(spark, name)
    _BUCKETED_ENSURED[(id(spark), name)] = (spark, df)
    return df


@register("tpch_q5_bucketed", oracle=REGISTRY["tpch_q5_shape"].oracle)
def tpch_q5_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 over PRE-BUCKETED facts — the pay-the-shuffle-at-ingest twin
    of tpch_q5_shape.  Round-6 rework combining the bucket SMJ with
    the r5 consolidated dim (the r5 attempt failed by joining the
    supplier dim into lineitem BEFORE the bucket join, which broke
    the bucket-ordered inputs — BASELINE.md r5 negative): here the
    orderkey-bucketed orders<->lineitem join comes FIRST (exchange-
    and sort-free on the bucket layout, broadcast-hash at bench scale
    where the planner prefers it), the pre-joined "Asian supplier"
    dim broadcasts on top, and customer attaches last as a HINT-FREE
    2-column probe — no forced broadcast of any SF-scaling table
    (r4's form force-broadcast full customer).  sf1 ~0.9-1.1 s: the
    wall here is ~5 scheduler quanta (dim build jobs + one fused
    fact pipeline) on a 5-row answer, not data — see the r6 floor
    decomposition in BASELINE.md.  Same oracle as the shape twin:
    bucketing must not change a single value."""
    o = _bucketed_fact(spark, sf_dir, "orders", "o_orderkey")
    li = _bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey")
    sn, cd = _q5_asian_supplier_dims(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    lo = o.select("o_orderkey", "o_custkey").join(
        li.select("l_orderkey", "l_suppkey", "l_extendedprice",
                  "l_discount"),
        F.col("l_orderkey") == F.col("o_orderkey"))
    return (
        lo.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            cd,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(rev, 4).alias("revenue"))
    )


# one oracle for both q18 keys (the bucketed twin registers first):
# bucketing must not change a value
_Q18_SQL = f"""
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           {DSUM_SQL('l.l_quantity', 2)} AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING {DSUM_SQL('l_quantity', 2)} > 200
    )
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate
    """


@register("tpch_q18_bucketed", oracle=_Q18_SQL)
def tpch_q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 over PRE-BUCKETED facts — twin of tpch_q18_shape.  The
    bucketing pays off twice: the HAVING aggregate groups lineitem on
    its bucket key (no exchange, partial+final collapse to one pass)
    and the lineitem<->orders join is an exchange-free SMJ; the final
    grouping keyed on (custkey, ORDERKEY, date) is also exchange-free
    because the orderkey partitioning already clusters it.  Customer
    contributes no output columns, so it attaches LAST as a semi join
    against the already-aggregated (tiny) result — the customer scan
    prunes to its key column and nothing wide ever broadcasts or
    shuffles.  Same oracle as the shape twin: bucketing must not
    change a value."""
    o = _bucketed_fact(spark, sf_dir, "orders", "o_orderkey")
    li = _bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("__tq"))
        .filter(F.col("__tq") > 200)
        .select("l_orderkey")
    )
    agged = (
        o.join(
            big.withColumnRenamed("l_orderkey", "__bigkey"),
            F.col("o_orderkey") == F.col("__bigkey"), "left_semi",
        )
        .join(li, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_quantity"), 2).alias("total_qty"))
    )
    return (
        agged.join(c, agged.o_custkey == c.c_custkey, "left_semi")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey", "o_orderdate", "total_qty",
        )
    )


_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "text_token_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
               AS n_ws_tokens
    FROM documents
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens next to a BPE-ish
    regex segmentation (letter runs | digit runs | single punctuation —
    the GPT-2 pre-tokenizer shape).  Both are JVM regex built-ins; the
    pattern avoids engine-specific syntax so Java and RE2 agree."""
    from wrds2pg_spark.functions.text import token_count

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_BPE_PATTERN), 0))
            .cast("long").alias("n_bpe_tokens"),
        token_count(t).alias("n_ws_tokens"),
    )


@register(
    "text_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(
               CAST(0 AS BIGINT),
               list_transform(
                 string_split_regex(lower(trim(text)), '\\s+'),
                 t -> CAST(ascii(t) * 131 + length(t) AS BIGINT))),
             (acc, v) -> (acc * 31 + v) % 1000000007) AS rolling_hash
    FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint over the token stream:
    acc = (acc*31 + (ascii(t)*131 + len(t))) mod 1e9+7 — the classic
    Rabin-Karp shape, order-SENSITIVE (unlike text_fingerprint's
    sorted-set md5), so reordered documents hash differently.  Pure
    fold in whole-stage codegen; modulus keeps every intermediate
    below 2^35, bit-identical across engines."""
    from wrds2pg_spark.functions.text import tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok_vals = F.transform(
        tokens(F.col("text")),
        lambda t: (F.ascii(t) * 131 + F.length(t)).cast("long"),
    )
    rolling = F.aggregate(
        tok_vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % 1000000007,
    )
    return docs.select("doc_id", rolling.alias("rolling_hash"))


@register(
    "stream_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT user_id, event_type, event_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user_id, event_type) in event-time order — the
    batch twin of the watermarked ``dropDuplicatesWithinWatermark``
    stream (streaming/events.py streaming_dedup, whose state the
    watermark bounds at 100-TB key cardinality)."""
    from wrds2pg_spark.streaming.events import dedup_first

    return dedup_first(load_table(spark, sf_dir, "events"))


@register(
    "stream_join_attrib",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events p
    JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def stream_join_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase->click attribution (clicks in the 30 min before each
    purchase) — batch twin of the watermarked STREAM-STREAM join
    (streaming/events.py streaming_purchase_attribution, where the
    time band is what lets the state store evict buffered rows).
    Type filters land before the join, so each leg shuffles only its
    slice of the event stream on user_id; the band is a join
    residual."""
    from wrds2pg_spark.streaming.events import purchase_attribution

    return purchase_attribution(
        load_table(spark, sf_dir, "events"), window_minutes=30
    )


@register(
    "stream_enrich_static",
    oracle=f"""
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment,
           COUNT(*) AS n, {DSUM_SQL('e.value', 2)} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: events pick up the customer market
    segment via a broadcast dim probe, then aggregate per (tumbling
    hour, segment) — batch twin of streaming_enrich_static
    (streaming/events.py), the canonical 'enrich a stream against a
    lookup table' topology.  Stream-static joins are stateless, so
    the only stateful op is the windowed agg."""
    from wrds2pg_spark.streaming.events import enrich_static

    return enrich_static(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "stream_upsert_totals",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events,
           {DSUM_SQL('value', 2)} AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the foreachBatch keyed-upsert streaming sink
    (streaming/events.py streaming_foreachbatch_upsert): per-user
    lifetime totals — the serving-table end state the sink maintains
    incrementally.  tests/test_streaming.py drives the actual
    foreachBatch MERGE over multiple micro-batches and asserts it
    converges to exactly this result."""
    from wrds2pg_spark.streaming.events import user_totals

    return user_totals(load_table(spark, sf_dir, "events"))


@register(
    "multimodal_audio_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             ([8000, 16000, 22050, 44100, 48000])[doc_id % 5 + 1] AS rate,
             1 + doc_id % 2 AS channels,
             64 + doc_id % 97 AS n_frames
      FROM documents)
    SELECT doc_id AS id,
           CAST(44 + 2 * n_frames * channels AS BIGINT) AS n_bytes,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(channels AS INTEGER) AS n_channels,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_frames AS DOUBLE) / rate AS duration_s,
           sqrt(CAST(list_sum(list_transform(range(0, n_frames*channels),
                k -> ((doc_id*2654435761 + k*2246822519) % 65536 - 32768)
                   * ((doc_id*2654435761 + k*2246822519) % 65536 - 32768)))
                AS DOUBLE) / (n_frames*channels)) AS rms
    FROM d
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over real RIFF/WAVE PCM16 bytes: synth_wav
    writes one canonical WAV per document, decode_audio_wav walks the
    chunks and reduces the sample stream (operators/multimodal.py).
    Exact-integer sum of squares -> one divide -> one sqrt keeps the
    RMS bit-identical to the oracle's same op sequence."""
    from wrds2pg_spark.operators.multimodal import decode_audio_wav, synth_wav

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    return decode_audio_wav(synth_wav(docs, "doc_id"), "payload", "id")


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 7 AS n_frames FROM documents),
    f AS (
      SELECT doc_id, n_frames, unnest(range(0, n_frames, 2)) AS frame_idx
      FROM d)
    SELECT doc_id AS id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(frame_idx AS DOUBLE) AS ts_offset_s,
           CAST(list_sum(list_transform(range(0, 256), i ->
                (doc_id*2654435761 + (frame_idx*256 + i)*2246822519) % 256))
                AS BIGINT) AS frame_sum
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling: synth_frame_container packs fixed-size
    frames behind a counted header, sample_frames_real parses it and
    expands every 2nd frame to its own row with an integer checksum —
    the row-expanding mapInArrow shape of an ffmpeg keyframe sampler
    (operators/multimodal.py). Oracle predicts index set and checksums."""
    from wrds2pg_spark.operators.multimodal import (
        sample_frames_real, synth_frame_container,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    return sample_frames_real(
        synth_frame_container(docs, "doc_id"), "payload", "id",
        every=2, fps=1.0,
    )


@register(
    "multimodal_image_resize",
    oracle="""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h
      FROM documents),
    dd AS (SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh FROM d)
    SELECT doc_id AS id,
           CAST(w AS INTEGER) AS in_width, CAST(h AS INTEGER) AS in_height,
           CAST(ow AS INTEGER) AS out_width,
           CAST(oh AS INTEGER) AS out_height,
           CAST(list_sum(list_transform(range(0, ow*oh*3), k ->
                ((doc_id*2654435761 + (3*((2*(k//(ow*3))+0)*w + (2*((k%(ow*3))//3)+0)) + k%3)*2246822519) % 256 + (doc_id*2654435761 + (3*((2*(k//(ow*3))+0)*w + (2*((k%(ow*3))//3)+1)) + k%3)*2246822519) % 256 + (doc_id*2654435761 + (3*((2*(k//(ow*3))+1)*w + (2*((k%(ow*3))//3)+0)) + k%3)*2246822519) % 256 + (doc_id*2654435761 + (3*((2*(k//(ow*3))+1)*w + (2*((k%(ow*3))//3)+1)) + k%3)*2246822519) % 256) // 4)) AS BIGINT) AS out_sum
    FROM dd
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize (binary -> binary): decode the synthesized
    24bpp BMP, 2x box-downsample in exact integer arithmetic (each
    output pixel is the floor mean of its 2x2 block), re-encode a
    valid BMP, and emit dims + the exact resized-pixel checksum —
    which the oracle reproduces as a closed form over the LCG byte
    stream.  Pixels never leave the executor (narrow Arrow-batched
    mapInArrow); only dims and checksums are compared.  The
    re-encoded binary round-trips through the BMP decoder in
    tests/test_multimodal.py."""
    from wrds2pg_spark.operators.multimodal import (
        resize_image_bmp, synth_bmp,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    return resize_image_bmp(
        synth_bmp(docs, "doc_id"), "payload", "id"
    ).drop("resized")


@register(
    "multimodal_keyframe_select",
    oracle="""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 7 AS n_frames FROM documents),
    f AS (
      SELECT doc_id, unnest(range(0, n_frames, 1)) AS frame_idx
      FROM d),
    s AS (
      SELECT doc_id AS id, CAST(frame_idx AS INTEGER) AS frame_idx,
             CAST(list_sum(list_transform(range(0, 256), i ->
                  (doc_id*2654435761 + (frame_idx*256 + i)*2246822519)
                  % 256)) AS BIGINT) AS frame_sum
      FROM f),
    l AS (
      SELECT id, frame_idx, frame_sum,
             frame_sum - lag(frame_sum) OVER (PARTITION BY id
                                              ORDER BY frame_idx) AS dlt
      FROM s)
    SELECT id, frame_idx, ABS(dlt) AS delta
    FROM (SELECT id, frame_idx, dlt,
                 row_number() OVER (PARTITION BY id
                                    ORDER BY ABS(dlt) DESC, frame_idx)
                     AS rn
          FROM l WHERE dlt IS NOT NULL) t
    WHERE rn = 1
    """,
)
def multimodal_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frame selection — the video-curation step that picks the
    scene-change frame a VLM training pipeline keeps: decode all
    frames (mapInArrow container walk, every=1), score each frame by
    the absolute checksum delta vs its predecessor (the cheap proxy
    for inter-frame difference an ffmpeg select=scenecut filter
    computes), take the top-1 per document with a deterministic
    tie-break.

    Shape: the row-expanding decode is Arrow-batched mapInArrow
    (frames >> docs, so the expansion happens executor-side), then
    ONE doc-partitioned window serves both the lag and the top-1
    rank — the same exchange, no self-join.  The LCG-synthesized
    payloads keep the whole thing hash-exact against a pure-SQL
    oracle replica of the checksums."""
    from wrds2pg_spark.operators.multimodal import (
        sample_frames_real, synth_frame_container,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    frames = sample_frames_real(
        synth_frame_container(docs, "doc_id"), "payload", "id",
        every=1, fps=1.0,
    )
    w = W.partitionBy("id").orderBy("frame_idx")
    delta = (F.col("frame_sum") - F.lag("frame_sum").over(w))
    scored = frames.select(
        "id", "frame_idx", F.abs(delta).alias("delta")
    ).filter(F.col("delta").isNotNull())
    rw = W.partitionBy("id").orderBy(F.desc("delta"), F.asc("frame_idx"))
    return (
        scored.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "agg_salted_skew",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {DSUM_SQL('l_quantity', 2)} AS sum_qty,
           {DSUM_SQL('l_extendedprice', 2)} AS sum_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py salted_agg):
    3 grouping keys over 600k rows is maximal skew — each key's rows
    first spread across 16 salted partials, then merge.  Salting never
    changes the result (decomposable aggregates), so the oracle is the
    plain GROUP BY."""
    from wrds2pg_spark.functions.numeric import _scaled
    from wrds2pg_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        _scaled(F.col("l_quantity"), 2).alias("__q"),
        _scaled(F.col("l_extendedprice"), 2).alias("__p"),
    )
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "n": ("count", "l_orderkey"),
            "__sq": ("sum", "__q"),
            "__sp": ("sum", "__p"),
        },
        salt_col="l_orderkey",
    )
    return out.select(
        "l_returnflag",
        F.col("n"),
        (F.col("__sq").cast("double") / 100.0).alias("sum_qty"),
        (F.col("__sp").cast("double") / 100.0).alias("sum_price"),
    )


@register(
    "join_salted_skew",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, n.n_name
    FROM lineitem l
    JOIN (SELECT n_nationkey, n_name FROM nation) n
      ON (l.l_suppkey % 5) = n.n_nationkey
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicated join (operators/skew.py salted_join): the fact
    side's 5-value derived key is pathologically hot; salting spreads
    each hot key over 16 tasks while the small side replicates 16x.
    Salting never changes the join result, so the oracle is the plain
    equi-join."""
    from wrds2pg_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_suppkey") % 5).alias("__hot"),
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("__hot"), "n_name"
    )
    out = salted_join(
        li, n, on="__hot", how="inner",
        salt_uniquifier=F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    return out.select("l_orderkey", "l_linenumber", "n_name")


@register(
    "scan_binaryfile",
    oracle="""
    SELECT 'blob_' || CAST(doc_id AS VARCHAR) || '.txt' AS fname,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-lake ingest path: the built-in ``binaryFile`` DataSource
    scans a directory of opaque payload files into (path,
    modificationTime, length, content) rows — the front door for
    image/audio/video corpora feeding the multimodal operators
    (operators/multimodal.py).  Files split across tasks by Spark's
    normal file-listing parallelism; ``pathGlobFilter`` prunes
    non-media files at listing time, before any bytes are read.

    The fixture writes one file per document whose bytes are the
    document text (cached by source identity, same doctrine as the
    JSONL/CSV scan fixtures), so the oracle can predict every file's
    name, size and md5 from the documents table — proving the scan
    delivers payloads byte-exactly."""
    import os

    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag
    tag = fixture_tag(sf_dir, "documents")

    def build(tmp_dir: str) -> None:
        # driver-side per-doc loop is fine HERE: this is a test
        # fixture writer, not the scan path (a real media lake
        # arrives as files; the operator under test is the read)
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "text"],
        )
        for doc_id, text in zip(t["doc_id"].to_pylist(),
                                t["text"].to_pylist()):
            with open(os.path.join(tmp_dir, f"blob_{doc_id}.txt"),
                      "wb") as f:
                f.write(text.encode("utf-8"))

    blob_dir = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/doc_blobs_{tag}", build
    )
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(blob_dir)
        .select(
            F.regexp_extract(F.col("path"), "[^/]+$", 0).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )


@register(
    "scan_json_typed",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE event_type = 'click' AND value > 100
    """,
)
def scan_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON-lines ingest (sources/json.py): explicit PG-typed
    schema, FAILFAST, pinned microsecond timestampFormat — no
    inference scan.  The JSONL fixture derives once from the events
    parquet into a deterministic temp path keyed on the sf dir; the
    oracle reads the same rows from the parquet view, so the check
    covers the JSON round-trip including timestamps."""
    import hashlib
    import os

    from wrds2pg_spark.sources.json import read_json_typed

    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag
    tag = fixture_tag(sf_dir, "events")
    json_dir = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/events_jsonl_{tag}",
        lambda tmp: (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
                "user_id", "event_type", "value",
            )
            .write.mode("overwrite")
            .json(tmp)
        ),
    )
    df = read_json_typed(
        spark,
        json_dir,
        {
            "event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
            "event_type": "text", "value": "float8",
        },
        timestamp_format="yyyy-MM-dd HH:mm:ss.SSSSSS",
    )
    return df.filter((F.col("event_type") == "click") & (F.col("value") > 100))


@register(
    "explode_unnest",
    oracle=r"""
    SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator path (explode / LATERAL VIEW == SQL UNNEST): token
    frequency top-20.  Generate runs inside the same stage as the scan
    (no shuffle before the partial aggregate); the top-k is
    TakeOrdered over the merged counts."""
    from wrds2pg_spark.functions.text import tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two small dims — the one join
    shape that must NEVER appear against a fact table (plan gates
    elsewhere assert its absence); here the broadcast nested-loop
    over 5x25 rows is the correct physical choice."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@register(
    "join_null_safe",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, NULLIF(o_custkey % 7, 0) AS k, o_totalprice
      FROM orders WHERE o_orderkey % 13 = 0),
    r AS (
      SELECT NULLIF(n_nationkey % 7, 0) AS k, n_name
      FROM nation WHERE n_nationkey < 10)
    SELECT l.o_orderkey, l.k, r.n_name
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (SQL's IS NOT DISTINCT FROM, Spark's <=>):
    NULL keys MATCH each other instead of vanishing — the semantics
    entity-resolution and late-arriving-dimension joins need when
    "unknown" is itself a join value.  Critically this stays a HASH
    join (EqualNullSafe is a valid equi-join key, null hashing to a
    bucket like any value), not a nested-loop residual — same single
    broadcast/shuffle shape as a plain equi-join, so the null-safety
    is free at 100 TB.  Keys are derived NULLIF values so both
    engines build identical null populations."""
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    l = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.nullif(F.col("o_custkey") % 7, F.lit(0)).alias("k"),
        "o_totalprice",
    )
    r = n.filter(F.col("n_nationkey") < 10).select(
        F.nullif(F.col("n_nationkey") % 7, F.lit(0)).alias("rk"),
        "n_name",
    )
    return (
        l.join(F.broadcast(r), l["k"].eqNullSafe(r["rk"]))
        .select("o_orderkey", "k", "n_name")
    )


@register(
    "join_bloom_filtered",
    oracle=f"""
    SELECT p.p_brand, count(*) AS n_items,
           {DSUM_SQL('l.l_extendedprice', 2)} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#23'
    GROUP BY p.p_brand
    """,
)
def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning — the ROW-LEVEL sibling of
    join_dpp_pruned for when the fact is NOT partitioned on the join
    key: Catalyst injects a bloom_filter_agg over the filtered dim's
    join keys and plants might_contain on the fact side BELOW the
    shuffle, so ~96% of fact rows (one brand in 25) are dropped
    before they are hashed, serialized and exchanged.  At 100 TB
    this is the difference between shuffling the whole fact and
    shuffling the selective slice when the dim is too big to
    broadcast (broadcast joins prune implicitly; shuffle joins need
    the bloom).  The injection is correctness-neutral — false
    positives only ride to the real join — so the oracle is the
    plain join.

    Spark's injection thresholds default to cluster scale
    (applicationSideScanSizeThreshold=10GB), so the key pins them in
    an ISOLATED spark.newSession() — same SparkContext, own SQL conf
    — to exercise the exact 100-TB plan at test scale without
    leaking the conf into any other key's session (autoBroadcast=-1
    models the dim exceeding the broadcast threshold, which is what
    makes the bloom worthwhile).  Plan-gated: bloom_filter_agg on
    the dim side, might_contain on the fact side."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold", "0")
    li = load_table(s2, sf_dir, "lineitem")
    p = load_table(s2, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS asof_o_orderkey,
           o.o_orderdate AS asof_o_orderdate
    FROM events e LEFT JOIN LATERAL (
        SELECT o_orderkey, o_orderdate
        FROM orders o
        WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
        ORDER BY o_orderdate ASC, o_orderkey DESC LIMIT 1
    ) o ON TRUE
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each event joined to the user's NEXT order at or
    after the event (operators/asof.py, direction="forward" — the same
    single-shuffle union+window traversal run in reverse)."""
    return _events_orders_asof(
        spark, sf_dir, ["o_orderkey", "o_orderdate"], direction="forward")


@register(
    "tpch_q10_shape",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {DSUM_SQL('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    The returnflag filter pushes into the lineitem scan; nation
    broadcasts; the top-k is TakeOrdered over the aggregate.

    c_name/n_name are functionally dependent on the custkey, so the
    revenue aggregates FIRST on o_custkey (narrow fact rows only) and
    the wide customer columns attach to the ~|customers| aggregated
    rows afterwards — the fact pipeline never carries c_name through
    its shuffle (same aggregate-below-wide-join surgery that took
    q18 5.9 s -> 1.26 s at sf1)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(dsum(rev, 4).alias("revenue"))
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register("tpch_q18_shape", oracle=_Q18_SQL)
def tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-quantity orders — HAVING over an
    aggregate feeding an IN-subquery.  Spark shape since round 6: the
    HAVING aggregate's own sum IS the output sum, so the filtered
    aggregate joins orders directly carrying __tq — the round-5 form
    semi-joined the key set back into a SECOND lineitem scan and
    re-aggregated the identical sum, relying on exchange reuse that
    AQE never grants (BASELINE.md r6).  One lineitem scan, one
    map-side-combined orderkey exchange (partials, never a full fact
    sort — an orderkey-window form was measured WORSE at sf1, 1.89 vs
    1.42 s, because windows can't partial-aggregate); AQE broadcasts
    the rare >200-quantity aggregate into orders at runtime.
    Customer contributes no output columns (c_custkey == o_custkey
    under the join), so it attaches LAST as a semi join against the
    aggregated result instead of widening every fact row — measured
    5.9 s -> 2.2 s at sf1 for that reorder alone."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    agged = (
        o.join(big, F.col("o_orderkey") == big.l_orderkey)
        .select("o_custkey", "o_orderkey", "o_orderdate", "total_qty")
    )
    return (
        agged.join(c, agged.o_custkey == c.c_custkey, "left_semi")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey", "o_orderdate", "total_qty",
        )
    )


@register(
    "dedup_cluster_exact",
    oracle="""
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS comp
    FROM documents
    """,
)
def dedup_cluster_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-GROUP assignment via iterative connected components
    (operators/dedup.py): pairs from exact-duplicate texts form
    cliques, so the component label must equal the min doc_id per
    text — which is exactly what the SQL window oracle computes,
    making the iterative algorithm itself oracle-checkable.
    Singleton docs are their own component."""
    from wrds2pg_spark.operators.dedup import connected_components

    # NO fan_out here: the iterative CC loop re-reads its edge
    # checkpoint, not the scan, and the extra exchange measured
    # 2.29 -> 3.06 s at sf1 (round-7 A/B) — the md5 hash is too
    # cheap per byte to amortize a text shuffle
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", F.md5(F.col("text")).alias("__h"))
    # rep has distinct-text cardinality — SF-scaling, so no forced
    # broadcast (round 6): the groupBy exchange already partitions it
    # by __h, and AQE broadcasts at runtime while it fits
    rep = h.groupBy("__h").agg(F.min("doc_id").alias("__rep"))
    pairs = (
        h.join(rep, "__h")
        .filter(F.col("doc_id") != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    comps = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("comp"),
        )
    )


@register(
    "tpch_q12_shape",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate
    GROUP BY l.l_returnflag
    """,
)
def tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode -> orderpriority since the fixture has
    no l_shipmode): fact-fact equi-join with a theta residual
    (l_shipdate > o_orderdate) and CASE-WHEN conditional counts.  One
    shuffle on orderkey; the conditional aggregation is a map-side
    partial (two long sums), so the final exchange carries 3 rows per
    partition."""
    return _q12(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


def _q12(li: DataFrame, o: DataFrame) -> DataFrame:
    """Q12's body over either twin's lineitem and orders frames."""
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
                .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long")
                .alias("low_line_count"),
        )
    )


@register("tpch_q12_bucketed", oracle=REGISTRY["tpch_q12_shape"].oracle)
def tpch_q12_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 over orderkey-bucketed facts (round 7): the fact-fact join
    with its theta residual runs as an exchange-free, sort-free
    ShuffledHashJoin on the bucket layout (the hint builds the hash
    side on orders); the 3-group conditional aggregate is map-side
    combined, so the only shuffle carries 3 rows per partition."""
    return _q12(
        _bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey"),
        _bucketed_fact(spark, sf_dir, "orders", "o_orderkey").hint(
            "shuffle_hash"),
    )


@register(
    "tpch_q14_shape",
    oracle=f"""
    SELECT 100.0 * {DSUM_SQL(
        "CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END", 4)}
        / {DSUM_SQL('l.l_extendedprice * (1 - l.l_discount)', 4)}
        AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share.  part broadcasts (dim),
    so lineitem never shuffles; both conditional sums ride one
    aggregate over the same joined stream, and the final division of
    two exact scaled-long sums is a single IEEE op — bit-identical to
    the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * dsum(promo, 4) / dsum(rev, 4))
            .alias("promo_revenue_pct")
        )
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           (CAST(SUM(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0) AS spend_to_date
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, peer-inclusive) vs the ROWS frame of
    window_running_sum: orders on the same date are peers, so each
    gets the same cumulative total — the semantic a ROWS frame cannot
    express.  The sum runs over scaled longs (exact, set-associative),
    so peer-visit order inside either engine cannot perturb it."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    scaled = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        (F.sum(scaled).over(w).cast("double") / F.lit(100.0))
        .alias("spend_to_date"),
    )


@register(
    "subquery_correlated",
    oracle=f"""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT {DAVG_SQL('c2.c_acctbal', 2)}
        FROM customer c2
        WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's mean
    balance), hand-decorrelated the way Catalyst rewrites it: per-key
    aggregate + broadcast join back + filter.  ~25 nation rows
    broadcast, so the fact side never shuffles.  The mean is the exact
    scaled-long mean (functions/numeric.py), making the > comparison
    bit-stable across engines."""
    c = load_table(spark, sf_dir, "customer")
    nat_avg = c.groupBy("c_nationkey").agg(
        davg(F.col("c_acctbal"), 2).alias("__nat_avg")
    )
    return (
        c.join(F.broadcast(nat_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("__nat_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


def _pipeline_oracle() -> str:
    from wrds2pg_spark.functions.text import (
        PREDICTED_LANG_SQL, QUALITY_SCORE_SQL, TOKENS_SQL,
    )

    return f"""
    WITH uniq AS (
        SELECT MIN(doc_id) AS doc_id, text
        FROM documents GROUP BY text
    ), feat AS (
        SELECT doc_id,
               {QUALITY_SCORE_SQL('text')} AS q,
               {PREDICTED_LANG_SQL('text')} AS lang,
               CAST(len({TOKENS_SQL('text')}) AS BIGINT) AS n_tok
        FROM uniq
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           {DAVG_SQL('q', 6)} AS avg_quality
    FROM feat
    WHERE q >= 0.4 AND n_tok BETWEEN 5 AND 5000
    GROUP BY lang
    """


@register("pipeline_training_data", oracle=_pipeline_oracle())
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation composite — the flagship shape
    of an LLM data pipeline: exact dedup -> quality gate -> language ID
    -> per-language token budget.

    Scale design: every text-derived feature (quality score, language,
    token count) is computed in the NARROW pre-shuffle stage, so the
    dedup groupBy shuffles only (md5, doc_id, 3 small features) — never
    the document bodies.  Within an md5 group the texts are identical,
    so min() over each feature is exact, not an arbitrary pick.  One
    hash shuffle + one tiny per-language aggregate; at 100 TB both
    stages stay map-side-combined and skew-free (md5 keys are
    uniform)."""
    from wrds2pg_spark.functions.text import (
        predicted_lang, quality_score, token_count,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    t = F.col("text")
    feat = docs.select(
        F.md5(t).alias("__h"),
        F.col("doc_id"),
        quality_score(t).alias("q"),
        predicted_lang(t).alias("lang"),
        token_count(t).alias("n_tok"),
    )
    uniq = feat.groupBy("__h").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("q").alias("q"),
        F.min("lang").alias("lang"),
        F.min("n_tok").alias("n_tok"),
    )
    kept = uniq.filter(
        (F.col("q") >= 0.4) & F.col("n_tok").between(5, 5000)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        davg(F.col("q"), 6).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# TPC-H: the remaining 15 query shapes (Q2 Q4 Q6 Q7 Q8 Q9 Q11 Q13 Q15 Q16
# Q17 Q19 Q20 Q21 Q22), adapted to the fixture schema.  The fixtures carry
# no partsupp table and no l_shipmode/l_commitdate/l_receiptdate columns
# (TESTDATA.md), so:
#   - partsupp is surrogated by the distinct (l_partkey, l_suppkey) pairs
#     with ps_supplycost = min(l_extendedprice) and ps_qty = sum(l_quantity)
#     -- same join arity, same key structure, same cardinality class;
#   - "late" (Q4/Q21) is l_shipdate > o_orderdate [+ 60 days];
#   - comment/phone filters (Q13/Q16/Q22) become o_orderpriority /
#     s_acctbal / c_nationkey predicates.
# Every shape keeps the defining plan structure of its TPC-H original
# (correlated min, EXISTS, disjunctive join residual, nested IN, only-late-
# supplier double-EXISTS, ...) and is oracle-checked end to end.
# ---------------------------------------------------------------------------

_PS_SQL = f"""
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           min(l_extendedprice) AS ps_supplycost,
           {DSUM_SQL('l_quantity', 0)} AS ps_qty
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
"""


def _partsupp_surrogate(li: DataFrame) -> DataFrame:
    """The partsupp stand-in (see section comment) over a lineitem
    frame.  One shuffle on the composite (partkey, suppkey) key (none
    over partkey-bucketed lineitem); downstream joins on the same pair
    reuse the partitioning exchange-free."""
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min("l_extendedprice").alias("ps_supplycost"),
        dsum(F.col("l_quantity"), 0).alias("ps_qty"),
    )


@register(
    "tpch_q2_shape",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    eps AS (
        SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost,
               s.s_acctbal, s.s_name, n.n_name
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE')
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           e.ps_suppkey AS s_suppkey, e.ps_supplycost
    FROM eps e
    JOIN part p ON p.p_partkey = e.ps_partkey
    WHERE p.p_size = 15
      AND e.ps_supplycost = (SELECT min(e2.ps_supplycost) FROM eps e2
                             WHERE e2.ps_partkey = e.ps_partkey)
    ORDER BY e.s_acctbal DESC, p.p_partkey, s_suppkey
    LIMIT 100
    """,
)
def tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part within a region —
    the classic correlated-min subquery.  Decorrelated as a window min
    over p_partkey on the already region+size-filtered join (exactly
    what Catalyst's RewriteCorrelatedScalarSubquery would produce).
    supplier->nation->region collapses to one broadcast map; the only
    wide ops are the pair-key aggregate and the partkey window.  Top-k
    via TakeOrderedAndProject, ordered on a unique key for the oracle.
    Reference has no joins at all (SURVEY §2 Part B)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    # p_size selects whole partkeys and the surrogate's per-(partkey,
    # suppkey) min never crosses partkeys, so prefiltering lineitem by
    # the broadcast partkey set is result-identical and shrinks the
    # pair-key aggregation shuffle by the size-filter selectivity
    # (~2%).  Same manual push-through-aggregate as tpch_q9_shape.
    li = load_table(spark, sf_dir, "lineitem")
    li_f = li.join(
        F.broadcast(p.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    ).drop("p_partkey")
    ps = li_f.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min("l_extendedprice").alias("ps_supplycost"))
    sn = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eps = ps.join(F.broadcast(sn), ps.ps_suppkey == F.col("s_suppkey"))
    joined = eps.join(F.broadcast(p), eps.ps_partkey == p.p_partkey)
    w = W.partitionBy("p_partkey")
    return (
        joined.withColumn("__min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("__min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            F.col("ps_suppkey").alias("s_suppkey"), "ps_supplycost",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_suppkey")
        .limit(100)
    )


@register(
    "tpch_q4_shape",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority count of orders with at least one late
    line — correlated EXISTS with a theta residual, expressed directly
    as a left-semi join carrying the cross-table predicate in the join
    condition.  The date filter prunes orders BEFORE the semi-join so
    the shuffle carries ~1/20 of the fact table; the final aggregate
    is 5 groups, map-side combined."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q6_shape",
    oracle=f"""
    SELECT {DSUM_SQL('l_extendedprice * l_discount', 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
)
def tpch_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan-filter-aggregate forecast query — the
    canonical predicate-pushdown showcase.  All three predicates reach
    the parquet scan (PushedFilters), the projection is 2 columns, and
    the global sum is a single-row exchange of one long partial per
    partition.  At 100 TB this is I/O-bound by design — exactly what
    you want."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 4)
             .alias("revenue"))
    )


@register(
    "tpch_q7_shape",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS yr,
           {DSUM_SQL('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year.  One fact-fact shuffle (lineitem x orders on orderkey); the
    supplier->nation and customer->nation sides collapse to broadcast
    maps applied pre- and post-join, and the disjunctive nation-pair
    predicate runs on broadcast-joined columns so it prunes before the
    final 2x2xyears aggregate.  (At true scale customer stops being
    broadcastable and becomes a second keyed shuffle — the plan shape
    is otherwise unchanged.)"""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation"))
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("yr"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
             .alias("revenue"))
    )


@register(
    "tpch_q8_shape",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
           {DSUM_SQL(
               "CASE WHEN sn.n_name = 'NATION_5' "
               "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END", 4)}
           / {DSUM_SQL('l.l_extendedprice * (1 - l.l_discount)', 4)}
           AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
                   AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'ASIA'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    GROUP BY yr
    """,
)
def tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share inside a region's market —
    an 8-table join where every dimension broadcasts and the single
    wide op is the lineitem x orders shuffle.  The share is a division
    of two exact scaled-long sums computed in ONE aggregate pass
    (conditional numerator riding the same grouped stream), so no
    second join-back is needed."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cnr = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cnr, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg((dsum(nat_vol, 4) / dsum(vol, 4)).alias("mkt_share"))
    )


@register(
    "tpch_q9_shape",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS BIGINT) AS yr,
           {DSUM_SQL(
               'l.l_extendedprice * (1 - l.l_discount)'
               ' - 0.01 * ps.ps_supplycost * l.l_quantity', 4)} AS sum_profit
    FROM lineitem l
    JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%gear%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    GROUP BY nation, yr
    """,
)
def tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by nation and year.  The
    partsupp surrogate's per-(partkey, suppkey) min re-attaches to
    every fact row, and the oracle's aggregate-then-self-join is
    exactly a WINDOW: min(l_extendedprice) OVER (PARTITION BY partkey,
    suppkey).  The window formulation deletes the whole agg+join
    subtree — ONE composite-key exchange (plus its in-partition sort)
    instead of two, measured 1.36 s -> 0.74 s at sf1 (round 5).

    The part-name filter still sits BELOW the window: it selects
    whole partkeys, and the per-(partkey, suppkey) min lives inside
    one partkey, so filtering first is result-identical while
    shrinking the exchange ~8x.  part / supplier / nation broadcast;
    profit expression written identically on both engines so the
    scaled-long rounding sees bit-identical doubles."""
    return _q9(spark, sf_dir, load_table(spark, sf_dir, "lineitem"))


def _q9(spark: SparkSession, sf_dir: str, li: DataFrame) -> DataFrame:
    """Q9's body over either twin's lineitem frame."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    li_f = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == p.p_partkey
    ).drop("p_partkey")
    w = W.partitionBy("l_partkey", "l_suppkey")
    li_w = li_f.withColumn("ps_supplycost", F.min("l_extendedprice").over(w))
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation"))
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.01) * F.col("ps_supplycost") * F.col("l_quantity")
    )
    return (
        li_w.join(F.broadcast(sn), li_w.l_suppkey == sn.s_suppkey)
        .groupBy("nation", F.year("l_shipdate").cast("long").alias("yr"))
        .agg(dsum(profit, 4).alias("sum_profit"))
    )


@register(
    "tpch_q11_shape",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    val AS (
        SELECT ps_partkey, {DSUM_SQL('ps_supplycost', 2)} AS value
        FROM ps GROUP BY ps_partkey)
    SELECT ps_partkey, value
    FROM val
    WHERE value > (SELECT {DAVG_SQL('value', 2)} FROM val) * 1.1
    """,
)
def tpch_q11_shape(
    spark: SparkSession, sf_dir: str,
    max_window_parts: int = 100_000_000,
) -> DataFrame:
    """TPC-H Q11 shape: parts whose aggregate supply value exceeds a
    global threshold — aggregate feeding a scalar subquery over its own
    output.  The threshold is 1.1x the mean per-part value (scale-
    invariant selectivity, unlike Q11's literal fraction which pins to
    one SF).

    Plan: pair-key agg -> partkey re-agg (both map-side combined),
    then the global threshold as an EMPTY-FRAME WINDOW over the
    per-part values — one body with tpch_q11_bucketed, plan switch
    included.  The round-4 crossJoin(broadcast(threshold))
    formulation promised 'the fact never moves twice' but the
    EXECUTED plan broke the promise: under AQE the threshold
    subtree's exchange never matched for reuse (0 ReusedExchange),
    so lineitem was scanned and pair-aggregated TWICE — 13 stages,
    1.14 s at sf0.1.  The window form computes the mean over the
    one materialized val stream: one lineitem scan, ~half the
    stages.  Above ``max_window_parts`` (footer-read bound, no Spark
    job) it switches to localCheckpoint + 1-row broadcast (see the
    bucketed twin); both branches share the oracle's arithmetic."""
    return _q11(
        sf_dir, load_table(spark, sf_dir, "lineitem"), max_window_parts)


def _q11(sf_dir: str, li: DataFrame, max_window_parts: int) -> DataFrame:
    """Q11's body over either twin's lineitem frame, with the
    window/broadcast threshold switch on the part-count bound."""
    val = _partsupp_surrogate(li).groupBy("ps_partkey").agg(
        dsum(F.col("ps_supplycost"), 2).alias("value"))
    # dsum/davg arithmetic: exact scaled-long sum over all per-part
    # values, one division, count, then *1.1 — the same op order as
    # the oracle's DAVG_SQL(value)*1.1 in both branches.
    scaled_sum = F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
    if _parquet_footer_rows(sf_dir, "part") > max_window_parts:
        val = val.transform(lineage_cut(eager=True))
        thr_row = val.agg(
            (
                scaled_sum.cast("double") / 100.0
                / F.count(F.col("value")).cast("double") * 1.1
            ).alias("__thr"))
        return (
            val.join(F.broadcast(thr_row))
            .filter(F.col("value") > F.col("__thr"))
            .select("ps_partkey", "value")
        )
    w = W.partitionBy()
    thr = (
        scaled_sum.over(w).cast("double") / 100.0
        / F.count(F.col("value")).over(w).cast("double")
    ) * 1.1
    return (
        val.withColumn("__thr", thr)
        .filter(F.col("value") > F.col("__thr"))
        .select("ps_partkey", "value")
    )


def _lineitem_by_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem bucketed+sorted by (l_partkey, l_suppkey) — the
    ingest-time layout that makes every partsupp-grain aggregate and
    window exchange-free (bucket HashPartitioning(l_partkey) satisfies
    any clustering it is a subset of; the sortBy covers the composite
    window's required ordering)."""
    return _bucketed_fact(
        spark, sf_dir, "lineitem", "l_partkey",
        sort_cols=["l_partkey", "l_suppkey"],
    )


@register("tpch_q9_bucketed", oracle=REGISTRY["tpch_q9_shape"].oracle)
def tpch_q9_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 over lineitem PRE-BUCKETED by partkey — the pay-the-shuffle-
    at-ingest twin of tpch_q9_shape's window form: the composite-key
    min window needs ClusteredDistribution(partkey, suppkey), which
    the partkey bucketing satisfies (subset rule), and the bucket
    sortBy (partkey, suppkey) covers the window sort — so the ONLY
    exchange left in the whole query is the ~175-row final aggregate.
    sf1: 0.44 s vs 0.78 s shape / 1.36 s round-4 agg+join form
    (BASELINE.md r5 small-batch table)."""
    return _q9(spark, sf_dir, _lineitem_by_partkey(spark, sf_dir))


@register("tpch_q11_bucketed", oracle=REGISTRY["tpch_q11_shape"].oracle)
def tpch_q11_bucketed(
    spark: SparkSession, sf_dir: str,
    max_window_parts: int = 100_000_000,
) -> DataFrame:
    """Q11 over lineitem PRE-BUCKETED by partkey: both aggregates
    (pair grain, then partkey grain) run exchange-free on the bucket
    partitioning, and the global threshold becomes an empty-frame
    WINDOW over the per-part values instead of a second pass over the
    fact subtree — exchange-free plans have no Exchange node for
    Spark's reuse rule to dedup, so the round-4 crossJoin(threshold)
    formulation would scan and aggregate lineitem TWICE here.  The
    whole query runs ONE exchange (the ~200k-row per-part values into
    the single-partition window).  sf1: 0.50 s = 1.6x DuckDB — inside
    the acceptance band (BASELINE.md r5 small-batch table).

    The single-partition window holds to ~10^8 parts (16 B/row);
    beyond ``max_window_parts`` the function SWITCHES PLANS (round 6,
    no longer a docstring promise): localCheckpoint the per-part
    values and broadcast the 1-row threshold over them (measured
    0.96 s at sf1 — same plan family, bounded task memory).  The
    part-count bound is read from part.parquet's footer metadata —
    file-listing cost, no Spark job; distinct l_partkey can't exceed
    |part|.  tests/test_plans.py covers both branches."""
    return _q11(sf_dir, _lineitem_by_partkey(spark, sf_dir), max_window_parts)


@register(
    "tpch_q13_shape",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def tpch_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count — the
    outer-join-then-double-aggregate query.  The priority predicate
    must live in the JOIN CONDITION (not a post-filter) to preserve
    customers with zero qualifying orders; count(o_orderkey) counts
    non-nulls so those customers land in the c_count=0 bucket.  First
    agg is keyed on the join key (exchange reuse), second is a tiny
    histogram."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15_shape",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               {DSUM_SQL('l_extendedprice * (1 - l_discount)', 4)}
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by quarterly revenue — the view-
    plus-scalar-max query.  The scalar max rides an EMPTY-FRAME
    WINDOW over the one materialized revenue stream (Q15's CREATE
    VIEW reuse): the crossJoin(broadcast(max)) form relied on
    exchange reuse to dedup the view, but AQE never reuses exchanges
    across the broadcast boundary in this engine (round 6 finding,
    BASELINE.md — same fix as tpch_q11_shape), so the fact was
    scanned and aggregated TWICE.  The window input is supplier-grain
    (bounded by |supplier|, ~10^7 at TPC-H sf100k — far under the
    single-partition bound the q11 switch documents).  Equality on
    the exact scaled-long sum is deterministic, so ties surface
    identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        .alias("total_revenue"))
    return (
        rev.withColumn(
            "__max_rev", F.max("total_revenue").over(W.partitionBy()))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q16_shape",
    oracle="""
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT pr.l_suppkey) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON p.p_partkey = pr.l_partkey
    WHERE p.p_brand <> 'Brand#3'
      AND p.p_type NOT IN ('PROMO', 'SMALL')
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND pr.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier diversity per part class, excluding a
    blacklist — NOT IN rewritten as a broadcast anti-join (safe here:
    s_suppkey is never null, so NOT IN == anti).  The oracle's DISTINCT
    pair materialization is folded into count(DISTINCT): duplicates are
    absorbed by the distinct aggregate itself, so the fact rows meet
    the selective part filter (broadcast) and the blacklist (broadcast
    anti) BEFORE the one distinct-agg shuffle — no separate full-width
    pair dedup pass, and the surviving row set is a fraction of the
    fact."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & ~F.col("p_type").isin("PROMO", "SMALL")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(bad), F.col("l_suppkey") == bad.s_suppkey,
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_shape",
    oracle=f"""
    WITH tp AS (
        SELECT p_partkey FROM part
        WHERE p_brand = 'Brand#5' AND p_size < 10),
    aq AS (
        SELECT l_partkey, {DAVG_SQL('l_quantity', 0)} AS avg_qty
        FROM lineitem JOIN tp ON p_partkey = l_partkey
        GROUP BY l_partkey)
    SELECT {DSUM_SQL('l.l_extendedprice', 2)} / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN aq ON aq.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * aq.avg_qty
    """,
)
def tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue — the correlated
    per-part average, decorrelated onto ONE partkey window instead of
    an aggregate + join-back.  The round-4 agg form wrote the target
    subtree twice and relied on exchange reuse to dedup it; the
    EXECUTED plan under AQE scanned lineitem twice and built the part
    broadcast twice (exchange-reuse failure, BASELINE.md r6).  The
    window form scans the fact once, pays one partkey exchange on the
    brand-filtered subset (~1/125 of lineitem), and computes the
    per-part mean as an exact scaled-long sum over the partition —
    identical IEEE ops to the oracle's aggregate, so the 0.2*avg
    threshold compares bit-identically.

    Round-8 negatives (VERDICT r7 item 4, the q21 agg-agg trick
    applied to the decorrelated avg — both REJECTED on same-process
    min-of-3 A/Bs): (a) lazy-checkpoint target + groupBy avg +
    join-back: 0.78 s sf1 / 1.38 s sf10 vs the window's 0.55/1.08 —
    the checkpoint write of the 1/125 subset costs more than the
    window's sort; (b) one-exchange collect_list of (qty, price)
    structs + row-local HOF filter/fold (no sort at all): 0.93 s sf1 /
    0.84 s sf10 vs 0.73/0.81 — ObjectHashAggregate's list merge eats
    the sort saving.  The residual vs the single-node oracle (~3x
    sf10) is the scan+exchange floor; the bucketed twin (1.5x sf10)
    is the scale path."""
    return _q17(spark, sf_dir, load_table(spark, sf_dir, "lineitem"))


def _q17(spark: SparkSession, sf_dir: str, li: DataFrame) -> DataFrame:
    """Q17's body over either twin's lineitem frame."""
    tp = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#5") & (F.col("p_size") < 10)
    ).select("p_partkey")
    target = li.join(F.broadcast(tp), li.l_partkey == F.col("p_partkey"))
    w = W.partitionBy("l_partkey")
    avg_qty = (
        F.sum(F.round(F.col("l_quantity"), 0).cast("long")).over(w)
        .cast("double")
        / F.count(F.col("l_quantity")).over(w).cast("double")
    )
    return (
        target.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg((dsum(F.col("l_extendedprice"), 2) / F.lit(7.0))
             .alias("avg_yearly"))
    )


@register("tpch_q17_bucketed", oracle=REGISTRY["tpch_q17_shape"].oracle)
def tpch_q17_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 over lineitem PRE-BUCKETED by partkey (round 7): the
    correlated per-part average rides the bucket partitioning — the
    shape form's one partkey exchange (the r6 weak-list residual,
    9.8x sf1 / 3.2x sf10) disappears, and the bucket sortBy
    (l_partkey, l_suppkey) covers the window's required clustering,
    so the ONLY exchange in the whole query is the 1-row final
    aggregate.  Same window arithmetic and oracle as the shape."""
    return _q17(spark, sf_dir, _lineitem_by_partkey(spark, sf_dir))


@register(
    "tpch_q19_shape",
    oracle=f"""
    SELECT {DSUM_SQL('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates over an
    equi-join — the OR-of-ANDs that breaks naive pushdown.  Expressed
    as the equi-join on partkey with the disjunction as a post-join
    residual; Catalyst additionally derives the implied single-table
    prefilters (brand IN (...) on part, quantity <= 30 on lineitem)
    via constraint propagation, and part broadcasts so the fact never
    shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
             .alias("revenue"))
    )


@register(
    "tpch_q20_shape",
    oracle=f"""
    WITH qty AS (
        SELECT l_partkey, l_suppkey, {DSUM_SQL('l_quantity', 0)} AS pair_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
            SELECT q.l_suppkey FROM qty q
            WHERE q.l_partkey IN
                  (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              AND q.pair_qty > 30)
      AND s.s_nationkey IN (
            SELECT n.n_nationkey FROM nation n
            JOIN region r ON r.r_regionkey = n.n_regionkey
            WHERE r.r_name = 'ASIA')
    """,
)
def tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding excess stock of targeted
    parts in one region — the nested-IN query.  Both INs become semi-
    joins: the part filter broadcasts INTO the pair aggregate's stream,
    and the resulting supplier keys semi-join supplier together with
    the broadcast nation/region membership.  No DISTINCT needed
    anywhere — semi-join semantics dedup for free."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    tp = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    qty = (
        li.join(F.broadcast(tp), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum(F.col("l_quantity"), 0).alias("pair_qty"))
        .filter(F.col("pair_qty") > 30)
    )
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey")
    return (
        s.join(qty, s.s_suppkey == qty.l_suppkey, "left_semi")
        .join(F.broadcast(nr), s.s_nationkey == F.col("n_nationkey"),
              "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "tpch_q21_shape",
    oracle="""
    WITH lo AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'),
    per_os AS (
        SELECT l_orderkey, l_suppkey, max(late) AS supp_late
        FROM lo GROUP BY l_orderkey, l_suppkey),
    per_o AS (
        SELECT l_orderkey, count(*) AS n_supp, sum(supp_late) AS n_late
        FROM per_os GROUP BY l_orderkey)
    SELECT s.s_name, count(*) AS numwait
    FROM per_os ps
    JOIN per_o po ON ps.l_orderkey = po.l_orderkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.supp_late = 1 AND po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    """,
)
def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier order — the EXISTS / NOT-EXISTS double-correlation,
    rewritten as a per-(order,supplier) aggregate plus a per-order
    aggregate ("late supplier count == 1 and supplier count > 1" ==
    "another supplier exists, no other late supplier exists"), with
    the sole late supplier extracted IN the second aggregate as
    max(when(supp_late=1, suppkey)) — exactly one such key exists per
    surviving order, so no join back to the supplier rows and, unlike
    the r6 window form, no in-partition SORT of the agg output
    (round 7; the window's sort was the residual data-bound cost).
    The naive agg + self-join alternative recomputes the whole fact
    subtree twice; here one explicit repartition on orderkey is the
    only fact shuffle, and HashPartitioning(orderkey) satisfies both
    the 2-key groupBy's ClusteredDistribution and the per-order
    groupBy's — the cascade adds zero exchanges."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F")
    return _q21_sole_late_suppliers(
        spark, sf_dir, _q21_late_lines(li, o).repartition("l_orderkey"))


def _q21_late_lines(li: DataFrame, o: DataFrame) -> DataFrame:
    """Q21's (orderkey, suppkey, late) lines over either twin's
    lineitem and F-status orders frames."""
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        F.when(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
            1,
        ).otherwise(0).alias("late"),
    )


def _q21_sole_late_suppliers(
    spark: SparkSession, sf_dir: str, lo: DataFrame,
) -> DataFrame:
    """Q21's tail over orderkey-partitioned late lines: the pair-grain
    and per-order aggregates, then the sole late supplier's name."""
    s = load_table(spark, sf_dir, "supplier")
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late"))
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("supp_late").alias("n_late"),
        F.max(F.when(F.col("supp_late") == 1, F.col("l_suppkey")))
        .alias("late_supp"),
    )
    return (
        per_o.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("late_supp") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register("tpch_q21_bucketed", oracle=REGISTRY["tpch_q21_shape"].oracle)
def tpch_q21_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 over orderkey-bucketed lineitem+orders (the same catalog
    tables the q5/q18 twins read): the shape's agg-agg cascade rides
    the bucket partitioning, so the shape's orderkey repartition goes
    and the cascade runs sortless (round 7, VERDICT item 2, measured
    sf1 min-of-6 A/Bs: 0.625 -> 0.487 s against the per-order window
    form).  The fact join takes a shuffle_hash hint: BOTH tables are
    bucketed on the join key, so SHJ is exchange-free AND sort-free
    — the default broadcast of ~730k F-status orders paid a measured
    0.165 s relation build per run (join-only probe 0.342 bcast vs
    0.177 shj); at 1000 executors that build is also per-executor
    memory the bucket layout makes unnecessary.

    Zero fact exchanges end-to-end; the only shuffles are the ~50-row
    per-supplier count.  sf1: 0.49 s vs 0.223 s DuckDB = 2.2x (was
    1.13 s / 5.1x in r6's driver pair)."""
    li = _bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey")
    o = _bucketed_fact(spark, sf_dir, "orders", "o_orderkey").filter(
        F.col("o_orderstatus") == "F").hint("shuffle_hash")
    return _q21_sole_late_suppliers(spark, sf_dir, _q21_late_lines(li, o))


@register(
    "tpch_q22_shape",
    oracle=f"""
    WITH ab AS (
        SELECT {DAVG_SQL('c_acctbal', 2)} AS avg_bal
        FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_nationkey, count(*) AS numcust,
           {DSUM_SQL('c.c_acctbal', 2)} AS totacctbal
    FROM customer c, ab
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9)
      AND c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy-but-inactive customers per country —
    scalar-average subquery + NOT EXISTS anti-join.  (Every fixture
    customer has orders, so 'inactive' is 'no urgent orders'; nation-
    key set stands in for phone prefixes.)  The 1-row average cross-
    joins as a broadcast filter, the urgent-orders anti-join is the
    only wide op, and the final per-nation aggregate is ~5 groups."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal"), 2).alias("avg_bal"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey")
    return (
        c.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9))
        .crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series, corpus-statistics, and bivariate-stats operators: the
# remaining "training-data pipeline at scale" surface (BASELINE.json north
# star) beyond the dedup/similarity/text families.  Reference has none of
# these (SURVEY §2 Part B).
# ---------------------------------------------------------------------------

@register(
    "window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_ok,
           nth_value(o_orderkey, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value navigation functions.  The
    ordering includes the unique orderkey so peer rows cannot make
    last/nth engine-dependent, and last/nth use an explicit full-
    partition frame (the default growing frame would make last_value a
    synonym of current row — the classic window trap).  All three ride
    ONE sort within one window exchange."""
    o = load_table(spark, sf_dir, "orders")
    wg = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = wg.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey", "o_orderkey",
        F.first("o_orderkey").over(wg).alias("first_ok"),
        F.last("o_orderkey").over(wf).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_ok"),
    )


@register(
    "ts_resample_ffill",
    oracle=f"""
    WITH b AS (SELECT date_trunc('day', min(ts)) AS d0,
                      date_trunc('day', max(ts)) AS d1 FROM events),
    days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
             FROM b),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (SELECT user_id, date_trunc('day', ts) AS day,
                     {DSUM_SQL('value', 2)} AS day_value
              FROM events GROUP BY user_id, date_trunc('day', ts))
    SELECT u.user_id, d.day, dv.day_value,
           last_value(dv.day_value IGNORE NULLS) OVER (
               PARTITION BY u.user_id ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM users u
    CROSS JOIN days d
    LEFT JOIN daily dv ON dv.user_id = u.user_id AND dv.day = d.day
    """,
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: regularize events to a dense
    per-user daily grid (global corpus day bounds, per the oracle) and
    forward-fill missing days — the hypertable/downsampling primitive
    every metrics pipeline needs.

    Round 7 rewrite (VERDICT item 4): the grid is GENERATED, never
    joined.  One lead() window over the daily aggregate finds each
    known day's successor; each known row then explodes
    sequence(day, next_day - 1) (or to the global end for the user's
    last row), emitting its own gap days with the fill value carried
    ROW-LOCALLY; a user's pre-history (global start to first
    observation) is a second cheap generator off the rn=1 rows.  That
    deletes the r6 users x broadcast(days) BNLJ spine, the dense-grid
    left JOIN (450k x 400k rows at sf1) and the last(ignorenulls)
    frame scan over the dense grid — measured 1.19 -> 0.96 s at sf1
    (1.7x DuckDB, was 2.7x), identical 449,730-row output.

    Scale shape: one fact exchange for the (user, day) aggregate
    (safe under a hot user — the agg key includes day; a repartition
    by user alone measured slightly faster locally but concentrates a
    power user's raw events in one task, the recorded negative), one
    day-grain window exchange (output-domain-sized), generators and
    fill arithmetic all row-local.  daily is lazily checkpointed:
    bounds + the window branch off it (AQE exchange-reuse failure,
    BASELINE.md r6)."""
    return _daily_grid(
        spark, sf_dir,
        F.lit(None).cast("double").alias("filled_value"),
        F.col("day_value").alias("filled_value"),
    )


def _daily_grid(
    spark: SparkSession, sf_dir: str, head_fill: Column, fill: Column,
    leads: dict[str, str] | None = None,
) -> DataFrame:
    """The dense per-user daily grid of the two gap-fill keys,
    generated from the (user, day) aggregate (see ts_resample_ffill):
    (user_id, day, day_value, fill).  ``head_fill`` fills a user's
    days before its first known day (over that day's row); ``fill``
    fills each known day and its gap days, over kday (the known day),
    day_value (its value), next_day and the ``leads`` columns — each
    the lead() of the daily column it names."""
    ev = load_table(spark, sf_dir, "events")
    day1 = F.expr("INTERVAL 1 DAY")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(dsum(F.col("value"), 2).alias("day_value")).transform(
        lineage_cut(eager=False))
    bounds = daily.agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    w = W.partitionBy("user_id").orderBy("day")
    leads = leads or {}
    d2 = daily.withColumn("next_day", F.lead("day").over(w))
    for name, col in leads.items():
        d2 = d2.withColumn(name, F.lead(col).over(w))
    # d2 feeds BOTH union branches (head + main): without the cut the
    # lead/row_number window subtree runs once per branch (4 Window
    # nodes in the round-10 before plan, 2 per branch).  Day-grain
    # rows, so the materialization is output-domain-sized; 0.83 ->
    # 0.77 s min-of-5 interleaved at sf0.1.
    d2 = (
        d2
        .withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(bounds))
        .transform(lineage_cut(eager=False))
    )
    head = d2.filter(
        (F.col("rn") == 1) & (F.col("day") > F.col("d0"))
    ).select(
        "user_id",
        F.explode(F.sequence("d0", F.col("day") - day1, day1))
        .alias("day"),
        F.lit(None).cast("double").alias("day_value"),
        head_fill,
    )
    main = d2.select(
        "user_id",
        F.col("day").alias("kday"),
        "day_value",
        "next_day",
        *leads,
        F.explode(F.sequence(
            "day",
            F.coalesce(F.col("next_day") - day1, F.col("d1")),
            day1)).alias("day"),
    ).select(
        "user_id",
        "day",
        F.when(F.col("day") == F.col("kday"), F.col("day_value"))
        .alias("day_value"),
        fill,
    )
    return head.unionByName(main.select(*head.columns))


@register(
    "ts_interpolate_linear",
    oracle=f"""
    WITH b AS (SELECT date_trunc('day', min(ts)) AS d0,
                      date_trunc('day', max(ts)) AS d1 FROM events),
    days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
             FROM b),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (SELECT user_id, date_trunc('day', ts) AS day,
                     {DSUM_SQL('value', 2)} AS day_value
              FROM events GROUP BY user_id, date_trunc('day', ts)),
    spine AS (
        SELECT u.user_id, d.day, dv.day_value
        FROM users u
        CROSS JOIN days d
        LEFT JOIN daily dv ON dv.user_id = u.user_id AND dv.day = d.day),
    ctx AS (
        SELECT user_id, day, day_value,
               last_value(day_value IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN day_value IS NOT NULL THEN day END
                          IGNORE NULLS) OVER wp AS pd,
               first_value(day_value IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN day_value IS NOT NULL THEN day END
                           IGNORE NULLS) OVER wn AS nd
        FROM spine
        WINDOW wp AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, day, day_value,
           round(CASE
               WHEN day_value IS NOT NULL THEN day_value
               WHEN pv IS NULL OR nv IS NULL THEN COALESCE(pv, nv)
               ELSE pv + (nv - pv)
                    * (CAST(date_diff('day', pd, day) AS DOUBLE)
                       / CAST(date_diff('day', pd, nd) AS DOUBLE))
           END, 6) AS interp_value
    FROM ctx
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the dense per-user daily grid — the
    gap-fill one rung above forward-fill (ts_resample_ffill): missing
    days take the value linearly between the surrounding known days,
    edge gaps take the nearest known value.

    Round 7 rewrite (same generator doctrine as the ffill twin): one
    lead() window carries (next_day, next_value); each known row
    explodes its own gap days and interpolates ROW-LOCALLY —
    pv + (nv - pv) * (gap_pos / gap_len), the identical IEEE tree to
    the oracle's pd/nd form since pd == the emitting row's day and
    nd == next_day.  No spine BNLJ, no dense-grid join, no
    double-frame (preceding+following) window over the dense grid —
    measured 1.53 -> 0.98 s at sf1 (1.8x DuckDB, was 2.8x),
    identical output.  Exchanges: the (user, day) fact aggregate +
    one day-grain window; everything else is a generator."""
    gap_frac = (
        F.datediff(F.col("day"), F.col("kday")).cast("double")
        / F.datediff(F.col("next_day"), F.col("kday")).cast("double")
    )
    interp = (
        F.when(F.col("day") == F.col("kday"), F.col("day_value"))
        .when(F.col("next_value").isNull(), F.col("day_value"))
        .otherwise(
            F.col("day_value")
            + (F.col("next_value") - F.col("day_value")) * gap_frac)
    )
    return _daily_grid(
        spark, sf_dir,
        F.round(F.col("day_value"), 6).alias("interp_value"),
        F.round(interp, 6).alias("interp_value"),
        leads={"next_value": "day_value"},
    )


@register(
    "text_ngram_topk",
    oracle="""
    WITH toks AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
    ng AS (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram
           FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
           WHERE len(t) >= 3)
    SELECT ngram, count(*) AS cnt
    FROM ng GROUP BY ngram
    ORDER BY cnt DESC, ngram
    LIMIT 50
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k word trigrams — the n-gram frequency pass
    used for contamination checks and boilerplate detection.  The
    n-gram generator is a higher-order transform over the token array
    (no UDF, stays in codegen) fused with the scan; explode feeds a
    map-side-combined count and a TakeOrdered top-k, so the full
    n-gram stream is never materialized or sorted globally.  Both
    engines index arrays 1-based (element_at / list index)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    toks = docs.select(F.split(F.lower(F.col("text")), " ").alias("t"))
    ng = toks.filter(F.size("t") >= 3).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2), i -> "
                "concat_ws(' ', element_at(t, i), element_at(t, i + 1), "
                "element_at(t, i + 2)))"
            )
        ).alias("ngram")
    )
    return (
        ng.groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "ngram")
        .limit(50)
    )


@register(
    "dedup_levenshtein",
    oracle="""
    WITH blk AS (
        SELECT doc_id,
               CAST(floor(n_chars / 10.0) AS BIGINT) AS b,
               substr(lower(text), 1, 15) AS p,
               substr(lower(text), 1, 60) AS pre
        FROM documents)
    SELECT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
           CAST(levenshtein(a.pre, c.pre) AS BIGINT) AS dist
    FROM blk a
    JOIN blk c ON a.b = c.b AND a.p = c.p AND a.doc_id < c.doc_id
    WHERE levenshtein(a.pre, c.pre) <= 10
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection, the missing member of the
    dedup family (exact / ngram-jaccard / minhash / simhash / cosine —
    operators/dedup.py): block on (length band, 15-char prefix) so the
    quadratic levenshtein only runs inside tiny candidate buckets,
    never across the corpus, and cap the compared prefix at 60 chars
    to bound the DP matrix.  The self-join shuffles both sides on the
    block key once; everything else is narrow.  Both engines implement
    classic unit-cost Levenshtein."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    blk = docs.select(
        "doc_id",
        F.floor(F.col("n_chars") / 10.0).cast("long").alias("b"),
        F.substring(F.lower(F.col("text")), 1, 15).alias("p"),
        F.substring(F.lower(F.col("text")), 1, 60).alias("pre"),
    )
    a = blk.alias("a")
    c = blk.alias("c")
    dist = F.levenshtein(F.col("a.pre"), F.col("c.pre"))
    return (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.p") == F.col("c.p"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .filter(dist <= 10)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("c.doc_id").alias("doc_id_b"),
            dist.cast("long").alias("dist"),
        )
    )


@register(
    "agg_corr_exact",
    oracle=f"""
    SELECT l_returnflag,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS corr_qty_disc,
           round((sxy - sx * sy / n) / (n - 1.0), 6) AS covar_qty_disc,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS slope_disc_on_qty
    FROM (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               {DSUM_SQL('l_quantity', 0)} AS sx,
               {DSUM_SQL('l_discount', 2)} AS sy,
               {DSUM_SQL('l_quantity * l_quantity', 0)} AS sxx,
               {DSUM_SQL('l_discount * l_discount', 4)} AS syy,
               {DSUM_SQL('l_quantity * l_discount', 2)} AS sxy
        FROM lineitem GROUP BY l_returnflag)
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (corr / covar_samp / regression slope)
    from exact scaled-long co-moments — the agg_stats trick extended
    to two variables.  Built-in corr()/covar_samp() merge Welford
    partials in partition order and so differ from any single-threaded
    engine in the last ULPs; accumulating the five raw moments as
    exact longs makes the closed-form results bit-identical on any
    partitioning, at one map-side-combined aggregate of 6 longs per
    group.  (Overflow bound per functions/numeric.py: discount as the
    y-variable keeps syy's scaled magnitude ~1e4 per row — safe to
    ~1e14 rows per group.)"""
    li = load_table(spark, sf_dir, "lineitem")
    qty, disc = F.col("l_quantity"), F.col("l_discount")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(qty, 0).alias("sx"),
        dsum(disc, 2).alias("sy"),
        dsum(qty * qty, 0).alias("sxx"),
        dsum(disc * disc, 4).alias("syy"),
        dsum(qty * disc, 2).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return base.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("corr_qty_disc"),
        F.round((sxy - sx * sy / n) / (n - F.lit(1.0)), 6)
        .alias("covar_qty_disc"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        .alias("slope_disc_on_qty"),
    )


@register(
    "rollup_time_hier",
    oracle=f"""
    SELECT CAST(year(ts) AS BIGINT) AS yr,
           CAST(month(ts) AS BIGINT) AS mo,
           CAST(day(ts) AS BIGINT) AS dy,
           count(*) AS n_events,
           {DSUM_SQL('value', 2)} AS total_value
    FROM events
    GROUP BY ROLLUP(yr, mo, dy)
    """,
)
def rollup_time_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy rollup (day -> month -> year -> grand total)
    over the event stream — the continuous-aggregate / hypertable-
    rollup shape, expressed as ROLLUP over extracted date parts so all
    four granularities come out of ONE Expand + aggregate pass instead
    of four scans.  Counts and exact sums are trivially re-aggregable,
    which is what makes the single-pass rollup valid at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.rollup(
            F.year("ts").cast("long").alias("yr"),
            F.month("ts").cast("long").alias("mo"),
            F.dayofmonth("ts").cast("long").alias("dy"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("total_value"),
        )
    )


@register(
    "basket_priority_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT o_custkey, o_orderpriority AS item FROM orders),
    n AS (SELECT COUNT(DISTINCT o_custkey) AS n_baskets FROM orders),
    freq AS (
      SELECT item, COUNT(*) AS n_item FROM items GROUP BY item),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
      FROM items a JOIN items b
        ON a.o_custkey = b.o_custkey AND a.item < b.item
      GROUP BY a.item, b.item)
    SELECT p.item_a, p.item_b, p.n_pair,
           CAST(p.n_pair AS DOUBLE) / n.n_baskets AS support,
           CAST(p.n_pair AS DOUBLE) * n.n_baskets
             / (fa.n_item * fb.n_item) AS lift
    FROM pairs p
    JOIN freq fa ON fa.item = p.item_a
    JOIN freq fb ON fb.item = p.item_b
    CROSS JOIN n
    """,
)
def basket_priority_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over (customer, priority) baskets:
    pair counts, support, and lift — the association-mining shape
    (frequent itemsets at k=2).

    Scale shape: the distinct (basket, item) incidence table is
    materialized ONCE (lazy localCheckpoint) — five consumers branch
    off it (basket count, item frequencies twice, both pair-join
    sides) and AQE never dedups a shared subtree across consumers
    (exchange-reuse failure, BASELINE.md r6), so the un-materialized
    form re-ran the orders scan+distinct five times.  The incidence
    table is the algorithm's working set anyway (n_baskets x <=5
    rows, two narrow columns); the pair self-join reuses its basket
    partitioning, so pair generation is per-basket quadratic over a
    bounded item vocabulary (5 priorities -> <=10 pairs per basket).
    Item frequencies and the basket count are tiny aggregates
    broadcast into the final projection — no second shuffle of the
    pair table.  Division order is pinned identically in both engines
    (exact integer counts, two IEEE ops) so no rounding is needed."""
    o = load_table(spark, sf_dir, "orders")
    items = o.select(
        F.col("o_custkey"), F.col("o_orderpriority").alias("item")
    ).distinct().transform(lineage_cut(eager=False))
    # basket count as a broadcast 1-row aggregate — never a driver
    # action (no-collect doctrine, tests/test_plans.py)
    nb = items.agg(F.countDistinct("o_custkey").alias("n_baskets"))
    freq = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select("o_custkey", F.col("item").alias("item_a"))
    b = items.select("o_custkey", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "o_custkey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    fa = F.broadcast(freq.select(F.col("item").alias("item_a"),
                                 F.col("n_item").alias("n_a")))
    fb = F.broadcast(freq.select(F.col("item").alias("item_b"),
                                 F.col("n_item").alias("n_b")))
    return (
        pairs.join(fa, "item_a").join(fb, "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a", "item_b", "n_pair",
            (F.col("n_pair").cast("double") / F.col("n_baskets"))
            .alias("support"),
            (F.col("n_pair").cast("double") * F.col("n_baskets")
             / (F.col("n_a") * F.col("n_b"))).alias("lift"),
        )
    )


@register(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with ORDER BY + LIMIT — the
    per-row-subselect SQL shape (top-N orders per customer).  Spark's
    DecorrelateInnerQuery rewrites the correlated limit into a
    rank-window over ONE custkey exchange plus the outer join — no
    per-customer re-execution and no cartesian (plan-gated); the
    unique orderkey tiebreak makes the top-2 deterministic in both
    engines."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__lat_orders")
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM __lat_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM __lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
    """)


@register(
    "agg_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
               AS statuses,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — SQL:2016 LISTAGG ... WITHIN GROUP
    (Spark 4 native `listagg`), the reporting/labeling op that turns a
    group's values into one delimited string.  DISTINCT + explicit
    ORDER BY make the result deterministic under any partitioning
    (an unordered listagg would be partition-order-dependent and
    could never hash-match an oracle — same doctrine as dsum)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(DISTINCT o_orderstatus, '|') "
            "WITHIN GROUP (ORDER BY o_orderstatus)").alias("statuses"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custkeys
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through Spark 4's bitmap aggregates —
    the at-scale alternative to COUNT(DISTINCT) for integer keys.
    Each key maps to (bucket = key >> 15, bit = key & 32767); partial
    aggregation ORs fixed-4KB bitmaps map-side, so the shuffle
    carries |groups| x |touched buckets| rows of <=4 KB instead of
    one row per distinct (group, key) pair, and the second (tiny)
    agg sums per-bucket popcounts.  Unlike COUNT(DISTINCT) the first
    pass never widens with multi-distinct Expand (memory:
    spark-perf-pitfalls), and unlike approx_count_distinct the answer
    is exact — same result, hash-checked against DuckDB's
    COUNT(DISTINCT)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_orderpriority",
            F.bitmap_bucket_number(F.col("o_custkey")).alias("__bkt"))
        .agg(F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("o_custkey"))).alias("__bm"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.bitmap_count("__bm")).alias("n_custkeys"))
    )


@register(
    "window_cume_dist",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           cume_dist() OVER
                 (PARTITION BY c_nationkey ORDER BY c_acctbal)
               AS cume_dist,
           percent_rank() OVER
                 (PARTITION BY c_nationkey ORDER BY c_acctbal)
               AS pct_rank
    FROM customer
    """,
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — cume_dist / percent_rank per
    nation over account balance (the remaining ANSI window family
    after rank/ntile/frames).  Both are rank-over-count ratios, so
    ties get identical values on any engine.  Deliberately RAW
    doubles, no ROUND: k/n of small ints is one IEEE division —
    bitwise identical on both engines — while ROUND(.,6) breaks on
    exactly-representable halves (41/640 = 0.0640625 rounds half-up
    on Spark, half-even on DuckDB — caught by the sf0.1 sweep; the
    rounding doctrine is for DERIVED irrational floats, not exact
    ratios).  One keyed exchange + in-partition sort — same plan
    family as window_rank."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal")
    return c.select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.cume_dist().over(w).alias("cume_dist"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


@register(
    "agg_median_mode",
    oracle="""
    WITH med AS (
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 6) AS median_price
      FROM orders GROUP BY o_orderstatus),
    cnt AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority),
    md AS (
      SELECT o_orderstatus, o_orderpriority AS mode_priority
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                         ORDER BY n DESC, o_orderpriority)
                      AS rn
            FROM cnt)
      WHERE rn = 1)
    SELECT med.o_orderstatus, med.median_price, md.mode_priority
    FROM med JOIN md USING (o_orderstatus)
    """,
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated, Spark percentile == DuckDB
    quantile_cont) and deterministic mode (max count, smallest-value
    tiebreak) per order status, FUSED into one aggregate — the
    round-6 form ran median and mode as two branches off the same
    scan, which executed as two full scans (exchange-reuse failure,
    BASELINE.md r6).  Spark's mode(deterministic=True) breaks
    frequency ties by returning the smallest value, exactly the
    oracle's (n DESC, priority ASC) ROW_NUMBER pick; its partial
    buffer is a count-map over the bounded 5-value priority
    vocabulary, so the fact shuffles once as map-side partials."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile(F.col("o_totalprice"), F.lit(0.5)), 6)
        .alias("median_price"),
        F.mode(F.col("o_orderpriority"), deterministic=True)
        .alias("mode_priority"),
    )


@register(
    "events_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    r AS (
      SELECT user_id, d,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM days)
    SELECT user_id,
           MIN(d) AS island_start,
           MAX(d) AS island_end,
           COUNT(*) AS n_days
    FROM r
    GROUP BY user_id, d - CAST(rn AS INTEGER)
    """,
)
def events_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive ACTIVE DAYS per
    user (the activity-streak primitive).  The classic date-minus-
    row_number trick turns each run into a constant grouping key, so
    the whole thing is one user_id shuffle (distinct + window + agg
    all reuse it) — no self-join, no iteration."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    runs = days.withColumn("rn", F.row_number().over(w)).withColumn(
        "anchor", F.date_sub(F.col("d"), F.col("rn"))
    )
    return (
        runs.groupBy("user_id", "anchor")
        .agg(
            F.min("d").alias("island_start"),
            F.max("d").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("anchor")
    )


def _pagerank_oracle(iters: int = 3) -> str:
    body = """
    WITH e0 AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
        SELECT c AS src, s + 1000000 AS dst FROM e0
        UNION ALL
        SELECT s + 1000000 AS src, c AS dst FROM e0),
    deg AS (
        SELECT src, count(*) AS outdeg
        FROM edges GROUP BY src),
    c0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rs, outdeg
           FROM deg)"""
    for i in range(iters):
        body += f""",
    r{i + 1} AS (
        SELECT e.dst AS node,
               150000 + (85 * SUM(c.rs // c.outdeg)) // 100 AS rs
        FROM edges e JOIN c{i} c ON e.src = c.node
        GROUP BY e.dst),
    c{i + 1} AS (
        SELECT r.node, r.rs, d.outdeg
        FROM r{i + 1} r JOIN deg d ON d.src = r.node)"""
    return body + f"""
    SELECT node, round(CAST(rs AS DOUBLE) / 1e6, 6) AS pagerank
    FROM c{iters}
    """


@register("graph_pagerank", oracle=None)  # placeholder, set below
def graph_pagerank(
    spark: SparkSession, sf_dir: str, mode: str = "broadcast"
) -> DataFrame:
    """PageRank (3 unrolled power iterations, damping 0.85) over the
    bipartite customer<->supplier trade graph derived from
    orders x lineitem — the iterative-algorithm shape (like
    connected_components) but with fractional state, made
    oracle-checkable by quantizing the rank to a scaled BIGINT
    (micro-ranks, 1e6): per-edge contribution is integer division
    `rs div outdeg`, the per-node sum is an exact BIGINT sum, and the
    damping step is `150000 + (85*S) div 100` — every op associative
    integer arithmetic, so the ranks are bit-identical on any
    partitioning and in DuckDB's unrolled-CTE replica (doubles only
    appear in the final `/1e6` display cast, a single IEEE op).

    Scale shape: the edge list is materialized ONCE (localCheckpoint
    — iterative algorithms must cut lineage or every iteration
    re-derives the base join; same doctrine as connected_components),
    then each iteration is a broadcast of the node-state onto the
    stationary edges (no edge shuffle), one map-side-combined agg on
    dst, and a broadcast re-attach of out-degrees.  Broadcasting the
    state is right while node-count << edge-count (here 16k nodes vs
    115k edges; true of most entity graphs); at billions of nodes
    swap to a src-co-partitioned shuffle join — the edges' stable
    partitioning is already in place for that.  The driver never sees
    data; iteration count is a constant, not data-dependent.

    ``mode="shuffle"`` IS that billions-of-nodes swap, runnable today:
    the state joins ride src-co-partitioned shuffle-hash joins (the
    checkpointed edges keep their hash partitioning, so only the
    small state side exchanges) instead of broadcasting the node
    state.  Integer arithmetic makes the two modes bit-identical on
    any partitioning — equivalence-tested in tests/test_plans.py."""
    OFF = 1000000
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # outdeg is STAMPED onto the edge list by a count window sharing
    # the ONE src exchange the edges need anyway (round 10, guide
    # §2.4: the previous form re-aggregated deg from the checkpointed
    # edges FOUR times — init state + one re-attach join per
    # iteration — so every iteration paid an extra agg exchange plus
    # a broadcast build just to recover a static column.  With outdeg
    # riding the edges, an iteration is ONE state join + ONE agg, and
    # iteration 1 needs no join at all since the initial rank is a
    # constant.  13 Exchange -> 5 counting BOTH flavors (after = 3
    # shuffle Exchange + 2 BroadcastExchange; the test_plans gate
    # budgets the shuffle flavor only, <= 4), 15 jobs/23 stages ->
    # 10/16 at sf0.1; per-key bench 3.24 -> 2.19 s min-of-3, values
    # bit-identical — oracle hash-checked at sf0.01 AND sf0.1.)
    edges = (
        e0.select(F.col("c").alias("src"), (F.col("s") + OFF).alias("dst"))
        .unionByName(
            e0.select((F.col("s") + OFF).alias("src"),
                      F.col("c").alias("dst")))
        .withColumn("outdeg", F.count(F.lit(1)).over(W.partitionBy("src")))
        .transform(lineage_cut())
    )
    if mode == "broadcast":
        attach = F.broadcast
    elif mode == "shuffle":
        # shuffle-hash (not SMJ): edges are already hash-partitioned
        # on src (the window's exchange, preserved by the checkpoint),
        # so only the state side exchanges and no sort is paid
        def attach(df):
            return df.hint("shuffle_hash")
    else:
        raise ValueError(f"unknown pagerank mode: {mode!r}")
    ranks = None
    for i in range(3):
        if i == 0:
            # every node starts at rs = 1e6: the first contribution is
            # a row-local constant expression, no state join needed
            contrib = edges.select(
                "dst", F.expr("1000000 div outdeg").alias("w"))
        else:
            contrib = edges.join(
                attach(ranks), edges.src == ranks.node
            ).select("dst", F.expr("rs div outdeg").alias("w"))
        ranks = contrib.groupBy("dst").agg(
            (F.lit(150000) + F.expr("85 * sum(w) div 100"))
            .cast("long")
            .alias("rs")
        ).select(F.col("dst").alias("node"), "rs")
    return ranks.select(
        "node",
        F.round(F.col("rs").cast("double") / F.lit(1e6), 6).alias("pagerank"),
    )


REGISTRY["graph_pagerank"].oracle = _pagerank_oracle()

# Hub-part safety valve for the jaccard pair generator: far above any
# TPC-H-like supplier count (52/part at sf0.1, ~linear-log growth), so
# fixtures see exact results; a degenerate hub is truncated to the
# first cap ids (sorted), bounding per-block pairs at cap^2/2.
_JACCARD_BLOCK_CAP = 1024


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    deg AS (SELECT s, COUNT(*) AS d FROM ps GROUP BY s),
    -- mirror of cap_block_rows(_JACCARD_BLOCK_CAP): first {_JACCARD_BLOCK_CAP}
    -- suppliers (sorted) per part feed PAIR GENERATION; degrees stay
    -- uncapped, matching the Spark window-before-cap order
    psc AS (
        SELECT p, s FROM (
            SELECT p, s,
                   row_number() OVER (PARTITION BY p ORDER BY s) AS rn
            FROM ps)
        WHERE rn <= {_JACCARD_BLOCK_CAP}),
    com AS (
        SELECT a.s AS s_a, b.s AS s_b, COUNT(*) AS n_common
        FROM psc a JOIN psc b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s)
    SELECT s_a, s_b, n_common,
           CAST(n_common AS DOUBLE)
               / (da.d + db.d - n_common) AS jaccard
    FROM com
    JOIN deg da ON da.s = s_a
    JOIN deg db ON db.s = s_b
    ORDER BY jaccard DESC, s_a, s_b LIMIT 100
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction on the part<->supplier
    bipartite graph: for every supplier pair sharing at least one
    part, |parts_a INTERSECT parts_b| / |parts_a UNION parts_b|,
    top-100 — the co-occurrence-mining shape (also: related-items,
    you-may-also-like, entity resolution blocking stats).

    Scale shape: candidate pairs are generated by a self-join blocked
    on the shared PART — block size is a part's supplier count
    (bounded, ~4 in TPC-H-like data), so pair generation is
    sum-over-parts of deg^2 with a small deg, globally linear — NOT
    a supplier-side self-join (supplier part-lists are large and
    unbounded).  A hub part (thousands of suppliers) would make
    deg^2 blow up, so the edge list is capped at _JACCARD_BLOCK_CAP
    suppliers per part via skew.cap_block_rows — the same contract
    as minhash_lsh_pairs' max_bucket_size, and free when no part
    exceeds the cap (the fixtures: max 52 at sf0.1, 59 at sf1).

    Degrees attach on the EDGE list via a per-supplier count window
    BEFORE pair generation, so they ride the self-join and the pair
    table — by far the biggest intermediate (sum of deg^2/2, ~87M
    rows at sf1) — never reshuffles to pick them up.  This replaced
    both earlier forms in round 5: the forced degree broadcast (a
    node-scaled table in executor memory — the 100-TB risk) and the
    hint-free AQE join (which reshuffled the pair table twice:
    24.2 s vs 13.3 s at sf1).  The extra window exchange is the
    narrow 2-column edge list — the cheap side of the trade at any
    scale.  The Jaccard is a single integer division, bit-identical
    on both engines with no rounding."""
    com = _jaccard_exact_pairs(spark, sf_dir)
    return (
        com.select(
            "s_a", "s_b", "n_common",
            (F.col("n_common").cast("double")
             / (F.col("d_a") + F.col("d_b") - F.col("n_common")))
            .alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s_a", "s_b")
        .limit(100)
    )


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-stamped distinct (p, s, d) edge list of the
    part<->supplier graph, checkpointed ONCE — it feeds the cap
    guard's narrow projection and both self-join sides, so neither
    the distinct nor the degree count recomputes per consumer (same
    lineage-cut doctrine as graph_pagerank's edges, measured -0.3 s
    at sf0.1).  graph_jaccard_minhash_recall passes this one frame to
    BOTH its exact and minhash subtrees (round 11): before that, each
    re-scanned lineitem and re-ran the distinct independently."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct().withColumn(
        "d", F.count(F.lit(1)).over(W.partitionBy("s"))
    ).transform(lineage_cut())


def _jaccard_exact_pairs(
    spark: SparkSession, sf_dir: str, ps_d: DataFrame | None = None
) -> DataFrame:
    """The exact co-occurrence pair table behind graph_jaccard_neighbors
    — (s_a, s_b, n_common, d_a, d_b) for every supplier pair sharing at
    least one part.  Shared with graph_jaccard_minhash_recall so the
    audit measures THE registered exact key's pair table, not a
    re-derivation that could drift.  ``ps_d`` lets the recall audit
    supply the already-checkpointed edge frame shared with the minhash
    subtree."""
    from wrds2pg_spark.operators.skew import cap_block_rows

    if ps_d is None:
        ps_d = _jaccard_edges(spark, sf_dir)
    capped = cap_block_rows(ps_d, "p", "s", _JACCARD_BLOCK_CAP)
    a = capped.alias("a")
    # shuffle-hash, not sort-merge: the join output feeds a hash
    # aggregate, so SMJ's per-partition sorts are pure overhead
    # (measured 2.9 s -> 2.1 s at sf0.1); the build side is one
    # partition's share of the edge list, and AQE still falls back
    # to SMJ if a partition outgrows memory at scale.
    b = capped.alias("b").hint("shuffle_hash")
    # round 6 (r5 verdict item 6): the ~87M-row pair aggregate groups
    # on ONE packed long (s_a<<32 | s_b) instead of the 4-column
    # (s_a, s_b, d_a, d_b) key — degrees are functionally dependent
    # on the suppliers, so they ride as first() buffers and unpack
    # after.  Same rows, same exchange COUNT, but the hash-agg
    # compares/serializes 8 key bytes instead of 32: measured 2.0x
    # same-session at sf1 (32.2 -> 15.8 s contended box; the r5
    # registered form read 13.3 s idle).  Re-attaching degrees from a
    # post-agg supplier join instead measured 3.5x WORSE (55 s) — it
    # reshuffles the aggregated pair table twice; negative recorded.
    com = (
        a.join(b, (F.col("a.p") == F.col("b.p"))
               & (F.col("a.s") < F.col("b.s")))
        .groupBy(
            (F.shiftleft(F.col("a.s"), 32) + F.col("b.s")).alias("pk"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("a.d").alias("d_a"),
            F.first("b.d").alias("d_b"),
        )
        .select(
            F.shiftright("pk", 32).alias("s_a"),
            (F.col("pk") - F.shiftleft(F.shiftright("pk", 32), 32))
            .alias("s_b"),
            "n_common", "d_a", "d_b",
        )
    )
    return com


# MinHash signature width for the approximate neighborhood-Jaccard
# twin: 12 non-overlapping 8-hex slices of one 96-hex per-part digest
# (the same portable md5 family as operators/dedup.py
# portable_bucket_keys, applied to neighbor SETS instead of shingle
# sets).  12 slots at r=1 banding: a pair becomes a candidate iff the
# signatures agree on >= 1 slot, and the estimate is agreement/12.
_GJMH_HASHES = 12


def _jaccard_minhash_posting(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """(slot, min-hash value, supplier) posting list over the
    part<->supplier graph — the signature stage of the approximate
    Jaccard twin.

    Each PART hashes once: a 12-slot slice table of its 96-hex digest
    (md5(p) || md5('a'||p) || md5('b'||p), the portable family of
    operators/dedup.py:297 — hex slices of md5 are independent
    uniform hashes, lexicographic-ordered the same in every engine)
    is built at the distinct-part grain and attached to the edges by
    a broadcast join; hash function k of a supplier's neighbor set is
    then a plain column min over its edges, map-side combined, so the
    one shuffle carries |suppliers| x 12 x 8-byte partials.  Part
    grain beats edge grain twice over: each part's 3 md5 calls are
    paid once instead of once per edge (~4x fewer at TPC-H degrees),
    and the hot edge-side agg stage stays a tight plain-column
    codegen loop — computing digest+12 substr inline in that stage
    measured 3.4-4.7 s vs 1.3 s for this shape at sf0.1 (round 9
    A/B).  The part signature table SCALES WITH THE CORPUS, so the
    attach is a shuffle-HASH join co-partitioned on p — never a
    forced broadcast (the no-forced-broadcast-of-scaling-frames
    gate, tests/test_plans.py) and never SMJ (the join feeds a hash
    agg, sorts are pure overhead): both sides exchange narrow
    columns only, and the A/B reads 2.1 s vs 13.3 s SMJ at sf1 —
    the sf0.1->sf1 wall is FLAT (2.0 -> 2.1 s) because the added
    work rides fully parallel narrow exchanges.

    Bucket key for candidate generation is (slot, value): a bucket is
    the set of suppliers whose slot-k minimum equals v, which is a
    subset of the suppliers containing the min-achieving part — so
    bucket size is bounded by part degree, and the same
    _JACCARD_BLOCK_CAP valve as the exact key (oracle-modelable
    row_number cap) guards the degenerate hub-part case."""
    from wrds2pg_spark.operators.skew import cap_block_rows

    if edges is not None:
        # recall audit: read the shared checkpointed (p, s, d) edge
        # frame instead of re-scanning lineitem + re-running the
        # distinct (round 11 — one corpus scan for both subtrees)
        ps = edges.select("p", "s")
    else:
        li = load_table(spark, sf_dir, "lineitem")
        ps = li.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        ).distinct()
    pstr = F.col("p").cast("string")
    digest = F.concat(
        F.md5(pstr),
        F.md5(F.concat(F.lit("a"), pstr)),
        F.md5(F.concat(F.lit("b"), pstr)),
    )
    parts = ps.select("p").distinct().select("p", *[
        digest.substr(8 * k + 1, 8).alias(f"x{k}")
        for k in range(_GJMH_HASHES)
    ])
    sig = ps.join(parts.hint("shuffle_hash"), "p").groupBy("s").agg(*[
        F.min(f"x{k}").alias(f"h{k}") for k in range(_GJMH_HASHES)
    ])
    # posting consumed by BOTH sides of the candidate self-join (and
    # twice more inside the cap valve's narrow probe): checkpoint the
    # tiny 3-column list once — same lineage-cut doctrine as the exact
    # key's ps_d
    posting = sig.select(
        "s",
        F.posexplode(F.array(*[
            F.col(f"h{k}") for k in range(_GJMH_HASHES)
        ])).alias("k", "v"),
    ).transform(lineage_cut(eager=False))
    # (round 10 negative, recorded: checkpointing the CAPPED posting
    # too — so the candidate self-join's two sides share one
    # materialization instead of duplicating the hub-cap aggregate —
    # measured a wash in an interleaved same-session A/B at sf0.1
    # (min 2.22 no-ckpt vs 2.30 ckpt over 5 rounds): the duplicated
    # subtree is the narrow (s,k,v) list and its cheap hub agg, and
    # the saved duplicate exactly pays for the extra materialization
    # job.  Left un-checkpointed.)
    return cap_block_rows(
        posting,
        F.concat_ws("|", F.col("k").cast("string"), F.col("v")),
        "s",
        _JACCARD_BLOCK_CAP,
    )


def _jaccard_minhash_candidates(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """(s_a, s_b, n_match) for every supplier pair agreeing on at
    least one signature slot.  A pair lands once per agreeing slot
    in the (slot, value) bucket join, so COUNT(*) IS the signature
    agreement count — no second pass over the signatures."""
    post = _jaccard_minhash_posting(spark, sf_dir, edges=edges)
    a = post.alias("a")
    # shuffle-hash like the exact key: output feeds a hash aggregate,
    # SMJ's sorts are pure overhead; buckets are part-degree-bounded
    b = post.alias("b").hint("shuffle_hash")
    return (
        a.join(b, (F.col("a.k") == F.col("b.k"))
               & (F.col("a.v") == F.col("b.v"))
               & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_match"))
    )


def _gjmh_cand_sql() -> str:
    """The DuckDB CTE chain ending in cand(s_a, s_b, n_match) —
    shared by the minhash key and its recall audit."""
    n = _GJMH_HASHES
    slices = ", ".join(
        f"min(substr(d, {8 * k + 1}, 8)) AS h{k}" for k in range(n))
    posts = " UNION ALL ".join(
        f"SELECT s, {k} AS k, h{k} AS v FROM gsig" for k in range(n))
    return f"""
    gps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ged AS (SELECT s,
                   md5(CAST(p AS VARCHAR))
                   || md5('a' || CAST(p AS VARCHAR))
                   || md5('b' || CAST(p AS VARCHAR)) AS d
            FROM gps),
    gsig AS (SELECT s, {slices} FROM ged GROUP BY s),
    gpost0 AS ({posts}),
    gpost AS (SELECT s, k, v FROM (
        SELECT s, k, v,
               row_number() OVER (PARTITION BY k, v ORDER BY s) AS rn
        FROM gpost0)
        WHERE rn <= {_JACCARD_BLOCK_CAP}),
    cand AS (
        SELECT a.s AS s_a, b.s AS s_b, CAST(COUNT(*) AS BIGINT) AS n_match
        FROM gpost a
        JOIN gpost b ON a.k = b.k AND a.v = b.v AND a.s < b.s
        GROUP BY a.s, b.s)
    """


@register(
    "graph_jaccard_minhash",
    oracle=f"""
    WITH {_gjmh_cand_sql()}
    SELECT s_a, s_b, n_match,
           ROUND(CAST(n_match AS DOUBLE) / {_GJMH_HASHES}, 6) AS est_jaccard
    FROM cand
    ORDER BY n_match DESC, s_a, s_b LIMIT 100
    """,
)
def graph_jaccard_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighborhood-Jaccard link prediction — the SCALE
    twin of graph_jaccard_neighbors (r8 verdict item 1).  The exact
    key's candidate generator materializes every co-occurring pair
    with counts (sum-over-parts of deg^2: ~87M rows x 24 B through
    one exchange at sf1 — its 100-TB cost is the pair table itself).
    This twin never builds that table: each supplier's part
    neighborhood folds to a 12-slot MinHash signature (one narrow
    map-side-combined pass over the edges), candidates are pairs
    agreeing on >= 1 slot (bucket join on (slot, value), buckets
    bounded by part degree + the cap valve), and Jaccard is estimated
    as agreement/12 — standard one-permutation-per-slot MinHash
    (Broder 1997), E[agreement/12] = J.  Pair volume drops from
    "every co-occurring pair" to "pairs a 12-hash LSH would surface"
    — for low-similarity corpora (the 100-TB norm) orders of
    magnitude fewer, and the expensive exact path survives only as
    the quality audit (graph_jaccard_minhash_recall).

    The md5-slice family is bit-identical in DuckDB, so unlike most
    sketches the WHOLE approximate result — candidates, agreement
    counts, estimates — is value-hash-checked against the oracle."""
    cand = _jaccard_minhash_candidates(spark, sf_dir)
    return (
        cand.select(
            "s_a", "s_b", "n_match",
            F.round(
                F.col("n_match").cast("double") / _GJMH_HASHES, 6
            ).alias("est_jaccard"),
        )
        .orderBy(F.desc("n_match"), "s_a", "s_b")
        .limit(100)
    )


@register(
    "graph_jaccard_minhash_recall",
    oracle=f"""
    WITH gdeg AS (
        SELECT s, COUNT(*) AS d
        FROM (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)
        GROUP BY s),
    gpsc AS (
        SELECT p, s FROM (
            SELECT l_partkey AS p, l_suppkey AS s,
                   row_number() OVER (PARTITION BY l_partkey
                                      ORDER BY l_suppkey) AS rn
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
        WHERE rn <= {_JACCARD_BLOCK_CAP}),
    gcom AS (
        SELECT a.s AS s_a, b.s AS s_b, COUNT(*) AS n_common
        FROM gpsc a JOIN gpsc b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s),
    gexact AS (
        SELECT s_a, s_b, n_common, da.d + db.d - n_common AS u
        FROM gcom
        JOIN gdeg da ON da.s = s_a
        JOIN gdeg db ON db.s = s_b
        ORDER BY CAST(n_common AS DOUBLE)
                     / (da.d + db.d - n_common) DESC, s_a, s_b
        LIMIT 100),
    {_gjmh_cand_sql()},
    gov AS (
        SELECT e.n_common, e.u, c.n_match
        FROM gexact e JOIN cand c USING (s_a, s_b)),
    gst AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap,
               CAST(COALESCE(SUM(ABS({_GJMH_HASHES} * n_common
                                     - n_match * u)), 0) AS BIGINT)
                   AS err_num,
               CAST(COALESCE(SUM({_GJMH_HASHES} * u), 0) AS BIGINT)
                   AS err_den
        FROM gov)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gexact) AS n_exact,
           n_overlap,
           CAST(n_overlap AS DOUBLE)
               / (SELECT COUNT(*) FROM gexact) AS recall_at_100,
           CASE WHEN err_den > 0
                THEN CAST(err_num AS DOUBLE) / err_den
                ELSE CAST(0.0 AS DOUBLE) END AS wtd_abs_err
    FROM gst
    """,
)
def graph_jaccard_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit of the MinHash Jaccard twin against the exact
    key (the similarity_ivf_recall_at_k contract): recall@100 — how
    many of the exact top-100 pairs the 12-hash LSH surfaces as
    candidates — plus the estimation error over the overlap.

    The error stays in EXACT integer arithmetic until one final
    division: per pair, |est - exact| = |12*n_common - n_match*u| /
    (12*u) with u = d_a + d_b - n_common, so the audit sums the
    bigint numerators and common-denominator weights separately and
    emits wtd_abs_err = SUM|12n - mu| / SUM(12u) — the
    denominator-weighted mean absolute estimation error, one IEEE
    division on two exact integers, hash-identical in both engines
    (no float accumulation order to drift).

    Measured (round 9): recall@100 = 0.84 at sf0.01, 0.26 at sf0.1,
    0.32 at sf1, wtd_abs_err 0.06-0.09 throughout.  Recall tracks
    1-(1-J)^12, so it falls exactly where the exact top-100's J
    values fall (~0.02-0.04 at sf0.1's near-random co-purchase
    graph) — the quantified trade a 12-hash LSH makes, which is the
    point of keeping the exact key as the audit.  The knob is
    signature width; the 96-hex family caps at 12 8-hex slots, and a
    4th md5 (16 slots) buys ~8 points of recall at +33% hash cost —
    recorded, not taken."""
    # ONE distinct edge build for the whole audit (round 11): the
    # exact pair table and the minhash posting both start from the
    # same (p, s) distinct — before this they each re-scanned
    # lineitem and re-ran the distinct (the posting a second time
    # for its part-digest table).  The shared checkpoint costs the
    # degree window the posting side doesn't need, but that window
    # rides the exact side's build either way.
    ps_d = _jaccard_edges(spark, sf_dir)
    exact = (
        _jaccard_exact_pairs(spark, sf_dir, ps_d=ps_d)
        .select(
            "s_a", "s_b", "n_common",
            (F.col("d_a") + F.col("d_b") - F.col("n_common")).alias("u"),
            (F.col("n_common").cast("double")
             / (F.col("d_a") + F.col("d_b") - F.col("n_common")))
            .alias("__j"),
        )
        .orderBy(F.desc("__j"), "s_a", "s_b")
        .limit(100)
        .drop("__j")
        # consumed twice (scalar count + overlap join): pin the 100
        # rows so the deg^2 pair aggregate runs once
        .transform(lineage_cut())
    )
    cand = _jaccard_minhash_candidates(spark, sf_dir, edges=ps_d)
    ov = exact.join(cand, ["s_a", "s_b"])
    stats = ov.agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.coalesce(
            F.sum(F.abs(F.lit(_GJMH_HASHES) * F.col("n_common")
                        - F.col("n_match") * F.col("u"))),
            F.lit(0),
        ).cast("long").alias("err_num"),
        F.coalesce(
            F.sum(F.lit(_GJMH_HASHES) * F.col("u")), F.lit(0)
        ).cast("long").alias("err_den"),
    )
    nex = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return stats.crossJoin(F.broadcast(nex)).select(
        "n_exact",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.col("n_exact"))
        .alias("recall_at_100"),
        F.when(
            F.col("err_den") > 0,
            F.col("err_num").cast("double") / F.col("err_den"),
        ).otherwise(F.lit(0.0)).alias("wtd_abs_err"),
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH ps AS (
        SELECT p, s FROM (
            SELECT l_partkey AS p, l_suppkey AS s,
                   row_number() OVER (PARTITION BY l_partkey
                                      ORDER BY l_suppkey) AS rn
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
        WHERE rn <= {_JACCARD_BLOCK_CAP}),
    pairs AS (
        SELECT a.s AS u, b.s AS v, COUNT(*) AS n_common
        FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s),
    directed AS (
        SELECT u AS src, v AS dst, n_common FROM pairs
        UNION ALL
        SELECT v, u, n_common FROM pairs),
    knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY n_common DESC, dst) AS rn
            FROM directed)
        WHERE rn <= 4),
    e AS (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM knn),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    pern AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        GROUP BY node)
    SELECT node, n_triangles FROM pern
    ORDER BY n_triangles DESC, node LIMIT 20
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (top-20) on the k-nearest-neighbor
    co-purchase supplier graph — the clustering-coefficient /
    community-density primitive.  Nodes are suppliers; pair strength
    is shared-part count (the same blocked-by-part pair generation as
    graph_jaccard_neighbors, so pair building is sum-over-parts of
    deg^2, never a supplier self-join); each node keeps its 4
    STRONGEST partners (deterministic tiebreak) and an undirected
    edge survives if EITHER endpoint kept it — the standard kNN-graph
    sparsification.  Top-k-per-node is the scale-free rule an
    absolute threshold can't be: the fixture's co-purchase graph is
    COMPLETE at every SF (mean shared-parts ~17 at sf0.1, so
    HAVING >= t either keeps all C(n,2) pairs or none — the first
    registered form measured 26 s Spark / 65 s DuckDB counting
    C(1000,3) clique triangles), while kNN bounds degree and hence
    triangles at any corpus size.

    Triangle enumeration is the textbook ordered-edge join: edges
    stored once with u < v, a path join on the middle vertex
    (e1.v == e2.u gives a < b < c for free), then a join against the
    closing edge (a, c).  The edge list — used by all THREE join
    legs — is materialized once (lazy localCheckpoint): under the AQE
    exchange-reuse failure an un-materialized edge subtree would
    re-run the blocked pair aggregate per leg (BASELINE.md r6).  The
    per-node top-k rides ONE window over the doubled pair list
    (Spark's WindowGroupLimit keeps k rows per key per partition
    pre-shuffle); per-node counts are an explode + map-side-combined
    agg, and the top-20 compiles to TakeOrderedAndProject."""
    from wrds2pg_spark.operators.skew import cap_block_rows

    li = load_table(spark, sf_dir, "lineitem")
    # checkpoint the distinct edge list BEFORE the cap valve (round
    # 11, mirroring _jaccard_edges): un-checkpointed it evaluated
    # three times — the valve's narrow hub probe plus BOTH sides of
    # the pair self-join — so the lineitem scan + distinct exchange
    # ran 3x per query (scan_audit flagged lineitem x3)
    ps_d = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct().transform(lineage_cut())
    capped = cap_block_rows(ps_d, "p", "s", _JACCARD_BLOCK_CAP)
    a = capped.alias("a")
    b = capped.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p"))
               & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    directed = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "n_common"
    ).unionAll(pairs.select(
        F.col("v").alias("src"), F.col("u").alias("dst"), "n_common"))
    wk = W.partitionBy("src").orderBy(F.desc("n_common"), "dst")
    edges = (
        directed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= 4)
        .select(F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"))
        .distinct()
        .transform(lineage_cut(eager=False))
    )
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        edges.join(e2, F.col("v") == F.col("b2"))
        .join(e3, (F.col("u") == F.col("a3"))
              & (F.col("c2") == F.col("c3")))
        .select(F.col("u").alias("a"), F.col("v").alias("b"),
                F.col("c2").alias("c"))
    )
    pern = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        pern.orderBy(F.desc("n_triangles"), "node").limit(20)
        .select("node", "n_triangles")
    )


@register(
    "events_threshold_crossings",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, ts, value,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_value
        FROM events)
    SELECT user_id, event_id, ts, value, prev_value
    FROM seq
    WHERE value >= 8.0 AND prev_value < 8.0
    """,
)
def events_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upward threshold-crossing detection (the alerting primitive:
    fire once when a per-user metric first exceeds the limit, not on
    every high sample).  One user_id shuffle carries the lag window;
    the crossing filter is row-local above it.  The same shape runs
    unchanged as a stream with applyInPandasWithState holding
    prev_value per key."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_id", "ts", "value",
        F.lag("value").over(w).alias("prev_value"),
    )
    return seq.filter(
        (F.col("value") >= 8.0) & (F.col("prev_value") < 8.0))


@register(
    "sql_q6_direct",
    oracle=f"""
    SELECT {DSUM_SQL('l_extendedprice * l_discount', 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
)
def sql_q6_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() entry path: identical semantics to
    tpch_q6_shape but declared as an ANSI SQL string over a temp view
    — proving the SQL front door produces the same plan (and hash) as
    the DataFrame API.  Catalyst compiles both to the same pushed-down
    scan-agg."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "sql_q6_lineitem"
    )
    return spark.sql("""
        SELECT CAST(SUM(CAST(round((l_extendedprice * l_discount)
                                   * 10000.0, 0) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS revenue
        FROM sql_q6_lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.05
          AND l_quantity < 24
    """)


@register(
    "sql_pipe_syntax",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           {DSUM_SQL('l_extendedprice * (1 - l_discount)', 4)} AS revenue
    FROM lineitem
    WHERE l_quantity < 24
    GROUP BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (new in Spark 4) — the same filtered revenue
    aggregate as the classic form, declared as a linear `|>` operator
    chain (FROM |> WHERE |> EXTEND |> AGGREGATE ... GROUP BY).  Pipe
    SQL is sugar over the same Catalyst logical plan: the WHERE stage
    still reaches the scan as a pushed filter and the AGGREGATE stage
    still plans map-side partials — proving the third front door
    (DataFrame, ANSI SQL, pipe SQL) hits the identical engine.  The
    oracle is the classic-SQL spelling of the same query."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "sql_pipe_lineitem"
    )
    return spark.sql("""
        FROM sql_pipe_lineitem
        |> WHERE l_quantity < 24
        |> EXTEND CAST(round((l_extendedprice * (1 - l_discount))
                             * 10000.0, 0) AS BIGINT) AS rev4
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_lines,
                     CAST(SUM(rev4) AS DOUBLE) / 10000.0 AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_lines, revenue
    """)


_RECURSIVE_WALK_SQL = """
    WITH RECURSIVE
    walk(node, hop) AS (
      SELECT src, 0 FROM {edges}
      WHERE src < 1000000 AND src % 199 = 0
      GROUP BY src
      UNION ALL
      SELECT DISTINCT e.dst, w.hop + 1
      FROM walk w JOIN {edges} e ON e.src = w.node
      WHERE w.hop < 2)
    SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hops,
           COUNT(*) AS n_visits
    FROM walk GROUP BY node
"""

_RECURSIVE_ORACLE_SQL = """
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT CAST(c AS BIGINT) AS src, s + 1000000 AS dst FROM e0
      UNION ALL
      SELECT s + 1000000 AS src, CAST(c AS BIGINT) AS dst FROM e0),
""" + _RECURSIVE_WALK_SQL.format(edges="edges").replace(
    "WITH RECURSIVE\n    walk", "    walk", 1)


@register("sql_recursive_cte", oracle=_RECURSIVE_ORACLE_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4) — 2-hop BFS reachability from a
    seed customer set over the bipartite customer<->supplier trade
    graph, with min-hop distance folded in the final aggregate.  The
    iterative-SQL primitive graph_pagerank/connected_components
    hand-roll as unrolled DataFrame loops, here declared once and
    executed by Catalyst's recursion operator (each level a
    distributed frontier-edges join; SELECT DISTINCT dedups the
    frontier per level — semi-naive's visited-set subtraction isn't
    expressible until UNION-distinct recursion lands, so revisits
    surface honestly in n_visits).  The recursion is DEPTH-bounded
    (hop < 2), never count-bounded: termination is structural and
    the per-level work is one keyed join that scales with the
    frontier, not the corpus.

    The edge list is materialized ONCE (localCheckpoint) before the
    recursion and exposed as a view — the same cut-the-lineage
    doctrine as graph_pagerank: Spark's recursion operator re-expands
    non-recursive CTE references EVERY level, so an inline
    edges-from-facts CTE re-ran the 6M-row derivation join per hop
    (measured 22.3 s at sf1; materialized: 5.6 s).  DuckDB
    materializes CTEs once by design, so the oracle keeps the inline
    form — the recursive fragment itself is the SAME shared SQL
    string on both engines.

    Round 9 (the last frontier lever, r8 verdict item 5): the
    recursion runs in a CHILD SparkSession whose
    spark.sql.shuffle.partitions tracks the NODE count instead of
    the session default.  The recursion operator executes each level
    as its own non-adaptive job — AQE never coalesces the per-level
    distinct/join exchanges the way it does for ordinary plans — so
    at the session's 32 partitions the 3-level loop paid ~75
    near-empty task quanta on a frontier that is at most |nodes|
    rows.  Sizing the child's exchanges to the frontier
    (clamp(nodes/4096, 8, 2048), node count from parquet footers —
    the _parquet_footer_rows plan-switch doctrine, no Spark job)
    reads 1.98 vs 2.14 s at sf0.1 in an interleaved same-session
    A/B — marginal at a 32-partition fixture default, but the lever
    is aimed at production defaults: a 2000-partition session would
    otherwise pay 3 levels x thousands of near-empty tasks on a
    frontier of a few thousand rows.  The 2048 ceiling keeps a
    10^10-node frontier distributable; the floor keeps every core
    busy at fixture scale.  With this taken, the remaining sf0.1
    wall is the recursion operator's per-level job floor (~25 jobs
    / 75 stages for 3 levels) — declared exhausted in BASELINE.md
    r9 next to the r8 half-size-checkpoint negative.  A child
    session is the repo's one sanctioned way to scope a conf to a
    query (compact_small_files precedent) — the builder-level confs
    (tz UTC, AQE, ANSI) re-apply to children automatically, and the
    returned DataFrame stays collectable by the caller."""
    nodes = (_parquet_footer_rows(sf_dir, "customer")
             + _parquet_footer_rows(sf_dir, "supplier"))
    parts = max(8, min(nodes // 4096, 2048))
    # The child session's conf and view catalog are SHARED mutable
    # state across calls on the same parent: serialize the whole
    # build-checkpoint-register-analyze window so an interleaved call
    # can't analyze its recursion against this call's edge list or
    # checkpoint its derivation at the other call's frontier
    # partitioning (round-10 advice).  The returned DataFrame is
    # analyzed INSIDE the lock (child.sql resolves the view then), so
    # post-return view replacement can't redirect it.
    with _RCTE_LOCK:
        child, viewname = _rcte_child_session(spark)
        # the edge DERIVATION is corpus-scaled (orders x lineitem):
        # run it at the parent's partitioning — the frontier clamp
        # drops only AFTER the eager checkpoint has materialized the
        # edges, so only the recursion levels see it (round-9 review:
        # the first form throttled the multi-million-row derivation
        # join to the frontier's 8 partitions)
        child.conf.set("spark.sql.shuffle.partitions",
                       spark.conf.get("spark.sql.shuffle.partitions"))
        o = load_table(child, sf_dir, "orders")
        li = load_table(child, sf_dir, "lineitem")
        # Round-8 negative, recorded: checkpointing only the HALF-size
        # distinct pair set and symmetrizing lazily looked like a win
        # in a standalone min-of-3 A/B (2.14 -> 1.94 s) but REGRESSED
        # the full-bench key 2.61 -> 3.59 s same-day — the recursion
        # re-expands the view per level, and the lazy union makes each
        # level read the checkpointed blocks through TWO branches (2x
        # block-manager traffic x 3 levels), which bites exactly when
        # the block manager is under the pressure a long-lived session
        # has.  The full symmetrized checkpoint below reads one block
        # set per level; keep it.
        e0 = (
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select(F.col("o_custkey").alias("c"),
                    F.col("l_suppkey").alias("s"))
            .distinct()
        )
        edges = (
            e0.select(F.col("c").cast("long").alias("src"),
                      (F.col("s") + 1000000).alias("dst"))
            .unionAll(
                e0.select((F.col("s") + 1000000).alias("src"),
                          F.col("c").cast("long").alias("dst")))
            .transform(lineage_cut())
        )
        child.conf.set("spark.sql.shuffle.partitions", str(parts))
        # temp views are per-session: this registers in the CHILD
        # only, and the per-call unique name means a concurrent
        # caller can never resolve against this call's edges; the
        # PREVIOUS call's view was already dropped inside
        # _rcte_child_session, releasing its checkpointed edge blocks
        # (the reused-child rationale)
        edges.createOrReplaceTempView(viewname)
        return child.sql(_RECURSIVE_WALK_SQL.format(edges=viewname))


_RCTE_LOCK = threading.Lock()
# parent session -> (child session, serial of the last-registered edge
# view).  WeakKeyDictionary: a GC'd parent evicts its entry (and the
# child + its last edge blocks) automatically — no strong parent refs
# pinned for the life of the process (round-10 advice).
_RCTE_CHILD: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _rcte_child_session(spark: SparkSession) -> "tuple[SparkSession, str]":
    """ONE reused recursion child per parent session, plus a fresh
    per-call edge-view name.  A child per CALL (the first round-9
    form) leaked: load_table's session-keyed memo and the per-child
    ``rcte_edges`` temp view pinned every call's localCheckpoint'd
    edge list in the block manager for the life of the process —
    bench's warm+timed loop alone held six full edge-list copies.
    With one child, dropping the previous call's view here releases
    its checkpointed blocks to the ContextCleaner, and the memo gains
    exactly one extra session.  The view name is UNIQUE per call
    (``rcte_edges_<serial>``) so no caller can ever analyze its
    recursion against another call's edge list; the drop-then-create
    sequencing keeps the one-edge-list-alive invariant (round-10
    advice — replaces the shared-name createOrReplaceTempView).

    Cache hygiene (round-10 advice): the memo is a
    WeakKeyDictionary keyed by the parent session, so a GC'd parent
    evicts automatically; stopped-but-still-referenced parents are
    swept on EVERY call, not just misses.  Caller must hold
    _RCTE_LOCK.

    The child's shuffle.partitions is rewritten by the caller on
    every invocation (parent default for the edge build, the
    frontier clamp for the recursion), so no stale conf survives
    between calls with different sf_dirs."""
    _drop_stopped(_RCTE_CHILD, lambda sess, _v: sess)
    hit = _RCTE_CHILD.get(spark)
    if hit is not None:
        child, serial = hit
    else:
        child, serial = spark.newSession(), 0
    if serial:
        child.catalog.dropTempView(f"rcte_edges_{serial}")
    serial += 1
    _RCTE_CHILD[spark] = (child, serial)
    return child, f"rcte_edges_{serial}"


# Curation / analytics / corpus batches register additional keys on
# import (placed last so `register` and the helpers above already exist).
from wrds2pg_spark import curation as _curation  # noqa: E402,F401
from wrds2pg_spark import corpus as _corpus  # noqa: E402,F401
from wrds2pg_spark import finance as _finance  # noqa: E402,F401
