"""The three workloads.

Each workload reads the inputs ``datagen.py`` wrote from the seed,
names the ops of its check pass and of each later pass, runs one op,
and checks the program's outputs.  One op is one call into the package's public
surface, timed from outside:

- ``query_relational`` / ``curation_python``: ``REGISTRY[key].fn``
  (the plan build, ``queries.build_s``) then an action
  (``queries.exec_s``): ``collect`` in the check pass, the ``noop``
  sink after it.
- ``etl_incremental``: ``update.wrds_update_pq`` or
  ``update.wrds_update_csv`` for one catalog entry (a source and the
  sink it loads into), which either rewrites the sink or skips it on an
  unchanged stamp.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import datagen
import oracle

# Relational keys: TPC-H shapes, scans, joins, aggregates, windows.
# None builds a pandas UDF, a mapInPandas stage or a lineage cut.
RELATIONAL_KEYS = (
    "tpch_q3_shape", "tpch_q4_shape", "tpch_q5_shape", "tpch_q6_shape",
    "tpch_q7_shape", "tpch_q10_shape", "tpch_q12_shape", "tpch_q13_shape",
    "tpch_q14_shape", "tpch_q18_shape", "tpch_q19_shape", "tpch_q21_shape",
    "scan_parquet", "join_inner", "join_semi", "join_full", "agg_rollup",
    "agg_grouping_sets", "window_rank", "sort_topk", "set_union",
    "subquery_correlated",
)

# LLM-pipeline keys whose time goes through the Arrow/Python boundary
# (pandas UDFs, mapInPandas, grouped-map) or through lineage cuts.
CURATION_KEYS = (
    "dedup_minhash_lsh", "dedup_simhash", "multimodal_image_features",
    "udf_pandas_scalar", "quality_ccnet_buckets",
)


@dataclass
class OpResult:
    name: str
    kind: str            # "query", "rewrite", "skip" or "failed"
    secs: float
    ok: bool = True
    error: str = ""
    layers: dict = field(default_factory=dict)


class QueryWorkload:
    """A fixed key list over the seeded lake, shuffled on every pass."""

    def __init__(self, name: str, keys, work: str, inputs: str, seed: int):
        from wrds2pg_spark import corpus, curation, finance  # noqa: F401  (register keys)
        from wrds2pg_spark.queries import REGISTRY
        from wrds2pg_spark.sources.testdata import TABLES

        self.name, self.keys, self.seed = name, list(keys), seed
        self.registry, self.tables = REGISTRY, TABLES
        self.lake = os.path.join(inputs, "lake")
        self.results: dict[str, tuple] = {}

    def pass_ops(self, k: int) -> list[str]:
        order = list(self.keys)
        random.Random(self.seed * 1000 + k).shuffle(order)
        return order

    def begin_pass(self, k: int) -> None:
        pass

    def op_type(self, name: str, kind: str) -> str:
        return name

    def run_op(self, spark, key: str, check: bool, layers: dict) -> str:
        spec = self.registry[key]
        t0 = time.perf_counter()
        df = spec.fn(spark, self.lake)
        t1 = time.perf_counter()
        if check:
            self.results[key] = (df.columns, df.collect())
        else:
            df.write.format("noop").mode("overwrite").save()
        layers["queries.build_s"] = t1 - t0
        layers["queries.exec_s"] = time.perf_counter() - t1
        return "query"

    def check(self) -> list[str]:
        orc = oracle.Oracle(self.lake, self.tables)
        try:
            failures = []
            for key in self.keys:
                if key not in self.results:
                    failures.append(f"{key}: no result")
                    continue
                why = oracle.check_query(orc, self.registry[key], *self.results[key])
                if why:
                    failures.append(f"{key}: {why}")
            return failures
        finally:
            orc.close()

    def n_checks(self) -> int:
        return len(self.keys)


# Per-group option templates: (ingest options, DuckDB count SQL).
# Values are drawn from the seed; every sibling of a group uses the
# same template, so rounds cost the same whichever sibling is re-stamped.
def _etl_options(group: str, rng: random.Random):
    if group == "parquet":
        q = rng.randint(5, 15)
        return dict(
            keep="l_orderkey l_partkey l_quantity l_extendedprice l_discount l_ship: l_returnflag",
            rename="l_extendedprice=price", where=f"l_quantity gt {q}",
            col_types={"l_quantity": "integer"},
        ), f"SELECT count(*) FROM src WHERE l_quantity > {q}"
    if group == "csv":
        s = rng.choice("FOP")
        return dict(
            drop="o_comment", where=f"o_orderstatus ne '{s}'", fix_missing=True,
            col_types={"o_totalprice": "float8", "o_custkey": "bigint", "o_orderdate": "date"},
        ), f"SELECT count(*) FROM src WHERE o_orderstatus <> '{s}'"
    obs, x = rng.randint(1500, 1900), rng.randint(0, 5000)
    return dict(
        obs=obs, keep="c_custkey c_nationkey c_acctbal c_mktsegment",
        rename="c_acctbal=balance", where=f"balance gt {x}",
        col_types={"c_custkey": "integer", "c_nationkey": "integer"},
    ), f"SELECT count(*) FROM (SELECT * FROM src LIMIT {obs}) WHERE c_acctbal > {x}"


@dataclass
class Source:
    name: str            # <group>_<sibling>
    group: str
    sink: str            # "pq" or "csv"
    paths: dict          # datagen.etl_paths: source, pristine, frame
    options: dict
    count_sql: str
    version: int = 0

    @property
    def path(self) -> str:
        return self.paths["source"]

    @property
    def sibling(self) -> int:
        return int(self.name.rsplit("_", 1)[1])

    def stamp_epoch(self) -> float:
        return datagen.stamp_epoch(self.sibling, self.version)


class EtlWorkload:
    """Twelve sources (parquet, csv.gz and sas7bdat, four of each) in
    one catalog; in each group two seeded siblings load into the
    parquet sink and two into the gzip-CSV sink.  The check pass is the
    full load; every later pass is an incremental round in which one
    seeded sibling per group gets a new stamp, so 3 entries rewrite and
    9 skip."""

    SINKS = ("pq", "csv")

    def __init__(self, name: str, work: str, inputs: str, seed: int):
        from wrds2pg_spark import update

        self.name, self.seed, self.update = name, seed, update
        self.data_dir = {s: os.path.join(work, f"lake_{s}") for s in self.SINKS}
        self.sources: dict[str, Source] = {}
        self.expect_rewrite: set[str] = set()
        rng = random.Random(seed)
        for group in datagen.ETL_EXT:
            to_pq = set(rng.sample(range(4), 2))
            for i in range(4):
                opts, count_sql = _etl_options(group, rng)
                name = f"{group}_{i}"
                self.sources[name] = Source(name, group, "pq" if i in to_pq else "csv",
                                            datagen.etl_paths(inputs, name, group),
                                            opts, count_sql)
        # seeded order in which each group's siblings get new stamps
        self.restamp_order = {g: rng.sample(range(4), 4) for g in datagen.ETL_EXT}

    def pass_ops(self, k: int) -> list[str]:
        order = list(self.sources)
        random.Random(self.seed * 1000 + k).shuffle(order)
        return order

    def begin_pass(self, k: int) -> None:
        """Round k >= 1: one sibling per group gets a new stamp (the
        source is rewritten, as an upstream refresh would)."""
        if k == 0:
            self.expect_rewrite = set(self.sources)
            return
        self.expect_rewrite = set()
        for src in self.sources.values():
            if src.sibling == self.restamp_order[src.group][(k - 1) % 4]:
                src.version += 1
                self._restamp(src)
                self.expect_rewrite.add(src.name)

    def _restamp(self, src: Source) -> None:
        """Put the source's first version back with its new stamp: the
        file mtime for parquet and csv.gz; for sas7bdat the header's own
        modified field, so that file is written again through the
        sas7bdat sink."""
        if src.group == "sas":
            import pandas as pd

            datagen.write_source(pd.read_parquet(src.paths["frame"]), src.path, "sas",
                                 src.stamp_epoch())
        else:
            shutil.copyfile(src.paths["pristine"], src.path)
            os.utime(src.path, (src.stamp_epoch(), src.stamp_epoch()))

    def op_type(self, name: str, kind: str) -> str:
        """``<group>:<rewrite|skip>``: siblings share a type."""
        return f"{self.sources[name].group}:{kind}"

    def run_op(self, spark, name: str, check: bool, layers: dict) -> str:
        src = self.sources[name]
        fn = self.update.wrds_update_pq if src.sink == "pq" else self.update.wrds_update_csv
        wrote = fn(spark, src.path, name, "bench", data_dir=self.data_dir[src.sink],
                   **src.options)
        kind = "rewrite" if wrote else "skip"
        want = "rewrite" if name in self.expect_rewrite else "skip"
        if kind != want:
            raise RuntimeError(f"{name}: {kind} where the stamps call for {want}")
        if wrote:
            out = self.sink_path(src)
            files = [os.path.join(out, f) for f in os.listdir(out) if f.startswith("part-")]
            layers["sinks.files"] = len(files)
            layers["sinks.output_mb"] = sum(os.path.getsize(f) for f in files) / 2**20
            layers["sources.input_mb"] = os.path.getsize(src.path) / 2**20
        return kind

    def sink_path(self, src: Source) -> str:
        from wrds2pg_spark.paths import get_csv_path, get_pq_path

        get = get_pq_path if src.sink == "pq" else get_csv_path
        return get(src.name, "bench", self.data_dir[src.sink])

    def check(self) -> list[str]:
        """Every sink carries its source's current stamp and the row
        count DuckDB gets from the source under the same options."""
        import duckdb

        from wrds2pg_spark.catalog import get_modified_csv, get_modified_pq

        con = duckdb.connect(config={"threads": 1, "autoinstall_known_extensions": False,
                                     "autoload_known_extensions": False})
        failures = []
        try:
            for src in self.sources.values():
                con.execute("CREATE OR REPLACE VIEW src AS SELECT * FROM "
                            f"read_parquet('{src.paths['frame']}')")
                want_rows = con.execute(src.count_sql).fetchone()[0]
                want_stamp = self.update.source_modified(src.path)
                path = self.sink_path(src)
                if src.sink == "pq":
                    stamp = get_modified_pq(path)
                    rows = con.execute(
                        f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
                else:
                    stamp = get_modified_csv(path)
                    rows = con.execute(
                        f"SELECT count(*) FROM read_csv('{path}/*.csv.gz', header=true, "
                        "all_varchar=true)").fetchone()[0]
                if stamp != want_stamp:
                    failures.append(f"{src.name}: sink stamp {stamp!r} != source {want_stamp!r}")
                if rows != want_rows:
                    failures.append(f"{src.name}: sink has {rows} rows, DuckDB counts {want_rows}")
        finally:
            con.close()
        return failures

    def n_checks(self) -> int:
        return len(self.sources)


def make(name: str, work: str, inputs: str, seed: int):
    if name == "query_relational":
        return QueryWorkload(name, RELATIONAL_KEYS, work, inputs, seed)
    if name == "curation_python":
        return QueryWorkload(name, CURATION_KEYS, work, inputs, seed)
    if name == "etl_incremental":
        return EtlWorkload(name, work, inputs, seed)
    raise ValueError(f"unknown workload {name!r}")
