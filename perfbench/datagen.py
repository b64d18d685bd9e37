"""Seeded inputs for the benchmark.

``write_lake`` writes the ten parquet tables the registry keys read
(the TPC-H-shaped star, the ``events`` stream and the ``documents`` /
``embeddings`` corpus) with the schemas, value domains and row counts
of the sf0.01 fixture (FIXTURES.md section 1; 60,000 lineitems).
``etl_frames`` and ``write_source`` make the ETL sources.  The same
seed always gives the same data; a different seed gives other values
with the same sizes and distributions, so the work per run does not
depend on the seed.

Run as a script, it writes one workload's inputs under ``--out``, in a
process of its own, so the memory used to build them is not counted in
the benchmarked process:

    python3 perfbench/datagen.py --workload <name> --seed <n> --out <dir>
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def lake_tables(seed: int) -> dict[str, pa.Table]:
    """The ten lake tables as Arrow tables, built from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li, n_ev = 15000, 60000, 10000
    n_doc, n_emb = 500, 500
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; one in twenty
    is a near-duplicate (an earlier text plus the token ``dup``), so
    the dedup keys find pairs to report."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors scattered around one random centroid per label."""
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    vec = 0.15 * centroids[label] + rng.normal(size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label,
    })


def write_lake(out_dir: str, seed: int) -> None:
    """Write every lake table as ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in lake_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


# --- ETL sources -------------------------------------------------------
#
# Three groups of four sibling tables, one group per source format.
# Siblings share size, format and option template and differ only in
# seeded values, so every incremental round (one sibling per group
# re-stamped) does the same amount of work.

SAS_MISSING = ["A", "B", "."]
ETL_EXT = {"parquet": ".parquet", "csv": ".csv.gz", "sas": ".sas7bdat"}
_STAMP_BASE = 1_600_000_000  # epoch seconds of every source's first stamp


def stamp_epoch(sibling: int, version: int) -> float:
    """A source's "Last modified" stamp: distinct whole minutes per
    sibling and version."""
    return _STAMP_BASE + version * 86_400 + sibling * 60


def etl_paths(out_dir: str, name: str, group: str) -> dict[str, str]:
    """Where ``write_etl`` puts one source: the file the catalog reads
    (``source``), a pristine copy of its first version (``pristine``)
    and its rows as parquet (``frame``)."""
    ext = ETL_EXT[group]
    return {
        "source": os.path.join(out_dir, "sources", name + ext),
        "pristine": os.path.join(out_dir, "pristine", name + ext),
        "frame": os.path.join(out_dir, "frames", name + ".parquet"),
    }


def etl_frames(seed: int):
    """{group: [pandas.DataFrame x 4]} for the parquet, csv.gz and
    sas7bdat source groups: lineitem-shaped (30,000 rows), orders-shaped
    with SAS special-missing letters in a numeric text column (10,000)
    and customer-shaped (2,000)."""
    import pandas as pd

    rng = np.random.default_rng([seed, 1])
    n_li, n_ord, n_cust = 30_000, 10_000, 2_000
    words = np.asarray(WORDS, dtype=object)
    phrases = np.asarray([" ".join(words[rng.integers(0, 30, 6)]) for _ in range(512)], dtype=object)
    groups: dict[str, list] = {"parquet": [], "csv": [], "sas": []}
    for _ in range(4):
        groups["parquet"].append(pd.DataFrame({
            "l_orderkey": rng.integers(0, n_li // 4, n_li),
            "l_partkey": rng.integers(0, 20000, n_li),
            "l_suppkey": rng.integers(0, 1000, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
            "l_returnflag": np.asarray(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
            "l_linestatus": np.asarray(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
            "l_shipdate": (np.datetime64("1995-01-01", "us")
                           + rng.integers(1, 2500, n_li) * np.timedelta64(1, "D")),
        }))
        price = _money(rng, 1000, 500000, n_ord).astype(str).astype(object)
        holes = rng.random(n_ord) < 0.02
        price[holes] = np.asarray(SAS_MISSING, dtype=object)[rng.integers(0, 3, int(holes.sum()))]
        groups["csv"].append(pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, 1500, n_ord),
            "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
            "o_totalprice": price,
            "o_orderdate": (np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord)).astype(str),
            "o_comment": phrases[rng.integers(0, len(phrases), n_ord)],
        }))
        groups["sas"].append(pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.float64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.float64),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.asarray(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
        }))
    return groups


def write_source(frame, path: str, fmt: str, stamp_epoch: float) -> int:
    """Write one ETL source with its "Last modified" stamp: the file
    mtime for parquet and csv.gz, the header's own modified field for
    sas7bdat (written by the engine's sas7bdat sink).  Returns bytes."""
    import gzip

    import pyarrow.csv as pcsv

    if fmt == "parquet":
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
    elif fmt == "csv":
        with gzip.open(path, "wb", compresslevel=1) as f:
            pcsv.write_csv(pa.Table.from_pandas(frame, preserve_index=False), f)
    else:
        from wrds2pg_spark.sinks.sas7bdat import write_sas7bdat

        # seconds since 1960-01-01 (SAS epoch), wall clock
        write_sas7bdat(frame, path, modified_secs=stamp_epoch + 315_619_200)
    if fmt != "sas":
        os.utime(path, (stamp_epoch, stamp_epoch))
    return os.path.getsize(path)


def write_etl(out_dir: str, seed: int) -> None:
    """Every ETL source at its first stamp, with the copies
    ``etl_paths`` names; sources are ``<group>_<sibling>``."""
    for sub in ("sources", "pristine", "frames"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    for group, frames in etl_frames(seed).items():
        for i, frame in enumerate(frames):
            p = etl_paths(out_dir, f"{group}_{i}", group)
            frame.to_parquet(p["frame"], index=False)
            write_source(frame, p["source"], group, stamp_epoch(i, 0))
            shutil.copy2(p["source"], p["pristine"])


def main() -> None:
    ap = argparse.ArgumentParser(description="Write one workload's inputs.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.workload == "etl_incremental":
        write_etl(args.out, args.seed)
    else:
        write_lake(os.path.join(args.out, "lake"), args.seed)


if __name__ == "__main__":
    main()
