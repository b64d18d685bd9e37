"""Similarity search over embedding columns (array<float>): candidate
generators plus one exact re-rank.

Every cosine top-k here is two stages (the split REPOSE and
continuously adaptive similarity search build on):

1. a candidate generator decides which rows are scored —
   - the full scan (``brute_force_topk``, the correctness baseline);
   - a hyperplane-LSH bucket set (``lsh_topk``, ``lsh_topk_indexed``);
   - an IVF cell set, from the fitted-KMeans index
     (``ivf_topk_indexed``) or the deterministic anchors
     (``ivf_anchored_topk``);
2. ``_exact_topk`` ranks the candidates: exact cosine against the
   query, rounded to 6 dp, then TakeOrderedAndProject on
   (cos desc, ids) — no full sort, no corpus shuffle.

PQ (``pq_adc_topk``, ``ivfpq_topk_indexed``) ranks by its approximate
ADC distance instead, from one shared query lookup table.  Planes,
anchors and codebooks are integer formulas, so every stage is
reproducible in any engine and oracle-checkable; only the fitted KMeans
cells are engine-specific.

Scan-side dots against a literal query vector run through
F.zip_with/F.aggregate (functions/vector.py).  PAIR generation
(``blocked_pairs``, ``lsh_blocked_pairs``, ``lsh_incremental_pairs``)
is different: per-block pairwise cosines run in one vectorized Arrow
kernel (``_pair_cos``) with sequential accumulation, which is
bitwise-identical to the SQL fold and 4-100x faster than per-pair
interpreted lambdas.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wrds2pg_spark.session import lineage_cut

from wrds2pg_spark.functions.arrow import map_batches, vectors
from wrds2pg_spark.functions.vector import cosine_similarity, dot

__all__ = [
    "brute_force_topk", "lsh_topk", "blocked_pairs",
    "lsh_blocked_pairs", "hyperplane", "probe_buckets",
    "ivf_anchors", "anchored_cell_expr", "anchored_probe_cells",
    "ivf_anchored_topk",
    "pq_codebook", "pq_encode", "pq_adc_topk",
    "build_ivfpq_index", "ivfpq_topk_indexed",
    "build_lsh_index", "lsh_topk_indexed",
    "build_ivf_index", "ivf_topk_indexed",
]


def _query_col(query_vec: list[float]):
    # ONE array literal, not 64 F.lit calls + F.array: identical
    # Literal values, ~8x cheaper plan construction (the bench times
    # construction since round 6)
    return F.lit([float(x) for x in query_vec])


def _exact_topk(cands: DataFrame, query_vec: list[float], k: int,
                vec, id_cols: list[str]) -> DataFrame:
    """The one exact re-rank every cosine top-k ends in: narrow
    projection of ``round(cosine(vec, query), 6)`` over the candidate
    rows + TakeOrderedAndProject on (cos_sim desc, ids).  ``vec`` is a
    column name or a derived Column (a prefix slice, say)."""
    cos = F.round(cosine_similarity(vec, _query_col(query_vec)), 6)
    return (
        cands.select(*id_cols, cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), *id_cols)
        .limit(k)
    )


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: every row is a candidate."""
    return _exact_topk(df, query_vec, k, vec_col, [id_col])


def hyperplane(plane_idx: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane — pure integer formula,
    reproducible in any engine/language (no RNG state)."""
    return [(((i * 31 + plane_idx * 17 + 7) % 13) - 6) / 6.0 for i in range(dim)]


def _planes(nbits: int, dim: int) -> list[list[float]]:
    return [hyperplane(j, dim) for j in range(nbits)]


def _bucket_expr(vec, planes: list[list[float]]):
    """JVM-expression signature (interpreted HOF dots) — kept as the
    reference formulation the Arrow kernel below must match bitwise;
    tests/test_skew_ivf.py asserts equality on real fixtures."""
    bits = []
    for p in planes:
        d = dot(vec, F.array(*[F.lit(x) for x in p]))
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _bucket_sig_udf(planes: list[list[float]]):
    """Vectorized Arrow kernel for the hyperplane signature: one numpy
    pass per plane with SEQUENTIAL per-dimension accumulation
    (acc starts at 0 and adds left-to-right), which is bitwise equal
    to the HOF fold ``aggregate(prods, 0.0, acc+x)`` — so the sign of
    every dot, and hence every bucket string, matches `_bucket_expr`
    exactly while running ~2.6x faster on the sf1 scan (BASELINE r4:
    0.36 s vs 0.94 s for the bucket stage; adopted round 5).  The
    float->double cast is exact on both paths."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = [[float(x) for x in p] for p in planes]

    @pandas_udf("string")
    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        if v.isna().any():
            raise ValueError(
                "null embedding in LSH signature input; filter nulls "
                "before bucketing (the SQL fold would emit an all-'0' "
                "signature here, silently colliding unrelated rows)")
        V = np.vstack(v.to_numpy()).astype(np.float64)
        if V.shape[1] != len(P[0]):
            raise ValueError(
                f"embedding width {V.shape[1]} != plane width "
                f"{len(P[0])}: a mismatch would truncate or crash the "
                "dot products and diverge from the JVM fold")
        cols = []
        for p in P:
            acc = np.zeros(len(V))
            for j in range(V.shape[1]):        # sequential: == the
                acc += V[:, j] * p[j]          # SQL fold, bitwise
            cols.append(np.where(acc >= 0, "1", "0"))
        out = cols[0]
        for c in cols[1:]:
            out = np.char.add(out, c)
        return pd.Series(out)

    return sig


def probe_buckets(query_vec: list[float], nbits: int, radius: int = 1) -> list[str]:
    """The query's signature plus every signature within Hamming
    distance ``radius`` — multi-probe LSH (Lv et al., VLDB 2007): a
    vector near a hyperplane lands on either side with ~equal odds, so
    probing adjacent buckets recovers most of the recall a single
    bucket loses, without touching more than (1 + nbits) / 2^nbits of
    the corpus at radius 1."""
    planes = _planes(nbits, len(query_vec))
    qbits = "".join(
        "1" if sum(a * b for a, b in zip(planes[j], query_vec)) >= 0 else "0"
        for j in range(nbits)
    )
    out = [qbits]
    if radius >= 1:
        for j in range(nbits):
            flipped = qbits[:j] + ("0" if qbits[j] == "1" else "1") + qbits[j + 1:]
            out.append(flipped)
    if radius >= 2:
        for j in range(nbits):
            for m in range(j + 1, nbits):
                b = list(qbits)
                b[j] = "0" if b[j] == "1" else "1"
                b[m] = "0" if b[m] == "1" else "1"
                out.append("".join(b))
    return out


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 20,
    nbits: int = 8,
    radius: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane signature
    falls in the query's multi-probe bucket set.  Recall trades off
    with nbits/radius; the candidate scan is ~(1+nbits)/2^nbits of the
    corpus at radius 1 (vs a full scan for brute force)."""
    planes = _planes(nbits, len(query_vec))
    probes = probe_buckets(query_vec, nbits, radius)
    # signature via the Arrow kernel (bitwise == _bucket_expr); only
    # the ~(1+nbits)/2^nbits survivors pay the JVM cosine.
    cands = (
        df.withColumn(
            "__bucket", _bucket_sig_udf(planes)(F.col(vec_col)))
        .filter(F.col("__bucket").isin(probes))
    )
    return _exact_topk(cands, query_vec, k, vec_col, [id_col])


def _pair_cos(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """len(A) x len(B) cosines of two float64 row sets.  The dots and
    both norms accumulate in ONE sequential per-dimension loop (acc
    starts at 0 and adds left-to-right), which is bitwise equal to the
    SQL fold ``aggregate(zip_with(..), 0.0, acc + x)``, so a threshold
    on the RAW cosine agrees with the oracle's."""
    import numpy as np

    G = np.zeros((len(A), len(B)))
    na = np.zeros(len(A))
    nb = np.zeros(len(B))
    for j in range(A.shape[1]):
        G += A[:, j:j + 1] * B[:, j]
        na += A[:, j] * A[:, j]
        nb += B[:, j] * B[:, j]
    return G / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])


def _block_pairs_kernel(block_name: str, id_col: str, threshold: float,
                        max_block_size: int | None, block_dtype: str):
    """applyInPandas kernel: all pairwise cosines within one block via
    a single vectorized numpy pass (sequential accumulation — bitwise
    identical to the SQL fold), emitting RAW cosines >= threshold.
    Shared by the label-blocked and LSH-bucket pair finders."""
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        if max_block_size is not None:
            pdf = pdf.iloc[:max_block_size]
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({
                block_name: pd.Series(dtype=block_dtype),
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "raw_cos": pd.Series(dtype="float64"),
            })
        V = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
        cos = _pair_cos(V, V)
        ia, ib = np.triu_indices(n, 1)            # sorted ids => a < b
        keep = cos[ia, ib] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame({
            block_name: pdf[block_name].iloc[0],
            "id_a": ids[ia[keep]],
            "id_b": ids[ib[keep]],
            "raw_cos": cos[ia[keep], ib[keep]],
        })

    return fn


def blocked_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_block_size: int | None = None,
) -> DataFrame:
    """All-pairs cosine >= threshold within each block: rows shuffle
    ONCE on the block key and each block's pairwise cosines run in a
    single vectorized Arrow kernel (a block-keyed self-join with
    per-pair interpreted HOF dots measured 4x slower at 10x scale and
    grows quadratically worse).  Thresholding uses RAW doubles (both
    engines compute bitwise-equal cosines); the reported cos_sim
    rounds once, JVM-side.

    .. versionchanged:: round 4
       The threshold compares RAW cosines; releases before round 4
       compared the 6-dp-ROUNDED value, so pairs with raw cosine in
       ``[threshold - 5e-7, threshold)`` that previously survived
       rounding are no longer emitted (affects this function and
       :func:`lsh_blocked_pairs`).  Oracles were updated in lockstep;
       downstream consumers pinning exact pair sets should pin the
       round, not just the threshold.

    ``max_block_size`` is the hub-block safety valve (the same
    contract as minhash_lsh_pairs' max_bucket_size,
    operators/dedup.py): a block above the cap contributes only its
    first ``max_block_size`` ids (sorted by ``id_col``), enforced by
    skew.cap_block_rows BEFORE the shuffle — so per-block pairs are
    <= cap^2/2 and no block can exceed one task's memory in the
    grouped kernel."""
    if max_block_size is not None:
        from wrds2pg_spark.operators.skew import cap_block_rows

        df = cap_block_rows(df, block_col, id_col, max_block_size)
    prepped = df.select(
        F.col(block_col), F.col(id_col), F.col(vec_col).alias("__v")
    )
    btype = prepped.schema[block_col].dataType.simpleString()
    pd_btype = "int64" if btype in ("int", "bigint") else "object"
    out = prepped.groupBy(block_col).applyInPandas(
        _block_pairs_kernel(block_col, id_col, threshold,
                            max_block_size, pd_btype),
        schema=f"{block_col} {btype}, id_a long, id_b long, raw_cos double",
    )
    return out.select(
        block_col, "id_a", "id_b",
        F.round(F.col("raw_cos"), 6).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# Materialized ANN indexes: the 100-TB story made executable.
#
# Bucketing per query (lsh_topk above) demos the query SHAPE; at
# scale the cell assignment is paid ONCE at ingest and
# the corpus lands hive-partitioned by cell. A query then computes its
# probe cells driver-side (tiny) and reads ONLY those directories —
# partition pruning turns top-k into an O(corpus * nprobe/ncells) scan
# with zero shuffles. tests/test_plans.py asserts PartitionFilters.
# ---------------------------------------------------------------------------


def build_lsh_index(
    df: DataFrame,
    path: str,
    nbits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    dim: int,
) -> None:
    """Materialize a hyperplane-LSH index: corpus written partitioned
    by bucket signature. Planes come from the deterministic integer
    formula, so NO sidecar state is needed — any reader (or SQL
    oracle) recomputes them.  ``dim`` is required: sniffing it from
    the first row would put a driver-side action inside a builder
    (the no-collect discipline, tests/test_plans.py)."""
    (
        df.select(id_col, vec_col, _bucket_col(vec_col, nbits, dim))
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    )


def upsert_lsh_index(
    arrivals: DataFrame,
    path: str,
    nbits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    dim: int,
) -> None:
    """Incremental LSH index maintenance — the ANN-LSH member of the
    round-6 incremental family (dedup_incremental_minhash,
    upsert_ivfpq_index): signatures for the ARRIVING vectors only,
    computed with the same frozen formula planes, appended to the
    bucket directories they land in.  Existing bucket files are never
    read or rewritten; probes are unchanged; maintenance cost is
    O(|arrivals|).  CONTRACT: callers own id-uniqueness across
    batches AND must pass the build-time (nbits, dim) — the index
    stores no sidecar (deliberately: the planes are formulas), so a
    different nbits would silently shard arrivals into a foreign
    bucket namespace.  The listing check below catches an nbits
    mismatch against the existing partition names."""
    _check_nbits(path, nbits, "upsert")
    (
        arrivals.select(id_col, vec_col, _bucket_col(vec_col, nbits, dim))
        .write.mode("append").partitionBy("bucket").parquet(path)
    )


def _bucket_col(vec_col: str, nbits: int, dim: int):
    """The LSH index's partition value, 'b' + the hyperplane signature
    — ONE definition for build, upsert and the incremental probe, so
    an encoding change (e.g. the v1→v2 'b'-prefix bump) can never
    apply to one but not the others.  The 'b' prefix keeps the
    partition value unambiguously a STRING: an all-digit bit-string
    like '01100001' would be read back as IntegerType by
    partition-type inference (leading zeros stripped), leaving
    isin(string probes) to work only through implicit coercion."""
    return F.concat(
        F.lit("b"), _bucket_sig_udf(_planes(nbits, dim))(F.col(vec_col))
    ).alias("bucket")


def _check_nbits(path: str, nbits: int, caller: str) -> None:
    """A different nbits than the build's would compute signatures in
    a foreign bucket namespace: arrivals land in buckets no probe
    reads, and probes return zero pairs.  The partition names carry
    the build-time width, so the listing catches it."""
    _check_partition_values(
        path, "bucket",
        lambda v: len(v) == nbits + 1,
        f"existing bucket signatures are not {nbits} bits — "
        f"{caller} nbits differs from the index's build-time value")


def lsh_incremental_pairs(
    spark,
    index_path: str,
    arrivals: DataFrame,
    threshold: float,
    *,
    dim: int,
    nbits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrival-time embedding near-dup: probe a MATERIALIZED
    hyperplane bucket index (build_lsh_index layout) with a batch of
    new vectors and return every (corpus, arrival) pair over the
    cosine threshold — the embedding twin of the text pipeline's
    dedup_incremental_minhash, without re-bucketing the corpus.

    Scale shape: the arrival signature kernel runs TWICE — once for
    the semi-join probe side, once in the union into the pair stage
    (different projections, so no ReusedExchange applies).  This is
    deliberate, not an oversight: cutting the lineage with a
    localCheckpoint (the usual multi-consumer rule) hides the
    arrivals' selective filter from the optimizer and KILLS dynamic
    partition pruning on the index scan (verified by the plan gate,
    tests/test_plans.py: the checkpointed variant scans every
    bucket).  The kernel is O(|arrivals|) — the small, bounded side —
    while DPP saves the O(|corpus|) index scan, so at scale the
    double pass is the cheap half of the trade.  The index is
    SEMI-JOINED on its partition column against the arrival bucket
    set (hint-free — AQE broadcasts the bucket list
    and dynamic partition pruning limits the scan to buckets
    arrivals actually hit), then survivors and arrivals group by
    bucket into a CROSS-cosine Arrow kernel: each vector ships once
    per bucket, never once per candidate pair (the row-wise
    join-then-verify form duplicated both vectors onto every pair —
    measured 8.9 s vs 2.2 s at sf1 on ~4M candidates).  Sequential
    per-dimension accumulation keeps every cosine bitwise equal to
    the SQL fold (same doctrine as _block_pairs_kernel); thresholds
    compare RAW doubles, display rounds once."""
    import numpy as np

    _check_nbits(index_path, nbits, "probe")
    ar = arrivals.select(
        _bucket_col(vec_col, nbits, dim),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.lit(1).alias("__side"),
    )
    idx = (
        spark.read.parquet(index_path)
        .join(ar.select("bucket"), "bucket", "left_semi")
        .select("bucket", F.col(id_col).alias("__id"),
                F.col(vec_col).alias("__v"), F.lit(0).alias("__side"))
    )

    def cross(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "bucket": pd.Series(dtype="object"),
            "corpus_id": pd.Series(dtype="int64"),
            "arrival_id": pd.Series(dtype="int64"),
            "raw_cos": pd.Series(dtype="float64"),
        })
        a = pdf[pdf["__side"] == 0]
        b = pdf[pdf["__side"] == 1]
        if not len(a) or not len(b):
            return empty
        cos = _pair_cos(
            np.vstack(a["__v"].to_numpy()).astype(np.float64),
            np.vstack(b["__v"].to_numpy()).astype(np.float64))
        ia, ib = np.nonzero(cos >= threshold)
        if not len(ia):
            return empty
        return pd.DataFrame({
            "bucket": pdf["bucket"].iloc[0],
            "corpus_id": a["__id"].to_numpy()[ia],
            "arrival_id": b["__id"].to_numpy()[ib],
            "raw_cos": cos[ia, ib],
        })

    return (
        idx.unionByName(ar)
        .groupBy("bucket")
        .applyInPandas(
            cross,
            schema=("bucket string, corpus_id long, arrival_id long, "
                    "raw_cos double"))
        .select("bucket", "corpus_id", "arrival_id",
                F.round("raw_cos", 6).alias("cos_sim"))
    )


def lsh_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 20,
    nbits: int = 8,
    radius: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query the materialized LSH index: probe buckets are computed
    driver-side from the query vector alone, and the IN-filter on the
    partition column prunes to those directories at file-listing time
    — the scan never opens the other 2^nbits - (1+nbits) buckets."""
    probes = ["b" + p for p in probe_buckets(query_vec, nbits, radius)]
    cands = _read_partitions(
        spark, index_path, "bucket", "string", probes
    ).filter(F.col("bucket").isin(probes))
    return _exact_topk(cands, query_vec, k, vec_col, [id_col])


def _read_partitions(spark, path: str, col: str, dtype: str, values: list):
    """The hive-partitioned parquet table at ``path`` read from only the
    ``col=value`` directories that exist, with ``col`` typed ``dtype``
    (a Spark type name: ``integer`` for IVF cells, ``string`` for LSH
    buckets).  Reading the root lists every partition (256 LSH buckets:
    over Spark's parallel-discovery threshold, so the listing runs as a
    job) and infers the schema in another job; here the driver lists
    the few probe directories and the schema is the one Spark wrote
    into a data file's footer."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    dirs = [d for d in (os.path.join(path, f"{col}={v}") for v in values)
            if os.path.isdir(d)]
    sample = next(
        glob.iglob(os.path.join(path, f"{col}=*", "*.parquet")), None)
    if sample is None:  # no data file: let Spark fail loudly on the root
        return spark.read.parquet(path)
    meta = pq.read_schema(sample).metadata[
        b"org.apache.spark.sql.parquet.row.metadata"]
    schema = StructType.fromJson(json.loads(meta)).add(col, dtype)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", path).parquet(*dirs)


def build_ivf_index(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_fraction: float | None = None,
) -> list[list[float]]:
    """Materialize a FAISS-style IVF index: seeded k-means centroids,
    corpus written partitioned by nearest-centroid cell, centroids
    persisted in a JSON sidecar next to the data. ``fit_fraction``
    fits the clustering on a sample (what you'd do at 100 TB — the
    assignment pass still covers every row)."""
    import json
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("__feat"),
    )
    fit_on = feat.sample(fit_fraction, seed=seed) if fit_fraction else feat
    model = KMeans(
        k=nlist, seed=seed, featuresCol="__feat", predictionCol="cell"
    ).fit(fit_on)
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    (
        model.transform(feat)
        .select(F.col(id_col), F.col(vec_col), F.col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    )
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as f:
        json.dump(centers, f)
    return centers


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 20,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query the materialized IVF index: rank the sidecar centroids
    against the query driver-side (nlist entries — trivially small),
    then scan only the nprobe nearest cell partitions."""
    import json
    import os

    with open(os.path.join(index_path, "_ivf_centroids.json")) as f:
        centers = json.load(f)
    probe = _nearest_cells(centers, query_vec, nprobe)
    cands = _read_partitions(
        spark, index_path, "cell", "integer", probe
    ).filter(F.col("cell").isin(probe))
    return _exact_topk(cands, query_vec, k, vec_col, [id_col])


def _nearest_cells(centers: list[list[float]], query_vec: list[float],
                   nprobe: int) -> list[int]:
    """The ``nprobe`` centroids nearest the query by squared L2, ranked
    driver-side (nlist entries — trivially small); ties keep the lower
    cell id."""
    d2 = [
        (i, sum((c - q) ** 2 for c, q in zip(center, query_vec)))
        for i, center in enumerate(centers)
    ]
    return [i for i, _ in sorted(d2, key=lambda t: t[1])[:nprobe]]


def ivf_anchors(nlist: int, dim: int) -> list[list[float]]:
    """Deterministic coarse-quantizer anchors — the same integer
    formula family as :func:`hyperplane`, offset by 101 so the anchor
    set and the LSH plane set differ.  A fixed quantizer is a
    legitimate IVF configuration (FAISS accepts any coarse quantizer);
    fixing it makes the whole IVF pipeline — cell assignment, probe
    selection, pruned scan, and the resulting RECALL — reproducible in
    any engine, which is what lets the quality audit be oracle-checked
    (the fitted-KMeans index stays engine-specific by nature)."""
    return [hyperplane(j + 101, dim) for j in range(nlist)]


def anchored_cell_expr(vec, anchors: list[list[float]]):
    """argmax-dot cell id (0-based, first occurrence on ties) as a
    row-local expression: 1 + nlist dots, no shuffle.

    Pass ``vec`` as a column NAME (str) on hot paths: the whole
    nlist x dim expression renders as ONE SQL string parsed JVM-side
    (~20 ms) where the Column-by-Column build paid ~1.7 s of Py4J
    lambda-conversion round-trips per call (caught when the bench
    started timing plan construction).  Both forms produce the
    identical zip_with/aggregate fold — value-equality is asserted in
    tests — so the Column branch stays for callers holding a derived
    expression."""
    if isinstance(vec, str):
        def dot_sql(a):
            lits = ", ".join(f"{float(x)!r}D" for x in a)
            return (
                f"aggregate(zip_with(transform({vec}, "
                f"x -> CAST(x AS DOUBLE)), array({lits}), "
                f"(x, y) -> x * y), CAST(0 AS DOUBLE), "
                f"(acc, x) -> acc + x)")
        ds = "array(" + ", ".join(dot_sql(a) for a in anchors) + ")"
        return F.expr(
            f"CAST(array_position({ds}, array_max({ds})) - 1 AS INT)")
    ds = F.array(*[
        dot(vec, F.array(*[F.lit(x) for x in a])) for a in anchors
    ])
    return (F.array_position(ds, F.array_max(ds)) - 1).cast("int")


def anchored_probe_cells(
    query_vec: list[float], nlist: int, nprobe: int
) -> list[int]:
    """The query's ``nprobe`` best cells by anchor dot (driver-side:
    nlist * dim multiplications on a few dozen floats)."""
    anchors = ivf_anchors(nlist, len(query_vec))
    scores = [
        (sum(a * q for a, q in zip(anc, query_vec)), j)
        for j, anc in enumerate(anchors)
    ]
    return [j for _, j in sorted(scores, key=lambda t: (-t[0], t[1]))[:nprobe]]


def ivf_anchored_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 20,
    nlist: int = 16,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k through the deterministic anchored quantizer: scan
    prunes to rows whose argmax-dot cell is in the query's nprobe
    probe set — the same inverted-file shape as the fitted path, with
    every stage reproducible cross-engine."""
    anchors = ivf_anchors(nlist, len(query_vec))
    probe = anchored_probe_cells(query_vec, nlist, nprobe)
    cands = df.filter(anchored_cell_expr(vec_col, anchors).isin(probe))
    return _exact_topk(cands, query_vec, k, vec_col, [id_col])


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., PAMI 2011 — the FAISS IVF-PQ
# compression stage): split each vector into m subvectors, quantize
# each against a ksub-entry codebook, store m small codes instead of
# dim floats (64 f32 -> 8 nibbles here = 32x).  As with the anchored
# IVF above, FIXED integer-formula codebooks make encoding, the
# reconstruction error, and ADC scoring reproducible in any engine —
# a fitted k-means codebook would be engine-specific.
# ---------------------------------------------------------------------------


def pq_codebook(sub_idx: int, ksub: int, subdim: int) -> list[list[float]]:
    """Deterministic codebook for one subspace.  NOT the hyperplane
    formula: that family repeats with period 13 in the plane index
    (mod-13 arithmetic), so a 16-entry codebook built from it carries
    duplicate entries and the argmin silently never emits the later
    code.  This variant cycles mod 101, giving 16 distinct entries
    per subspace; everything stays exact small-integer arithmetic so
    any engine reproduces the floats bit-for-bit."""
    seed = sub_idx * ksub * 64 + 211
    return [
        [
            (((i * 29 + (seed + k) * 37 + 11) % 101) - 50) / 50.0
            for i in range(subdim)
        ]
        for k in range(ksub)
    ]


def _pq_luts(query_vec: list[float], m: int, ksub: int) -> list[list[float]]:
    """The query's m x ksub ADC lookup table: exact squared distance
    from each query subvector to each codebook entry, accumulated
    left to right (driver-side, m*ksub*subdim float ops).  The oracle
    twins render these same floats as literals."""
    subdim = len(query_vec) // m
    luts = []
    for i in range(m):
        sub = query_vec[i * subdim:(i + 1) * subdim]
        lut = []
        for c in pq_codebook(i, ksub, subdim):
            acc = 0.0
            for x, y in zip(sub, c):
                acc = acc + (float(x) - float(y)) * (float(x) - float(y))
            lut.append(acc)
        luts.append(lut)
    return luts


def _pq_codes_mins(V: "np.ndarray", m: int, ksub: int):
    """(codes n x m int64, mins n x m float64) for a float64 matrix.

    Accumulation is a SEQUENTIAL per-dimension loop of vectorized
    numpy ops — bit-identical to a left-to-right fold, which is what
    keeps the codes and error sums hash-equal to the SQL oracle's
    unrolled left-associative arithmetic (pairwise/SIMD summation
    would drift in the ULP that decides an argmin tie).  An
    expression-tree formulation was measured 40x slower: 128
    higher-order-function folds per row run interpreted (HOFs are
    CodegenFallback), exactly the slow path this Arrow kernel
    replaces."""
    import numpy as np

    n, dim = V.shape
    if dim % m != 0:
        raise ValueError(
            f"vector width {dim} not divisible by m={m} subquantizers"
        )
    subdim = dim // m
    codes = np.empty((n, m), dtype=np.int64)
    mins = np.empty((n, m), dtype=np.float64)
    for i in range(m):
        sub = V[:, i * subdim:(i + 1) * subdim]
        C = np.array(pq_codebook(i, ksub, subdim), dtype=np.float64)
        acc = np.zeros((n, ksub))
        for j in range(subdim):
            t = sub[:, j:j + 1] - C[:, j]
            acc += t * t
        codes[:, i] = np.argmin(acc, axis=1)       # first occurrence,
        mins[:, i] = acc[np.arange(n), codes[:, i]]  # == list_position
    return codes, mins


def pq_encode(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-encode a corpus: per row, m argmin-distance codes packed
    into ONE BIGINT (code_i in base ksub) plus the exact per-vector
    quantization MSE (the sum of the winning squared distances over
    dim — the compression-quality number).  One Arrow-batched map, no
    shuffle; at 100 TB this is the stage you run once at ingest,
    storing 8 bytes per vector next to the raw floats.  The final
    6-dp round stays JVM-side so it is the same op the oracle runs."""
    import numpy as np

    weights = np.array([ksub ** i for i in range(m)], dtype=np.int64)

    def encode(batch):
        V = vectors(batch, vec_col)
        if V.shape[1] != dim:
            raise ValueError(
                f"embedding width {V.shape[1]} != declared dim {dim}; "
                "codes/MSE would silently drop trailing dimensions"
            )
        codes, mins = _pq_codes_mins(V, m, ksub)
        mse = np.zeros(len(V))
        for i in range(m):                          # left-to-right sum
            mse += mins[:, i]
        return {"id": batch.column(0), "pq_code": codes @ weights,
                "raw_mse": mse}

    out = map_batches(df.select(id_col, vec_col), encode,
                      "id long, pq_code long, raw_mse double")
    return out.select(
        F.col("id").alias(id_col),
        "pq_code",
        F.round(F.col("raw_mse") / F.lit(float(dim)), 6).alias("quant_mse"),
    )


def pq_adc_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 20,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: the query precomputes an m x ksub
    lookup table of exact subvector distances DRIVER-side (m*ksub*
    subdim float ops on a few dozen numbers), and each corpus row's
    approximate distance is m table lookups indexed by its PQ codes —
    the scan never touches the raw floats of the query again.  This
    is the PQ serving path: at scale the codes come from the stored
    pq_encode column and the scan reads 8 bytes/vector.  Same Arrow
    kernel as pq_encode; the top-k is TakeOrdered, no global sort."""
    import numpy as np

    luts = np.array(_pq_luts(query_vec, m, ksub), dtype=np.float64)

    def score(batch):
        codes, _ = _pq_codes_mins(vectors(batch, vec_col), m, ksub)
        d = np.zeros(len(codes))
        for i in range(m):                          # left-to-right sum
            d += luts[i][codes[:, i]]
        return {"id": batch.column(0), "raw_dist": d}

    out = map_batches(df.select(id_col, vec_col), score,
                      "id long, raw_dist double")
    return (
        out.select(
            F.col("id").alias(id_col),
            F.round(F.col("raw_dist"), 6).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize an IVF-PQ index — the FAISS serving architecture
    composed from this module's deterministic parts: one Arrow pass
    computes each vector's coarse cell (argmax anchor dot,
    ivf_anchors) AND its packed PQ code, and the output lands
    hive-partitioned by cell carrying ONLY (id, pq_code) — 16 bytes
    per vector instead of 256.  Queries prune to their probe cells at
    file-listing time and score codes with a lookup table; the raw
    floats are never read again.  Everything is integer-formula
    deterministic, so the whole serving path stays value-hash
    checkable (a fitted FAISS index could not be)."""
    (
        _ivfpq_encode(df, nlist, m, ksub, dim, vec_col, id_col)
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    )


def _ivfpq_encode(
    df: DataFrame, nlist: int, m: int, ksub: int, dim: int,
    vec_col: str, id_col: str,
) -> DataFrame:
    """(cell, id, pq_code) for every vector — one Arrow pass, shared
    by the full build and the incremental upsert so both paths encode
    with the SAME (frozen) anchors and codebooks by construction."""
    import numpy as np

    anchors = np.array(ivf_anchors(nlist, dim), dtype=np.float64)
    weights = np.array([ksub ** i for i in range(m)], dtype=np.int64)

    def encode(batch):
        V = vectors(batch, vec_col)
        acc = np.zeros((V.shape[0], nlist))
        for j in range(dim):                        # sequential dots:
            acc += V[:, j:j + 1] * anchors[:, j]    # == the SQL fold
        codes, _ = _pq_codes_mins(V, m, ksub)
        return {"id": batch.column(0), "pq_code": codes @ weights,
                "cell": np.argmax(acc, axis=1)}     # first occurrence

    return map_batches(
        df.select(id_col, vec_col), encode, "id long, pq_code long, cell int"
    ).withColumnRenamed("id", id_col)


def upsert_ivfpq_index(
    arrivals: DataFrame,
    path: str,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental index maintenance — the serving-side twin of
    dedup_incremental_minhash (r4/r5 verdict item): encode ONLY the
    arriving vectors with the frozen anchors/codebooks (integer
    formulas — frozen by construction, the exact property that makes
    the whole path hash-checkable) and APPEND their (id, pq_code)
    rows to the hive cell directories they land in.  Existing cell
    files are never read or rewritten, untouched cells get no new
    files, and the probe path is unchanged — so maintenance cost is
    O(|arrivals|), not O(|corpus|), while upsert(base, delta) is
    file-for-file equivalent to build(base UNION delta) minus layout.
    CONTRACT: callers own id-uniqueness across batches (same contract
    as the reference's stamp-gated re-loads: one logical version per
    key) AND must pass the build-time (nlist, m, ksub, dim) — the
    index deliberately stores no sidecar (anchors/codebooks are
    formulas), so mismatched parameters would silently encode
    arrivals against foreign codebooks.  The listing check below
    catches an nlist shrink against the existing cell names; m/ksub
    are unverifiable from layout and rest on the contract."""
    _check_partition_values(
        path, "cell",
        lambda v: v.isdigit() and int(v) < nlist,
        f"existing cell ids reach beyond nlist={nlist} — "
        "upsert nlist differs from the build-time value")
    (
        _ivfpq_encode(arrivals, nlist, m, ksub, dim, vec_col, id_col)
        .write.mode("append").partitionBy("cell").parquet(path)
    )


def _check_partition_values(path: str, col: str, ok, msg: str) -> None:
    """Driver-side LISTING sanity probe (no data read): every
    existing hive partition value must satisfy ``ok``."""
    import os

    try:
        vals = [d.split("=", 1)[1] for d in os.listdir(path)
                if d.startswith(f"{col}=")]
    except OSError:
        return
    bad = [v for v in vals if not ok(v)]
    if bad:
        raise ValueError(f"{msg} (offending partitions: {bad[:5]})")


def ivfpq_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 20,
    nlist: int = 16,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve top-k from the materialized IVF-PQ index: probe cells and
    the m x ksub distance table both come from the query vector alone
    (driver-side, a few thousand float ops), the partition IN-filter
    prunes the scan to nprobe directories, and the per-row score is m
    integer unpack-and-lookup expressions over one BIGINT column —
    pure codegen, no arrays, no floats read from storage."""
    probe = anchored_probe_cells(query_vec, nlist, nprobe)
    score = None
    for i, lut in enumerate(_pq_luts(query_vec, m, ksub)):
        code = F.expr(f"pq_code div {ksub ** i}") % ksub
        term = F.element_at(
            F.array(*[F.lit(x) for x in lut]), (code + 1).cast("int"))
        score = term if score is None else score + term
    return (
        _read_partitions(spark, index_path, "cell", "integer", probe)
        .filter(F.col("cell").isin(probe))
        .select(F.col(id_col), F.round(score, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def lsh_blocked_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    nbits: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_block_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT a metadata blocking key:
    hyperplane-signature buckets replace the label equi-join of
    :func:`blocked_pairs`, so the operator works on any corpus (labels
    are a luxury real crawls don't have).  Same sign-bucket family as
    the ANN path — deterministic planes keep it oracle-checkable.

    Scale shape: signature is a row-local expression; rows shuffle
    ONCE on the 2^nbits bucket key and each bucket's pairwise cosines
    run in a single vectorized Arrow kernel (sequential accumulation,
    bitwise-identical to the SQL fold — a bucket-keyed self-join with
    per-pair interpreted HOF dots measured 4x slower).  Pair
    generation stays per-bucket quadratic and globally linear in
    bucket count; tune nbits to corpus density (each +1 bit halves
    expected bucket size, at some recall cost near the planes).
    ``max_block_size`` slices each group to its first ``cap`` ids
    (sorted, the cap_block_rows contract) INSIDE the kernel;
    cap_block_rows additionally bounds what reaches a group when a
    hub bucket would not fit one task.  Thresholding uses RAW
    doubles (both engines compute bitwise-equal cosines); the
    reported cos_sim rounds once, JVM-side."""
    prepped = df.select(
        F.col(id_col),
        _bucket_sig_udf(_planes(nbits, dim))(F.col(vec_col)).alias("bucket"),
        F.col(vec_col).alias("__v"),
    )
    if max_block_size is not None:
        # narrow pre-filter so a hub bucket cannot exceed one task's
        # memory in the grouped kernel below (same first-cap-sorted
        # contract; the kernel's slice is then a no-op).  The
        # signature column is materialized ONCE (localCheckpoint) so
        # neither the cap guard's narrow projection nor the grouped
        # shuffle recomputes the interpreted plane dots — this is the
        # "signatures are computed at ingest" posture of the
        # materialized index, applied inline.
        from wrds2pg_spark.operators.skew import cap_block_rows

        prepped = prepped.transform(lineage_cut())
        prepped = cap_block_rows(prepped, "bucket", id_col,
                                 max_block_size)

    out = prepped.groupBy("bucket").applyInPandas(
        _block_pairs_kernel("bucket", id_col, threshold,
                            max_block_size, "object"),
        schema="bucket string, id_a long, id_b long, raw_cos double",
    )
    return out.select(
        "bucket", "id_a", "id_b",
        F.round(F.col("raw_cos"), 6).alias("cos_sim"),
    )
