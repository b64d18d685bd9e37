"""Skew helpers + IVF similarity."""

from __future__ import annotations

from pyspark.sql import functions as F

from wrds2pg_spark.operators.skew import salted_agg, salted_join


def test_salted_agg_matches_plain_groupby(spark):
    df = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(500)]
        + [("cold", i, float(i)) for i in range(5)],
        ["k", "rid", "v"],
    )
    got = {
        r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in salted_agg(
            df, ["k"],
            {"n": ("count", "v"), "total": ("sum", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")},
            salt_col="rid",
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        ).collect()
    }
    assert got == want


def test_salted_agg_spreads_hot_key(spark):
    df = spark.createDataFrame(
        [("hot", i, 1.0) for i in range(100)], ["k", "rid", "v"]
    )
    phase1_groups = (
        df.groupBy(
            "k", F.pmod(F.xxhash64(F.col("rid")), F.lit(16)).alias("s")
        ).count().count()
    )
    assert phase1_groups > 1  # the hot key really splits


def test_salted_agg_rejects_non_decomposable(spark):
    df = spark.createDataFrame([("a", 1, 1.0)], ["k", "rid", "v"])
    try:
        salted_agg(df, ["k"], {"m": ("avg", "v")}, salt_col="rid")
        assert False, "avg must be rejected"
    except ValueError:
        pass


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], ["k", "payload"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "tag"])
    got = sorted(
        (r["k"], r["payload"], r["tag"])
        for r in salted_join(big, small, on="k").collect()
    )
    want = sorted(
        (r["k"], r["payload"], r["tag"])
        for r in big.join(small, on="k").collect()
    )
    assert got == want and len(want) == 300


def test_pq_encode_exact_on_codebook_vectors(spark):
    """A vector assembled from codebook entries must quantize to
    exactly those codes with zero error, and ADC distance to itself
    as the query must be 0 — pins slice offsets, packing base, and
    argmin tie-break."""
    from wrds2pg_spark.operators.similarity import (
        pq_adc_topk, pq_codebook, pq_encode,
    )

    m, ksub, dim = 8, 16, 64
    chosen = [3, 0, 15, 7, 1, 9, 12, 5]
    vec = []
    for i, code in enumerate(chosen):
        vec.extend(pq_codebook(i, ksub, dim // m)[code])
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    r = pq_encode(df, m=m, ksub=ksub, dim=dim).collect()[0]
    assert r["quant_mse"] == 0.0
    assert r["pq_code"] == sum(c * ksub ** i for i, c in enumerate(chosen))
    a = pq_adc_topk(df, vec, k=1, m=m, ksub=ksub).collect()[0]
    assert a["adc_dist"] == 0.0 and a["vec_id"] == 1


def test_pq_mse_matches_reconstruction(spark):
    """quant_mse equals the true squared reconstruction error of the
    decoded codes (per dimension), computed independently in numpy."""
    import numpy as np

    from wrds2pg_spark.operators.similarity import pq_codebook, pq_encode
    from wrds2pg_spark.sources.testdata import load_table

    m, ksub, dim = 8, 16, 64
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    rows = {r["vec_id"]: r for r in pq_encode(emb, m=m, ksub=ksub).collect()}
    for src in emb.collect():
        v = np.array(src["embedding"], dtype=np.float64)
        r = rows[src["vec_id"]]
        codes = [(r["pq_code"] // ksub ** i) % ksub for i in range(m)]
        recon = np.concatenate([
            np.array(pq_codebook(i, ksub, dim // m)[c])
            for i, c in enumerate(codes)
        ])
        err = float(np.sum((v - recon) ** 2)) / dim
        assert abs(err - r["quant_mse"]) < 1e-6


def test_ivf_recall_vs_brute_force(spark, tmp_path):
    from wrds2pg_spark.operators.similarity import (
        brute_force_topk, build_ivf_index, ivf_topk_indexed,
    )
    from wrds2pg_spark.queries import _QVEC
    from wrds2pg_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = [r["vec_id"] for r in brute_force_topk(emb, _QVEC, k=10).collect()]
    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, idx, nlist=8)
    approx = [
        r["vec_id"]
        for r in ivf_topk_indexed(spark, idx, _QVEC, k=10, nprobe=3).collect()
    ]
    # nprobe=3 of 8 cells should recover most of the true top-10
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, f"IVF recall too low: {overlap}/10"
    assert len(approx) == 10


def test_bucket_sig_kernel_matches_jvm_expr(spark):
    """The Arrow signature kernel must be BITWISE-identical to the
    HOF-fold JVM expression on real fixture vectors — the sign of
    every plane dot decides a bucket, so one ULP of drift moves rows
    between buckets and breaks the oracle."""
    from pyspark.sql import functions as F

    from wrds2pg_spark.operators.similarity import (
        _bucket_expr, _bucket_sig_udf, hyperplane,
    )
    from wrds2pg_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    planes = [hyperplane(j, 64) for j in range(8)]
    both = emb.select(
        "vec_id",
        _bucket_expr(F.col("embedding"), planes).alias("jvm"),
        _bucket_sig_udf(planes)(F.col("embedding")).alias("arrow"),
    )
    assert both.filter(F.col("jvm") != F.col("arrow")).count() == 0


def test_ivfpq_upsert_appends_only_and_matches_rebuild(spark, tmp_path):
    """upsert_ivfpq_index (round 6): (1) existing cell files survive
    BYTE-IDENTICAL — maintenance never reads or rewrites the base
    index; (2) untouched cells gain no files; (3) the upserted index
    serves exactly what a full rebuild over base UNION delta serves."""
    import glob
    import hashlib
    import os

    from pyspark.sql import functions as F

    from wrds2pg_spark.operators.similarity import (
        build_ivfpq_index, ivfpq_topk_indexed, upsert_ivfpq_index,
    )
    from wrds2pg_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)

    up_path = str(tmp_path / "upserted")
    full_path = str(tmp_path / "rebuilt")
    build_ivfpq_index(base, up_path, nlist=8, m=8, ksub=16, dim=64)

    def snapshot(root):
        return {
            os.path.relpath(p, root): hashlib.md5(
                open(p, "rb").read()).hexdigest()
            for p in glob.glob(os.path.join(root, "**", "*.parquet"),
                               recursive=True)
        }

    before = snapshot(up_path)
    upsert_ivfpq_index(delta, up_path, nlist=8, m=8, ksub=16, dim=64)
    after = snapshot(up_path)
    # base files byte-identical, new files only added
    for rel, digest in before.items():
        assert after.get(rel) == digest, f"base file rewritten: {rel}"
    added = set(after) - set(before)
    assert added, "upsert wrote nothing"
    # arrivals' cells only: every new file sits in a cell the delta
    # actually landed in
    delta_cells = {
        r["cell"]
        for r in spark.read.parquet(up_path)
        .join(delta.select("vec_id"), "vec_id", "left_semi")
        .select("cell").distinct().collect()
    }
    for rel in added:
        cell = int(rel.split(os.sep)[0].split("=")[1])
        assert cell in delta_cells, f"file in untouched cell: {rel}"

    build_ivfpq_index(emb, full_path, nlist=8, m=8, ksub=16, dim=64)
    _QVEC = [((7 * i + 3) % 13 - 6) / 6.0 for i in range(64)]
    served_up = ivfpq_topk_indexed(
        spark, up_path, _QVEC, k=20, nlist=8, nprobe=3).collect()
    served_full = ivfpq_topk_indexed(
        spark, full_path, _QVEC, k=20, nlist=8, nprobe=3).collect()
    assert [tuple(r) for r in served_up] == [tuple(r) for r in served_full]


def test_lsh_upsert_appends_only_and_matches_rebuild(spark, tmp_path):
    """upsert_lsh_index: base bucket files survive byte-identical and
    the upserted index serves exactly what a full rebuild serves."""
    import glob
    import hashlib
    import os

    from pyspark.sql import functions as F

    from wrds2pg_spark.operators.similarity import (
        build_lsh_index, lsh_topk_indexed, upsert_lsh_index,
    )
    from wrds2pg_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    up, full = str(tmp_path / "up"), str(tmp_path / "full")
    build_lsh_index(emb.filter(F.col("vec_id") % 4 != 1), up,
                    nbits=6, dim=64)

    def snap(root):
        return {os.path.relpath(p, root): hashlib.md5(
            open(p, "rb").read()).hexdigest()
            for p in glob.glob(os.path.join(root, "**", "*.parquet"),
                               recursive=True)}

    before = snap(up)
    upsert_lsh_index(emb.filter(F.col("vec_id") % 4 == 1), up,
                     nbits=6, dim=64)
    after = snap(up)
    for rel, digest in before.items():
        assert after.get(rel) == digest, f"base file rewritten: {rel}"
    assert set(after) - set(before), "upsert wrote nothing"

    build_lsh_index(emb, full, nbits=6, dim=64)
    qv = [((7 * i + 3) % 13 - 6) / 6.0 for i in range(64)]
    a = lsh_topk_indexed(spark, up, qv, k=10, nbits=6).collect()
    b = lsh_topk_indexed(spark, full, qv, k=10, nbits=6).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_lsh_indexed_probe_with_no_bucket_on_disk_is_empty(spark, tmp_path):
    """A query whose probe buckets hold no vectors reads no directory
    and returns an empty top-k with the usual columns."""
    from wrds2pg_spark.operators.similarity import (
        build_lsh_index, lsh_topk_indexed,
    )

    v = [((5 * i + 1) % 11 - 5) / 5.0 for i in range(8)]
    idx = str(tmp_path / "one")
    build_lsh_index(spark.createDataFrame([(1, v)], "vec_id long, "
                                          "embedding array<float>"),
                    idx, nbits=4, dim=8)
    out = lsh_topk_indexed(spark, idx, [-x for x in v], k=5, nbits=4,
                           radius=0)
    assert out.columns == ["vec_id", "cos_sim"]
    assert out.collect() == []


def test_index_upsert_rejects_parameter_mismatch(spark, tmp_path):
    """Round-6 review: upserting with a different nbits / smaller
    nlist than the build must fail loudly from the partition listing
    instead of silently encoding arrivals into a foreign namespace."""
    import pytest
    from pyspark.sql import functions as F

    from wrds2pg_spark.operators.similarity import (
        build_ivfpq_index, build_lsh_index,
        upsert_ivfpq_index, upsert_lsh_index,
    )
    from wrds2pg_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    lsh = str(tmp_path / "lsh")
    build_lsh_index(emb, lsh, nbits=6, dim=64)
    with pytest.raises(ValueError, match="nbits"):
        upsert_lsh_index(emb.limit(5), lsh, nbits=8, dim=64)

    pq = str(tmp_path / "pq")
    build_ivfpq_index(emb, pq, nlist=16, m=8, ksub=16, dim=64)
    with pytest.raises(ValueError, match="nlist"):
        upsert_ivfpq_index(emb.limit(5), pq, nlist=4, m=8, ksub=16, dim=64)

    # the PROBE carries the same guard (round-6 review follow-up): a
    # mismatched nbits would signature arrivals into a foreign bucket
    # namespace and silently return zero pairs
    from wrds2pg_spark.operators.similarity import lsh_incremental_pairs

    with pytest.raises(ValueError, match="nbits"):
        lsh_incremental_pairs(
            spark, lsh, emb.filter(F.col("vec_id") % 13 == 5),
            threshold=0.3, dim=64, nbits=8)


def test_anchored_cell_expr_sql_equals_column_form(spark):
    """The SQL-string fast path of anchored_cell_expr (hot since the
    bench times plan construction) must assign every vector the same
    cell as the Column-by-Column form."""
    from pyspark.sql import functions as F

    from wrds2pg_spark.operators.similarity import (
        anchored_cell_expr, ivf_anchors,
    )
    from wrds2pg_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    anchors = ivf_anchors(16, 64)
    a = emb.select("vec_id", anchored_cell_expr(
        "embedding", anchors).alias("c")).collect()
    b = emb.select("vec_id", anchored_cell_expr(
        F.col("embedding"), anchors).alias("c")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
