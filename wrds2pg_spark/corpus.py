"""Corpus-statistics & data-quality query batch.

Extends the registry with the operators an LLM-training-data pipeline
runs corpus-wide: Gopher-style repetition scoring, hapax-ratio lexical
diversity, unigram language-model scoring, Zipf-law fitting, TF-IDF
term extraction, benchmark decontamination, passage-level
exact-substring dedup, the cross-source n-gram leakage matrix,
context-window sequence packing, robust-statistics cleanup
(winsorizing, exact z-score and MAD anomaly flags), and sketch-based
distinct counting.  The reference (iangow/wrds2pg) has none of these —
they are north-star additions per SURVEY.md §2 Part B.

Determinism contract (same as curation.py): tokenization is
``split(lower(text), ' ')`` on both engines, float aggregation goes
through the exact scaled-long helpers, O(1) derived floats round to 6
decimals on both sides, ties break on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from wrds2pg_spark.functions.numeric import (
    DAVG_SQL, DSUM_SQL, davg, dsum, with_broadcast_scalars)
from wrds2pg_spark.queries import _emb_cos_sql, register
from wrds2pg_spark.session import FAN_OUT_2MB, fan_out, lineage_cut
from wrds2pg_spark.sources.testdata import load_table


def _tokens(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, extra..., token) — one row per token occurrence."""
    return docs.select(
        "doc_id",
        *extra_cols,
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )


def max_run_expr(arr_sql: str):
    """Longest equal-run length in ``array_sort(<arr_sql>)`` — i.e. the
    max multiplicity of any element — as a codegen'd aggregate() fold
    (0 for an empty array).  Row-local: no shuffle, no UDF."""
    return F.expr(
        f"aggregate("
        f"  array_sort({arr_sql}),"
        f"  named_struct('prev', '', 'run', 0, 'best', 0),"
        f"  (acc, x) -> named_struct("
        f"    'prev', x,"
        f"    'run', IF(x = acc.prev AND acc.run > 0, acc.run + 1, 1),"
        f"    'best', GREATEST(acc.best,"
        f"      IF(x = acc.prev AND acc.run > 0, acc.run + 1, 1))),"
        f"  acc -> acc.best)"
    )


def hapax_count_expr(arr_sql: str):
    """Count of elements with multiplicity exactly 1 in ``<arr_sql>``,
    as a codegen'd fold over the sorted array (run = 0 marks "no
    previous element" so a leading '' cannot collide with the
    sentinel).  Row-local: no shuffle, no UDF."""
    return F.expr(
        f"aggregate("
        f"  array_sort({arr_sql}),"
        f"  named_struct('prev', '', 'run', 0, 'hapax', 0),"
        f"  (acc, x) -> IF(x = acc.prev AND acc.run > 0,"
        f"    named_struct('prev', x, 'run', acc.run + 1,"
        f"                 'hapax', acc.hapax),"
        f"    named_struct('prev', x, 'run', 1,"
        f"      'hapax', acc.hapax + IF(acc.run = 1, 1, 0))),"
        f"  acc -> acc.hapax + IF(acc.run = 1, 1, 0))"
    )


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher repetition filters)
# ---------------------------------------------------------------------------

@register(
    "text_repetition_topgram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS t
        FROM documents),
    bg AS (
        SELECT doc_id, source, len(t) AS n_tok,
               t[i] || ' ' || t[i+1] AS bigram
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
        WHERE len(t) >= 2),
    cnt AS (
        SELECT doc_id, source, n_tok, bigram, count(*) AS c
        FROM bg GROUP BY doc_id, source, n_tok, bigram),
    per_doc AS (
        SELECT doc_id, source,
               round(2.0 * max(c) / max(n_tok), 6) AS top_frac
        FROM cnt GROUP BY doc_id, source)
    SELECT source,
           count(*) AS n_docs,
           {DAVG_SQL('top_frac', 6)} AS avg_top_frac,
           CAST(count(*) FILTER (WHERE top_frac > 0.1) AS BIGINT)
               AS n_flagged
    FROM per_doc GROUP BY source
    """,
)
def text_repetition_topgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: per document, the fraction of
    tokens covered by the single most frequent word bigram (Rae et al.
    2021 'top 2-gram fraction'); aggregated per source with a flag
    count at the 0.1 threshold.  The top-bigram count is a ROW-LOCAL
    computation, so it never shuffles: per document the bigram array
    is sorted and a codegen'd aggregate() fold finds the longest
    equal-run (= max frequency) in one pass.  The document body never
    leaves its input partition; the only exchange in the whole plan is
    the per-source partial aggregate (bytes per source).  At 100 TB
    that beats the explode->groupBy(doc, bigram) formulation by the
    entire token-count shuffle it avoids."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", F.split(F.lower(F.col("text")), " ").alias("t")
    )
    per_doc = toks.filter(F.size("t") >= 2).select(
        "source",
        F.round(
            2.0
            * max_run_expr(
                "transform(sequence(1, size(t) - 1), i -> "
                "concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            )
            / F.size("t").cast("double"),
            6,
        ).alias("top_frac"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg(F.col("top_frac"), 6).alias("avg_top_frac"),
        F.sum(F.when(F.col("top_frac") > 0.1, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# Unigram LM scoring (perplexity-style quality signal)
# ---------------------------------------------------------------------------

@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS token
        FROM documents),
    freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM freq),
    scored AS (
        SELECT tok.doc_id,
               round(-ln(freq.c / tot.total), 6) AS nll
        FROM tok JOIN freq USING (token) CROSS JOIN tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round({DAVG_SQL('nll', 6)}, 6) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: train token frequencies over the
    corpus in one pass, then score each document by its mean negative
    log-likelihood — the cheap perplexity proxy used to rank documents
    for quality filtering (the CCNet/Gopher 'LM score' slot, with the
    n-gram LM reduced to unigrams so the oracle stays exact).

    Plan shape (round 6, doc-grain collapse like text_bigram_logprob):
    one token explode collapses immediately to (doc_id, token, k)
    counts; the corpus frequency table derives from THAT aggregate
    (Σk) and the scoring join probes doc-DISTINCT tokens with k
    weighting the per-doc fold — the nll depends only on the token,
    so instance grain was redundancy (the executed crossJoin plan
    re-tokenized documents 3x: AQE never reused the exchanges; this
    form tokenizes once).  The frequency table (vocabulary-sized —
    SUBLINEAR in the corpus by Heaps' law) broadcasts via AQE's
    runtime stats, no forced hint (lint): it degrades to a
    token-keyed shuffle if a 100-TB vocabulary ever outgrows
    executors instead of OOMing.  The 1-row total joins the same
    way."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    dg = _tokens(docs).groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("k"))
    # total stamps onto freq via the broadcast-scalar doctrine
    # (functions/numeric.py): the lazy checkpoint pins one
    # materialization of the vocab-grain count table for both the
    # total agg and the scoring join — no empty-frame window (AQE can
    # never split a window partition: at a 10^8-token web vocabulary
    # the r7 window form funneled the vocabulary through ONE task),
    # and no pipeline re-run (AQE exchange-reuse failure, BASELINE.md
    # r6, is what the checkpoint dodges).
    freq = with_broadcast_scalars(
        dg.groupBy("token").agg(F.sum("k").alias("c")),
        F.sum("c").cast("double").alias("total"),
    )
    scored = (
        dg.join(freq, "token")
        .select(
            "doc_id",
            "k",
            F.round(-F.log(F.col("c") / F.col("total")), 6).alias("nll"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_tok"),
        F.sum(F.col("k")
              * F.round(F.col("nll") * F.lit(1e6), 0).cast("long"))
        .alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_tok",
        F.round(
            (F.col("s").cast("double") / F.lit(1e6))
            / F.col("n_tok").cast("double"), 6
        ).alias("avg_nll"),
    )


# Shared WITH-prefix producing per-doc exact bigram-LM partials
# ``agg(doc_id, c, s)`` (c = bigram count, s = sum of 6-dp-scaled
# nll as BIGINT).  text_bigram_logprob's oracle formats the mean;
# quality_ccnet_buckets' oracle layers per-lang tertile cuts on the
# SAME aggregate so both engines score documents identically.
_BIGRAM_DOC_AGG_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents),
    big AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS gs(i)
        WHERE len(t) >= 2),
    uni AS (
        SELECT token, count(*) AS c1
        FROM (SELECT unnest(t) AS token FROM toks) GROUP BY token),
    v AS (SELECT CAST(count(*) AS DOUBLE) AS vocab FROM uni),
    bif AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
    scored AS (
        SELECT big.doc_id,
               round(-ln((bif.c12 + 1) / (uni.c1 + v.vocab)), 6) AS nll
        FROM big
        JOIN bif USING (w1, w2)
        JOIN uni ON uni.token = big.w1
        CROSS JOIN v),
    agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS c,
               SUM(CAST(round(nll * 1000000.0, 0) AS BIGINT)) AS s
        FROM scored GROUP BY doc_id)
"""


@register(
    "text_bigram_logprob",
    oracle=_BIGRAM_DOC_AGG_SQL + """
    SELECT doc_id, c AS n_bigrams,
           CAST((2 * s + c) // (2 * c) AS DOUBLE) / 1000000.0 AS avg_nll
    FROM agg
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing:
    nll(w1 w2) = -ln((c(w1,w2) + 1) / (c(w1) + V)) averaged per
    document — one LM order above `text_unigram_logprob`, the same
    quality-ranking slot with context sensitivity (catches shuffled-
    token junk a unigram LM scores as fluent).  Body lives in
    `_bigram_doc_stats` (shared with `quality_ccnet_buckets`, which
    cuts per-lang tertiles on the same exact integer partials).

    Plan shape (round 7 rewrite, VERDICT item 3 — measured sf1
    11.97 -> ~4.9 s, min-of-4 A/Bs, hash-identical):

    - ONE tokenize + ONE explode: each token row carries BOTH its
      unigram fingerprint h1 = xxhash64(w1) and its bigram
      fingerprint bg = xxhash64(w1, w2) (null on each doc's last
      token), built row-locally inside zip_with — the r6 form paid a
      second full tokenize for the unigram table and exploded
      5M 2-string structs where this explodes 2 longs.
    - fan_out before the tokenize: sf1 documents arrive as TWO input
      splits (5.8 MB compressed parquet hiding ~60 MB of text), so
      the explode ran on 2 of 32 cores — the repartition alone took
      the explode stage 2.42 -> 0.88 s measured.  At 100 TB the scan
      is thousands of splits and fan_out is a no-op.
    - every downstream key is LONG fingerprints: the instance table
      (doc_id, h1, bg, bgb) is lazily checkpointed (3 consumers under
      the AQE exchange-reuse failure, BASELINE.md r6) and the count
      aggregates exchange 8/16-byte fingerprints instead of strings.
      The BIGRAM key is 128-bit — two independent xxhash64 chains
      (the second prefixes a constant, re-seeding the whole chain) —
      because a collision silently merges two bigrams' counts with no
      runtime detection: at 64 bits that risk was ~3% at 1e9 distinct
      bigrams (r7 advice, medium); at 128 bits P(any collision) <=
      B^2/2^129 — ~1e-20 at 1e9, negligible at any reachable scale.
      The UNIGRAM key stays 64-bit by a measured trade: the unigram
      vocabulary is far smaller than the bigram one (~1e7-1e8 tokens
      when bigrams reach 1e9), putting its 64-bit collision odds at
      ~1e-4..1e-2 — five-plus orders below the bigram risk the advice
      flagged — while carrying h1b through the instance checkpoint
      and both aggregates measured +0.15 s at sf0.1.  nll VALUES stay
      exact whenever no collision exists, and the oracle gate catches
      any at test scale.
    - nll is precomputed per DISTINCT bigram (lm = bif x uni join at
      vocabulary grain, Heaps-sublinear) so the instance stream joins
      ONCE and feeds the per-doc aggregate directly; its map-side
      combine collapses each doc's rows before the exchange (docs
      never span input partitions).
    - count-table joins carry NO broadcast hint (bigram vocab grows
      ~linearly with corpus tokens; AQE broadcasts while it fits,
      shuffle-join beyond).  c12 stays agg+join, not a window: AQE
      can split a skewed shuffle-join partition but never a window
      partition (recorded negative, round 6)."""
    agg = _bigram_doc_stats(spark, sf_dir)
    return agg.select(
        "doc_id",
        F.col("c").alias("n_bigrams"),
        (F.expr("CAST((2 * s + c) DIV (2 * c) AS DOUBLE)")
         / F.lit(1e6)).alias("avg_nll"),
    )


def _bigram_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc exact bigram-LM partials (doc_id, c, s): c = bigram
    count, s = sum of 6-dp-scaled nll as BIGINT — the Spark twin of
    `_BIGRAM_DOC_AGG_SQL`'s ``agg`` CTE.  Plan notes live on
    `text_bigram_logprob`."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = F.split(F.lower(F.col("text")), " ")
    salt = F.lit(0x5A17)  # re-seeds the second xxhash64 chain
    arr = F.zip_with(
        t,
        F.concat(F.slice(t, 2, F.size(t) - 1),
                 F.array(F.lit(None).cast("string"))),
        lambda a, b: F.struct(
            F.xxhash64(a).alias("h1"),
            F.when(b.isNotNull(), F.xxhash64(a, b)).alias("bg"),
            F.when(b.isNotNull(), F.xxhash64(salt, a, b)).alias("bgb")),
    )
    fp = (
        docs.select("doc_id", F.explode(arr).alias("p"))
        .select("doc_id", "p.h1", "p.bg", "p.bgb")
        .transform(lineage_cut(eager=False))
    )
    # vocab stamps onto uni via the broadcast-scalar doctrine
    # (functions/numeric.py): no empty-frame window (the r7 form
    # ranked the whole vocabulary through one WindowExec task — the
    # unsplittable-skew class), no pipeline re-run (the helper's lazy
    # checkpoint is the AQE exchange-reuse dodge).  The checkpointed
    # stream is the vocabulary — Heaps-sublinear, the smallest here.
    uni = with_broadcast_scalars(
        fp.groupBy("h1").agg(F.count(F.lit(1)).alias("c1")),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    bif = (
        fp.filter(F.col("bg").isNotNull())
        .groupBy("bg", "bgb", "h1")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    lm = bif.join(uni, ["h1"]).select(
        "bg", "bgb",
        F.round(
            -F.log((F.col("c12") + F.lit(1))
                   / (F.col("c1") + F.col("vocab"))), 6
        ).alias("nll"),
    )
    scored = (
        fp.filter(F.col("bg").isNotNull())
        .join(lm, ["bg", "bgb"])
        .select("doc_id", "nll")
    )
    # the mean's 6-dp rounding runs in exact integer math — a double
    # round() of a value sitting ON the half boundary (seen at sf0.1:
    # 3.4140895) rounds differently in Spark's BigDecimal HALF_UP vs
    # the oracle's binary-double round; (2s + c) div (2c) is half-up
    # on the exact rational and bit-identical everywhere
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.round(F.col("nll") * F.lit(1e6), 0).cast("long"))
        .alias("s"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS token
        FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf
           FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
           GROUP BY token),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               round(tf.tf * ln(n.n_docs / df.df), 6) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n),
    ranked AS (
        SELECT doc_id, token, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, token) AS rk
        FROM scored)
    SELECT doc_id, token, score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF — the
    classic keyword-extraction / topic-tagging pass.  Document
    frequency is an AGGREGATE over tf's (already doc-distinct) rows
    joined back onto tf, with tf lazily checkpointed so the corpus
    still tokenizes ONCE (the AQE exchange-reuse failure, BASELINE.md
    r6, would otherwise re-run the explode per consumer).  Round 7:
    the r6 count-WINDOW-over-token form was retired — a stop-word
    token's window partition holds ~n_docs rows in ONE task, and AQE
    can split a skewed shuffle-JOIN partition but never a window
    partition (the repo's own bigram-c12 negative, round 6) — the
    join form is the one that survives "the" at 100 TB.  Wide ops:
    the tf aggregate, the df aggregate + token-keyed join (AQE
    broadcasts the Heaps-sublinear df table while it fits), and the
    per-doc top-k window.  No UDF — ln() and the window stay in
    codegen."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    tok = _tokens(docs)
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")).transform(lineage_cut(eager=False))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    win = W.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(win).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "score", "rk")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------

_DECONTAM_N = 8

# Unrounded cosine: the per-pair doubles are bitwise identical across
# engines (sequential dot + correctly-rounded sqrt/div), so max and the
# threshold operate on raw values and only the reported scalar is
# rounded, which lets the Arrow kernel replicate the arithmetic without
# replicating an engine's ROUND.
_DECONTAM_COS = _emb_cos_sql("t.embedding", "b.embedding", rounded=False)


@register(
    "decontaminate_embedding",
    oracle=f"""
    WITH bench AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 29 = 0),
    train AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE vec_id % 29 <> 0),
    hits AS (
        SELECT t.vec_id, t.label,
               MAX({_DECONTAM_COS}) AS max_cos,
               COUNT(*) FILTER (
                   WHERE {_DECONTAM_COS} >= 0.35) AS n_hits
        FROM train t CROSS JOIN bench b
        GROUP BY t.vec_id, t.label)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(COUNT(*) FILTER (WHERE n_hits > 0) AS BIGINT)
               AS n_contaminated,
           ROUND(MAX(max_cos), 6) AS worst_cos
    FROM hits GROUP BY label
    """,
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space twin
    of decontaminate_ngram: flag training vectors whose cosine to ANY
    held-out benchmark vector reaches the contamination threshold
    (paraphrased eval leakage that no n-gram overlap catches; the
    vec_id % 29 slice stands in for the eval set).  Reported per
    label: training count, contaminated count, and the worst cosine.

    Scale shape: eval suites are tiny against a 100 TB corpus, so
    each task reads the benchmark slice as an executor-side SIDE
    INPUT (the distributed form of broadcasting a lookup file — no
    driver collect) and the corpus streams through ONE vectorized
    Arrow matmul-style probe with no shuffle; only the per-label
    rollup exchanges.  A JVM crossJoin(broadcast) + HOF-cosine
    formulation of the same probe measured 110 s at 20k x 690 pairs
    (interpreted lambdas, ~8 us/pair) vs ~1 s here.  For benchmark
    sets past side-input size, pre-bucket both sides with the
    hyperplane LSH signature (dedup_embedding_lsh's blocking) and the
    probe becomes an equi-join."""
    import os

    import numpy as np

    from wrds2pg_spark.functions.arrow import map_batches, vectors

    emb = load_table(spark, sf_dir, "embeddings")
    bench_path = os.path.join(sf_dir, "embeddings.parquet")
    bench = []  # (B, nb), read once per task on its first batch

    def load_bench():
        # SIDE-INPUT READ, executor-side: every task reads the (tiny)
        # benchmark slice straight from the source parquet — the
        # distributed equivalent of broadcasting a lookup file, with
        # no driver-side collect (the no-collect discipline holds).
        import pyarrow.parquet as pq

        t = pq.read_table(bench_path, columns=["vec_id", "embedding"])
        ids = np.asarray(t.column("vec_id").combine_chunks(),
                         dtype=np.int64)
        lst = t.column("embedding").combine_chunks()
        allv = np.asarray(lst.flatten(), dtype=np.float64).reshape(
            len(lst), -1)                             # zero-copy path:
        B = allv[ids % 29 == 0]                       # n_bench x dim
        nb = np.zeros(B.shape[0])
        for j in range(B.shape[1]):
            nb += B[:, j] * B[:, j]
        return B, np.sqrt(nb)

    def probe(batch):
        # All arithmetic is sequential-accumulation numpy, bitwise
        # identical to the oracle's left-associative fold; values stay
        # RAW here and the single reported scalar rounds JVM-side.
        if not bench:
            bench.append(load_bench())
        B, nb = bench[0]
        V = vectors(batch, "embedding")
        n = V.shape[0]
        acc = np.zeros((n, B.shape[0]))
        nt = np.zeros(n)
        for j in range(V.shape[1]):                   # sequential dots
            acc += V[:, j:j + 1] * B[:, j]
            nt += V[:, j] * V[:, j]
        cos = acc / (np.sqrt(nt)[:, None] * nb[None, :])
        return {"label": batch.column("label"), "max_cos": cos.max(axis=1),
                "n_hits": (cos >= 0.35).sum(axis=1)}

    # fan_out: the embeddings table arrives as one input split at
    # bench scale, which would serialize the Arrow probe onto one core
    train = fan_out(emb).filter(F.col("vec_id") % 29 != 0)
    per_vec = map_batches(train.select("label", "embedding"), probe,
                          "label int, max_cos double, n_hits long")
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.count(F.when(F.col("n_hits") > 0, 1)).alias("n_contaminated"),
        F.round(F.max("max_cos"), 6).alias("worst_cos"),
    )


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS t
        FROM documents),
    sh AS (
        SELECT doc_id, source,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                 || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                 || ' ' || t[i+7] AS shingle
        FROM toks,
             UNNEST(generate_series(1, len(t) - {_DECONTAM_N - 1}))
                 AS g(i)
        WHERE len(t) >= {_DECONTAM_N}),
    bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
    hits AS (
        SELECT DISTINCT sh.doc_id, sh.source
        FROM sh JOIN bench USING (shingle)
        WHERE sh.doc_id % 20 <> 0),
    train AS (
        SELECT source, count(*) AS n_train
        FROM documents WHERE doc_id % 20 <> 0 GROUP BY source)
    SELECT train.source, train.n_train,
           CAST(coalesce(c.n_contaminated, 0) AS BIGINT)
               AS n_contaminated
    FROM train
    LEFT JOIN (SELECT source, count(*) AS n_contaminated
               FROM hits GROUP BY source) c
           ON train.source = c.source
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-level 8-gram with a held-out benchmark slice (docs with
    ``doc_id % 20 == 0`` stand in for the eval set) — the standard
    pre-training hygiene pass (GPT-3 appendix C / PaLM style).

    Scale shape: the shingle generator (HOF transform, fused with the
    scan) runs as two pushed-down scans over DISJOINT row sets — the
    5% eval slice and the 95% train slice — so no shingle is computed
    twice; the benchmark side collapses to DISTINCT
    shingles (eval suites are small — MBs against a 100 TB corpus) and
    broadcasts into a semi-join, so the training corpus streams
    through a map-side hash probe with no repartition of shingles.
    Contaminated doc-ids then dedupe and count per source.  Swap the
    literal benchmark slice for an external eval table and nothing in
    the plan changes."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", F.split(F.lower(F.col("text")), " ").alias("t")
    )
    n = _DECONTAM_N
    parts = ", ".join(f"element_at(t, i + {j})" for j in range(n))
    sh = (
        toks.filter(F.size("t") >= n)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {n - 1}), i -> "
                    f"concat_ws(' ', {parts}))"
                )
            ).alias("shingle"),
        )
    )
    bench = (
        sh.filter(F.col("doc_id") % 20 == 0).select("shingle").distinct()
    )
    hits = (
        sh.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    train = (
        docs.filter(F.col("doc_id") % 20 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train"))
    )
    contaminated = hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        train.join(contaminated, "source", "left")
        .select(
            "source",
            "n_train",
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Overlapping document chunking (the RAG / pretraining windowing step)
# ---------------------------------------------------------------------------

_CHUNK_W = 48   # tokens per chunk
_CHUNK_S = 32   # stride (overlap = W - S = 16)


@register(
    "text_chunk_overlap",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, {_CHUNK_S}))
                   AS tok_start
        FROM t)
    SELECT doc_id,
           tok_start // {_CHUNK_S} AS chunk_idx,
           tok_start,
           len(toks[tok_start + 1 : tok_start + {_CHUNK_W}]) AS n_tokens,
           array_to_string(
               toks[tok_start + 1 : tok_start + {_CHUNK_W}], ' ')
               AS chunk_text
    FROM s
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping fixed-width token windows
    (_CHUNK_W=48 tokens, stride _CHUNK_S=32 -> 16 tokens of
    overlap) — the chunking step every RAG corpus and
    long-document pretraining pipeline runs before embedding/packing
    (the standard return-overflowing-tokens contract: starts at 0, S,
    2S, ... while start < n_tokens; the tail chunk may be short and,
    like the standard tokenizers, may be contained in its predecessor
    when a document ends just past a stride point).

    Scale shape: tokenize + window generation is a GENERATOR fused
    with the scan (sequence + explode + slice, all codegen; same
    plan family as explode_unnest) — zero shuffles, zero Python, the
    chunk table streams straight into downstream embedding or
    pack_sequences stages.  Whitespace tokenization matches the
    corpus family's convention; chunk_idx = tok_start / stride is
    derived, not positional, so both engines compute it identically
    without an ordinal join."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("toks"))
    starts = F.sequence(
        F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_S))
    chunk = F.slice("toks", F.col("tok_start") + 1, _CHUNK_W)
    return (
        d.select(
            "doc_id", "toks", F.explode(starts).alias("__start"))
        .withColumn("tok_start", F.col("__start").cast("long"))
        .select(
            "doc_id",
            F.expr(f"tok_start DIV {_CHUNK_S}").alias("chunk_idx"),
            "tok_start",
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Context-window sequence packing
# ---------------------------------------------------------------------------

_CTX = 512

@register(
    "pack_sequences",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
    packed AS (
        SELECT source, n_tok,
               CAST(floor(
                   (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tok)
                   / {_CTX}.0) AS BIGINT) AS bin
        FROM sized)
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY source, bin
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing: concatenate documents in
    deterministic (source, doc_id) order into {_CTX}-token training
    bins (greedy 'pack until the window spills' — a document starting
    inside bin k belongs to bin k even if it crosses the boundary,
    which is exactly the running-sum formulation).  Output is the
    per-bin manifest a dataloader shards on.

    Packing is per-source, so the window partitions by source and the
    corpus packs in parallel across sources — no global sort, no
    single-partition bottleneck (the 100-TB failure mode of a naive
    ORDER BY over everything).  Token counts are row-local; the one
    shuffle is the source-keyed window, and the manifest agg reuses
    its partitioning."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    sized = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    win = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = sized.select(
        "source",
        "n_tok",
        F.floor((F.sum("n_tok").over(win) - F.col("n_tok")) / float(_CTX))
        .cast("long")
        .alias("bin"),
    )
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("bin_tokens"),
    )


# ---------------------------------------------------------------------------
# Robust statistics: winsorized means, exact z-score anomalies
# ---------------------------------------------------------------------------

@register(
    "winsorize_outliers",
    oracle=f"""
    WITH bounds AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.01) AS lo,
               quantile_cont(o_totalprice, 0.99) AS hi
        FROM orders GROUP BY o_orderpriority),
    clamped AS (
        SELECT o.o_orderpriority,
               o.o_totalprice AS raw,
               least(greatest(o.o_totalprice, b.lo), b.hi) AS w
        FROM orders o JOIN bounds b USING (o_orderpriority))
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round({DAVG_SQL('raw', 2)}, 4) AS mean_raw,
           round({DAVG_SQL('w', 4)}, 4) AS mean_winsorized
    FROM clamped GROUP BY o_orderpriority
    """,
)
def winsorize_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clamp o_totalprice into its exact
    [P1, P99] band (linear-interpolation percentiles, Spark
    ``percentile`` == DuckDB ``quantile_cont``) and compare the raw
    vs clamped means — the outlier-robust aggregation used to keep a
    few corrupt rows from skewing pipeline statistics.

    Two-pass shape: a tiny per-group percentile agg (groups × 2
    doubles) broadcasts back onto the fact stream, then one
    map-side-combined agg produces both means.  The fact table is
    scanned twice but shuffled only as group-keyed partials; at 100 TB
    the broadcast side is bytes per group, never a sort of the fact."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    bounds = orders.groupBy("o_orderpriority").agg(
        F.percentile(p, F.lit(0.01)).alias("lo"),
        F.percentile(p, F.lit(0.99)).alias("hi"),
    )
    clamped = orders.join(F.broadcast(bounds), "o_orderpriority").select(
        "o_orderpriority",
        p.alias("raw"),
        F.least(F.greatest(p, F.col("lo")), F.col("hi")).alias("w"),
    )
    return clamped.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(davg(F.col("raw"), 2), 4).alias("mean_raw"),
        F.round(davg(F.col("w"), 4), 4).alias("mean_winsorized"),
    )


@register(
    "anomaly_zscore",
    oracle="""
    WITH scaled AS (
        SELECT event_type,
               CAST(round(value * 1000, 0) AS BIGINT) AS v
        FROM events),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s1,
               CAST(sum(v * v) AS BIGINT) AS s2
        FROM scaled GROUP BY event_type),
    z AS (
        SELECT s.event_type, s.n, sc.v,
               (sc.v - CAST(s.s1 AS DOUBLE) / s.n)
               / sqrt((s.s2 - CAST(s.s1 AS DOUBLE) * s.s1 / s.n)
                      / (s.n - 1)) AS zval
        FROM scaled sc JOIN stats s USING (event_type))
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE abs(zval) > 3) AS BIGINT)
               AS n_anomalies,
           round(max(abs(zval)), 6) AS max_abs_z
    FROM z GROUP BY event_type
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly flags from EXACT integer moments:
    values scale to integers (3 decimals), first and second moments
    sum exactly as BIGINT (associative, so partitioning cannot change
    the result), and mean/stddev derive from those exact sums — the
    standard deviation itself becomes deterministic cross-engine,
    which a double-summed ``stddev_samp`` never is.

    Two-pass shape like winsorize: moments agg (groups × 3 longs)
    broadcasts onto the stream; flags and the max |z| come out of one
    map-side-combined agg.  The scaled-long trick bounds s2 at
    n·(10^3·max|v|)^2 — size the scale to the value domain at real
    scale (or swap to DECIMAL) exactly as functions/numeric.py
    documents."""
    ev = load_table(spark, sf_dir, "events")
    scaled = ev.select(
        "event_type",
        F.round(F.col("value") * 1000, 0).cast("long").alias("v"),
    )
    stats = scaled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("s2"),
    )
    z = scaled.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "n",
        (
            (F.col("v") - F.col("s1").cast("double") / F.col("n"))
            / F.sqrt(
                (
                    F.col("s2")
                    - F.col("s1").cast("double") * F.col("s1") / F.col("n")
                )
                / (F.col("n") - 1)
            )
        ).alias("zval"),
    )
    return z.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.sum(F.when(F.abs(F.col("zval")) > 3, 1).otherwise(0))
        .cast("long")
        .alias("n_anomalies"),
        F.round(F.max(F.abs(F.col("zval"))), 6).alias("max_abs_z"),
    )


# ---------------------------------------------------------------------------
# Sketch-based distinct counting (re-aggregable HLL)
# ---------------------------------------------------------------------------

@register("agg_hll_sketch", oracle=None)  # sketch bytes are engine-specific
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregable HyperLogLog distinct counts: per-group Datasketches
    HLL sketches built with ``hll_sketch_agg``, estimated with
    ``hll_sketch_estimate`` — unlike ``approx_count_distinct`` the
    intermediate sketch is a first-class value that can be stored and
    merged later (``hll_union_agg``), which is what incremental 100-TB
    rollups need (daily sketches -> monthly distincts without rescan).
    Oracle is rows-only (sketch internals are engine-specific); the
    unit test asserts the estimate lands within 5%% of the exact
    distinct count, and agg_approx_error_audit (queries.py)
    hash-checks the same bound per group against the DuckDB exact
    side."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("o_custkey"), F.lit(12))
            ).alias("approx_customers")
        )
    )


# ---------------------------------------------------------------------------
# Round 3: passage-level exact-substring dedup, hapax quality signal,
# cross-source n-gram overlap (train/eval leakage matrix)
# ---------------------------------------------------------------------------

_SUBSTR_W = 3   # fixture-scaled; production default is ~50 tokens
_SUBSTR_S = 2   # (Lee et al. 2022 use 50-token windows, stride 50)


@register(
    "dedup_exact_substr",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS t
        FROM documents),
    win AS (
        SELECT doc_id, source,
               md5(array_to_string(t[i:i+{_SUBSTR_W - 1}], ' ')) AS h
        FROM toks,
             UNNEST(generate_series(1, len(t) - {_SUBSTR_W - 1},
                                    {_SUBSTR_S})) AS g(i)
        WHERE len(t) >= {_SUBSTR_W}),
    flagged AS (
        SELECT doc_id, source,
               min(doc_id) OVER (PARTITION BY h)
               <> max(doc_id) OVER (PARTITION BY h) AS shared
        FROM win),
    per_doc AS (
        SELECT doc_id, source, max(shared) AS has_shared
        FROM flagged GROUP BY doc_id, source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE has_shared) AS BIGINT) AS n_flagged
    FROM per_doc GROUP BY source
    """,
)
def dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): slide a fixed token window over each document, hash
    every passage, and flag documents that share any passage hash with
    a DIFFERENT document.  Window/stride are fixture-scaled here
    (3/2); the operator shape is identical at the paper's 50/50.

    Plan: the window generator is a codegen'd HOF fused with the scan;
    only (md5, doc_id, source) triples shuffle — ONE hash-partitioned
    exchange where a window min/max-over-hash marks shared passages
    without a self-join or a second scan; per-doc and per-source aggs
    ride the same partitioning.  At 100 TB the shuffle is bounded by
    passage count x 24 bytes, and the classic hot key (an empty or
    boilerplate passage shared by millions of docs) hits AQE skew
    splitting because min/max windows are decomposable."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", F.split(F.lower(F.col("text")), " ").alias("t")
    )
    w, s = _SUBSTR_W, _SUBSTR_S
    win = (
        toks.filter(F.size("t") >= w)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {w - 1}, {s}), i -> "
                    f"md5(array_join(slice(t, i, {w}), ' ')))"
                )
            ).alias("h"),
        )
    )
    hw = W.partitionBy("h")
    flagged = win.select(
        "doc_id", "source",
        (F.min("doc_id").over(hw) != F.max("doc_id").over(hw)).alias("shared"),
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.max("shared").alias("has_shared"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("has_shared"), 1).otherwise(0))
        .cast("long").alias("n_flagged"),
    )


@register(
    "text_hapax_ratio",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               unnest(string_split(lower(text), ' ')) AS token
        FROM documents),
    cnt AS (
        SELECT doc_id, source, token, count(*) AS c
        FROM tok GROUP BY doc_id, source, token),
    per_doc AS (
        SELECT doc_id, source,
               round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / sum(c), 6) AS hapax_ratio
        FROM cnt GROUP BY doc_id, source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {DAVG_SQL('hapax_ratio', 6)} AS avg_hapax_ratio
    FROM per_doc GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomenon ratio per document (share of tokens occurring
    exactly once — a lexical-diversity / quality signal: boilerplate
    and spam skew low, natural prose skews high), averaged per source.

    Like text_repetition_topgram, the per-document statistic is
    ROW-LOCAL: sort the token array once and count length-1 runs in a
    codegen'd aggregate() fold — the document body never shuffles, and
    the only exchange is the per-source partial agg.  The ratio is an
    exact small-int rational, so both engines compute bit-identical
    doubles before the 6-dp round."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", F.split(F.lower(F.col("text")), " ").alias("t")
    )
    hapax = hapax_count_expr("t")
    per_doc = toks.select(
        "source",
        F.round(hapax.cast("double") / F.size("t"), 6).alias("hapax_ratio"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        davg(F.col("hapax_ratio"), 6).alias("avg_hapax_ratio"),
    )


_OVERLAP_N = 3


@register(
    "overlap_source_trigram",
    oracle=f"""
    WITH toks AS (
        SELECT source, string_split(lower(text), ' ') AS t
        FROM documents),
    ds AS (
        SELECT DISTINCT source,
               array_to_string(t[i:i+{_OVERLAP_N - 1}], ' ') AS g
        FROM toks,
             UNNEST(generate_series(1, len(t) - {_OVERLAP_N - 1})) AS s(i)
        WHERE len(t) >= {_OVERLAP_N})
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ds a JOIN ds b ON a.g = b.g AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def overlap_source_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix — the train/eval LEAKAGE
    inventory: for every pair of sources, how many distinct word
    trigrams they share.  Decontamination (decontaminate_ngram) asks
    "is this doc contaminated?"; this asks "which corpus slices bleed
    into each other?" — the audit you run before choosing holdout
    slices at all.

    Plan: ONE exchange — (source, gram) occurrences go straight into
    groupBy(gram).collect_set(source), whose set semantics absorb the
    per-source duplicate grams a separate DISTINCT would have paid a
    second shuffle to remove (per-row array_distinct upstream trims
    the map-side payload first).  Pair expansion per gram is bounded
    by |sources|^2/2 (sources number in the tens, never corpus-scale).
    A self-join on gram would shuffle the same data TWICE and build a
    join hash table per partition; the collect_set form is strictly
    cheaper and cannot skew (set size is capped by source count)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n = _OVERLAP_N
    grams = docs.select(
        "source", F.split(F.lower(F.col("text")), " ").alias("t")
    ).filter(F.size("t") >= n).select(
        "source",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, size(t) - {n - 1}), "
                f"i -> array_join(slice(t, i, {n}), ' ')))"
            )
        ).alias("g"),
    )
    by_gram = grams.groupBy("g").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    ).filter(F.size("ss") > 1)
    pairs = by_gram.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(ss) - 1), i -> "
                "  transform(slice(ss, 1, i), a -> "
                "    named_struct('source_a', a,"
                "                 'source_b', element_at(ss, i + 1)))))"
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )


@register(
    "anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type,
               quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)),
    mad AS (
        SELECT event_type,
               quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(d.med) AS med,
           min(m.mad) AS mad,
           CAST(count(*) FILTER (WHERE d.adev > 4.4478 * m.mad)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier flags per group — the robust
    twin of anomaly_zscore (a z-score's mean/stdev are themselves
    dragged by the outliers they hunt; median/MAD have a 50%
    breakdown point).  Threshold 3 sigma-equivalents = 3 x 1.4826 =
    4.4478 x MAD (the Gaussian consistency constant).

    Two-pass shape like winsorize_outliers: per-group exact
    interpolated medians (Spark ``percentile`` == DuckDB
    ``quantile_cont``, the already-proven pairing) broadcast back onto
    the fact stream twice — group medians first, then deviation
    medians; counts are integers and every float comparison runs the
    same IEEE ops both engines, so no rounding is needed anywhere.
    The deviation stream is materialized once (lazy localCheckpoint):
    its two consumers (the MAD aggregate and the final flag pass)
    would otherwise each re-run the scan + median subtree under the
    AQE exchange-reuse failure (BASELINE.md r6) — 4 fact scans for a
    2-pass algorithm.  The checkpoint is a narrow 4-column projection
    on executor-local disk, cheaper at any scale than two extra lake
    scans."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    ).transform(lineage_cut(eager=False))
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 4.4478 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(lower(text), ' ')) AS token
        FROM documents),
    freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    ranked AS (
        SELECT c,
               row_number() OVER (ORDER BY c DESC, token) AS r
        FROM freq),
    pts AS (
        SELECT round(ln(CAST(r AS DOUBLE)), 6) AS x,
               round(ln(CAST(c AS DOUBLE)), 6) AS y
        FROM ranked),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               {DSUM_SQL('x', 6)} AS sx, {DSUM_SQL('y', 6)} AS sy,
               {DSUM_SQL('x * x', 6)} AS sxx,
               {DSUM_SQL('x * y', 6)} AS sxy
        FROM pts)
    SELECT CAST(n AS BIGINT) AS n_vocab,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS intercept
    FROM m
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus token frequencies: least-squares
    slope of ln(freq) on ln(rank) — natural language sits near -1;
    boilerplate-heavy or synthetic corpora drift off, making the slope
    a one-number corpus-health probe (plus the intercept = ln of the
    fitted top-frequency).

    Scale shape (round-8 rewrite — no token-grain window): the r7
    form ranked the ENTIRE vocabulary through one unpartitioned
    row_number window, the unsplittable-skew class the r6/r7 verdicts
    banned (AQE can never split a window partition; a web-scale
    vocabulary is 10^8-10^9 tokens).  The fix exploits the fit's own
    structure — the regression never needs WHICH token holds which
    rank, only the multiset of (ln rank, ln freq) points, and under
    the (c desc, token) order all tokens sharing a frequency occupy a
    CONTIGUOUS rank range with constant y = ln(c).  So:

    1. collapse the vocabulary to the count-of-counts table (c, m) —
       k distinct frequencies satisfy sum(c_i) <= total tokens over
       distinct positive integers, so k = O(sqrt(corpus tokens)):
       ~7e6 rows at 100 TB vs 1e9 vocab rows;
    2. rank offsets via the two-pass zipWithIndex shape, windows
       PARTITIONED throughout: rows partition by the DETERMINISTIC
       octave band floor(log2(c)) — a pure function of the row, so
       no repartitionByRange (whose RangePartitioner runs a sampling
       JOB per execution; the first r8 form paid it, 0.33 -> 1.24 s
       at sf0.1) — then a per-band running sum and per-band totals
       folded into offsets by a tiny O(bands^2) broadcast self-join
       (<= 64 octaves for any long count, no unpartitioned window
       even over the totals).  Worst-case band skew is bounded by k
       itself (= O(sqrt(corpus tokens)), ~7e6 rows at 100 TB through
       one window task vs 1e9 vocab rows in the banned form);
    3. regenerate the rank points DISTRIBUTED: each (c, lo..hi) range
       explodes into 64k-rank chunks, the chunk rows repartition
       across the cluster, and each task explodes its own
       sequence(start, end) — the same generator-grid doctrine as the
       r7 ts_resample spines;
    4. the agg_corr_exact trick unchanged: ln values rounded to 6 dp
       (the proven cross-engine ln contract) feed exact scaled-long
       moments, so the regression is bit-stable under any
       partitioning — and the point multiset is identical to the
       oracle's row_number form, so the hash gate still matches."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    freq = _tokens(docs).groupBy("token").agg(
        F.count(F.lit(1)).alias("c"))
    par = docs.sparkSession.sparkContext.defaultParallelism
    # count-of-counts grain; checkpointed once for its two consumers
    # (running sum + band totals) under the AQE exchange-reuse
    # failure (BASELINE.md r6)
    ccb = (
        freq.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
        .withColumn("band", F.floor(F.log2("c")).cast("int"))
        .transform(lineage_cut(eager=False))
    )
    wrun = (W.partitionBy("band").orderBy(F.col("c").desc())
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = ccb.withColumn("cum", F.sum("m").over(wrun))
    btot = ccb.groupBy("band").agg(F.sum("m").alias("btot"))
    # higher octave = higher counts = EARLIER ranks: a band's offset
    # is the total mass of all strictly-higher bands
    offs = (
        btot.alias("a")
        .join(F.broadcast(btot.alias("b")),
              F.col("b.band") > F.col("a.band"), "left")
        .groupBy(F.col("a.band").alias("band"))
        .agg(F.coalesce(F.sum("b.btot"), F.lit(0)).alias("off"))
    )
    ranked = cum.join(F.broadcast(offs), "band").select(
        "c",
        (F.col("off") + F.col("cum") - F.col("m") + 1).alias("lo"),
        (F.col("off") + F.col("cum")).alias("hi"),
    )
    chunk = 1 << 16
    chunks = ranked.select(
        "c", "lo", "hi",
        F.explode(F.sequence(
            F.lit(0).cast("long"),
            F.floor((F.col("hi") - F.col("lo")) / F.lit(chunk)),
        )).alias("k"),
    ).repartition(par)
    pts = chunks.select(
        "c",
        F.explode(F.sequence(
            F.col("lo") + F.col("k") * chunk,
            F.least(F.col("hi"),
                    F.col("lo") + (F.col("k") + 1) * chunk - 1),
        )).alias("r"),
    ).select(
        F.round(F.log(F.col("r").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("c").cast("double")), 6).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("x"), 6).alias("sx"),
        dsum(F.col("y"), 6).alias("sy"),
        dsum(F.col("x") * F.col("x"), 6).alias("sxx"),
        dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.cast("long").alias("n_vocab"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Iterative BPE merge training (round 7)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3
_BPE_SEP_SQL = "chr(31)"  # unit separator: absent from the fixtures' text


def _bpe_round_sql(i: int) -> str:
    """One unrolled BPE round over the separator-string encoding."""
    sep, sep2 = _BPE_SEP_SQL, f"repeat({_BPE_SEP_SQL}, 2)"
    return f"""
t{i} AS (SELECT doc_id,
              list_slice(string_split(s, {sep2}),
                         2, len(string_split(s, {sep2})) - 1)
              AS t FROM s{i - 1}),
p{i} AS (
    SELECT t[j] AS w1, t[j+1] AS w2, count(*) AS cnt
    FROM t{i}, UNNEST(generate_series(1, len(t) - 1)) AS g(j)
    GROUP BY 1, 2),
b{i} AS (SELECT w1, w2, cnt FROM p{i} ORDER BY cnt DESC, w1, w2 LIMIT 1),
s{i} AS (
    SELECT doc_id,
           replace(s, {sep} || b.w1 || {sep2} || b.w2 || {sep},
                   {sep} || b.w1 || b.w2 || {sep}) AS s
    FROM s{i - 1}, b{i} b)"""


_BPE_ORACLE = (
    f"""
WITH s0 AS (
    SELECT doc_id,
           repeat({_BPE_SEP_SQL}, 2) ||
           array_to_string(string_split(lower(text), ' '),
                           repeat({_BPE_SEP_SQL}, 2)) ||
           repeat({_BPE_SEP_SQL}, 2) AS s
    FROM documents),"""
    + ",".join(_bpe_round_sql(i) for i in range(1, _BPE_ROUNDS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS round, w1, w2, w1 || w2 AS merged,"
        f" CAST(cnt AS BIGINT) AS cnt FROM b{i}"
        for i in range(1, _BPE_ROUNDS + 1))
)


def _bpe_chain(docs, rounds=_BPE_ROUNDS, extra_cols=()):
    """The shared BPE training cascade: returns (per-round best-pair
    DataFrames, final token table with column ``t``).  ``extra_cols``
    (e.g. source) ride the document stream untouched through every
    round.

    Round-8 rewrite: documents travel between rounds as the SAME
    doubled-separator string encoding the oracle replays — tokens
    joined on chr(31) twice, the winning pair merged via a literal
    (regex-free, codegen'd) ``replace`` whose pattern consumes one
    separator on each flank, so the replacement re-establishes the
    double-separator invariant and adjacent matches stay
    non-overlapping left-to-right, the classic single-pass greedy
    rule.  The r7 form folded each doc's token ARRAY element-by-
    element with concat(acc, array(x)) — which copies the accumulated
    array at every step, O(tokens^2) memory traffic per document per
    round (measured: the fold dominated the 3.6 s/4.0 s sf0.1 key
    times); the string replace is one linear scan.  Pair counting
    still explodes the split token array (linear), and per-round
    structure is unchanged: one map-side-combined pair count,
    TakeOrdered(1) argmax, 1-row broadcast back — zero driver state,
    bodies never shuffle, lazy checkpoints cut the cross-round
    lineage (AQE exchange-reuse failure, BASELINE.md r6)."""
    keep = list(extra_cols)
    sep = "\x1f"
    sep2 = sep * 2
    cur = docs.select(
        "doc_id", *keep,
        F.concat(
            F.lit(sep2),
            F.array_join(F.split(F.lower(F.col("text")), " "), sep2),
            F.lit(sep2),
        ).alias("s"))
    # The seed frame has TWO consumers (round-1 best_pair and round-1
    # merge), so the scan + lowercase + separator-join runs twice.
    # Cutting it measured a wash at sf0.1 (OPTIMIZATION_r11.md,
    # "_bpe_chain"): the corpus-as-string frame is bigger than the
    # parquet it derives from, so persisting it costs what the saved
    # re-scan gains (merges 1.86->1.72, compress 1.76->1.77 s,
    # min-of-5 interleaved).

    def toks(sdf):
        t = F.split(F.col("s"), sep2)
        return sdf.select(
            "doc_id", *keep,
            F.slice(t, 2, F.size(t) - 2).alias("t"))

    def best_pair(sdf):
        pairs = toks(sdf).select(F.explode(F.zip_with(
            F.slice(F.col("t"), 1, F.size("t") - 1),
            F.slice(F.col("t"), 2, F.size("t") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )).alias("p")).select("p.w1", "p.w2")
        return (pairs.groupBy("w1", "w2")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.desc("cnt"), "w1", "w2").limit(1))

    def merge(sdf, bdf):
        j = sdf.crossJoin(F.broadcast(bdf))
        merged = F.replace(
            F.col("s"),
            F.concat(F.lit(sep), F.col("w1"), F.lit(sep2),
                     F.col("w2"), F.lit(sep)),
            F.concat(F.lit(sep), F.col("w1"), F.col("w2"), F.lit(sep)),
        )
        return j.select("doc_id", *keep,
                        merged.alias("s")).transform(
            lineage_cut(eager=False))

    bests = []
    for r in range(1, rounds + 1):
        b = best_pair(cur).transform(lineage_cut(eager=False))
        bests.append(b)
        cur = merge(cur, b)
    return bests, toks(cur)


@register("vocab_bpe_merges", oracle=_BPE_ORACLE)
def vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge TRAINING (Sennrich et al. 2016), 3 rounds,
    word-level: per round, count all adjacent token pairs corpus-wide,
    pick the most frequent (tiebreak (cnt DESC, w1, w2) — fully
    deterministic), and re-tokenize every document by greedily merging
    non-overlapping occurrences left-to-right (a token produced by a
    merge cannot immediately re-merge as the LEFT element within the
    same round — the classic single-pass rule).  Output: the learned
    merge table (round, w1, w2, merged, cnt).

    This is the tokenizer-training primitive of every LLM data
    pipeline, and the repo's only multi-round iterative operator whose
    PER-ROUND global decision feeds the next round's map phase — the
    shape GraphX/Pregel-style jobs share.  Fully declarative, ZERO
    driver-side collect: each round is (a) one map-side-combined pair
    count, (b) argmax via TakeOrderedAndProject(1), (c) the 1-row
    winner crossJoin-broadcast back into a row-local aggregate() FOLD
    that rebuilds each doc's token array in codegen.  Per round the
    only exchange is the pair-count aggregate (vocab^2-bounded,
    Heaps-sublinear in the corpus); document bodies never shuffle.
    Round outputs are lazily checkpointed — 3 rounds of fold lineage
    would otherwise replay the whole cascade per consumer (AQE
    exchange-reuse failure, BASELINE.md r6).

    The DuckDB oracle cannot fold arrays, so it runs the SAME greedy
    merge through a separator-string encoding: tokens joined on a
    DOUBLED chr(31), the pair replaced via single-separator-delimited
    `replace()` whose replacement re-establishes the double-separator
    invariant — non-overlapping left-to-right exactly like the fold
    (the doubled separator is what makes adjacent matches
    non-overlapping in the string; a single separator would swallow
    the shared boundary and drop every second merge — recorded
    derivation, tools/ history).  Hash-equal at sf0.001/0.01/0.1."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                   min_bytes=FAN_OUT_2MB)
    bests, _final = _bpe_chain(docs)
    outs = [
        b.select(
            F.lit(r).cast("long").alias("round"),
            "w1", "w2",
            F.concat("w1", "w2").alias("merged"),
            F.col("cnt").cast("long").alias("cnt"))
        for r, b in enumerate(bests, start=1)
    ]
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


_BPE_COMP_ORACLE = (
    f"""
WITH s0 AS (
    SELECT doc_id, source,
           repeat({_BPE_SEP_SQL}, 2) ||
           array_to_string(string_split(lower(text), ' '),
                           repeat({_BPE_SEP_SQL}, 2)) ||
           repeat({_BPE_SEP_SQL}, 2) AS s
    FROM documents),"""
    + ",".join(_bpe_round_sql(i) for i in range(1, _BPE_ROUNDS + 1))
    + f""",
after AS (
    SELECT s0.source,
           len(string_split(lower(d.text), ' ')) AS n0,
           len(list_slice(string_split(s{_BPE_ROUNDS}.s,
                                       repeat({_BPE_SEP_SQL}, 2)),
                          2, len(string_split(s{_BPE_ROUNDS}.s,
                                              repeat({_BPE_SEP_SQL}, 2)))
                             - 1)) AS n1
    FROM s{_BPE_ROUNDS} JOIN s0 USING (doc_id)
    JOIN documents d USING (doc_id))
SELECT source,
       CAST(sum(n0) AS BIGINT) AS n_tokens_before,
       CAST(sum(n1) AS BIGINT) AS n_tokens_after,
       round(1.0 - CAST(sum(n1) AS DOUBLE) / CAST(sum(n0) AS DOUBLE), 6)
           AS saved_frac
FROM after GROUP BY source
"""
)


@register("vocab_bpe_compression", oracle=_BPE_COMP_ORACLE)
def vocab_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of BPE training: re-tokenize the corpus with the
    3 learned merges and report per-source token compression — the
    number a tokenizer-training pipeline actually acts on (how many
    context-window tokens each source saves for the merge budget).
    Rides the same _bpe_chain as vocab_bpe_merges; the source column
    and the pre-merge token count travel through every fold untouched
    (extra_cols), so the stats are ONE map-side-combined aggregate
    over the final token table — no joins, no second tokenize.  The
    oracle replays the doubled-separator replace chain and joins the
    final strings back to the raw text for the before-counts."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                   min_bytes=FAN_OUT_2MB)
    pre = docs.withColumn(
        "n0", F.size(F.split(F.lower(F.col("text")), " ")).cast("long"))
    _bests, final = _bpe_chain(pre, extra_cols=("source", "n0"))
    return final.groupBy("source").agg(
        F.sum("n0").alias("n_tokens_before"),
        F.sum(F.size("t").cast("long")).alias("n_tokens_after"),
        F.round(
            F.lit(1.0)
            - F.sum(F.size("t").cast("long")).cast("double")
            / F.sum("n0").cast("double"), 6
        ).alias("saved_frac"),
    )


# ---------------------------------------------------------------------------
# RAG ingest composite: chunk -> embed -> IVF index -> pruned probe
# ---------------------------------------------------------------------------

_RAG_NLIST = 16
_RAG_NPROBE = 2
_RAG_DIM = 64
_RAG_K = 20


def _rag_emb_terms(hx: str) -> list[str]:
    """The 64 embedding dimensions from 128 hex chars of ``hx``:
    dim j = byte j / 127.5 - 1.0 in [-1, 1].  conv('0x'-cast) yields
    the exact integer 0..255 on both engines and the division is one
    IEEE op, so the vectors are bit-identical cross-engine."""
    return [f"(CAST(conv(substr({hx}, {2 * j + 1}, 2), 16, 10) AS DOUBLE)"
            f" / 127.5D - 1.0D)" for j in range(_RAG_DIM)]


def _rag_emb_terms_sql(hx: str) -> list[str]:
    return [f"(CAST(('0x' || substr({hx}, {2 * j + 1}, 2)) AS INTEGER)"
            f" / 127.5 - 1.0)" for j in range(_RAG_DIM)]


def _rag_oracle() -> str:
    from wrds2pg_spark.operators.similarity import anchored_probe_cells
    from wrds2pg_spark.queries import _QVEC, _QVEC_SQL, _anchor_cell_sql

    ds, cell = _anchor_cell_sql("emb", _RAG_NLIST, _RAG_DIM)
    probes = ", ".join(
        str(c) for c in anchored_probe_cells(_QVEC, _RAG_NLIST, _RAG_NPROBE))
    emb_list = "[" + ", ".join(_rag_emb_terms_sql("hx")) + "]"
    return rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, {_CHUNK_S}))
                   AS tok_start
        FROM t),
    ch AS (
        SELECT doc_id, tok_start // {_CHUNK_S} AS chunk_idx,
               array_to_string(
                   toks[tok_start + 1 : tok_start + {_CHUNK_W}], ' ')
                   AS chunk_text
        FROM s),
    h AS MATERIALIZED (
        SELECT doc_id, chunk_idx,
               md5(chunk_text) || md5('a' || chunk_text)
                   || md5('b' || chunk_text) || md5('c' || chunk_text) AS hx
        FROM ch),
    -- MATERIALIZED: DuckDB re-inlines CTE expressions per reference;
    -- emb is referenced ~20x downstream (16 anchor dots + the cosine)
    -- and without the hint each reference re-derived the whole
    -- md5/substr tree — 120 s vs 0.14 s at sf0.001 (round-10 A/B)
    e AS MATERIALIZED (SELECT doc_id, chunk_idx, {emb_list} AS emb FROM h),
    c AS MATERIALIZED (
        SELECT doc_id, chunk_idx, emb,
               {cell}
        FROM (SELECT *, {ds} FROM e))
    SELECT doc_id, chunk_idx,
           {_emb_cos_sql('emb', _QVEC_SQL)} AS cos_sim
    FROM c
    WHERE cell IN ({probes})
    ORDER BY cos_sim DESC, doc_id, chunk_idx
    LIMIT {_RAG_K}
    """


@register("pipeline_rag_index", oracle=_rag_oracle())
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG ingest composite: overlapping chunking
    (text_chunk_overlap's generator), per-chunk embedding, IVF index
    build hive-partitioned by anchored cell, and a partition-PRUNED
    probe serving cosine top-{_RAG_K} — the four stages every
    retrieval corpus runs, composed with NO driver-side seam between
    them (the pipeline_training_data doctrine, retrieval edition).

    The embedder is a deterministic 64-dim hash projection (4 md5
    slices -> bytes -> [-1,1]): a stand-in with the exact SHAPE of a
    real encoder so chunking, index layout, pruning, and ranking stay
    value-hash-checkable cross-engine — swap in a Pandas-UDF model
    server and nothing downstream changes.  The coarse quantizer is
    the frozen anchored family (operators/similarity.py ivf_anchors),
    so cell assignment and the probe's cell list are reproducible in
    the oracle; the PQ compression stage composes the same way
    (embedding_pq_codes / similarity_ivfpq prove it) but the
    hash-checked composite keeps exact verify vectors.

    Scale shape: chunk+embed+assign is one fused codegen map over the
    corpus scan (zero shuffles — the md5/conv tree renders as ONE SQL
    string parsed JVM-side); the index write pays one
    partitionBy(cell) exchange AT INGEST; the probe computes its
    nprobe cells driver-side from the frozen anchors and reads ONLY
    those directories — partition pruning at file-listing time
    (plan-gated PartitionFilters, tests/test_plans.py), so query cost
    is O(corpus * nprobe / nlist) with zero shuffles regardless of
    corpus size."""
    from wrds2pg_spark.operators.similarity import (
        _exact_topk, anchored_cell_expr, anchored_probe_cells, ivf_anchors,
    )
    from wrds2pg_spark.queries import _QVEC
    from wrds2pg_spark.sources.testdata import ensure_dir_fixture, fixture_tag

    anchors = ivf_anchors(_RAG_NLIST, _RAG_DIM)

    def build(tmp: str) -> None:
        chunks = text_chunk_overlap(spark, sf_dir).select(
            "doc_id", "chunk_idx", "chunk_text")
        emb_sql = "array(" + ", ".join(_rag_emb_terms("hx")) + ")"
        (
            chunks
            .withColumn("hx", F.concat(
                F.md5(F.col("chunk_text")),
                F.md5(F.concat(F.lit("a"), F.col("chunk_text"))),
                F.md5(F.concat(F.lit("b"), F.col("chunk_text"))),
                F.md5(F.concat(F.lit("c"), F.col("chunk_text")))))
            .withColumn("embedding", F.expr(emb_sql))
            .withColumn("cell", anchored_cell_expr("embedding", anchors))
            .select("doc_id", "chunk_idx", "embedding", "cell")
            .write.mode("overwrite").partitionBy("cell").parquet(tmp)
        )

    tag = fixture_tag(sf_dir, "documents")
    index = ensure_dir_fixture(
        f"/tmp/wrds2pg_spark_fixtures/rag_ivf_{tag}", build)
    probe = anchored_probe_cells(_QVEC, _RAG_NLIST, _RAG_NPROBE)
    cands = spark.read.parquet(index).filter(F.col("cell").isin(probe))
    return _exact_topk(
        cands, _QVEC, _RAG_K, "embedding", ["doc_id", "chunk_idx"])


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------

@register(
    "quality_ccnet_buckets",
    oracle=_BIGRAM_DOC_AGG_SQL + """
    , sc AS (
        SELECT agg.doc_id, d.lang,
               CAST((2 * s + c) // (2 * c) AS BIGINT) AS scaled
        FROM agg JOIN documents d ON d.doc_id = agg.doc_id),
    cnt AS (
        SELECT lang, scaled, count(*) AS n
        FROM sc GROUP BY lang, scaled),
    cum AS (
        SELECT lang, scaled,
               SUM(n) OVER (PARTITION BY lang ORDER BY scaled) AS cum,
               SUM(n) OVER (PARTITION BY lang) AS tot
        FROM cnt),
    b AS (
        SELECT lang,
               MIN(CASE WHEN cum * 3 >= tot THEN scaled END) AS q1,
               MIN(CASE WHEN cum * 3 >= 2 * tot THEN scaled END) AS q2
        FROM cum GROUP BY lang)
    SELECT sc.doc_id, sc.lang,
           CAST(sc.scaled AS DOUBLE) / 1000000.0 AS avg_nll,
           CASE WHEN sc.scaled <= b.q1 THEN 'head'
                WHEN sc.scaled <= b.q2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sc JOIN b USING (lang)
    """,
)
def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality buckets (Wenzek et al.
    2020): score every document with the corpus bigram LM
    (`_bigram_doc_stats` — the same exact integer partials as
    `text_bigram_logprob`), then cut per-language tertiles on the
    score and label each doc head (most fluent third), middle, or
    tail.  Published CC pipelines keep head+middle and drop tail.

    Determinism: the per-doc score is the BIGINT 6-dp-scaled mean
    ((2s+c) div (2c) — half-up on the exact rational), and the cuts
    are VALUE-based, not rank-based: q1 = the smallest score whose
    cumulative doc count reaches ceil(n/3) (3*cum >= n in integer
    math), q2 likewise at 2n/3, ties sharing a score share a bucket.
    An ntile() over doc grain would pin each language's ENTIRE corpus
    into one unsplittable window partition (the recorded round-6
    negative); cutting at distinct-SCORE grain instead runs the
    window over the score vocabulary — bounded by 1e6 x nll range,
    orders below doc count — and buckets via a lang-grain join that
    AQE broadcasts.  Docs with <2 tokens have no bigrams and are
    out of scope on both engines (no LM evidence to score)."""
    stats = _bigram_doc_stats(spark, sf_dir)
    langd = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sc = (
        stats.join(langd, "doc_id")
        .select(
            "doc_id", "lang",
            F.expr("CAST((2 * s + c) DIV (2 * c) AS BIGINT)")
            .alias("scaled"),
        )
        .transform(lineage_cut(eager=False))  # 2 consumers (cuts + labels)
    )
    cnt = sc.groupBy("lang", "scaled").agg(F.count(F.lit(1)).alias("n"))
    w_cum = W.partitionBy("lang").orderBy("scaled")
    w_tot = W.partitionBy("lang")
    cum = cnt.select(
        "lang", "scaled",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("tot"),
    )
    b = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("tot"),
                     F.col("scaled"))).alias("q1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("tot"),
                     F.col("scaled"))).alias("q2"),
    )
    return sc.join(b, "lang").select(
        "doc_id", "lang",
        (F.col("scaled").cast("double") / F.lit(1e6)).alias("avg_nll"),
        F.when(F.col("scaled") <= F.col("q1"), F.lit("head"))
        .when(F.col("scaled") <= F.col("q2"), F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Boilerplate n-gram annotation
# ---------------------------------------------------------------------------

# A trigram window counts as boilerplate when it appears in at least
# this many DISTINCT documents (the CCNet/RefinedWeb line-dedup idea
# re-expressed at n-gram grain — this corpus has no line structure).
_BOILER_MIN_DOCS = 4


@register(
    "text_boilerplate_ngram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents),
    g AS (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
        FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS gs(i)
        WHERE len(t) >= 3),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng
            FROM g GROUP BY doc_id),
    boiler AS (
        SELECT gram FROM (
            SELECT gram, count(DISTINCT doc_id) AS d
            FROM g GROUP BY gram)
        WHERE d >= {_BOILER_MIN_DOCS}),
    nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
           FROM g JOIN boiler USING (gram) GROUP BY doc_id)
    SELECT tot.doc_id, tot.ng AS n_grams,
           COALESCE(nb.nb, 0) AS n_boiler,
           CAST((2 * COALESCE(nb.nb, 0) * 1000000 + tot.ng)
                // (2 * tot.ng) AS DOUBLE) / 1000000.0 AS boiler_ratio
    FROM tot LEFT JOIN nb ON nb.doc_id = tot.doc_id
    """,
)
def text_boilerplate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate annotation: per document, the fraction of word
    trigram windows that are corpus-frequent (appear in >=
    _BOILER_MIN_DOCS distinct documents) — the n-gram-grain
    re-expression of CCNet/RefinedWeb repeated-line scrubbing for a
    corpus without line structure.  High ratio = template/chrome
    text; downstream gates drop or deprioritize it.

    Scale shape: trigram instances are 64-bit xxhash64 fingerprints
    (8-byte rows exchange, never strings; collision merges two grams'
    doc counts — at 1e9 distinct trigrams ~3% chance of ONE merged
    pair perturbing one threshold test, the accepted unigram-side
    trade recorded on text_bigram_logprob, and the oracle gate
    catches any at test scale).  The instance stream stays in
    whole-stage codegen end to end: arrays_zip over the token array
    and its two shifted slices, explode, null-tail filter, THEN the
    hash at row grain — the first form's transform(sequence) +
    element_at lambda evaluated INTERPRETED per element and read
    7.16 s at sf0.1; this one reads 1.63 s, values identical
    (round-10 A/B, min-of-3).  Same measured lesson as
    functions/vector.py: HOFs off the hot path.  n_grams is
    row-local arithmetic (len-2), not an aggregate — the totals side
    never exchanges.  The instance stream is lazily checkpointed
    (2 consumers under the AQE exchange-reuse failure), and the
    frequent-gram table is Heaps-sublinear and DISTINCT-collapsed
    before the instance join; AQE broadcasts it while it fits.
    Remaining sf0.1 wall is the ~8-job scheduler floor, not data.
    The ratio is the exact-rational half-up division, bit-identical
    on both engines."""
    docs = fan_out(load_table(spark, sf_dir, "documents"),
                  min_bytes=FAN_OUT_2MB)
    t = F.split(F.lower(F.col("text")), " ")
    n = F.size(t)
    z = F.arrays_zip(
        t.alias("w1"),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
        F.slice(t, 3, F.greatest(n - 2, F.lit(0))).alias("w3"),
    )
    base = docs.select(
        "doc_id",
        F.greatest(n - 2, F.lit(0)).cast("long").alias("ng"),
        z.alias("z"),
    ).filter(F.col("ng") >= 1)
    g = (
        base.select("doc_id", F.explode("z").alias("p"))
        .filter(F.col("p.w3").isNotNull())
        .select("doc_id", F.xxhash64("p.w1", "p.w2", "p.w3").alias("g"))
        .transform(lineage_cut(eager=False))
    )
    boiler = (
        g.distinct()
        .groupBy("g").agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= _BOILER_MIN_DOCS)
        .select("g")
    )
    nb = (
        g.join(boiler, "g")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb"))
    )
    return (
        base.select("doc_id", "ng").join(nb, "doc_id", "left")
        .select(
            "doc_id",
            F.col("ng").alias("n_grams"),
            F.coalesce("nb", F.lit(0).cast("long")).alias("n_boiler"),
            (F.expr(
                "CAST((2 * coalesce(nb, CAST(0 AS BIGINT)) * 1000000 + ng)"
                " DIV (2 * ng) AS DOUBLE)") / F.lit(1e6))
            .alias("boiler_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language
# ---------------------------------------------------------------------------

@register(
    "vocab_fertility",
    oracle="""
    WITH feat AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS BIGINT) AS ws,
               CAST(length(text) AS BIGINT) AS chars
        FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           SUM(ws) AS n_words,
           SUM(bpe) AS n_bpe_tokens,
           SUM(chars) AS n_chars,
           CAST((2 * SUM(bpe) * 1000000 + SUM(ws)) // (2 * SUM(ws))
                AS DOUBLE) / 1000000.0 AS fertility,
           CAST((2 * SUM(chars) * 1000000 + SUM(bpe)) // (2 * SUM(bpe))
                AS DOUBLE) / 1000000.0 AS chars_per_token
    FROM feat GROUP BY lang
    """,
)
def vocab_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report per language: BPE-ish tokens per
    whitespace word and chars per token — the standard check that a
    tokenizer isn't fragmenting some language's text (high fertility
    = more sequence length per word = that language pays more compute
    per sentence).  Same GPT-2-shaped pre-tokenizer regex as
    `text_token_bpe`; counts are exact BIGINTs, the two ratios are
    the exact-rational half-up division.  One narrow map (3 counters
    per doc) + one 5-value groupBy — nothing here exceeds a partial
    aggregate at any scale."""
    from wrds2pg_spark.functions.text import token_count
    from wrds2pg_spark.queries import _BPE_PATTERN

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    feat = docs.select(
        "lang",
        F.size(F.regexp_extract_all(t, F.lit(_BPE_PATTERN), 0))
        .cast("long").alias("bpe"),
        token_count(t).alias("ws"),
        F.length(t).cast("long").alias("chars"),
    )
    return feat.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("n_words"),
        F.sum("bpe").alias("n_bpe_tokens"),
        F.sum("chars").alias("n_chars"),
        (F.expr("CAST((2 * sum(bpe) * 1000000 + sum(ws))"
                " DIV (2 * sum(ws)) AS DOUBLE)") / F.lit(1e6))
        .alias("fertility"),
        (F.expr("CAST((2 * sum(chars) * 1000000 + sum(bpe))"
                " DIV (2 * sum(bpe)) AS DOUBLE)") / F.lit(1e6))
        .alias("chars_per_token"),
    )
