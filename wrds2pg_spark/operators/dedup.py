"""Deduplication operators for document corpora, each designed for the
100-TB regime:

- exact            hash-groupBy on content hash: one shuffle, fully
                   distributed, keeps deterministic representative
- ngram_jaccard    exact word-set Jaccard within blocking keys:
                   equi-join on the block, array_intersect in codegen
- minhash_lsh      signature generator -> (id, bucket) posting ->
                   one shared back half: per-bucket pair generation +
                   exact-Jaccard verification of candidates only —
                   the classic near-linear near-dup pipeline
- simhash          64-bit SimHash fingerprints per document (JVM
                   token hashing + Arrow-batched numpy bit-fold;
                   grouping exact-matching fingerprints)

The fast and portable MinHash families differ only in the generator:
xxhash64 folded by the ``band_keys_udf`` pandas UDF, or md5 digests
folded JVM-side so a SQL oracle can recompute every key.  The Python
in hot paths is ``band_keys_udf`` and the two SimHash bit-folds,
vectorized numpy per document (see their docstrings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from wrds2pg_spark.session import lineage_cut

from wrds2pg_spark.functions.expr import let_
from wrds2pg_spark.functions.text import shingles, tokens

__all__ = [
    "dedup_exact", "ngram_jaccard_pairs", "ngram_containment_pairs",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_portable", "simhash_fingerprints",
    "simhash_fingerprints_portable",
    "connected_components",
    "portable_bucket_keys", "build_minhash_bucket_index",
    "pairs_from_posting", "candidates_from_posting",
    "containment_pairs_from_posting",
    "dedup_incremental_portable",
]


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: deterministic representative
    (min id), duplicate count, and the content hash.

    Scale: groupBy on md5(text) — a single hash shuffle where only the
    hash + id travel, not the document bodies."""
    h = F.md5(F.col(text_col)).alias("text_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select(id_col, "text_hash", "n_dups")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-set Jaccard over all pairs sharing a blocking key.

    Blocking bounds the pair count (per-block quadratic, globally
    linear in block count); the set intersection runs as
    ``array_intersect`` inside whole-stage codegen.  For unblocked
    corpora use :func:`minhash_lsh_pairs` instead."""
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = (
        F.size("toks_a").cast("double") + F.size("toks_b").cast("double") - inter
    )
    jac = F.round(inter / union, 6)
    return (
        _blocked_token_pairs(df, block_cols, text_col, id_col)
        .select(
            *block_cols, "id_a", "id_b", jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _blocked_token_pairs(
    df: DataFrame, block_cols: list[str], text_col: str, id_col: str
) -> DataFrame:
    """(block..., id_a, toks_a, id_b, toks_b) for every pair with
    id_a < id_b sharing a blocking key, toks the distinct word set —
    the shared front of :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs`."""
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.array_distinct(tokens(F.col(text_col))).alias("__toks"),
    )
    a = base.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_a"), F.col("__toks").alias("toks_a"),
    )
    b = base.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_b"), F.col("__toks").alias("toks_b"),
    )
    return (
        a.join(b, on=block_cols, how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
    )


def _jaccard(a: str, b: str):
    """round(|A n B| / |A u B|, 6) over two set-valued array columns —
    the one exact-Jaccard spelling of the posting-list verifiers (an
    empty pair scores 0.0, not NaN)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a).cast("double") + F.size(b).cast("double") - inter
    return F.round(inter / F.greatest(union, F.lit(1.0)), 6)


def band_keys_udf(num_hashes: int = 64, bands: int = 16):
    """LSH bucket keys from a shingle-hash array, as an Arrow-batched
    pandas UDF returning ONE ``array<long>`` column of ``bands`` keys.

    MinHash via universal hashing: signature_i = min over shingles of
    ``A_i * h + B_i`` (uint64 wraparound) where the base ``h`` is the
    JVM-side ``xxhash64(shingle)`` and (A_i, B_i) are fixed seeded
    constants — the standard one-base-hash MinHash family (Broder
    1997).  Band keys fold each signature slice with a multiply-xor
    mix salted by the band index, so keys never collide across bands
    and a single long join key halves the shuffle payload vs a
    (band, hash) pair.

    numpy computes the (n_shingles x num_hashes) multiply-add and the
    column-min in one vectorized pass per document; the equivalent
    nested-HOF expression tree (min over transform per seed) is ~6x
    slower at sf0.1 because 64 per-seed array traversals per row fall
    out of whole-stage codegen.  Map-only, no shuffle, linear in
    corpus size at the 100-TB regime."""
    from pyspark.sql.pandas.functions import pandas_udf

    rpb = num_hashes // bands
    rng = np.random.default_rng(0x9E3779B9)
    a_const = (
        rng.integers(1, 2**63, num_hashes, dtype=np.uint64) << np.uint64(1)
    ) | np.uint64(1)
    b_const = rng.integers(0, 2**63, num_hashes, dtype=np.uint64)
    mix = np.uint64(0xFF51AFD7ED558CCD)
    salt = np.arange(bands, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)

    @pandas_udf("array<long>")
    def band_keys(hashes: pd.Series) -> pd.Series:
        out = []
        for arr in hashes:
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if h.size == 0:
                out.append([])      # no shingles -> no buckets -> no pairs
                continue
            sig = (h[:, None] * a_const + b_const).min(axis=0)
            slices = sig.reshape(bands, rpb)
            acc = salt.copy()
            for j in range(rpb):
                acc = (acc ^ slices[:, j]) * mix
            out.append(acc.view(np.int64).tolist())
        return pd.Series(out)

    return band_keys


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, verified exactly.

    Stage 1 (map-only): shingle the text and xxhash64 each shingle
             JVM-side; vectorized MinHash turns the hash set into
             ``bands`` LSH bucket keys (see band_keys_udf).
    Stage 2: explode keys -> groupBy(bucket) + sorted collect_list:
             the ONLY heavy shuffle moves (key, id) longs, and the
             expensive map work runs exactly ONCE (a banded self-join
             would re-execute the whole signature pipeline per side).
    Stage 3: pairs generated per bucket from the sorted id list,
             de-duplicated across bands.
    Stage 4: candidates only are verified with exact Jaccard over the
             shingle-hash sets (long intersects, not string).

    At 100 TB the candidate set is tiny relative to N^2 — cost is one
    shuffle of (bucket_key, id) pairs plus the verification joins.
    A pathological mega-bucket (all-identical corpus slice) generates
    its pairs inside one task; AQE skew handling plus the upstream
    exact-dedup pass (run dedup_exact first) keeps buckets small.

    ``max_bucket_size`` is the industrial safety valve for corpora
    where exact-dedup alone can't bound buckets (boilerplate-heavy
    crawls): buckets above the cap contribute only their first
    ``max_bucket_size`` ids (sorted order — deterministic) to pair
    generation.  Pairs per bucket are then <= cap^2/2 instead of
    unbounded; a giant near-dup cluster still surfaces (its members
    co-occur across many bands) but can no longer generate O(n^2)
    work in one task.  The truncation itself is SILENT in the pair
    output — to audit dropped ids, re-run the bucket aggregation
    upstream and filter ``size(ids) > cap`` (one extra job over the
    same shuffle).  Off by default so the oracle-checked behavior is
    exact.  Stages 2-4 are :func:`pairs_from_posting`, shared with
    the portable family."""
    keyed = _fast_bucket_keys(df, num_hashes, bands, text_col, id_col)
    return pairs_from_posting(
        df, keyed, threshold=threshold, text_col=text_col,
        id_col=id_col, max_bucket_size=max_bucket_size,
    )


def _fast_bucket_keys(
    df: DataFrame, num_hashes: int, bands: int, text_col: str, id_col: str
) -> DataFrame:
    """The (id, LSH-bucket) posting list with the fast xxhash64 family
    (:func:`band_keys_udf`) — the counterpart of
    :func:`portable_bucket_keys`."""
    base = df.select(
        F.col(id_col),
        F.transform(shingles(F.col(text_col)), lambda s: F.xxhash64(s)).alias(
            "__shh"
        ),
    )
    return base.select(
        F.col(id_col),
        F.explode(
            band_keys_udf(num_hashes, bands)(F.col("__shh"))
        ).alias("bucket"),
    )


def _verify_pairs_exact(
    df: DataFrame,
    cand: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-Jaccard verification of a (tiny, checkpointed) candidate
    pair set: ONE corpus scan computes shingle hashes for candidate
    ids only (semi-broadcast of the id dim); the hashed mini-table is
    itself checkpointed (candidate-sized) and joined twice.  The
    pre-round-6 form broadcast the candidates into two full corpus
    scans and relied on exchange reuse — which AQE never grants
    (BASELINE.md r6) — so the upstream signature pipeline re-executed
    per verification side.  Verification needs only engine-LOCAL
    exactness, not portability: intersecting long arrays (xxhash64 of
    each shingle) costs a fraction of string-array intersects and
    yields identical set sizes."""
    j = _candidate_shingle_sets(df, cand, text_col, id_col)
    return (
        j.select("id_a", "id_b", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _candidate_shingle_sets(
    df: DataFrame,
    cand: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id_a, id_b, sh_a, sh_b) for a (tiny, checkpointed) candidate
    pair set — the shared verification front half of
    :func:`_verify_pairs_exact` and
    :func:`containment_pairs_from_posting` (round-9 review: the block
    had been copied verbatim; any future change to the verification
    shape must hit every metric at once).  ONE corpus scan computes
    shingle hashes for candidate ids only (broadcast id semi-join);
    the hashed mini-table is itself checkpointed (candidate-sized)
    and joined twice — the round-6 exchange-reuse rationale."""
    hash_of = lambda c: F.transform(shingles(c), lambda s: F.xxhash64(s))
    ids = (
        cand.select(F.col("id_a").alias("__cid"))
        .union(cand.select(F.col("id_b")))
        .distinct()
    )
    hashed = (
        df.join(F.broadcast(ids), F.col(id_col) == F.col("__cid"))
        .select(F.col(id_col).alias("__hid"),
                hash_of(F.col(text_col)).alias("__sh"))
        .transform(lineage_cut(eager=False))
    )
    return (
        cand.join(hashed, F.col("id_a") == F.col("__hid"))
        .select("id_a", "id_b", F.col("__sh").alias("sh_a"))
        .join(
            hashed.select(F.col("__hid").alias("__hid2"),
                          F.col("__sh").alias("sh_b")),
            F.col("id_b") == F.col("__hid2"),
        )
        .select("id_a", "id_b", "sh_a", "sh_b")
    )


def portable_bucket_keys(
    df: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The (id, LSH-bucket) posting list with the md5-portable hash
    family — the shared signature stage of the portable pair finder,
    the materialized signature index, and the incremental probe.

    96-hex per-shingle digests (md5(g) || md5('a'||g) || md5('b'||g)),
    the min-of-slices signature fold, and the band bucket keys are
    ALL computed JVM-side inside codegen'd HOFs (round 8; the r7 form
    shipped the digest arrays to an Arrow UDF for the fold — ~0.4 s
    of Python round-trip per consumer key at sf0.1).  Hash function s
    is ``array_min`` over the 8-hex substring at offset 8*s —
    lexicographic order of fixed-width hex == numeric order, the same
    invariant the Arrow fold's big-endian-uint64 minimum used; each
    band key is ``md5(band || '|' || sig-slice)`` via concat_ws, byte-
    identical to the r7 keys and to the DuckDB oracle's."""
    if num_hashes * 8 > 96:
        raise ValueError("portable family supports at most 12 hashes")
    from wrds2pg_spark.session import fan_out

    rpb = num_hashes // bands

    digests = F.transform(
        shingles(F.col(text_col)),
        lambda g: F.concat(
            F.md5(g),
            F.md5(F.concat(F.lit("a"), g)),
            F.md5(F.concat(F.lit("b"), g)),
        ),
    )
    # fan out ONLY the signature leg: it carries the md5-per-shingle
    # cost and must use every core even off a single input split.
    base = fan_out(df).select(F.col(id_col), digests.alias("__ds"))
    def _slice_min(s: int):
        return F.array_min(F.transform(
            F.col("__ds"), lambda d: d.substr(8 * s + 1, 8)))

    sig = [_slice_min(s) for s in range(num_hashes)]
    band_keys = F.array(*[
        F.md5(F.concat_ws(
            "|", F.lit(str(b)), *sig[b * rpb:(b + 1) * rpb]))
        for b in range(bands)
    ])
    # empty shingle set -> no buckets (the Arrow fold emitted []);
    # without the guard concat_ws would skip the null mins and emit
    # bogus band keys for empty documents
    buckets = F.when(F.size("__ds") > 0, band_keys).otherwise(
        F.array().cast("array<string>"))
    return base.select(
        F.col(id_col),
        F.explode(buckets).alias("bucket"),
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH with an engine-portable hash family —
    the oracle-checkable twin of :func:`minhash_lsh_pairs`.
    ``max_bucket_size`` is the same mega-bucket valve as the fast
    variant's (first ``cap`` ids in sorted order feed pair
    generation, bounding per-bucket pairs at cap*(cap-1)/2); with the
    md5 family the truncation is ORACLE-MODELABLE — a row_number()
    over (bucket ORDER BY id) <= cap in SQL reproduces the slice of
    the sorted collect_list exactly (see dedup_minhash_capped).

    The fast variant's xxhash64 + uint64 universal hashing cannot be
    reproduced in another engine, so its query key is rows-only
    checked.  This variant derives the entire signature from ``md5``
    (bit-identical in Spark and DuckDB): each shingle gets ONE 96-hex
    digest ``md5(g) || md5('a'||g) || md5('b'||g)``, and hash function
    s is the 8-hex non-overlapping slice at offset 8*s — md5 bits are
    uniform, so disjoint slices act as independent hash functions at
    1/4 the md5 cost of hashing per seed (3 digest calls per shingle
    instead of num_hashes).  Hex strings compare lexicographically
    the same everywhere; each band key is ``md5(band || '|' ||
    sig-slice)`` so band identity is baked into the key.  Same
    asymptotics as the fast variant — map-only signatures, ONE
    (bucket, id) shuffle, pair generation per bucket, exact-Jaccard
    verification of the tiny candidate set — just a costlier per-row
    constant, which is why the fast variant stays the default at
    scale.
    """
    keyed = portable_bucket_keys(
        df, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    )
    return pairs_from_posting(
        df, keyed, threshold=threshold, text_col=text_col,
        id_col=id_col, max_bucket_size=max_bucket_size,
    )


def pairs_from_posting(
    df: DataFrame,
    posting: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Verified near-dup pairs from an (id, bucket) posting list —
    the back half of both :func:`minhash_lsh_pairs` and
    :func:`minhash_lsh_pairs_portable`; it also serves a MATERIALIZED
    posting list
    (:func:`build_minhash_bucket_index`): pay the signature pass once
    at ingest, and every pair/cluster consumer starts from the index
    scan instead of re-shingling the corpus.  Values are identical
    either way — the index holds exactly portable_bucket_keys'
    output — so the oracle model is unchanged."""
    cand = candidates_from_posting(
        posting, id_col=id_col, max_bucket_size=max_bucket_size)
    # the md5 family is required only where the ORACLE must reproduce
    # values (signatures/buckets above); verification uses the shared
    # engine-local exact-Jaccard pass (xxhash64 long intersects —
    # measured at a near-dup-dense sf1: 54.7s -> fast-variant
    # territory)
    return _verify_pairs_exact(df, cand, threshold, text_col, id_col)


def candidates_from_posting(
    posting: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct ordered candidate pairs (id_a < id_b) from an
    (id, bucket) posting list — the shared front half of
    :func:`pairs_from_posting` and
    :func:`containment_pairs_from_posting` (round 9 split; the pair
    generator and cap semantics CANNOT drift between the Jaccard and
    containment verifiers)."""
    buckets = (
        posting.groupBy("bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.select(
            F.slice("ids", 1, max_bucket_size).alias("ids")
        ).filter(F.size("ids") > 1)
    # (ids[j], ids[i]) for j < i — ids is a materialized agg output, so
    # element_at here is a cheap array access, not a recompute.
    pair_structs = let_(
        F.col("ids"),
        lambda ids: F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(ids) - 1),
                lambda i: F.transform(
                    F.slice(ids, 1, i),
                    lambda a: F.struct(
                        a.alias("id_a"),
                        F.element_at(ids, (i + 1).cast("int")).alias("id_b"),
                    ),
                ),
            )
        ),
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
        # materialized: three consumers (the id dim and both verify
        # joins), no exchange reuse under AQE (BASELINE.md r6) — cut,
        # the signature pipeline runs once, not once per branch; the
        # candidate set is tiny by LSH design, so this is bytes
        .transform(lineage_cut(eager=False))
    )


def containment_pairs_from_posting(
    df: DataFrame,
    posting: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT pairs from the LSH posting list:
    |A n B| / min(|A|, |B|) — the subset/quote-duplication metric
    (Broder 1997's containment).  Symmetric Jaccard under-scores a
    short document embedded verbatim in a long one (the intersection
    is the whole short side but a sliver of the union); containment
    scores that pair ~1.0, which is why corpus pipelines gate on BOTH
    before keeping a "unique" document.  Emits jaccard alongside so
    the subset cases are visible as high-containment/low-jaccard
    rows.

    Candidates come from the SAME banded-LSH posting as the Jaccard
    keys — one index, every metric — with the documented asymmetric
    blind spot: banding collides on symmetric similarity, so a tiny
    snippet inside a huge document may not surface as a candidate at
    all (its Jaccard is low).  At 100 TB the fix is the
    dedup_exact_substr pass (window-hash), not a wider LSH; this
    operator covers the moderate-asymmetry band LSH does reach.
    Verification rides the shared candidate-bounded one-scan builder
    :func:`_candidate_shingle_sets` (engine-local xxhash64 shingle
    sets; shingles() is distinct, so sizes are true set
    cardinalities)."""
    cand = candidates_from_posting(
        posting, id_col=id_col, max_bucket_size=max_bucket_size)
    j = _candidate_shingle_sets(df, cand, text_col, id_col)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    smaller = F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
    cont = F.round(inter / F.greatest(smaller, F.lit(1.0)), 6)
    return (
        j.select("id_a", "id_b", cont.alias("containment"),
                 _jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("containment") >= threshold)
    )


def build_minhash_bucket_index(
    df: DataFrame,
    path: str,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the corpus's LSH posting list: (bucket, id) pairs
    with the portable hash family, written as parquet.  Pay the
    signature pass ONCE at ingest; every future arrival dedups against
    the corpus by probing this index instead of re-shingling 100 TB.
    Append-friendly: indexing a new batch is the same builder in
    append mode."""
    (
        portable_bucket_keys(
            df, num_hashes=num_hashes, bands=bands,
            text_col=text_col, id_col=id_col,
        )
        .write.mode("overwrite").parquet(path)
    )


def dedup_incremental_portable(
    spark,
    index_path: str,
    corpus: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup check: flag NEW documents whose text
    near-duplicates anything already in the indexed corpus — the
    daily-crawl hygiene pass that makes LSH dedup viable at 100 TB
    (without an index, every arrival re-pays the full corpus pass).

    Scale shape: the new batch is SMALL next to the corpus, so its
    (bucket, id) keys BROADCAST into a map-side hash probe of the
    index scan — no shuffle of the index, no re-shingling of corpus
    text except for the matched candidates, which the verification
    joins fetch by id.  Emits (id_new, id_old, jaccard) pairs at or
    above the threshold, verified exactly."""
    idx = spark.read.parquet(index_path).select(
        F.col(id_col).alias("id_old"), "bucket"
    )
    new_keyed = portable_bucket_keys(
        new_docs, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    ).select(F.col(id_col).alias("id_new"), "bucket")
    cand = (
        idx.join(F.broadcast(new_keyed), "bucket")
        .select("id_new", "id_old")
        .dropDuplicates(["id_new", "id_old"])
        # materialized: both verification joins consume the candidate
        # set, and a shared subtree re-executes per consumer under AQE
        # (exchange-reuse failure, BASELINE.md r6) — un-checkpointed,
        # the index probe + arrival signature pipeline ran once per
        # side.  Candidates are arrival-bounded, so this is bytes.
        .transform(lineage_cut(eager=False))
    )
    hash_of = lambda c: F.transform(shingles(c), lambda s: F.xxhash64(s))
    side_new = new_docs.select(
        F.col(id_col).alias("id_new"), F.col(text_col).alias("__tn")
    )
    j = (
        side_new.join(F.broadcast(cand), "id_new")
        .select("id_new", "id_old", hash_of(F.col("__tn")).alias("sh_n"))
    )
    side_old = corpus.select(
        F.col(id_col).alias("id_old"), F.col(text_col).alias("__to")
    )
    j = (
        side_old.join(F.broadcast(j), "id_old")
        .select("id_new", "id_old", "sh_n",
                hash_of(F.col("__to")).alias("sh_o"))
    )
    return (
        j.select("id_new", "id_old", _jaccard("sh_n", "sh_o").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document as a bit string.

    bit_i = sign of sum over tokens of (2*bit_i(xxhash64(token)) - 1);
    near-dups have small Hamming distance.  Also emits the count of
    docs sharing the exact fingerprint (one window-count shuffle).

    Tokenization + xxhash64 stay JVM-side (deterministic, codegen);
    only the 64-way bit-fold crosses to an Arrow-batched pandas UDF
    where numpy unpacks the bit matrix per document.  A pure-HOF
    formulation (64 transform+aggregate passes per row) builds an
    expression tree too large for whole-stage codegen and runs 7x
    slower at sf0.1; a single-pass zip_with fold is still 3x slower
    than the numpy kernel.  The UDF is map-only and Arrow-batched, so
    it scales linearly with partitions at the 100-TB regime."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("string")
    def _fold(hashes: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.uint64)
        out = []
        for arr in hashes:
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if h.size == 0:
                out.append("0" * bits)
                continue
            bm = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            out.append(_sign_bits(bm))
        return pd.Series(out)

    return _fingerprint_counts(
        df, _fold, lambda t: F.xxhash64(t), text_col, id_col)


def _sign_bits(bits) -> str:
    """The SimHash vote: bit i is '1' iff column i of the (tokens x
    bits) 0/1 matrix has more ones than zeros."""
    s = (2 * bits - 1).sum(axis=0)
    return "".join("1" if v > 0 else "0" for v in s)


def _fingerprint_counts(df, fold, token_hash, text_col, id_col):
    """(id, simhash, n_same): ``fold`` over the per-document array of
    ``token_hash(distinct token)`` — the one SimHash frame shape of
    the fast and portable families."""
    tok_hashes = F.transform(
        F.array_distinct(tokens(F.col(text_col))), token_hash
    )
    out = df.select(F.col(id_col), fold(tok_hashes).alias("simhash"))
    # window count, NOT a groupBy+self-join: the join would re-execute
    # the fold for its second input; the window shares one evaluation
    # and one shuffle on the fingerprint
    return out.select(
        id_col, "simhash",
        F.count(F.lit(1)).over(W.partitionBy("simhash")).alias("n_same"),
    )


def simhash_fingerprints_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Portable SimHash twin of ``simhash_fingerprints``: per-token
    bits come from md5 hex-digit parity instead of xxhash64, so an
    external SQL engine can recompute the fingerprint exactly and the
    driver's oracle can hash-check it (same doctrine as
    ``minhash_lsh_pairs_portable``).

    bit_i = sign of sum over distinct tokens of
    (2 * parity(hex digit i of md5(token)) - 1), i in [0, bits).
    md5 gives 32 hex digits, so bits <= 32.

    Same scale shape as the fast twin: tokenization + md5 stay
    JVM-side (codegen), the bit-fold is one Arrow-batched map-only
    pandas UDF (numpy parity fold over the hex-char matrix), and the
    only shuffle is the window count on the fingerprint."""
    from pyspark.sql.pandas.functions import pandas_udf

    if not 1 <= bits <= 32:
        raise ValueError("bits must be in [1, 32] (md5 hex width)")

    @pandas_udf("string")
    def _fold(hexes: pd.Series) -> pd.Series:
        out = []
        for arr in hexes:
            if arr is None or len(arr) == 0:
                out.append("0" * bits)
                continue
            a = np.frombuffer(
                "".join(h[:bits] for h in arr).encode("ascii"),
                dtype=np.uint8,
            ).reshape(-1, bits)
            # hex nibble value: '0'-'9' -> c-48, 'a'-'f' -> c-87
            vals = np.where(a >= 97, a - 87, a - 48).astype(np.int64)
            out.append(_sign_bits(vals & 1))
        return pd.Series(out)

    return _fingerprint_counts(
        df, _fold, lambda t: F.md5(F.encode(t, "UTF-8")), text_col, id_col)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a pair graph — duplicate-group
    assignment from near-dup PAIRS (minhash/simhash/cosine output):
    every vertex gets the smallest vertex id reachable from it as its
    component label.

    Iterative min-label propagation, the standard large-graph shape
    (GraphX/Pregel CC without the framework): per round each vertex
    takes min(own label, neighbors' labels) — a join + groupBy(min),
    all distributed; the driver sees only a 1-row convergence count
    per round, never data.  Rounds needed = graph diameter, which for
    near-dup clusters is tiny (stars/cliques: 1-2).  localCheckpoint
    truncates lineage so plans stay O(1) per round instead of
    compounding.

    Dedup-pair graphs are symmetric cliques in the limit, so
    ``max_iter`` is a safety rail, not a tuning knob; raise it only
    for long-chain graphs (their diameter bounds the rounds).  It
    must be at least 1: the seed round always runs."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # Checkpoint the loop-invariant edge list ONCE: the per-round join
    # re-evaluates sym's lineage, and while shuffle-stage reuse makes
    # exchanges free across rounds, BROADCAST-side work upstream (the
    # exact-Jaccard verify feeding minhash pairs) has no shuffle files
    # to reuse and re-ran every round — measured 23.2 s -> 10.3 s at a
    # dup-dense sf1 for dedup_cluster_minhash (round 8).
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).transform(lineage_cut(eager=False))

    def probe(new_labels):
        # Lazy checkpoint + the convergence probe as the materializing
        # action (round 11): the eager-checkpoint job and the probe
        # were two driver jobs per round; the limit(1) count both
        # answers "did anything change" and persists the partitions it
        # touches — untouched ones compute on demand inside the next
        # round's join stage, so total work is conserved but one
        # scheduler job per round disappears (the per-round wall here
        # is the job quantum, not data).
        ckpt = new_labels.transform(lineage_cut(eager=False))
        changed = ckpt.filter("__changed").limit(1).count()
        return ckpt.select("id", "comp"), changed

    # Round 1 constant-folds the label join away: labels == ids at
    # the start, so min(neighbor labels) == min(neighbor ids) and the
    # seed round is ONE groupBy over the symmetric edge list — no
    # initial distinct-labels frame, no join (the same first-iteration
    # fold graph_pagerank applies).  Convergence detection stays FUSED
    # into the aggregate: comp = least(id, min neighbor), changed iff
    # a neighbor id beats the own id.
    labels, changed = probe(
        sym.groupBy(F.col("u").alias("id"))
        .agg(
            F.least(F.min("u"), F.min("v")).alias("comp"),
            (F.min("v") < F.min("u")).alias("__changed"),
        )
    )
    for _ in range(max_iter - 1):
        if changed == 0:
            break
        # Convergence detection is FUSED into the label-update
        # aggregate: the old label rides along as a tagged union
        # branch (is_old=1) so min(old) is recoverable from the same
        # groupBy that computes min(all) — no second join per round.
        nbr = (
            sym.join(labels, sym.v == labels.id)
            .select(F.col("u").alias("id"), "comp",
                    F.lit(0).alias("is_old"))
        )
        labels, changed = probe(
            labels.select("id", "comp", F.lit(1).alias("is_old"))
            .unionByName(nbr)
            .groupBy("id")
            .agg(
                F.min("comp").alias("comp"),
                (F.min("comp")
                 < F.min(F.when(F.col("is_old") == 1, F.col("comp")))
                 ).alias("__changed"),
            )
        )
    return labels


def ngram_containment_pairs(
    df: DataFrame,
    block_cols: list[str],
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Directed token-set CONTAINMENT over pairs sharing a blocking
    key: C(a in b) = |A n B| / |A| (Broder 1997's containment, the
    asymmetric twin of resemblance/Jaccard).  Near-dup measures miss
    quote inclusion — a document that swallows another whole scores a
    LOW Jaccard when their sizes differ, but containment of the
    smaller side is 1.0.  This is the quote / benchmark-inclusion /
    subset-document detector.

    Emits each unordered pair once with BOTH directions as columns,
    filtered on the larger of the two — half the join work of a
    directed emit, and the consumer sees which side is the contained
    one.  Same blocking + codegen'd array_intersect scale shape as
    :func:`ngram_jaccard_pairs`."""
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    c_ab = F.round(inter / F.size("toks_a").cast("double"), 6)
    c_ba = F.round(inter / F.size("toks_b").cast("double"), 6)
    return (
        _blocked_token_pairs(df, block_cols, text_col, id_col)
        .select(
            *block_cols, "id_a", "id_b",
            c_ab.alias("contain_a_in_b"),
            c_ba.alias("contain_b_in_a"),
        )
        .filter(
            F.greatest("contain_a_in_b", "contain_b_in_a") >= threshold
        )
    )
