"""Custom operators the reference / Spark lack natively: as-of joins,
banded interval joins, dedup families, similarity search, text
analysis, multimodal column plumbing.  All are compositions of built-in
DataFrame ops (single-shuffle patterns) — no row-at-a-time Python."""

from wrds2pg_spark.operators.asof import asof_join  # noqa: F401
from wrds2pg_spark.operators.dedup import (  # noqa: F401
    connected_components,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from wrds2pg_spark.operators.multimodal import (  # noqa: F401
    binary_stats,
    decode_audio_wav,
    decode_image_bmp,
    decode_image_png,
    resize_image_bmp,
    sample_frames_real,
)
from wrds2pg_spark.operators.rangejoin import band_join  # noqa: F401
from wrds2pg_spark.operators.similarity import (  # noqa: F401
    blocked_pairs,
    brute_force_topk,
    lsh_topk,
)
from wrds2pg_spark.operators.skew import salted_agg, salted_join  # noqa: F401
