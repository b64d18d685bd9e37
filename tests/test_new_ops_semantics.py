"""Semantic/property checks for the round-3 operator additions —
invariants that must hold on any data, complementing the value-exact
oracle checks in test_queries_oracle.py."""

from pyspark.sql import functions as F

from wrds2pg_spark.queries import REGISTRY
from wrds2pg_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def run(name, spark, sf=SF):
    return REGISTRY[name].fn(spark, sf)


def test_pagerank_invariants(spark):
    rows = run("graph_pagerank", spark).collect()
    assert len(rows) > 0
    # every node keeps at least the teleport mass; nothing explodes
    assert all(0.15 <= r["pagerank"] for r in rows)
    assert all(r["pagerank"] < len(rows) for r in rows)
    # total mass is conserved up to integer-truncation loss: each of
    # the 3 iterations truncates at most ~1 micro-rank per edge-term
    total = sum(r["pagerank"] for r in rows)
    assert 0.9 * len(rows) < total <= len(rows) + 1e-6


def test_pagerank_partition_independent(spark):
    """Integer state must make ranks bit-identical under any input
    partitioning (the whole point of the scaled-BIGINT design)."""
    base = {r["node"]: r["pagerank"] for r in run("graph_pagerank", spark).collect()}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        alt = {r["node"]: r["pagerank"]
               for r in run("graph_pagerank", spark).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt


def test_jaccard_neighbors_bounds(spark):
    rows = run("graph_jaccard_neighbors", spark).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["s_a"] < r["s_b"]
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["n_common"] >= 1
    # sorted by jaccard desc with deterministic tie-break
    js = [r["jaccard"] for r in rows]
    assert js == sorted(js, reverse=True)


def test_survivorship_one_canonical_per_cluster(spark):
    df = run("dedup_survivorship", spark)
    # exactly one canonical member per canon_id, and it is itself
    per = df.groupBy("canon_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
        F.count(F.lit(1)).alias("sz"),
    ).collect()
    assert all(r["n_canon"] == 1 for r in per)
    canon_rows = df.filter("is_canonical").collect()
    assert all(r["doc_id"] == r["canon_id"] for r in canon_rows)
    # total membership preserved
    assert df.count() == load_table(spark, SF, "documents").count()


def test_late_filtered_is_subset_and_monotone_in_delay(spark):
    from wrds2pg_spark.streaming.events import late_filtered

    ev = load_table(spark, SF, "events")
    n_all = ev.count()
    kept_10 = late_filtered(ev, delay_minutes=10).count()
    kept_120 = late_filtered(ev, delay_minutes=120).count()
    assert kept_10 <= n_all
    # a larger watermark delay can only keep MORE events
    assert kept_10 <= kept_120 <= n_all


def test_late_filtered_first_batch_never_dropped(spark):
    from wrds2pg_spark.streaming.events import jittered_arrival_batch, late_filtered

    ev = load_table(spark, SF, "events")
    first_bid = (
        ev.select(jittered_arrival_batch().alias("b"))
        .agg(F.min("b")).collect()[0][0]
    )
    in_first = ev.withColumn("__b", jittered_arrival_batch()).filter(
        F.col("__b") == first_bid
    ).count()
    kept_first = (
        late_filtered(ev)
        .withColumn("__b", jittered_arrival_batch())
        .filter(F.col("__b") == first_bid)
        .count()
    )
    assert kept_first == in_first  # no watermark exists yet


def test_markov_rows_normalize(spark):
    rows = run("events_markov_transitions", spark).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r)
    for src, rs in by_src.items():
        assert abs(sum(r["p"] for r in rs) - 1.0) < 1e-9
        assert all(r["n"] >= 1 for r in rs)


def test_cdc_apply_semantics(spark):
    out = run("cdc_apply_changelog", spark)
    rows = out.collect()
    assert all(r["last_op"] in ("I", "U") for r in rows)  # no tombstones
    ev = load_table(spark, SF, "events")
    n_users = ev.select("user_id").distinct().count()
    assert out.count() <= n_users
    # last_seq really is the max event_id for surviving keys
    mx = {r["user_id"]: r["mx"] for r in
          ev.groupBy("user_id").agg(F.max("event_id").alias("mx")).collect()}
    assert all(r["last_seq"] == mx[r["user_id"]] for r in rows)


def test_m4_envelope(spark):
    rows = run("ts_downsample_m4", spark).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["v_min"] <= r["v_first"] <= r["v_max"]
        assert r["v_min"] <= r["v_last"] <= r["v_max"]
        assert r["n"] >= 1
    total = sum(r["n"] for r in rows)
    assert total == load_table(spark, SF, "events").count()


def test_profile_table_consistency(spark):
    rows = {r["col_name"]: r for r in run("profile_table", spark).collect()}
    li_n = load_table(spark, SF, "lineitem").count()
    assert set(rows) == {"l_orderkey", "l_quantity", "l_extendedprice",
                         "l_returnflag", "l_shipdate"}
    for r in rows.values():
        assert 0 <= r["n_distinct"] <= li_n
        assert 0 <= r["n_nulls"] <= li_n
    assert rows["l_orderkey"]["min_num"] <= rows["l_orderkey"]["max_num"]
    assert rows["l_returnflag"]["min_str"] <= rows["l_returnflag"]["max_str"]


def test_maxsim_ordering_and_bound(spark):
    rows = run("similarity_maxsim", spark).collect()
    assert len(rows) == 20
    scores = [r["maxsim"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_late_drop_counts_conserves_when_no_late_data(spark):
    """With an infinite delay nothing is ever late: the watermarked
    counts must equal the plain tumbling counts."""
    from wrds2pg_spark.streaming.events import late_drop_counts, tumbling_counts

    ev = load_table(spark, SF, "events")
    a = {(str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
         for r in late_drop_counts(ev, delay_minutes=10**6).collect()}
    b = {(str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
         for r in tumbling_counts(ev).collect()}
    assert a == b


def test_footer_rows_glob_metachars(tmp_path):
    """_parquet_footer_rows must count real footers even when the
    DIRECTORY path contains glob metacharacters (round-6 review:
    un-escaped glob on '/data/run[2024]/...' matches nothing and
    returns the huge sentinel, permanently mis-keying plan switches)."""
    import shutil

    from wrds2pg_spark.queries import _parquet_footer_rows

    sf = tmp_path / "run[2024]"
    (sf / "part.parquet").mkdir(parents=True)
    shutil.copy("/root/testdata/sf0.001/region.parquet",
                sf / "part.parquet" / "p0.parquet")
    assert _parquet_footer_rows(str(sf), "part") == 5


def test_footer_rows_missing_or_garbage_takes_small_path(tmp_path):
    """A missing file (FileNotFoundError) or a garbage footer
    (ArrowInvalid, a ValueError) reads as 0 rows, the small-data plan."""
    from wrds2pg_spark.queries import _parquet_footer_rows

    assert _parquet_footer_rows(str(tmp_path), "part") == 0
    (tmp_path / "part.parquet").write_bytes(b"not a parquet file")
    assert _parquet_footer_rows(str(tmp_path), "part") == 0


def test_variant_extract_null_on_malformed_json(spark, tmp_path):
    """json_variant_extract must treat a malformed props row as NULL
    (try_parse_json), matching get_json_object and the DuckDB oracle
    — never fail the job on one bad record (round-6 review)."""
    import pandas as pd

    pd.DataFrame({
        "event_type": ["click", "click", "view"],
        "props": ['{"k": 7}', "not json at all", None],
    }).to_parquet(tmp_path / "events.parquet")
    df = REGISTRY["json_variant_extract"].fn(spark, str(tmp_path))
    got = {r["event_type"]: (r["sum_k"], r["n"]) for r in df.collect()}
    assert got == {"click": (7, 2), "view": (None, 1)}


def test_snapshot_diff_apply_roundtrip(spark):
    """diff-then-apply is the identity: applying cdc_snapshot_diff's
    emitted I/U/D log to snapshot v1 must reproduce v2 exactly — the
    property that makes the diff trustworthy for replication audit
    (a missed change, phantom change, or misclassified op breaks
    the reconstruction, not just a count)."""
    diff = run("cdc_snapshot_diff", spark)
    v1 = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice")
    # reconstruct v2: drop D and U keys, add back I and U new values
    changed = diff.filter(F.col("op").isin("D", "U")).select(
        F.col("o_orderkey").alias("k"))
    kept = v1.join(changed, v1["o_orderkey"] == changed["k"],
                   "left_anti")
    upserts = diff.filter(F.col("op").isin("I", "U")).select(
        "o_orderkey", F.col("new_price").alias("o_totalprice"))
    rebuilt = {(r[0], r[1]) for r in kept.unionAll(upserts).collect()}
    # independent v2 derivation (same mutation the key documents)
    v2 = {
        (r[0], r[1])
        for r in v1.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 89 == 0,
                   F.expr("(cast(round(o_totalprice * 100) as bigint)"
                          " * 11 + 5) div 10").cast("double") / 100.0)
            .otherwise(F.col("o_totalprice")),
        ).collect()
    }
    assert rebuilt == v2 and len(v2) > 0


def test_point_in_time_state_matches_probe_event(spark):
    """SCD2 invariant: the state valid AT an event's own timestamp is
    that event's type (the event either started its run or continues
    it) — must hold for every probe row, and every probe must match
    (history covers each user from their first event)."""
    out = run("join_point_in_time", spark)
    ev = load_table(spark, SF, "events").select(
        "event_id", F.col("event_type").alias("true_type"))
    joined = out.join(ev, "event_id").collect()
    assert len(joined) > 0
    assert all(r["state_at_ts"] is not None for r in joined)
    assert all(r["state_at_ts"] == r["true_type"] for r in joined)


def test_weighted_median_matches_numpy_brute_force(spark):
    """functions/numeric.weighted_median vs a numpy brute force on
    seeded random frames: several groups, duplicate values, weights
    including the boundary cases (1 and large)."""
    import numpy as np

    from wrds2pg_spark.functions.numeric import weighted_median

    rng = np.random.RandomState(7)
    for trial in range(5):
        n = int(rng.randint(1, 200))
        groups = rng.randint(0, 4, n)
        # coarse grid forces duplicate values; weights hit 1..50
        vals = rng.randint(-5, 6, n).astype(float)
        wts = rng.randint(1, 51, n)
        rows = [
            (int(g), float(v), int(w), i)
            for i, (g, v, w) in enumerate(zip(groups, vals, wts))
        ]
        df = spark.createDataFrame(rows, "g int, v double, w long, rid int")
        got = {
            r["g"]: (r["weighted_median"], r["total_weight"])
            for r in weighted_median(
                df, ["g"], "v", F.col("w"), ["rid"]
            ).collect()
        }
        for g in sorted(set(groups.tolist())):
            sel = groups == g
            order = np.argsort(vals[sel], kind="stable")
            v_sorted = vals[sel][order]
            w_sorted = wts[sel][order]
            cum = np.cumsum(w_sorted)
            tot = int(cum[-1])
            idx = int(np.searchsorted(2 * cum, tot, side="left"))
            expect = float(v_sorted[idx])
            assert got[g] == (expect, tot), (trial, g, got[g], expect, tot)


def test_cogrouped_asof_empty_sides(spark):
    """join_asof_cogrouped's merge must survive buckets where one
    side is empty: users with events but no orders keep LEFT-OUTER
    nulls; orders with no events contribute nothing."""
    from wrds2pg_spark.queries import _cogrouped_asof

    e = spark.createDataFrame(
        [(1, 100, "2020-01-05"), (2, 999, "2020-01-06")],
        "event_id long, user_id long, ts string",
    ).select("event_id", "user_id", F.col("ts").cast("timestamp"))
    o = spark.createDataFrame(
        [(100, 7, "2020-01-01", 50.0), (555, 8, "2020-01-02", 60.0)],
        "user_id long, o_orderkey long, o_orderdate string, "
        "o_totalprice double",
    ).select("user_id", "o_orderkey",
             F.col("o_orderdate").cast("timestamp"), "o_totalprice")
    # the key's 64 buckets keep 999 and 100 apart: 999's bucket has no
    # orders, 555's no events
    got = {
        r["event_id"]: r["asof_o_orderkey"]
        for r in _cogrouped_asof(e, o).collect()
    }
    assert got == {1: 7, 2: None}


def test_bpe_merge_fold_greedy_nonoverlap(spark, tmp_path):
    """The BPE re-tokenize fold is greedy LEFT-TO-RIGHT and
    non-overlapping: 'a a a' with best pair (a,a) yields [aa, a] (the
    merged token cannot immediately re-merge as the left element in
    the same round), and 'a b a b' with (a,b) merges BOTH
    occurrences.  This pins the exact semantics the DuckDB oracle's
    doubled-separator replace() reproduces."""
    import pandas as pd

    from wrds2pg_spark.corpus import vocab_bpe_merges
    from wrds2pg_spark.sources.testdata import TABLES

    # build a tiny documents fixture where (a,a) then (aa,a) dominate
    d = tmp_path / "bpe"
    d.mkdir()
    pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a a a", "a b a b", "a a a a"],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [5, 7, 7],
    }).to_parquet(str(d / "documents.parquet"))
    rows = {r["round"]: (r["w1"], r["w2"], r["merged"], r["cnt"])
            for r in vocab_bpe_merges(spark, str(d)).collect()}
    # round 1: pairs — (a,a): doc1 has 2, doc2 0, doc3 3 => 5;
    # (a,b): 2; (b,a): 1  -> best (a,a,5)
    assert rows[1] == ("a", "a", "aa", 5)
    # after greedy merge: doc1 -> [aa, a]; doc2 unchanged;
    # doc3 -> [aa, aa]
    # round 2 pairs: (aa,a):1  (a,b):2 (b,a):1 (aa,aa):1 -> best (a,b,2)
    assert rows[2] == ("a", "b", "ab", 2)


def _mk_events(tmp_path, rows):
    import datetime as dt

    import pandas as pd

    d = tmp_path / "tsgen"
    d.mkdir(exist_ok=True)
    pd.DataFrame({
        "event_id": list(range(1, len(rows) + 1)),
        "ts": [dt.datetime(2024, 1, day, 12) for _u, day, _v in rows],
        "user_id": [u for u, _d, _v in rows],
        "event_type": ["purchase"] * len(rows),
        "value": [v for _u, _d, v in rows],
        "props": ["{}"] * len(rows),
    }).to_parquet(str(d / "events.parquet"))
    return str(d)


def test_ts_ffill_generator_edges(spark, tmp_path):
    """The generator grid's edges (round 7): a user active only on the
    global FIRST day gets no head rows and ffills to the global end; a
    user active only on the global LAST day gets a full null-filled
    pre-history; gap days carry the last known value with day_value
    null."""
    from wrds2pg_spark.queries import ts_resample_ffill

    # global span: Jan 1 .. Jan 4
    sf = _mk_events(tmp_path, [(1, 1, 10.0), (2, 4, 40.0), (3, 2, 7.0),
                               (3, 4, 9.0)])
    rows = {(r["user_id"], r["day"].day):
            (r["day_value"], r["filled_value"])
            for r in ts_resample_ffill(spark, sf).collect()}
    assert len(rows) == 12  # 3 users x 4 days
    # user 1: day1 known, days 2-4 ffilled from it
    assert rows[(1, 1)] == (10.0, 10.0)
    assert rows[(1, 3)] == (None, 10.0)
    assert rows[(1, 4)] == (None, 10.0)
    # user 2: days 1-3 are pre-history (null fill), day4 known
    assert rows[(2, 1)] == (None, None)
    assert rows[(2, 3)] == (None, None)
    assert rows[(2, 4)] == (40.0, 40.0)
    # user 3: gap day 3 carries day2's value
    assert rows[(3, 3)] == (None, 7.0)
    assert rows[(3, 4)] == (9.0, 9.0)


def test_ts_interpolate_generator_edges(spark, tmp_path):
    """Interpolation edges: interior gap days take the linear value
    between the surrounding known days (exact thirds here), leading
    gaps take the next known value, trailing gaps the last known."""
    from wrds2pg_spark.queries import ts_interpolate_linear

    # user 1 known on day1 (0.0) and day4 (9.0): days 2,3 interpolate
    # to 3.0, 6.0; user 2 known only day2: day1 leads (takes 5.0),
    # days 3-4 trail (keep 5.0)
    sf = _mk_events(tmp_path, [(1, 1, 0.0), (1, 4, 9.0), (2, 2, 5.0)])
    rows = {(r["user_id"], r["day"].day): r["interp_value"]
            for r in ts_interpolate_linear(spark, sf).collect()}
    assert rows[(1, 2)] == 3.0 and rows[(1, 3)] == 6.0
    assert rows[(2, 1)] == 5.0 and rows[(2, 4)] == 5.0


def test_q21_aggagg_sole_late_supplier_semantics(spark, tmp_path):
    """Pins the round-7 agg-agg rewrite of Q21 against crafted orders:
    only multi-supplier orders whose LATE suppliers number exactly one
    count, the max(when) extraction returns that supplier even when
    its late flag comes from one of several lineitems, and
    single-supplier or multi-late orders are excluded."""
    import datetime as dt

    import pandas as pd

    from wrds2pg_spark.queries import tpch_q21_shape

    d = tmp_path / "q21"
    d.mkdir()
    day0 = dt.datetime(2024, 1, 1)
    late = day0 + dt.timedelta(days=90)
    ok = day0 + dt.timedelta(days=10)
    # o1: suppliers 1 (late on one of two lines) + 2 (on time) -> counts for s1
    # o2: single supplier 3, late -> excluded (n_supp == 1)
    # o3: suppliers 4 and 5 both late -> excluded (n_late == 2)
    li = pd.DataFrame({
        "l_orderkey": [1, 1, 1, 2, 3, 3],
        "l_suppkey":  [1, 1, 2, 3, 4, 5],
        "l_shipdate": [ok, late, ok, late, late, late],
        "l_partkey": [1] * 6, "l_quantity": [1.0] * 6,
        "l_extendedprice": [1.0] * 6, "l_discount": [0.0] * 6,
        "l_tax": [0.0] * 6, "l_returnflag": ["N"] * 6,
        "l_linestatus": ["O"] * 6, "l_linenumber": [1, 2, 1, 1, 1, 1],
    })
    o = pd.DataFrame({
        "o_orderkey": [1, 2, 3],
        "o_custkey": [1, 1, 1],
        "o_orderstatus": ["F", "F", "F"],
        "o_totalprice": [1.0] * 3,
        "o_orderdate": [day0] * 3,
        "o_orderpriority": ["1-URGENT"] * 3,
    })
    s = pd.DataFrame({
        "s_suppkey": [1, 2, 3, 4, 5],
        "s_name": [f"S{i}" for i in range(1, 6)],
        "s_nationkey": [0] * 5, "s_acctbal": [0.0] * 5,
    })
    li["l_shipdate"] = li["l_shipdate"].astype("datetime64[us]")
    o["o_orderdate"] = o["o_orderdate"].astype("datetime64[us]")
    li.to_parquet(str(d / "lineitem.parquet"))
    o.to_parquet(str(d / "orders.parquet"))
    s.to_parquet(str(d / "supplier.parquet"))
    got = {(r["s_name"], r["numwait"])
           for r in tpch_q21_shape(spark, str(d)).collect()}
    assert got == {("S1", 1)}


def _mk_sessions(tmp_path, rows):
    """rows: (event_id, user_id, minute_offset, event_type, value)."""
    import datetime as dt

    import pandas as pd

    d = tmp_path / "sess"
    d.mkdir(exist_ok=True)
    base = dt.datetime(2024, 3, 1, 9, 0, 0)
    pd.DataFrame({
        "event_id": [e for e, _u, _m, _t, _v in rows],
        "ts": [base + dt.timedelta(minutes=m) for _e, _u, m, _t, _v in rows],
        "user_id": [u for _e, u, _m, _t, _v in rows],
        "event_type": [t for _e, _u, _m, t, _v in rows],
        "value": [v for _e, _u, _m, _t, v in rows],
        "props": ["{}"] * len(rows),
    }).to_parquet(str(d / "events.parquet"))
    return str(d)


def test_sessionize_gap_boundary(spark, tmp_path):
    """A gap of EXACTLY 30 minutes stays in-session (break is strictly
    >30), one second over breaks; simultaneous events order by
    event_id and never split; each user starts at session_idx 1."""
    from wrds2pg_spark.curation import events_sessionize

    sf = _mk_sessions(tmp_path, [
        (1, 1, 0.0, "view", 1.0),
        (2, 1, 30.0, "click", 2.0),          # exactly 30:00 -> same
        (3, 1, 60.0 + 1.0 / 60.0, "view", 3.0),  # 30:01 gap -> NEW
        # user 2: two simultaneous events then nothing
        (4, 2, 5.0, "view", 1.0),
        (5, 2, 5.0, "view", 1.5),
    ])
    rows = {(r["user_id"], r["session_idx"]): r
            for r in events_sessionize(spark, sf).collect()}
    assert set(rows) == {(1, 1), (1, 2), (2, 1)}
    assert rows[(1, 1)]["n_events"] == 2          # 0 and 30:00 together
    assert rows[(1, 2)]["n_events"] == 1          # split by one second
    assert rows[(2, 1)]["n_events"] == 2          # simultaneous pair
    assert rows[(1, 1)]["n_event_types"] == 2
    assert rows[(1, 1)]["sum_value"] == 3.0
    # session bounds are the member extremes
    assert rows[(1, 1)]["session_start"].minute == 0
    assert rows[(1, 1)]["session_end"].minute == 30


def test_cms_overestimate_invariant(spark):
    """Count-min sketches can only OVERcount: est >= exact for every
    probe, and the reported overcount is their difference."""
    df = run("agg_cms_topk", spark).collect()
    # sf0.001 has only 10 suppliers, so top-20 truncates to the domain
    assert 1 <= len(df) <= 20
    for r in df:
        assert r["cms_est"] >= r["exact_n"]
        assert r["cms_overcount"] == r["cms_est"] - r["exact_n"]


def test_cluster_minhash_consistent_with_pairs(spark):
    """Every verified near-dup pair must land in the same cluster, and
    each cluster's label must be its minimum member id; docs in no
    pair are singletons labeling themselves."""
    pairs = {(r["id_a"], r["id_b"])
             for r in run("dedup_minhash_portable", spark).collect()}
    comp = {r["doc_id"]: r["comp"]
            for r in run("dedup_cluster_minhash", spark).collect()}
    paired = set()
    for a, b in pairs:
        assert comp[a] == comp[b]
        paired |= {a, b}
    from collections import defaultdict
    members = defaultdict(list)
    for d, c in comp.items():
        members[c].append(d)
    for c, ds in members.items():
        assert c == min(ds)
    for d, c in comp.items():
        if d not in paired and len(members[c]) == 1:
            assert c == d


def test_table_checksum_detects_change_and_ignores_order(spark, tmp_path):
    """The checksum must be identical under any partitioning/row order
    and must CHANGE when a single value changes — the two properties
    that make it a migration validator."""
    from wrds2pg_spark.curation import dq_table_checksum

    base = {r["o_orderpriority"]: (r["n_rows"], r["chk1"], r["chk2"])
            for r in dq_table_checksum(spark, SF).collect()}

    # order/partitioning independence: rewrite the table shuffled
    import shutil
    d = tmp_path / "shuf"
    d.mkdir()
    src = spark.read.parquet(SF + "/orders.parquet")
    (src.repartition(7).write.mode("overwrite")
        .parquet(str(d / "orders.parquet")))
    shuf = {r["o_orderpriority"]: (r["n_rows"], r["chk1"], r["chk2"])
            for r in dq_table_checksum(spark, str(d)).collect()}
    assert shuf == base

    # sensitivity: bump one row's totalprice by a cent
    from pyspark.sql import functions as F
    d2 = tmp_path / "mut"
    d2.mkdir()
    mutated = src.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == src.limit(1).collect()[0]["o_orderkey"],
               F.col("o_totalprice") + 0.01).otherwise(F.col("o_totalprice")))
    mutated.write.mode("overwrite").parquet(str(d2 / "orders.parquet"))
    mut = {r["o_orderpriority"]: (r["n_rows"], r["chk1"], r["chk2"])
           for r in dq_table_checksum(spark, str(d2)).collect()}
    assert mut != base
    # row counts unchanged — only the content digest moved
    assert {k: v[0] for k, v in mut.items()} == {
        k: v[0] for k, v in base.items()}


def test_table_checksum_null_positions_distinct(spark, tmp_path):
    """NULL handling: ('a', NULL) and (NULL, 'a')-style rows must hash
    DIFFERENTLY (concat_ws alone would drop the null and alias them),
    and a null row must still contribute to the digest."""
    import pandas as pd

    base = dict(o_orderkey=[1.0], o_custkey=[2.0],
                o_totalprice=[10.0],
                o_orderdate=[pd.Timestamp("2024-01-01")],
                o_orderpriority=["1-URGENT"])

    def mk(name, status, prio):
        d = tmp_path / name
        d.mkdir()
        pdf = pd.DataFrame(base)
        # explicit string dtype: an all-None object column would land
        # in parquet as a NULL-typed column, which no typed engine op
        # (checksum included) is specified over
        pdf["o_orderstatus"] = pd.Series([status], dtype="string")
        pdf["o_orderpriority"] = pd.Series([prio], dtype="string")
        pdf.to_parquet(str(d / "orders.parquet"), coerce_timestamps="us")
        return d

    from wrds2pg_spark.curation import dq_table_checksum

    a = dq_table_checksum(spark, str(mk("a", None, "P"))).collect()
    b = dq_table_checksum(spark, str(mk("b", "P", None))).collect()
    # same non-null value set, different null position -> different hash
    assert (a[0]["chk1"], a[0]["chk2"]) != (b[0]["chk1"], b[0]["chk2"])
    # the all-null-status row still contributes (n_rows counted, chk != 0)
    assert a[0]["n_rows"] == 1 and a[0]["chk1"] > 0


def test_table_checksum_separator_aliasing_distinct(spark, tmp_path):
    """Separator escaping: a '|' (or '\\x01', or '\\') INSIDE a string
    value must not alias a shifted row — ('P|Q' , 'R') and ('P', 'Q|R')
    hash differently, as do a literal '\\x01' value vs a true NULL."""
    import pandas as pd

    base = dict(o_orderkey=[1.0], o_custkey=[2.0],
                o_totalprice=[10.0],
                o_orderdate=[pd.Timestamp("2024-01-01")])

    def mk(name, status, prio):
        d = tmp_path / name
        d.mkdir()
        pdf = pd.DataFrame(base)
        pdf["o_orderstatus"] = pd.Series([status], dtype="string")
        pdf["o_orderpriority"] = pd.Series([prio], dtype="string")
        pdf.to_parquet(str(d / "orders.parquet"), coerce_timestamps="us")
        return d

    from wrds2pg_spark.curation import dq_table_checksum

    def chk(name, status, prio):
        rows = dq_table_checksum(spark, str(mk(name, status, prio))).collect()
        return (rows[0]["chk1"], rows[0]["chk2"])

    # '|' inside a value vs the same bytes split across the separator
    assert chk("s1", "P|Q", "R") != chk("s2", "P", "Q|R")
    # a literal \x01 VALUE vs a true NULL
    assert chk("s3", "\x01", "R") != chk("s4", None, "R")
    # backslash adjacent to the separator vs escaped-separator bytes
    assert chk("s5", "P\\", "R") != chk("s6", "P", "\\R")


def test_jaccard_minhash_bounds(spark):
    """Round 9: the MinHash twin's estimates are m/12 for m in 1..12,
    pairs are ordered (s_a < s_b), and the top-100 sort is by
    agreement count with deterministic tie-break."""
    rows = run("graph_jaccard_minhash", spark).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["s_a"] < r["s_b"]
        assert 1 <= r["n_match"] <= 12
        assert abs(r["est_jaccard"] - round(r["n_match"] / 12.0, 6)) < 1e-9
    ms = [r["n_match"] for r in rows]
    assert ms == sorted(ms, reverse=True)


def test_jaccard_minhash_partition_independent(spark):
    """Signatures are exact per-supplier minima — the candidate set
    and agreement counts must be identical under any partitioning."""
    base = {(r["s_a"], r["s_b"]): r["n_match"]
            for r in run("graph_jaccard_minhash", spark).collect()}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        alt = {(r["s_a"], r["s_b"]): r["n_match"]
               for r in run("graph_jaccard_minhash", spark).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt


def test_jaccard_minhash_recall_invariants(spark):
    """The audit's overlap cannot exceed either side, recall and the
    weighted error live in [0, 1], and integer error sums are
    consistent (err_num <= err_den would fail only if an estimate
    missed [0,1] — est and exact are both Jaccards)."""
    r = run("graph_jaccard_minhash_recall", spark).collect()[0]
    assert r["n_exact"] > 0
    assert 0 <= r["n_overlap"] <= r["n_exact"]
    assert 0.0 <= r["recall_at_100"] <= 1.0
    assert 0.0 <= r["wtd_abs_err"] <= 1.0


def test_jaccard_minhash_matches_signature_agreement(spark):
    """n_match must equal the true slot-agreement of independently
    recomputed signatures (guards the slice offsets, the cap, and the
    once-per-agreeing-slot bucket-join counting)."""
    import hashlib
    from collections import defaultdict

    li = load_table(spark, SF, "lineitem")
    edges = {(r["l_partkey"], r["l_suppkey"])
             for r in li.select("l_partkey", "l_suppkey").collect()}
    neigh = defaultdict(set)
    part_deg = defaultdict(int)
    for p, s in edges:
        neigh[s].add(p)
        part_deg[p] += 1
    # This reference computation recomputes slot agreement from
    # UNCAPPED signatures; the operator caps each (slot,value)
    # posting at _JACCARD_BLOCK_CAP suppliers.  Make the assumption
    # explicit (round-10 advice): the comparison below is only valid
    # while no part's supplier degree approaches the cap — if this
    # ever fires, apply the same first-N truncation here.
    from wrds2pg_spark.queries import _JACCARD_BLOCK_CAP

    assert max(part_deg.values()) < _JACCARD_BLOCK_CAP

    def digest(p):
        ps = str(p)
        return (hashlib.md5(ps.encode()).hexdigest()
                + hashlib.md5(("a" + ps).encode()).hexdigest()
                + hashlib.md5(("b" + ps).encode()).hexdigest())

    def sig(parts):
        return [min(digest(p)[8 * k: 8 * k + 8] for p in parts)
                for k in range(12)]

    sigs = {s: sig(parts) for s, parts in neigh.items()}
    for r in run("graph_jaccard_minhash", spark).collect():
        agree = sum(
            1 for k in range(12)
            if sigs[r["s_a"]][k] == sigs[r["s_b"]][k])
        assert agree == r["n_match"], (r["s_a"], r["s_b"])


def test_containment_lsh_bounds_and_dominates_jaccard(spark):
    """Round 9: containment >= jaccard per pair, both in (0,1], ids
    ordered; and every dedup_minhash_portable pair must reappear —
    J >= 0.5 implies I >= (a+b)/3 so C = I/min(a,b) >= 2/3 >= 0.6,
    and both keys draw candidates from the same posting list."""
    rows = run("dedup_containment_lsh", spark).collect()
    assert len(rows) > 0
    got = set()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert 0.6 <= r["containment"] <= 1.0
        assert 0.0 < r["jaccard"] <= r["containment"] + 1e-9
        got.add((r["id_a"], r["id_b"]))
    for p in run("dedup_minhash_portable", spark).collect():
        assert (p["id_a"], p["id_b"]) in got, p


def test_table_checksum_oracle_agrees_on_escape_bytes(spark, tmp_path):
    """Cross-ENGINE check of the escape encoding (round 9): the r9
    self-review found the ORACLE's backslash escapes had been eaten
    by Python string processing — the SQL no-op'd as
    replace(x, '', '\\') — which fixture data can never expose
    because it contains none of the escaped bytes.  So: run BOTH
    engines over rows whose values contain '\\', '|' and '\\x01'
    (alone, doubled, adjacent to separators) and require identical
    checksums."""
    import duckdb
    import pandas as pd

    from wrds2pg_spark.curation import dq_table_checksum
    from wrds2pg_spark.queries import REGISTRY

    d = tmp_path / "esc"
    d.mkdir()
    pdf = pd.DataFrame(dict(
        o_orderkey=[1.0, 2.0, 3.0, 4.0],
        o_custkey=[2.0] * 4,
        o_totalprice=[10.0] * 4,
        o_orderdate=[pd.Timestamp("2024-01-01")] * 4,
        o_orderstatus=pd.Series(
            ["P|Q", "\\", "\x01", None], dtype="string"),
        o_orderpriority=pd.Series(
            ["R", "P\\", "Q|R", "\x01\x01"], dtype="string"),
    ))
    pdf.to_parquet(str(d / "orders.parquet"), coerce_timestamps="us")
    srows = {tuple(r) for r in dq_table_checksum(spark, str(d)).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{d}/orders.parquet')")
    orows = {tuple(r)
             for r in con.execute(
                 REGISTRY["dq_table_checksum"].oracle).fetchall()}
    assert srows == orows


def test_recursive_cte_child_session_reused(spark):
    """Round-9 review fix: the recursion child session must be REUSED
    across calls (a child per call pinned every call's checkpointed
    edge list via its temp view and the session-keyed table memo),
    and the parent's shuffle partitioning must stay untouched."""
    from wrds2pg_spark.queries import _RCTE_CHILD, REGISTRY

    before = spark.conf.get("spark.sql.shuffle.partitions")
    for _ in range(2):
        REGISTRY["sql_recursive_cte"].fn(spark, SF).write.mode(
            "overwrite").format("noop").save()
    assert spark in _RCTE_CHILD
    child, serial = _RCTE_CHILD[spark]
    assert serial >= 2  # one unique edge view per call, same child
    # only the LAST call's edge view survives (previous dropped so its
    # checkpointed blocks release) — the round-10 unique-name form of
    # the round-9 one-edge-list-alive invariant
    views = [v.name for v in child.catalog.listTables()
             if v.name.startswith("rcte_edges_")]
    assert views == [f"rcte_edges_{serial}"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_quality_model_keep_is_logit_sign(spark):
    rows = run("quality_model_score", spark).collect()
    assert len(rows) > 0
    n_keep = 0
    for r in rows:
        assert r["keep"] == (r["logit"] >= 0.0)
        assert 0.0 <= r["score"] <= 1.0
        # sigmoid midpoint: logit 0 <-> score 0.5 monotone agreement
        assert (r["score"] >= 0.5) == r["keep"]
        n_keep += r["keep"]
    assert 0 < n_keep < len(rows)  # both classes present


def test_quality_model_report_fractions(spark):
    rows = run("quality_model_report", spark).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    scored = run("quality_model_score", spark).collect()
    n_by_src = {}
    for r in scored:
        n_by_src[r["source"]] = n_by_src.get(r["source"], 0) + 1
    for src, rs in by_src.items():
        assert abs(sum(r["frac_of_source"] for r in rs) - 1.0) < 2e-6
        assert sum(r["n_docs"] for r in rs) == n_by_src[src]


def test_semantic_dedup_invariants(spark):
    """SemDeDup greedy-by-id semantics: dropped rows carry a
    same-cell earlier neighbor at cos >= tau (max_cos present and
    above threshold); kept rows carry none; every corpus vector
    appears exactly once."""
    rows = run("dedup_semantic_cells", spark).collect()
    emb_n = load_table(spark, SF, "embeddings").count()
    assert len(rows) == emb_n
    assert len({r["vec_id"] for r in rows}) == emb_n
    n_drop = 0
    for r in rows:
        if r["keep"]:
            assert r["n_earlier_dups"] == 0 and r["max_cos"] is None
        else:
            n_drop += 1
            assert r["n_earlier_dups"] >= 1
            assert r["max_cos"] >= 0.40 - 5e-7
    assert n_drop > 0


def test_rag_index_topk_ordered_and_stable(spark):
    """The probe returns exactly k rows in (cos desc, doc, chunk)
    order, and a second call (served from the cached fixture index)
    returns the identical ranking."""
    rows1 = run("pipeline_rag_index", spark).collect()
    assert len(rows1) == 20
    scores = [r["cos_sim"] for r in rows1]
    assert scores == sorted(scores, reverse=True)
    rows2 = run("pipeline_rag_index", spark).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]


def test_curation_funnel_monotone_and_conserves(spark):
    """Stages are cumulative, so per-source counts must be
    monotonically non-increasing; dedup survivors sum to the distinct
    text count; raw counts sum to the corpus size."""
    rows = run("pipeline_curation_funnel", spark).collect()
    docs = load_table(spark, SF, "documents")
    assert sum(r["n_raw"] for r in rows) == docs.count()
    assert (sum(r["n_dedup"] for r in rows)
            == docs.select("text").distinct().count())
    for r in rows:
        assert (r["n_raw"] >= r["n_dedup"] >= r["n_quality"]
                >= r["n_lang_match"] >= r["n_final"] >= 0)
        if r["n_final"] == 0:
            assert r["tokens_final"] == 0
        else:
            assert r["tokens_final"] >= r["n_final"] * 5  # length band


def test_token_budget_greedy_boundary(spark):
    """Every source's kept tokens fit the budget, and the selection
    is maximal: if any document was left out, the next-best one must
    not have fit (greedy prefix property under (q desc, doc_id)
    order)."""
    from wrds2pg_spark.curation import _TOKEN_BUDGET
    from wrds2pg_spark.functions.text import quality_score, token_count

    rows = {r["source"]: r
            for r in run("mixture_token_budget", spark).collect()}
    feat = (
        load_table(spark, SF, "documents")
        .select(
            "source", "doc_id",
            quality_score(F.col("text")).alias("q"),
            token_count(F.col("text")).cast("long").alias("n_tok"),
        )
        .collect()
    )
    by_src = {}
    for r in feat:
        by_src.setdefault(r["source"], []).append(r)
    for src, docs in by_src.items():
        docs.sort(key=lambda r: (-r["q"], r["doc_id"]))
        cum, kept, kept_toks, cutoff = 0, 0, 0, None
        for i, d in enumerate(docs):
            if i >= _TOKEN_BUDGET or cum + d["n_tok"] > _TOKEN_BUDGET:
                break
            cum += d["n_tok"]
            kept += 1
            kept_toks = cum
            cutoff = d["q"] if cutoff is None else min(cutoff, d["q"])
        got = rows.get(src)
        if kept == 0:
            assert got is None
            continue
        assert got is not None
        assert got["n_docs_kept"] == kept
        assert got["tokens_kept"] == kept_toks <= _TOKEN_BUDGET
        assert abs(got["cutoff_quality"] - cutoff) < 1e-9


def test_ccnet_buckets_value_cut_invariants(spark):
    """Value-based tertile cuts: buckets are ordered by score, head
    holds at least a third of each language's scored docs (ties
    included), equal scores share a bucket, and the per-doc score is
    exactly text_bigram_logprob's avg_nll."""
    rows = run("quality_ccnet_buckets", spark).collect()
    nll = {r["doc_id"]: r["avg_nll"]
           for r in run("text_bigram_logprob", spark).collect()}
    assert len(rows) == len(nll)  # same scored set (docs with >=2 tokens)
    by_lang = {}
    for r in rows:
        assert abs(r["avg_nll"] - nll[r["doc_id"]]) < 1e-12
        by_lang.setdefault(r["lang"], []).append(r)
    order = {"head": 0, "middle": 1, "tail": 2}
    for lang, rs in by_lang.items():
        n = len(rs)
        counts = {"head": 0, "middle": 1, "tail": 2}
        counts = {b: sum(1 for r in rs if r["bucket"] == b)
                  for b in order}
        assert counts["head"] * 3 >= n
        assert (counts["head"] + counts["middle"]) * 3 >= 2 * n
        # score ordering across buckets + tie consistency
        by_score = {}
        for r in rs:
            by_score.setdefault(r["avg_nll"], set()).add(r["bucket"])
        for s, buckets in by_score.items():
            assert len(buckets) == 1, f"tie split at {lang} score {s}"
        for b_lo, b_hi in (("head", "middle"), ("middle", "tail")):
            lo = [r["avg_nll"] for r in rs if r["bucket"] == b_lo]
            hi = [r["avg_nll"] for r in rs if r["bucket"] == b_hi]
            if lo and hi:
                assert max(lo) < min(hi)


def test_boilerplate_ngram_matches_brute_force(spark):
    """Exact brute-force recomputation of the trigram doc-frequency
    threshold on the full sf0.001 corpus — catches any drift between
    the fingerprinted instance stream and the defined semantics."""
    from wrds2pg_spark.corpus import _BOILER_MIN_DOCS

    rows = {r["doc_id"]: r
            for r in run("text_boilerplate_ngram", spark).collect()}
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text").collect()
    grams = {}
    per_doc = {}
    for d in docs:
        t = d["text"].lower().split(" ")
        gs = [tuple(t[i:i + 3]) for i in range(len(t) - 2)]
        per_doc[d["doc_id"]] = gs
        for g in set(gs):
            grams[g] = grams.get(g, 0) + 1
    boiler = {g for g, c in grams.items() if c >= _BOILER_MIN_DOCS}
    assert boiler, "threshold never bites — degenerate fixture"
    for doc_id, gs in per_doc.items():
        if not gs:
            assert doc_id not in rows
            continue
        r = rows[doc_id]
        nb = sum(1 for g in gs if g in boiler)
        assert r["n_grams"] == len(gs)
        assert r["n_boiler"] == nb
        assert abs(r["boiler_ratio"] - nb / len(gs)) <= 1e-6


def test_vocab_fertility_consistent_with_token_counts(spark):
    """Per-lang sums must equal the doc-grain counts text_token_bpe
    reports, and the ratios must be the rounded quotients."""
    per_doc = {r["doc_id"]: r for r in run("text_token_bpe", spark).collect()}
    lang_of = {r["doc_id"]: r["lang"]
               for r in load_table(spark, SF, "documents")
               .select("doc_id", "lang").collect()}
    agg = {}
    for doc_id, r in per_doc.items():
        a = agg.setdefault(lang_of[doc_id], [0, 0, 0])
        a[0] += 1
        a[1] += r["n_ws_tokens"]
        a[2] += r["n_bpe_tokens"]
    for row in run("vocab_fertility", spark).collect():
        n_docs, ws, bpe = agg[row["lang"]]
        assert row["n_docs"] == n_docs
        assert row["n_words"] == ws
        assert row["n_bpe_tokens"] == bpe
        assert abs(row["fertility"] - bpe / ws) <= 1e-6
        assert abs(row["chars_per_token"] - row["n_chars"] / bpe) <= 1e-6


def test_range_search_matches_brute_force(spark):
    """Range search must return exactly the vectors brute-force
    cosine puts at >= tau, for every query in the batch."""
    import math

    from wrds2pg_spark.queries import _RANGE_NQ, _RANGE_TAU, _range_qvec

    got = {}
    for r in run("similarity_range_search", spark).collect():
        got.setdefault(r["query_id"], {})[r["vec_id"]] = r["cos_sim"]
    emb = load_table(spark, SF, "embeddings").collect()
    for qid in range(_RANGE_NQ):
        qv = _range_qvec(qid)
        qn = math.sqrt(sum(x * x for x in qv))
        expect = {}
        for r in emb:
            v = [float(x) for x in r["embedding"]]
            d = sum(a * b for a, b in zip(v, qv))
            n = math.sqrt(sum(a * a for a in v))
            cos = d / (n * qn)
            if cos >= _RANGE_TAU:
                expect[r["vec_id"]] = cos
        assert set(got.get(qid, {})) == set(expect)
        for vid, cos in expect.items():
            assert abs(got[qid][vid] - cos) <= 1.5e-6
