"""As-of join and bucketed range join unit semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from thewhisperdb_spark.operators.relational import asof_join, range_join_bucketed


def _ts(day, hour=0):
    return dt.datetime(2026, 1, day, hour)


def test_asof_backward(spark):
    trades = spark.createDataFrame(
        [(1, "A", _ts(5)), (2, "A", _ts(10)), (3, "B", _ts(5)), (4, "C", _ts(5))],
        "trade_id long, sym string, t timestamp")
    quotes = spark.createDataFrame(
        [("A", _ts(4), 10.0), ("A", _ts(5), 11.0), ("A", _ts(7), 12.0),
         ("B", _ts(6), 20.0)],
        "sym string, qt timestamp, px double")
    out = asof_join(trades, quotes, key="sym", left_ts="t", right_ts="qt",
                    right_vals=("px",))
    got = {r["trade_id"]: (r["asof_px"], r["n_prior"]) for r in out.collect()}
    assert got[1] == (11.0, 2)   # equal timestamp matches (<= semantics)
    assert got[2] == (12.0, 3)
    assert got[3] == (None, 0)   # B's only quote is later
    assert got[4] == (None, 0)   # no quotes for C at all


def test_asof_forward(spark):
    left = spark.createDataFrame([(1, "A", _ts(5))], "id long, k string, t timestamp")
    right = spark.createDataFrame(
        [("A", _ts(3), 1.0), ("A", _ts(6), 2.0), ("A", _ts(9), 3.0)],
        "k string, rt timestamp, v double")
    out = asof_join(left, right, key="k", left_ts="t", right_ts="rt",
                    right_vals=("v",), direction="forward")
    [r] = out.collect()
    assert r["asof_v"] == 2.0    # next value at/after t, not the latest


def test_asof_tie_break_deterministic(spark):
    left = spark.createDataFrame([(1, "A", _ts(5))], "id long, k string, t timestamp")
    right = spark.createDataFrame(
        [("A", _ts(5), 7.0), ("A", _ts(5), 9.0)], "k string, rt timestamp, v double")
    out = asof_join(left, right, key="k", left_ts="t", right_ts="rt",
                    right_vals=("v",))
    [r] = out.collect()
    assert r["asof_v"] == 9.0    # greatest value tuple wins the tie


def test_range_join_bucketed(spark):
    intervals = spark.createDataFrame(
        [(1, 0, 10), (2, 5, 25), (3, 100, 110)], "iv long, lo long, hi long")
    points = spark.createDataFrame(
        [(1, 7), (2, 10), (3, 26), (4, 105)], "pt long, x long")
    out = range_join_bucketed(intervals, points,
                              F.col("lo"), F.col("hi"), F.col("x"),
                              bucket_width=8)
    got = sorted((r["iv"], r["pt"]) for r in out.collect())
    # 7 in [0,10] & [5,25]; 10 in [0,10] & [5,25]; 26 nowhere; 105 in [100,110]
    assert got == [(1, 1), (1, 2), (2, 1), (2, 2), (3, 4)]


def test_range_join_keyed_matches_naive_theta_join(spark):
    # the bucketed plan must produce exactly the rows of the naive
    # key + range theta join on real data (same-user click-before-purchase)
    from thewhisperdb_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.unix_timestamp("ts").alias("ps")))
    c = (ev.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"), "user_id",
                 F.unix_timestamp("ts").alias("cs")))
    got = range_join_bucketed(
        p, c, left_lo=F.col("ps") - 3600, left_hi=F.col("ps"),
        right_pt=F.col("cs"), bucket_width=3600, keys=["user_id"])
    naive = (p.join(c, "user_id")
             .filter((F.col("cs") >= F.col("ps") - 3600)
                     & (F.col("cs") <= F.col("ps"))))
    g = {(r["purchase_id"], r["click_id"]) for r in got.collect()}
    n = {(r["purchase_id"], r["click_id"]) for r in naive.collect()}
    assert g == n and len(g) > 0


def test_percentile_approx_within_rank_error(spark):
    # the mergeable sketch must land within its accuracy bound of the exact
    # interpolated percentile (accuracy=10000 -> rank error <= n/10000)
    from thewhisperdb_spark.catalog import load_table

    o = load_table(spark, "/root/testdata/sf0.01", "orders")
    approx = {r["o_orderpriority"]: r["q"] for r in
              o.groupBy("o_orderpriority")
              .agg(F.percentile_approx("o_totalprice", [0.25, 0.5, 0.75],
                                       10000).alias("q")).collect()}
    exact = {r["o_orderpriority"]: (r["p25"], r["p50"], r["p75"]) for r in
             o.groupBy("o_orderpriority")
             .agg(F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
                  F.percentile("o_totalprice", F.lit(0.50)).alias("p50"),
                  F.percentile("o_totalprice", F.lit(0.75)).alias("p75"))
             .collect()}
    vals = o.select("o_orderpriority", "o_totalprice").collect()
    by_prio: dict = {}
    for r in vals:
        by_prio.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    for prio, qs in approx.items():
        xs = sorted(by_prio[prio])
        n = len(xs)
        for q_approx, pct in zip(qs, (0.25, 0.5, 0.75)):
            # rank of the approx answer must be within n/10000 + 1 of target
            import bisect
            rank = bisect.bisect_left(xs, q_approx)
            assert abs(rank - pct * n) <= n / 10000 + 2, (prio, pct)


def test_asof_join_carries_matched_row_atomically(spark):
    """A NULL value column in the matched right row must stay NULL — not
    fall back per-column to an older right row (mixed-tuple bug)."""
    from thewhisperdb_spark.operators.relational import asof_join

    right = spark.createDataFrame(
        [(1, 1, 10.0, 5.0), (1, 2, 20.0, None)],
        "k long, t long, price double, qty double")
    left = spark.createDataFrame([(1, 3)], "k long, t long")
    row = asof_join(left, right, "k", "t", "t", ("price", "qty")).collect()[0]
    assert row["asof_price"] == 20.0
    assert row["asof_qty"] is None          # NOT 5.0 from the t=1 row
    assert row["n_prior"] == 2


def test_salted_join_rejects_right_preserving(spark):
    import pytest

    from thewhisperdb_spark.operators.relational import salted_join

    l = spark.range(3).select(F.col("id").alias("k"))
    r = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(l, r, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(l, r, "k", how="right")


def test_bloom_semi_join_mixed_key_dtypes(spark):
    """INT fact key vs BIGINT build key must still match (type-insensitive
    hashing via string cast)."""
    from thewhisperdb_spark.operators.relational import bloom_semi_join

    fact = spark.range(0, 100).select(F.col("id").cast("int").alias("k"))
    keys = spark.range(0, 10).select((F.col("id") * 5).alias("k"))  # bigint
    got = sorted(r["k"] for r in bloom_semi_join(fact, keys, "k").collect())
    assert got == [0, 5, 10, 15, 20, 25, 30, 35, 40, 45]


def test_cdc_apply_merge_semantics(spark):
    """MERGE rewrite: deletes remove, updates replace payloads, inserts
    append; untouched rows survive; a delete of a key the target never had
    is a no-op (matching SQL MERGE WHEN MATCHED semantics)."""
    from thewhisperdb_spark.operators.relational import cdc_apply

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    feed = spark.createDataFrame(
        [(2, "B", "update"),      # replace payload
         (3, None, "delete"),     # remove
         (4, "d", "insert"),      # append
         (9, None, "delete"),     # key not in target: no-op
         (8, "x", "update")],     # WHEN MATCHED matches nothing: no-op
        "id long, v string, change string")
    got = sorted(map(tuple, cdc_apply(target, feed, ["id"]).collect()))
    assert got == [(1, "a"), (2, "B"), (4, "d")]


def test_scd2_build_collapses_runs_and_roundtrips(spark):
    """Builder semantics: re-stated values collapse into one run, current
    version has NULL valid_to — and the built history is directly
    consumable by scd2_point_in_time_join (the closed loop)."""
    from thewhisperdb_spark.operators.relational import (
        scd2_build, scd2_point_in_time_join)

    log = spark.createDataFrame(
        [(1, "2024-01-01", "bronze"),
         (1, "2024-02-01", "bronze"),     # re-statement: not a new version
         (1, "2024-03-01", "gold"),
         (2, "2024-01-15", "silver")],
        "k long, ts string, tier string").withColumn(
        "ts", F.to_timestamp("ts"))
    hist = scd2_build(log, "k", "ts", ["tier"])
    rows = {(r["k"], r["tier"]):
            (r["valid_from"].strftime("%Y-%m-%d"),
             r["valid_to"].strftime("%Y-%m-%d") if r["valid_to"] else None)
            for r in hist.collect()}
    assert rows == {(1, "bronze"): ("2024-01-01", "2024-03-01"),
                    (1, "gold"): ("2024-03-01", None),
                    (2, "silver"): ("2024-01-15", None)}
    # point-in-time consumption: a fact in February sees bronze, in April gold
    fact = spark.createDataFrame(
        [(1, "2024-02-15"), (1, "2024-04-01")],
        "k long, fts string").withColumn("fts", F.to_timestamp("fts"))
    got = sorted((r["fts"].strftime("%m"), r["tier"]) for r in
                 scd2_point_in_time_join(fact, hist, "k", "fts").collect())
    assert got == [("02", "bronze"), ("04", "gold")]


def test_incremental_agg_update_semantics(spark):
    """IVM fold: inserts add, deletes subtract, an update contributes both
    signs, and a group whose count hits zero disappears from the view."""
    from thewhisperdb_spark.operators.relational import (
        incremental_agg_update)

    old = spark.createDataFrame(
        [("a", 10, 2), ("b", 5, 1)], "k string, rev long, n long")
    delta = spark.createDataFrame(
        [("a", 3, 1),     # insert into a
         ("b", -5, -1),   # delete b's only row -> group vanishes
         ("c", 7, 1)],    # brand-new group
        "k string, rev long, n long")
    got = sorted(map(tuple, incremental_agg_update(
        old, delta, ["k"], ["rev"], "n").collect()))
    assert got == [("a", 13, 3), ("c", 7, 1)]


def test_snapshot_drift_report_psi_semantics(spark):
    """PSI drift math pinned on a hand-computable case: stable categories
    score ~0, a grown category scores positive, and categories present in
    only one snapshot get the min_share floor (large-but-FINITE psi) —
    never an infinity/NULL from ln(0)."""
    import math

    from thewhisperdb_spark.operators.dq import snapshot_drift_report

    old = spark.createDataFrame(
        [(i, "en") for i in range(60)] + [(i, "de") for i in range(60, 100)]
        + [(i, "fr") for i in range(100, 110)],
        "doc_id long, lang string")          # en .545, de .364, fr .091
    new = spark.createDataFrame(
        [(i, "en") for i in range(55)] + [(i, "de") for i in range(55, 100)]
        + [(i, "ja") for i in range(100, 110)],
        "doc_id long, lang string")          # en .5, de .409, ja .091 — fr gone
    rows = {r["key"]: r for r in
            snapshot_drift_report(old, new, "lang").collect()}
    assert set(rows) == {"en", "de", "fr", "ja"}
    # counts carried through, absent side = 0
    assert (rows["fr"]["n_old"], rows["fr"]["n_new"]) == (10, 0)
    assert (rows["ja"]["n_old"], rows["ja"]["n_new"]) == (0, 10)
    # hand-check one stable-ish category: en (p 60/110 -> 55/110)
    po, pn = 60 / 110, 55 / 110
    assert abs(rows["en"]["psi"] - round((pn - po) * math.log(pn / po), 6)) \
        <= 1e-6
    # vanished/new categories: floored share, large finite psi of the
    # right sign, and no NULLs anywhere
    assert rows["fr"]["share_new"] == 1e-6 and rows["fr"]["psi"] > 1.0
    assert rows["ja"]["share_old"] == 1e-6 and rows["ja"]["psi"] > 1.0
    assert all(v is not None for r in rows.values() for v in r)
    # total PSI flags the shift direction-insensitively
    assert sum(r["psi"] for r in rows.values()) > 0.25


def test_table_cache_keeps_one_entry_per_table_file(spark, tmp_path):
    """Rewriting a testdata file replaces its load_table cache entry
    instead of adding a second one beside the stale plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from thewhisperdb_spark import catalog

    path = str(tmp_path / "region.parquet")
    for n in (1, 2, 3):
        pq.write_table(pa.table({"r_regionkey": list(range(n))}), path)
        assert catalog.load_table(spark, str(tmp_path), "region").count() == n
        assert catalog.load_table(spark, str(tmp_path), "region").count() == n
    assert [k for k in catalog._TABLE_CACHE if k[1] == path] == [
        (spark, path, "region")]
