"""Unit/invariant tests for the round-out surface (operators/roundout.py):
native XML source, collation semantics, sequential pattern match, BFS."""

from __future__ import annotations

import pyspark.sql.functions as F

from apache_iceberg_demo_spark import registry
from apache_iceberg_demo_spark.io import load
from apache_iceberg_demo_spark.plans.explain import read_schema_columns

registry.load_all()

SF = "/root/testdata/sf0.001"


def test_xml_roundtrip_preserves_every_order(spark):
    df = registry.QUERIES["b1_xml_roundtrip"](spark, SF)
    n_back = df.agg(F.sum("n")).first()[0]
    n_src = load(spark, SF, "orders").count()
    assert n_back == n_src


def test_collation_ci_collapses_exactly_three_to_one(spark):
    """Each p_type contributes 3 binary-distinct variants that are one
    UTF8_LCASE-distinct string; PROMO% types hit the ci prefix predicate in
    all three casings."""
    rows = registry.QUERIES["b8_collation_compare"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.distinct_binary == 3 * r.distinct_ci
        assert r.n_promo_ci % 3 == 0


def test_pattern_match_agrees_with_direct_recompute(spark):
    """Spot-check one user: the regex/adjacency answer must match a driver-
    side recompute from the raw ordered events."""
    df = registry.QUERIES["b5_event_pattern_match"](spark, SF)
    sample = df.orderBy(F.desc("n_events")).limit(1).collect()[0]
    ev = (
        load(spark, SF, "events")
        .where(F.col("user_id") == sample.user_id)
        .orderBy("ts", "event_id")
        .select("event_type")
        .collect()
    )
    seq = ">".join(r.event_type for r in ev)
    assert sample.n_events == len(ev)
    want_funnel = "signup" in seq and "purchase" in seq.split("signup", 1)[1]
    assert sample.has_signup_then_purchase == want_funnel
    assert sample.n_view_purchase_adjacent == seq.count("view>purchase")


def test_pattern_match_oracle_parity_with_missing_tokens(spark, tmp_path):
    """ADVICE r06: DuckDB 1.0 list_position returns 0 (never NULL) for a
    missing element, so the oracle must guard both tokens with > 0. Run the
    REAL query and the REAL oracle on a synthetic events table where users
    lack signup and/or purchase — the case the production testdata masks."""
    import duckdb

    from datetime import datetime, timezone

    from tests.oracle_utils import compare

    def ts(m):
        return datetime(2024, 1, 1, 0, m, tzinfo=timezone.utc)

    rows = [
        # user 1: view→purchase, NO signup  → funnel FALSE, adjacent 1
        (1, ts(0), 1, "view", 0.0, "{}"),
        (2, ts(1), 1, "purchase", 0.0, "{}"),
        # user 2: signup→view, NO purchase → funnel FALSE
        (3, ts(0), 2, "signup", 0.0, "{}"),
        (4, ts(1), 2, "view", 0.0, "{}"),
        # user 3: purchase BEFORE signup → funnel FALSE
        (5, ts(0), 3, "purchase", 0.0, "{}"),
        (6, ts(1), 3, "signup", 0.0, "{}"),
        # user 4: signup→view→purchase → funnel TRUE, adjacent 1
        (7, ts(0), 4, "signup", 0.0, "{}"),
        (8, ts(1), 4, "view", 0.0, "{}"),
        (9, ts(2), 4, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    path = str(tmp_path / "events.parquet")
    # Spark's default INT96 timestamps sniff as 'ns' in the loader's footer
    # probe; write µs like the production testdata vintage
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.coalesce(1).write.parquet(path)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    got = registry.QUERIES["b5_event_pattern_match"](spark, str(tmp_path))
    by_user = {r.user_id: r.has_signup_then_purchase for r in got.collect()}
    assert by_user == {1: False, 2: False, 3: False, 4: True}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    compare(got, con, registry.ORACLES["b5_event_pattern_match"])


def test_bfs_hop_levels_are_sound(spark):
    """Hop 0 = exactly the seed set; every hop level ≤ bound; nodes unique;
    every hop-1 node shares an order with some seed part."""
    df = registry.QUERIES["b3_bfs_reachability"](spark, SF)
    rows = df.collect()
    nodes = [r.node for r in rows]
    assert len(nodes) == len(set(nodes))
    assert max(r.hops for r in rows) <= 3

    seeds = {
        r.p_partkey
        for r in load(spark, SF, "part")
        .where(F.col("p_brand") == "Brand#11")
        .select("p_partkey")
        .collect()
    }
    assert {r.node for r in rows if r.hops == 0} == seeds

    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    adj = (
        li.alias("x")
        .join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .where(F.col("x.l_partkey").isin(list(seeds)))
        .select(F.col("y.l_partkey").alias("node"))
        .distinct()
    )
    one_hop_expected = {r.node for r in adj.collect()} - seeds
    assert {r.node for r in rows if r.hops == 1} == one_hop_expected


def test_pattern_match_single_user_shuffle(spark):
    """The sequence build is one group-by on user_id — no window sort pass
    and the scan reads only the 4 referenced event columns."""
    df = registry.QUERIES["b5_event_pattern_match"](spark, SF)
    (cols,) = read_schema_columns(df)
    assert cols <= {"user_id", "ts", "event_id", "event_type"}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowExec" not in plan


def test_ewma_anomaly_is_causal_and_bounded(spark):
    """Every flagged z must exceed the threshold, and no anomaly can appear
    within the warmup prefix of its event type."""
    df = registry.QUERIES["b9_stateful_ewma_anomaly"](spark, SF)
    rows = df.collect()
    assert rows
    assert all(abs(r.z) > 3.0 for r in rows)
    ev = load(spark, SF, "events").orderBy("ts", "event_id").collect()
    seen: dict[str, int] = {}
    rank: dict[int, int] = {}
    for e in ev:
        rank[e.event_id] = seen.get(e.event_type, 0)
        seen[e.event_type] = rank[e.event_id] + 1
    assert all(rank[r.event_id] >= 10 for r in rows)


def test_expire_snapshots_respects_refs_unit(spark, tmp_path):
    """Unit-level: a tagged snapshot survives keep_last=1 expiry; with
    retain_refs=False it is dropped."""
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    df = load(spark, SF, "region")
    for retain, expect in ((True, [1, 3]), (False, [3])):
        wh = Warehouse(spark, str(tmp_path / f"wh_{retain}"))
        wh.create_or_replace("t", df, None)
        wh.append("t", df.limit(2))
        wh.append("t", df.limit(1))
        wh.tag_snapshot("t", "pin", snapshot_id=1)
        wh.expire_snapshots("t", keep_last=1, retain_refs=retain)
        got = sorted(r.snapshot_id for r in wh.snapshots("t").collect())
        assert got == expect, (retain, got)


def test_ks_statistic_matches_scipy_style_recompute(spark):
    """KS stat equals a driver-side recompute over the raw samples."""
    import numpy as np

    df = registry.QUERIES["b4_ks_two_sample"](spark, SF)
    row = df.first()
    ev = load(spark, SF, "events")
    a = np.sort(
        np.array([r.value for r in ev.where("event_type='click'").collect()])
    )
    b = np.sort(
        np.array([r.value for r in ev.where("event_type='view'").collect()])
    )
    grid = np.union1d(a, b)
    d = np.max(
        np.abs(
            np.searchsorted(a, grid, side="right") / len(a)
            - np.searchsorted(b, grid, side="right") / len(b)
        )
    )
    assert row.n_click == len(a) and row.n_view == len(b)
    assert abs(row.ks_stat - round(float(d), 6)) < 1e-9


def test_autocorrelation_single_window_pass(spark):
    """Both lags share one WindowExec; values bounded by [-1, 1]."""
    df = registry.QUERIES["b4_autocorrelation_lag"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") <= 1 or plan.count("WindowExec") <= 1
    for r in df.collect():
        assert -1.0 <= r.acf_lag1 <= 1.0 and -1.0 <= r.acf_lag5 <= 1.0


def test_binary_sniff_is_pure_jvm(spark):
    """No Python eval in the plan — header parse must stay codegen-side."""
    df = registry.QUERIES["c4_binary_header_sniff"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_intersection_reports_exact_counts(spark):
    row = registry.QUERIES["b4_hll_intersection_estimate"](spark, SF).first()
    assert row.exact_intersection <= min(row.exact_a, row.exact_b)
    assert row.estimate_within_tol


def test_dq_expectations_all_pass_on_clean_data(spark):
    rows = {r.rule: r for r in registry.QUERIES["pipeline_dq_expectations"](spark, SF).collect()}
    assert len(rows) == 5
    assert all(r.passed and r.violations == 0 for r in rows.values())
    assert rows["orders_pk_unique"].n_checked == load(spark, SF, "orders").count()


def test_dq_expectations_catch_planted_violations(spark):
    """The same rule logic over a corrupted frame must count violations —
    checked via a direct recompute with a planted duplicate + orphan FK."""
    o = load(spark, SF, "orders")
    li = load(spark, SF, "lineitem")
    o_bad = o.unionByName(o.limit(1))  # duplicate PK
    li_bad = li.limit(3).withColumn(
        "l_orderkey", F.lit(-999).cast("long")
    ).unionByName(li)
    dup = o_bad.count() - o_bad.select("o_orderkey").distinct().count()
    assert dup == 1
    orphans = (
        li_bad.join(o.select("o_orderkey"), li_bad["l_orderkey"] == o["o_orderkey"], "left_anti")
        .count()
    )
    assert orphans == 3


def test_relational_division_matches_set_recompute(spark):
    """Count-matching division == literal set semantics (driver recompute).
    (The double-NOT-EXISTS spelling is unreproducible here: Spark 4 rejects
    correlation two subquery levels deep [UNRESOLVED_COLUMN on the outer
    alias] — one more reason the count-matching encoding is the right one.)
    """
    got = {
        r.user_id
        for r in registry.QUERIES["b2_relational_division"](spark, SF).collect()
    }
    pairs = (
        load(spark, SF, "events").select("user_id", "event_type").distinct().collect()
    )
    all_types = {p.event_type for p in pairs}
    by_user: dict[int, set] = {}
    for p in pairs:
        by_user.setdefault(p.user_id, set()).add(p.event_type)
    want = {u for u, ts in by_user.items() if ts == all_types}
    assert got == want


def test_point_in_time_features_never_leak_future(spark):
    """Recompute one heavy customer driver-side: every feature must count
    only strictly-earlier orders within 90 days."""
    o = load(spark, SF, "orders")
    heavy = (
        o.groupBy("o_custkey").count().orderBy(F.desc("count")).first()["o_custkey"]
    )
    rows = (
        o.where(F.col("o_custkey") == heavy)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    feats = {
        r.o_orderkey: r
        for r in registry.QUERIES["b5_point_in_time_features"](spark, SF)
        .join(
            o.where(F.col("o_custkey") == heavy).select("o_orderkey"), "o_orderkey"
        )
        .collect()
    }
    for me in rows:
        prior = [
            x
            for x in rows
            if x.o_orderdate < me.o_orderdate
            and (me.o_orderdate - x.o_orderdate).total_seconds() <= 90 * 86400
        ]
        assert feats[me.o_orderkey].prior_n_90d == len(prior)


def test_pca_project_runs_with_invariants(spark):
    df = registry.QUERIES["c3_pca_project"](spark, SF)
    rows = df.collect()
    assert rows and 0.0 < rows[0].explained_ratio_top2 <= 1.0


def test_bitmap_distinct_is_exact(spark):
    """Bitmap rollup == countDistinct on every group (exactness, not ±2%)."""
    got = {
        r.l_returnflag: r.distinct_orders
        for r in registry.QUERIES["b4_bitmap_distinct_rollup"](spark, SF).collect()
    }
    want = {
        r.l_returnflag: r.n
        for r in load(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert got == want


def test_aes_roundtrip_full_recall(spark):
    for r in registry.QUERIES["b8_aes_roundtrip"](spark, SF).collect():
        assert r.n == r.n_roundtrip_exact
        assert r.min_cipher_bytes % 16 == 0


def test_pii_redaction_no_residuals_and_positive_counts(spark):
    for r in registry.QUERIES["c5_pii_redaction"](spark, SF).collect():
        assert r.docs_with_residual_pii == 0
        assert r.emails_redacted >= r.n_docs  # ≥1 injected per doc
        assert r.phones_redacted >= r.n_docs
        assert r.ips_redacted >= r.n_docs


def test_time_split_boundary_invariant(spark):
    rows = {r.split: r for r in registry.QUERIES["s1_time_based_split"](spark, SF).collect()}
    assert set(rows) == {"train", "test"}
    assert rows["train"].max_ts_us < rows["test"].min_ts_us
    total = rows["train"].n_events + rows["test"].n_events
    assert total == load(spark, SF, "events").count()
    assert rows["train"].n_events >= 0.75 * total  # ~80% cut


def test_cached_scan_reuse_hits_memory(spark):
    """Second consumer of the cached projection must read InMemoryTableScan."""
    df = registry.QUERIES["b6_cached_scan_reuse"](spark, SF)
    df.collect()  # materialize the cache through both branches
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_jackknife_se_matches_numpy_recompute(spark):
    """SE equals a numpy recompute of the delete-one-group estimator."""
    import hashlib

    import numpy as np

    rows = registry.QUERIES["b4_jackknife_ci"](spark, SF).collect()
    li = load(spark, SF, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    ).collect()
    by_flag: dict[str, list] = {}
    for r in li:
        key = f"{r.l_orderkey}-{r.l_linenumber}"
        grp = int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % 10
        by_flag.setdefault(r.l_returnflag, []).append(
            (grp, round(r.l_extendedprice, 2))
        )
    for row in rows:
        data = by_flag[row.l_returnflag]
        s = np.zeros(10)
        n = np.zeros(10)
        for grp, price in data:
            s[grp] += price
            n[grp] += 1
        st, nt = s.sum(), n.sum()
        means = (st - s) / (nt - n)
        mdot = means.mean()
        se = np.sqrt((9 / 10) * np.sum((means - mdot) ** 2))
        assert row.n_rows == int(nt)
        assert abs(row.se_jackknife - se) < 1e-4, (row.se_jackknife, se)


def test_branch_isolation_unit(spark, tmp_path):
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whb"))
    df = load(spark, SF, "region")
    wh.create_or_replace("t", df, None)
    wh.create_branch("t", "dev")
    wh.append_to_branch("t", "dev", df.limit(2))
    assert wh.read("t").count() == df.count()  # main untouched
    assert wh.read("t", snapshot_id=wh.resolve_branch("t", "dev")).count() == df.count() + 2
    wh.fast_forward("t", "dev")
    assert wh.read("t").count() == df.count() + 2
    # branch heads survive retention GC
    wh.append("t", df.limit(1))
    wh.create_branch("t", "keepme", snapshot_id=2)
    wh.expire_snapshots("t", keep_last=1)
    kept = sorted(r.snapshot_id for r in wh.snapshots("t").collect())
    assert 2 in kept


def test_update_mode_stream_matches_batch(spark):
    # per-key update cadence (1..n_batches) is self-asserted inside the
    # query; the returned frame carries the oracle-checked final state
    rows = registry.QUERIES["b9_update_mode_counts"](spark, SF).collect()
    assert rows and all(r.matches_batch for r in rows)
    assert {r.event_type for r in rows} == {
        r.event_type
        for r in load(spark, SF, "events").select("event_type").distinct().collect()
    }


def test_sql_udf_table_valued(spark):
    """Spark 4 SQL TVF: RETURNS TABLE body usable in FROM."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION _seq_tvf(n INT) RETURNS TABLE(i INT) "
        "RETURN SELECT explode(sequence(1, n))"
    )
    rows = spark.sql("SELECT sum(i) AS s FROM _seq_tvf(10)").collect()
    assert rows[0].s == 55


def test_ols_matches_numpy_lstsq(spark):
    import numpy as np

    rows = registry.QUERIES["b4_ols_normal_equations"](spark, SF).collect()
    li = load(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity", "l_discount", "l_extendedprice"
    ).collect()
    for r in rows:
        sub = [x for x in li if x.l_returnflag == r.l_returnflag]
        X = np.array([[1.0, x.l_quantity, x.l_discount] for x in sub])
        y = np.array([x.l_extendedprice for x in sub])
        beta = np.linalg.lstsq(X, y, rcond=None)[0]
        assert abs(r.beta_qty - beta[1]) < 1e-3, (r.beta_qty, beta[1])
        assert abs(r.beta_disc - beta[2]) < 1.0, (r.beta_disc, beta[2])


def test_negative_sampling_disjoint_from_interactions(spark):
    neg = registry.QUERIES["s1_negative_sampling"](spark, SF)
    o = load(spark, SF, "orders")
    li = load(spark, SF, "lineitem")
    part = load(spark, SF, "part")
    bought = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("o_custkey").alias("c_custkey"), "p_brand")
        .distinct()
    )
    overlap = neg.join(bought, ["c_custkey", "p_brand"], "semi").count()
    assert overlap == 0
    per_user = neg.groupBy("c_custkey").count().agg(F.max("count")).first()[0]
    assert per_user <= 3


def test_codec_comparison_orders_sizes(spark):
    rows = {r.codec: r for r in registry.QUERIES["b1_codec_comparison"](spark, SF).collect()}
    assert set(rows) == {"none", "snappy", "zstd"}
    assert rows["zstd"].bytes_on_disk < rows["snappy"].bytes_on_disk < rows["none"].bytes_on_disk
    assert len({r.n_rows for r in rows.values()}) == 1


def test_analyze_table_stats_consistent(spark):
    row = registry.QUERIES["c6_analyze_table_cbo"](spark, SF).first()
    assert row.stats_consistent and row.n_rows > 0
    assert row.key_min < row.key_max and row.ndv_exact <= row.n_rows


def test_walk_forward_folds_are_nested_and_causal(spark):
    rows = sorted(
        registry.QUERIES["s1_walk_forward_folds"](spark, SF).collect(),
        key=lambda r: r.fold,
    )
    assert [r.fold for r in rows] == [1, 2, 3]
    # expanding train windows; every test slice non-empty and in the future
    assert rows[0].n_train < rows[1].n_train < rows[2].n_train
    assert all(r.n_test > 0 for r in rows)
    assert rows[0].train_end_us < rows[1].train_end_us < rows[2].train_end_us


def test_file_sink_exactly_once_flags(spark):
    row = registry.QUERIES["b9_file_sink_exactly_once"](spark, SF).first()
    assert row.exactly_once
    assert row.n_first_run == row.n_second_run == row.n_log_aware_read == row.n_input


def test_stream_progress_metrics_consistent(spark):
    row = registry.QUERIES["b9_stream_progress_metrics"](spark, SF).first()
    assert row.metrics_consistent and row.n_batches >= 3
    assert row.n_reported == row.n_input


def test_keyset_pages_tile_without_gap_or_overlap(spark):
    rows = registry.QUERIES["b6_keyset_pagination"](spark, SF).collect()
    keys = [r.o_orderkey for r in rows]
    assert len(keys) == len(set(keys)) == 300
    ordered = sorted(rows, key=lambda r: r.o_orderkey)
    # page boundaries respect global key order
    assert [r.page for r in ordered] == [1] * 100 + [2] * 100 + [3] * 100


def test_keyset_page_plan_pushes_boundary_filter(spark):
    """Page 2+ must push the key-range predicate into the parquet scan."""
    from apache_iceberg_demo_spark.plans.explain import pushed_filters

    o = load(spark, SF, "orders").select("o_orderkey")
    page2 = o.where(F.col("o_orderkey") > 100).orderBy("o_orderkey").limit(100)
    assert any("GreaterThan(o_orderkey,100)" in f for f in pushed_filters(page2))


def test_haversine_assignment_covers_all_customers(spark):
    df = registry.QUERIES["b3_haversine_nearest_hub"](spark, SF)
    total = df.agg(F.sum("n_customers")).first()[0]
    assert total == load(spark, SF, "customer").count()


def test_dynamic_overwrite_preserves_other_partitions(spark):
    rows = {r.event_type: r for r in registry.QUERIES["b1_dynamic_partition_overwrite"](spark, SF).collect()}
    src = {
        r.event_type: (r.n, round(float(r.s), 6))
        for r in load(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"))
        .collect()
    }
    for et, (n, s) in src.items():
        assert rows[et].n == n
        want = round(s * 2, 6) if et == "click" else s
        assert abs(rows[et].total_value - want) < 1e-4, (et, rows[et].total_value, want)


def test_rag_retrieval_contexts_within_budget(spark):
    rows = registry.QUERIES["pipeline_rag_retrieval"](spark, SF).collect()
    assert len(rows) == 3
    for r in rows:
        assert 1 <= r.n_chunks <= 5
        assert r.context_tokens <= 160
        assert r.min_score > 0


def test_scd2_temporal_join_covers_every_order_once(spark):
    df = registry.QUERIES["b3_scd2_temporal_join"](spark, SF)
    total = df.agg(F.sum("n_orders")).first()[0]
    assert total == load(spark, SF, "orders").count()


def test_weighted_median_crossing_recompute(spark):
    rows = registry.QUERIES["b4_weighted_median"](spark, SF).collect()
    li = load(spark, SF, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    for r in rows:
        sub = sorted(
            [(x.l_extendedprice, x.l_quantity) for x in li if x.l_returnflag == r.l_returnflag]
        )
        tw = sum(q for _, q in sub)
        cw, med = 0.0, None
        for price, q in sub:
            cw += q
            if cw >= tw / 2:
                med = price
                break
        assert abs(r.weighted_median_price - round(med, 6)) < 1e-6


def test_random_projection_band(spark):
    row = registry.QUERIES["c3_random_projection_jl"](spark, SF).first()
    assert row.jl_band_held and row.n_pairs > 10


def test_conversion_latency_monotone_percentiles(spark):
    row = registry.QUERIES["b4_conversion_latency"](spark, SF).first()
    assert row.n_converted > 0
    assert (
        row.min_latency_us
        <= row.p50_latency_us
        <= row.p90_latency_us
        <= row.max_latency_us
    )


def test_dedup_cascade_monotone(spark):
    rows = {r.stage: r.n_docs for r in registry.QUERIES["pipeline_dedup_cascade"](spark, SF).collect()}
    assert (
        rows["input"]
        >= rows["after_exact_hash"]
        >= rows["after_canonical_key"]
        >= rows["after_near_dup"]
        > 0
    )


def test_expire_snapshots_older_than(spark, tmp_path):
    import time

    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whage"))
    df = load(spark, SF, "region")
    wh.create_or_replace("t", df, None)
    wh.append("t", df.limit(2))
    time.sleep(0.02)
    cutoff = int(time.time() * 1000)
    wh.append("t", df.limit(1))
    # snapshots 1,2 predate the cutoff; 3 is younger AND current
    wh.expire_snapshots("t", keep_last=1, older_than_ms=cutoff)
    kept = sorted(r.snapshot_id for r in wh.snapshots("t").collect())
    assert kept == [3]
    # with a cutoff before everything, nothing but keep_last policy applies
    wh2 = Warehouse(spark, str(tmp_path / "whage2"))
    wh2.create_or_replace("t", df, None)
    wh2.append("t", df.limit(2))
    wh2.expire_snapshots("t", keep_last=1, older_than_ms=0)
    assert sorted(r.snapshot_id for r in wh2.snapshots("t").collect()) == [1, 2]


def test_chat_template_all_wellformed(spark):
    for r in registry.QUERIES["c5_chat_template_render"](spark, SF).collect():
        assert r.n_wellformed == r.n_samples > 0


def test_ab_ztest_degenerate_pool_yields_null(spark):
    row = registry.QUERIES["b4_ab_test_ztest"](spark, SF).first()
    # sf0.001: every user purchases -> zero-variance pool -> NULL z
    if row.rate0 == 1.0 and row.rate1 == 1.0:
        assert row.z_score is None
    else:
        assert row.z_score is not None


def test_kaplan_meier_monotone_nonincreasing(spark):
    rows = sorted(
        registry.QUERIES["b4_kaplan_meier"](spark, SF).collect(), key=lambda r: r.day
    )
    assert rows
    surv = [r.survival for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert all(0.0 <= s <= 1.0 for s in surv)
    # risk set shrinks over time
    risks = [r.n_at_risk for r in rows]
    assert all(a >= b for a, b in zip(risks, risks[1:]))


def test_bellman_ford_dominated_by_bfs_hops(spark):
    """Cost within ≤3 weighted hops exists wherever BFS reaches in ≤3 hops,
    and cost ≥ hops (weights ≥ 1)."""
    bf = {
        r.node: r.min_cost
        for r in registry.QUERIES["b3_bellman_ford_bounded"](spark, SF).collect()
    }
    bfs = {
        r.node: r.hops
        for r in registry.QUERIES["b3_bfs_reachability"](spark, SF).collect()
    }
    assert set(bf) == set(bfs)
    assert all(bf[n] >= bfs[n] for n in bf)
    assert all(bf[n] == 0 for n in bf if bfs[n] == 0)


def test_mann_whitney_u_matches_scipy_formula(spark):
    import numpy as np

    row = registry.QUERIES["b4_mann_whitney_u"](spark, SF).first()
    ev = load(spark, SF, "events").where(
        F.col("event_type").isin("click", "view")
    ).select("value", "event_type").collect()
    vals = np.array([r.value for r in ev])
    grp = np.array([r.event_type for r in ev])
    order = np.argsort(vals, kind="stable")
    ranks = np.empty(len(vals))
    sv = vals[order]
    rr = np.arange(1, len(vals) + 1, dtype=float)
    # average ranks over ties
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        rr[i:j] = rr[i:j].mean()
        i = j
    ranks[order] = rr
    n1 = int((grp == "click").sum())
    r1 = ranks[grp == "click"].sum()
    u = r1 - n1 * (n1 + 1) / 2
    assert abs(row.u_stat - round(u, 6)) < 1e-6


def test_gini_bounds_and_recompute(spark):
    import numpy as np

    row = registry.QUERIES["b4_gini_concentration"](spark, SF).first()
    assert 0.0 <= row.gini <= 1.0
    rev = np.sort(
        np.array(
            [
                float(r.rev)
                for r in load(spark, SF, "orders")
                .groupBy("o_custkey")
                .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev"))
                .collect()
            ]
        )
    )
    n = len(rev)
    gini = 1 - 2 * np.sum((n - np.arange(1, n + 1) + 0.5) * rev) / (n * rev.sum())
    assert abs(row.gini - round(float(gini), 6)) < 1e-5


def test_sql_pivot_totals(spark):
    df = registry.QUERIES["b2_sql_pivot_clause"](spark, SF)
    total = df.agg(F.sum(F.col("f") + F.col("o") + F.col("p"))).first()[0]
    assert total == load(spark, SF, "orders").count()


def test_mask_shapes_destroy_content_keep_shape(spark):
    rows = registry.QUERIES["b8_mask_funcs"](spark, SF).collect()
    for r in rows:
        assert set(r.sample_shape) <= set("Xxn#-")
        assert r.distinct_name_shapes <= 3  # Customer#nnnnnnnnn length variants


def test_channel_norm_stats_match_numpy_probe(spark):
    import numpy as np

    rows = {r.channel: r for r in registry.QUERIES["c4_channel_norm_stats"](spark, SF).collect()}
    doc_ids = [
        r.doc_id for r in load(spark, SF, "documents").select("doc_id").collect()
    ]
    for ch in range(3):
        vals = []
        for did in doc_ids:
            rng = np.random.RandomState((did * 3 + ch) % (2**31 - 1))
            vals.append(rng.randint(0, 256, size=(8, 8)).astype(np.float64))
        arr = np.stack(vals)
        assert abs(rows[ch].mean - round(float(arr.mean()), 6)) < 1e-6
        assert abs(rows[ch].std - round(float(arr.std()), 6)) < 1e-6


def test_runs_test_counts_are_consistent(spark):
    row = registry.QUERIES["b4_runs_test"](spark, SF).first()
    n = load(spark, SF, "events").count()
    assert row.n_above + row.n_below == n
    assert 1 <= row.n_runs <= n


def test_blocklist_filter_partitions_corpus(spark):
    rows = registry.QUERIES["c5_blocklist_filter"](spark, SF).collect()
    total = sum(r.n_docs for r in rows)
    assert total == load(spark, SF, "documents").count()
    assert all(r.n_flagged + r.n_kept == r.n_docs for r in rows)
    assert any(r.n_flagged > 0 for r in rows)  # the deny terms occur in-corpus


def test_islands_total_days_conserved(spark):
    rows = registry.QUERIES["b5_islands_gaps"](spark, SF).collect()
    total_days = sum(r.run_days * r.n_runs for r in rows)
    distinct_days = (
        load(spark, SF, "orders")
        .select(
            "o_custkey",
            (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
            .cast("long")
            .alias("day"),
        )
        .distinct()
        .count()
    )
    assert total_days == distinct_days


def test_benford_frequencies_sum_to_one(spark):
    rows = registry.QUERIES["b4_benford_test"](spark, SF).collect()
    assert {r.d for r in rows} <= set(range(1, 10))
    assert abs(sum(r.observed_freq for r in rows) - 1.0) < 1e-4
    assert all(r.chi2_term >= 0 for r in rows)


def test_chisq_cells_cover_table(spark):
    rows = registry.QUERIES["b4_chisq_independence"](spark, SF).collect()
    total = sum(r.o for r in rows)
    assert total == load(spark, SF, "events").count()
    assert all(r.chi2_term >= 0 for r in rows)
    assert abs(sum(r.expected for r in rows) - total) < 1e-3


def test_xmr_limits_bracket_center(spark):
    rows = registry.QUERIES["b5_xmr_control_chart"](spark, SF).collect()
    assert rows
    r0 = rows[0]
    assert r0.lcl < r0.center < r0.ucl
    for r in rows:
        assert r.out_of_control == (r.x > r.ucl or r.x < r.lcl)


def test_udtf_polymorphic_schema_follows_literal(spark):
    """analyze() must yield k output columns for literal k."""
    df = registry.QUERIES["b10_udtf_polymorphic"](spark, SF)
    assert df.first().n_docs == load(spark, SF, "documents").count()
    got = spark.sql("SELECT * FROM first_tokens('a b c d e', 4)")
    assert got.columns == ["tok_0", "tok_1", "tok_2", "tok_3"]


def test_seasonality_strength_in_unit_interval(spark):
    row = registry.QUERIES["b4_seasonality_strength"](spark, SF).first()
    assert 0.0 <= row.seasonal_strength <= 1.0
    assert row.deseasoned_var >= 0


def test_bigram_scores_are_negative_logprobs(spark):
    rows = registry.QUERIES["c5_bigram_backoff_score"](spark, SF).collect()
    assert rows and all(r.mean_bigram_logprob < 0 for r in rows)
    total_docs = sum(r.n_docs for r in rows)
    docs_with_bigrams = (
        load(spark, SF, "documents")
        .where(F.size(F.split("text", " ")) > 1)
        .count()
    )
    assert total_docs == docs_with_bigrams


def test_complete_mode_topk_matches_batch(spark):
    rows = registry.QUERIES["b9_complete_mode_topk"](spark, SF).collect()
    assert len(rows) == 10 and all(r.matches_batch for r in rows)
    spends = [r.spend for r in rows]
    assert spends == sorted(spends, reverse=True)


def test_mor_delete_unit_semantics(spark, tmp_path):
    """MoR: metadata-only; scoped to pre-delete files; apply clears debt."""
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whmor"))
    nat = load(spark, SF, "nation")
    wh.create_or_replace("t", nat, None)
    n0 = wh.read("t").count()
    wh.delete_where_mor("t", "n_regionkey = 1")
    kept = wh.read("t").count()
    gone = nat.where("n_regionkey = 1").count()
    assert kept == n0 - gone
    # time travel to the pre-delete snapshot still sees everything
    assert wh.read("t", snapshot_id=1).count() == n0
    # a later append of matching rows survives the earlier scoped delete
    wh.append("t", nat.where("n_regionkey = 1").limit(2))
    assert wh.read("t").count() == kept + 2
    wh.apply_deletes("t")
    assert wh.read("t").count() == kept + 2


def test_lsh_band_tuning_curve_shape(spark):
    rows = sorted(
        registry.QUERIES["c2_lsh_band_tuning"](spark, SF).collect(),
        key=lambda r: r.n_bands,
    )
    assert [r.n_bands for r in rows] == [4, 8, 16]
    # more bands -> lower threshold AND at-least-as-many candidates
    ths = [r.est_threshold for r in rows]
    assert ths == sorted(ths, reverse=True)
    cps = [r.candidate_pairs for r in rows]
    assert cps == sorted(cps)


def test_cohort_ltv_is_monotone_per_cohort(spark):
    rows = registry.QUERIES["b4_cohort_ltv"](spark, SF).collect()
    by_cohort: dict[int, list] = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_month, []).append((r.age_months, r.cumulative_ltv))
    for seq in by_cohort.values():
        seq.sort()
        vals = [v for _, v in seq]
        assert vals == sorted(vals)


def test_upsample_brings_every_stratum_to_max(spark):
    rows = registry.QUERIES["s1_upsample_minority"](spark, SF).collect()
    max_orig = max(r.n_unique for r in rows)
    for r in rows:
        assert r.n_upsampled == r.n_unique * r.repeat_factor
        assert r.n_upsampled >= max_orig
