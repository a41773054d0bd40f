"""Corpus-curation operators added late in round 5 — cross-document span
dedup, per-source caps, source-vs-corpus distribution drift, and the
runtime-Bloom-filter join demonstration (a B3 resident; see its docstring).

These extend the C5/S1 LLM-pipeline surface (SURVEY.md §2 part C) with the
three curation passes a production pretraining pipeline runs between "docs
are deduplicated" and "docs are packed": exact repeated-span detection
(Lee et al., "Deduplicating Training Data Makes Language Models Better" —
public paper; the reference's own dedup story stops at whole-file Iceberg
snapshots), per-domain volume caps, and per-source distribution monitoring.

Scale notes are per-operator; none of these collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from apache_iceberg_demo_spark.caching import operator_scope
from apache_iceberg_demo_spark.io import load
from apache_iceberg_demo_spark.registry import register

#: tokens per span for exact-substring dedup (Lee et al. use 50 BPE tokens;
#: the synthetic corpus's docs are 10-120 words, so 8 keeps spans frequent
#: enough to exercise the cross-doc group-by at every scale factor).
SPAN_W = 8

@register(
    "c5_span_dedup_exact",
    oracle=f"""
        WITH spans AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(toks) - {SPAN_W - 1}),
                       i -> array_to_string(toks[i:i + {SPAN_W - 1}], ' '))) AS span
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        )
        SELECT span,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT)               AS n_occurrences
        FROM spans
        GROUP BY span
        HAVING count(DISTINCT doc_id) > 1
    """,
)
def c5_span_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: exact repeated-span detection — every {SPAN_W}-token window that
    occurs in more than one document, with its document- and occurrence-
    counts. This is the signal exact-substring dedup (Lee et al.) cuts on.

    Plan: posexplode tokens → one window pass per doc (7 ``lead`` exprs over
    a single (doc_id, pos) frame — Catalyst collapses them into one
    WindowExec) → hash aggregate on the span string with map-side partial
    aggregation. One shuffle on doc_id (window) + one on span (group-by).

    Scale: the span strings are materialized only because the DuckDB oracle
    must see identical keys; at 100 TB you group on ``xxhash64(span)`` so
    the agg shuffle carries 8 bytes per span instead of ~50, and verify the
    rare colliding groups exactly — same plan shape, smaller payload.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("token")] + [
        F.lead("token", i).over(w) for i in range(1, SPAN_W)
    ]
    spans = toks.select(
        "doc_id",
        F.concat_ws(" ", *parts).alias("span"),
        # concat_ws silently skips NULLs, so an end-of-doc window of <8
        # tokens would otherwise masquerade as a short span
        F.lead("token", SPAN_W - 1).over(w).alias("_tail"),
    ).where(F.col("_tail").isNotNull())
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") > 1)
    )


@register(
    "s1_cap_per_source",
    oracle="""
        SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
        FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents)
        WHERE rn <= 50
    """,
)
def s1_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: deterministic per-source volume cap — keep at most 50 documents
    per source, chosen by md5(doc_id) order (a stable uniform shuffle, so
    the kept set is an unbiased sample yet identical across runs, engines,
    and partitionings — same discipline as the rest of operators/sampling).

    Plan: one shuffle on source + in-partition sort by the md5 rank;
    row_number is a running counter, no buffering. Skew note: a 100 TB
    corpus has heavy-hitter domains, but rank-then-filter still needs only
    the per-partition sort — Spark's WindowExec spills sorted runs, and a
    top-k-per-key rewrite (window-limit pushdown in Spark 3.5+/4 pushes
    ``rn <= 50`` into the sort as a per-key limit) bounds memory.
    """
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 50)
    )


@register(
    "c5_source_divergence",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        st AS (SELECT source, token, CAST(count(*) AS DOUBLE) AS c
               FROM tok GROUP BY source, token),
        sn AS (SELECT source, sum(c) AS src_n FROM st GROUP BY source),
        ct AS (SELECT token, sum(c) AS cc FROM st GROUP BY token),
        cn AS (SELECT sum(cc) AS corp_n FROM ct)
        SELECT st.source,
               round(sum((c / src_n) * ln((c / src_n) / (cc / corp_n))), 6)
                   AS kl_divergence,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM st
        JOIN sn USING (source)
        JOIN ct USING (token)
        CROSS JOIN cn
        GROUP BY st.source
    """,
)
def c5_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: per-source distribution drift — KL(source unigram LM ‖ corpus
    unigram LM) per source, the monitoring statistic that flags a crawl
    slice whose vocabulary is drifting from the corpus mix.

    Plan: one explode + hash aggregate builds (source, token, c); everything
    downstream re-aggregates or joins that frame. src totals (|sources|
    rows) and the corpus total (1 row) are broadcast; the token-marginal
    join is vocabulary-sized — broadcast here, and still only vocab-sized
    (not corpus-sized) at 100 TB, which is why the whole statistic needs
    exactly one full-data shuffle. Catalyst does NOT share common subplans,
    so (source, token, c) is PERSISTED and materialized before fan-out —
    without it each of the four consumers re-scans the corpus and re-runs
    the explode+agg (measured: 4 scans / 12 exchanges compiled lazily vs 1
    full-data shuffle cached). Released on the next invocation.
    """
    from apache_iceberg_demo_spark.tuning import input_sized_shuffle

    d = load(spark, sf_dir, "documents")
    with operator_scope(
        spark,
        "c5_source_divergence",
        conf={"spark.sql.shuffle.partitions": input_sized_shuffle(d)},
    ) as s:
        st = s.keep(
            d.select("source", F.explode(F.split("text", " ")).alias("token"))
            .groupBy("source", "token")
            .agg(F.count("*").cast("double").alias("c"))
        )
        st.count()  # materialize the shared subplan inside the conf scope
    sn = st.groupBy("source").agg(F.sum("c").alias("src_n"))
    ct = st.groupBy("token").agg(F.sum("c").alias("cc"))
    cn = ct.agg(F.sum("cc").alias("corp_n"))
    p = F.col("c") / F.col("src_n")
    q = F.col("cc") / F.col("corp_n")
    return (
        st.join(F.broadcast(sn), "source")
        .join(F.broadcast(ct), "token")
        .crossJoin(F.broadcast(cn))
        .groupBy("source")
        .agg(
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_divergence"),
            F.count("*").alias("n_terms"),
        )
    )


@register(
    "b3_join_runtime_bloom_prune",
    oracle="""
        SELECT p_brand,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                   AS promo_revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type LIKE 'PROMO%'
        GROUP BY p_brand
    """,
)
def b3_join_runtime_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 (lives here so late registration keeps driver order intact —
    module docstring): shuffle join under Spark's runtime Bloom-filter
    rewrite (InjectRuntimeFilter). The selective dim-side predicate
    (``p_type LIKE 'PROMO%'``) is condensed into a ``bloom_filter_agg`` over
    the surviving join keys and applied as ``might_contain`` on the fact
    side BEFORE the join's shuffle — at 100 TB the difference between
    shuffling every lineitem row and shuffling only the ~1-in-8 that can
    match.

    Broadcast is disabled inside the scope on purpose: a dim this small
    would normally broadcast (b3_join_star_revenue shows that plan); this
    operator demonstrates the plan Spark picks when NEITHER side broadcasts
    (fact-fact joins at cluster scale), where the runtime Bloom filter is
    what keeps the shuffle survivable. The scan-size threshold is zeroed
    only because the local test parquet is ~MBs — on a real 100 TB scan the
    default (10 GB) triggers by itself.

    Materialized INSIDE the conf scope (a lazily-returned frame would
    execute after the scope restores broadcast); the grouped result is
    brand-cardinality-sized, so re-wrapping it driver-side is O(brands).
    """
    from apache_iceberg_demo_spark.tuning import input_sized_shuffle, scoped_conf

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_type").like("PROMO%"))
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"),
                6,
            ).alias("promo_revenue"),
            F.count("*").alias("n_items"),
        )
    )
    with scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.shuffle.partitions": input_sized_shuffle(li),
        },
    ):
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        if "bloom_filter_agg" not in plan:
            raise AssertionError(
                "runtime Bloom filter was not injected into the shuffle-join plan"
            )
        rows = joined.collect()
    return spark.createDataFrame(rows, joined.schema)


@register(
    "b4_countmin_heavy_hitters",
    # The sketch internals (xxhash64 buckets) are not DuckDB-expressible,
    # but the heavy hitters themselves ARE relational: top-10 exact token
    # counts with a deterministic tie-break. The CMS estimates are audited
    # in-query (linearity, est >= exact, eps·N bound, and <= 5% relative
    # error on the heavy hitters — measured 0 overestimate at sf0.01/0.1)
    # and surfaced as the asserted est_within_5pct column.
    oracle="""
        SELECT token, CAST(count(*) AS BIGINT) AS exact_count,
               TRUE AS est_within_5pct
        FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        )
        GROUP BY token
        ORDER BY exact_count DESC, token
        LIMIT 10
    """,
)
def b4_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 (late registration, see module docstring): mergeable Count-Min
    sketch over the token stream — the frequency counterpart of the HLL
    cardinality rollup (operators/aggregates: b4_hll_sketch_mergeable).
    d=4 hash rows × w=256 buckets of plain counters; ``est(token) =
    min_i counter[i][h_i(token)]``.

    Why a sketch at 100 TB: exact token counts need a corpus-wide shuffle
    keyed on token; the sketch is a FIXED 1024-counter aggregate that
    partial-aggregates map-side and merges by addition — per-shard sketches
    sum into the global one with no row-level recombination. Linearity is
    asserted in-query: the per-source sketches, summed, equal the global
    sketch counter-for-counter.

    Accuracy contract (also in-query): est ≥ exact for EVERY token (hard
    CMS invariant), and the worst overestimate obeys the ε·N bound with
    ε = e/w at the standard confidence. Exact counts are computed here only
    to audit the sketch — production keeps the 1024 counters and drops the
    shuffle.
    """
    D, WID = 4, 256
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    keyed = toks.withColumn(
        "i", F.explode(F.array(*[F.lit(i) for i in range(D)]))
    ).withColumn("bucket", F.pmod(F.xxhash64("token", "i"), F.lit(WID)))

    sketch = keyed.groupBy("i", "bucket").agg(F.count("*").alias("c"))

    # --- linearity: per-source sketches sum to the global sketch -----------
    by_source = keyed.groupBy("source", "i", "bucket").agg(
        F.count("*").alias("c")
    )
    summed = by_source.groupBy("i", "bucket").agg(F.sum("c").alias("c"))
    mismatch = (
        sketch.join(summed, ["i", "bucket"], "full")
        .where(
            sketch["c"].isNull()
            | summed["c"].isNull()
            | (sketch["c"] != summed["c"])
        )
        .count()
    )
    if mismatch:
        raise AssertionError(
            f"CMS linearity violated: {mismatch} counters differ between "
            "the global sketch and the sum of per-source sketches"
        )

    # --- accuracy: est >= exact everywhere; worst error within eps*N -------
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    est = (
        exact.select("token")
        .withColumn("i", F.explode(F.array(*[F.lit(i) for i in range(D)])))
        .withColumn("bucket", F.pmod(F.xxhash64("token", "i"), F.lit(WID)))
        .join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("token")
        .agg(F.min("c").alias("est_count"))
    )
    audit = exact.join(est, "token")
    n_total = toks.count()
    bad = audit.where(F.col("est_count") < F.col("exact_count")).count()
    if bad:
        raise AssertionError(f"CMS underestimated {bad} tokens — impossible")
    import math

    eps_n = math.e / WID * n_total
    worst = audit.agg(
        F.max(F.col("est_count") - F.col("exact_count")).alias("w")
    ).collect()[0]["w"]
    if worst > eps_n:
        raise AssertionError(
            f"CMS worst overestimate {worst} exceeds eps*N = {eps_n:.1f}"
        )
    # the audit collect below would otherwise be a throwaway execution:
    # persist so the caller's count/collect reuse it instead of re-running
    # the sketch + exact-count pipeline (the double-execution class fixed in
    # pagerank/RAG/triangle-count); a failed check unpersists it on the way
    # out (ADVICE r08)
    with operator_scope(spark, "b4_countmin_heavy_hitters") as s:
        top = s.keep(
            audit.orderBy(F.desc("exact_count"), "token")
            .limit(10)
            .select(
                "token",
                "exact_count",
                (
                    (F.col("est_count") - F.col("exact_count"))
                    <= 0.05 * F.col("exact_count")
                ).alias("est_within_5pct"),
            )
        )
        loose = [r["token"] for r in top.collect() if not r["est_within_5pct"]]
        if loose:
            raise AssertionError(
                f"CMS heavy-hitter estimates off by >5% for {loose} — heavy "
                "hitters dominate their buckets, this should never happen"
            )
    return top


@register(
    "b4_parquet_agg_pushdown",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n,
               min(l_quantity) AS qmin, max(l_quantity) AS qmax,
               CAST(min(l_orderkey) AS BIGINT) AS okmin,
               CAST(max(l_orderkey) AS BIGINT) AS okmax
        FROM lineitem
    """,
)
def b4_parquet_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 (late registration, see module docstring): MIN/MAX/COUNT pushed
    INTO the parquet scan — the answer comes from footer statistics, no data
    pages decoded. At 100 TB this turns a full-table aggregate into a
    metadata read: cost proportional to file count, not byte count (the
    DataFrame-API equivalent of the warehouse manifest-stats path that
    c6_file_skipping exercises).

    Requires the v2 parquet source; the plan is asserted to contain
    ``PushedAggregation`` before execution, and the result is materialized
    inside the conf scope (the driver collects AFTER the scope restores, so
    a lazy frame would silently run without pushdown — the exact trap
    CLAUDE.md's scoped-conf note names).

    Direct ``spark.read.parquet`` on purpose: pushdown only fires on a bare
    scan-aggregate (any filter, cast, or added column keeps data pages in
    play), which is also why this matters — it is the common "profile a
    table you just landed" query.
    """
    import os

    from apache_iceberg_demo_spark.tuning import scoped_conf

    path = os.path.join(sf_dir, "lineitem.parquet")
    with scoped_conf(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "",
        },
    ):
        df = spark.read.parquet(path).agg(
            F.count("*").alias("n"),
            F.min("l_quantity").alias("qmin"),
            F.max("l_quantity").alias("qmax"),
            F.min("l_orderkey").alias("okmin"),
            F.max("l_orderkey").alias("okmax"),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "PushedAggregation: [COUNT(*)" not in plan:
            raise AssertionError(
                "aggregate was not pushed into the parquet scan"
            )
        rows = df.collect()
    return spark.createDataFrame(rows, df.schema)


_LATERAL_SQL = """
    SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey,
           round(o.o_totalprice, 6) AS top_price
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


@register("b2_lateral_topn_per_customer", oracle=_LATERAL_SQL)
def b2_lateral_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 (late registration, see module docstring): correlated LATERAL
    subquery in FROM — each customer's two highest-value orders, the
    for-each-row-run-a-query SQL surface (Spark 3.2+ LATERAL; identical
    spelling runs on DuckDB as the oracle).

    Catalyst de-correlates the LATERAL ORDER-BY-LIMIT into a per-key window
    limit over a single join — not one subquery execution per outer row; the
    same rank-then-filter shape s1_cap_per_source uses, arrived at from SQL.
    Customers with no orders drop (inner lateral), matching the oracle.
    """
    from apache_iceberg_demo_spark.io import register_views

    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(_LATERAL_SQL)


@register(
    "c1_dedup_url_canonical",
    oracle=r"""
        WITH u AS (
            SELECT doc_id,
                CASE doc_id % 4
                  WHEN 0 THEN 'https://src' || (doc_id % 250) || '.example.com/page/' || (doc_id % 250)
                  WHEN 1 THEN upper('https://src' || (doc_id % 250) || '.example.com') || '/page/' || (doc_id % 250)
                  WHEN 2 THEN 'https://src' || (doc_id % 250) || '.example.com:443/page/' || (doc_id % 250) || '?utm_source=feed'
                  ELSE 'https://src' || (doc_id % 250) || '.example.com/page/' || (doc_id % 250) || '/#section'
                END AS url
            FROM documents
        ),
        c AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
        parts AS (
            SELECT doc_id, url,
                   lower(regexp_extract(nf, '^([A-Za-z]+)://', 1))         AS scheme,
                   lower(regexp_extract(nf, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host,
                   regexp_extract(nf, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1) AS port,
                   regexp_replace(regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/$', '') AS path,
                   array_to_string(list_filter(
                       string_split(regexp_extract(nf, '\?([^#]*)', 1), '&'),
                       x -> x <> '' AND x NOT LIKE 'utm\_%' ESCAPE '\'), '&') AS q
            FROM c
        )
        SELECT scheme || '://' || host ||
               CASE WHEN port <> '' AND port <> '443' AND port <> '80'
                    THEN ':' || port ELSE '' END ||
               path ||
               CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical,
               CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM parts
        GROUP BY 1
    """,
)
def c1_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 (late registration, see module docstring): URL-canonicalization
    dedup — the crawl-frontier pass that collapses scheme/host case, default
    ports (:443/:80), trailing slashes, fragments, and utm_* tracking
    params before URLs are compared. Variant URLs are synthesized
    deterministically from doc_id (4 surface forms per canonical target) so
    recall is checkable: every canonical group must reunite its variants.

    All built-ins (regexp_extract/replace + one small-array HOF for the
    query-param filter — a handful of params per URL, not the O(n)-array
    interpreted-HOF trap CLAUDE.md warns about). One hash-aggregate shuffle
    on the canonical key; at 100 TB the group-by key is
    ``xxhash64(canonical)`` and the frontier keeps (hash → first-seen URL).
    """
    d = load(spark, sf_dir, "documents")
    b = F.pmod(F.col("doc_id"), F.lit(250)).cast("string")
    variant = F.pmod(F.col("doc_id"), F.lit(4))
    plain = F.concat(F.lit("https://src"), b, F.lit(".example.com/page/"), b)
    url = (
        F.when(variant == 0, plain)
        .when(
            variant == 1,
            F.concat(
                F.upper(F.concat(F.lit("https://src"), b, F.lit(".example.com"))),
                F.lit("/page/"),
                b,
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("https://src"), b, F.lit(".example.com:443/page/"), b,
                F.lit("?utm_source=feed"),
            ),
        )
        .otherwise(F.concat(plain, F.lit("/#section")))
    )
    u = d.select("doc_id", url.alias("url"))
    nf = F.regexp_replace("url", "#.*$", "")
    scheme = F.lower(F.regexp_extract(nf, r"^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract(nf, r"^[A-Za-z]+://([^/:?#]+)", 1))
    port = F.regexp_extract(nf, r"^[A-Za-z]+://[^/:?#]+:([0-9]+)", 1)
    path = F.regexp_replace(
        F.regexp_extract(nf, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/$", ""
    )
    q = F.array_join(
        F.filter(
            F.split(F.regexp_extract(nf, r"\?([^#]*)", 1), "&"),
            lambda kv: (kv != "") & ~kv.startswith("utm_"),
        ),
        "&",
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(
            (port != "") & (port != "443") & (port != "80"),
            F.concat(F.lit(":"), port),
        ).otherwise(F.lit("")),
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return (
        u.select("url", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.countDistinct("url").alias("n_variants"),
            F.count("*").alias("n_docs"),
        )
    )


@register(
    "s1_balanced_class_downsample",
    oracle="""
        WITH ranked AS (
            SELECT vec_id, label,
                   row_number() OVER (
                       PARTITION BY label
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings
        ),
        floor_n AS (
            SELECT min(cnt) AS m
            FROM (SELECT count(*) AS cnt FROM embeddings GROUP BY label)
        )
        SELECT vec_id, label, CAST(rn AS BIGINT) AS rn
        FROM ranked, floor_n
        WHERE rn <= m
    """,
)
def s1_balanced_class_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (late registration, see module docstring): class-balancing
    downsample — every label keeps exactly min-class-count rows, chosen by
    md5(vec_id) rank (deterministic, engine-portable, unbiased within
    class). The majority-class trim a classifier-training pipeline applies
    when it can't afford loss re-weighting.

    Plan: one shuffle on label for the rank window (WindowGroupLimit does
    NOT apply — the limit is a runtime scalar — but the window is a running
    counter, no buffering); the floor is a label-cardinality aggregate
    broadcast as a 1-row frame. Skewed majority classes cost one
    per-partition sort, the same bound as s1_cap_per_source.
    """
    e = load(spark, sf_dir, "embeddings")
    w = W.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    ranked = e.select("vec_id", "label").withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    )
    floor_n = (
        e.groupBy("label")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    return ranked.crossJoin(F.broadcast(floor_n)).where(
        F.col("rn") <= F.col("m")
    ).select("vec_id", "label", "rn")


@register(
    "c5_chunk_surgery_dedup",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        chunks AS (
          SELECT doc_id, u.i AS cidx,
                 array_to_string(t[(u.i*10+1):(u.i*10+10)], ' ') AS chunk
          FROM toks, LATERAL unnest(generate_series(0,
               CAST(ceil(len(t)/10.0) AS INT) - 1)) AS u(i)
        ),
        marked AS (
          SELECT doc_id, cidx, chunk,
                 min(doc_id*100 + cidx) OVER (PARTITION BY chunk) AS first_key
          FROM chunks
        )
        SELECT doc_id,
               string_agg(CASE WHEN doc_id*100+cidx = first_key THEN chunk END,
                          ' ' ORDER BY cidx) AS cleaned_text,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(CASE WHEN doc_id*100+cidx <> first_key THEN 1 END)
                    AS BIGINT) AS n_removed
        FROM marked
        GROUP BY doc_id
    """,
)
def c5_chunk_surgery_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: surgical span REMOVAL — the companion to c5_span_dedup_exact's
    detection. Documents split into consecutive 10-token chunks; every chunk
    seen earlier in the corpus (first-occurrence order: (doc_id, position))
    is cut, and each document is REASSEMBLED from its surviving chunks in
    original order — the Lee-et-al "deduplicate the training data, keep the
    documents" operation, not just a report.

    Plan: chunking is array-side per row (≤12 slice+join lambda steps per
    doc — per-CHUNK interpreted-HOF cost, not per-token); one shuffle
    partitions chunks by text for the first-occurrence window; one shuffle
    groups survivors back by doc_id where an array_sort(collect_list(struct))
    restores chunk order without a second sort pass. Fully-excised documents
    yield NULL cleaned_text (both engines).

    At 100 TB the window key becomes xxhash64(chunk) (8-byte shuffle) and
    first-occurrence switches to a two-pass min-aggregate + broadcast-join
    to avoid windowing the whole corpus by raw text.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
    )
    exploded = d.select(
        "doc_id", F.posexplode(chunks).alias("cidx", "chunk")
    )
    key = F.col("doc_id") * 100 + F.col("cidx")
    marked = exploded.withColumn(
        "first_key", F.min(key).over(W.partitionBy("chunk"))
    ).withColumn("is_first", key == F.col("first_key"))
    return marked.groupBy("doc_id").agg(
        F.nullif(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_first"),
                                F.struct("cidx", "chunk"),
                            )
                        )
                    ),
                    lambda x: x["chunk"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("cleaned_text"),
        F.count("*").alias("n_chunks"),
        F.count(F.when(~F.col("is_first"), 1)).alias("n_removed"),
    )


@register(
    "b5_distinct_count_window",
    oracle="""
        SELECT event_id,
               event_type,
               CAST(count(DISTINCT user_id) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS distinct_users_50
        FROM events
    """,
)
def b5_distinct_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 (late registration, see module docstring): DISTINCT count over a
    sliding row frame — rolling "unique users in the last 50 events" per
    event type. Spark's window aggregates reject DISTINCT, so the
    Spark-first rewrite is collect_list over the frame → array_distinct →
    size, identical semantics (DuckDB runs the native spelling as the
    oracle).

    Scale: frame state is the 50-element list per row — bounded by the
    frame, not the partition. For unbounded ("distinct users to date")
    frames the rewrite becomes a running HLL sketch merge
    (b4_hll_sketch_mergeable's estimator), since exact distinct state would
    grow without bound.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.size(F.array_distinct(F.collect_list("user_id").over(w)))
        .cast("bigint")
        .alias("distinct_users_50"),
    )


@register(
    "b8_url_funcs",
    oracle="""
        SELECT doc_id,
               'https://' || source || '.example.com/docs/' || doc_id ||
                 '?lang=' || lang || '&q=' || replace(substr(text,1,12),' ','+') AS url,
               source || '.example.com'                      AS host,
               '/docs/' || doc_id                            AS path,
               lang                                          AS lang_param,
               replace(substr(text,1,12), ' ', '+')          AS q_param,
               TRUE                                          AS roundtrip_ok
        FROM documents
    """,
)
def b8_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 (late registration, see module docstring): URL scalar functions —
    ``parse_url`` component extraction (HOST/PATH/named QUERY param) and the
    ``url_encode``/``url_decode`` roundtrip. The oracle cannot parse URLs,
    so it RECOMPUTES every expected component from the same source columns —
    a construct-then-parse contract: parsing must invert construction
    exactly. (Corpus text is [a-z ]+, so form-encoding is the single
    space→'+' rewrite on both sides; parse_url returns query params still
    encoded, as java.net does.)
    """
    d = load(spark, sf_dir, "documents")
    q_raw = F.substring("text", 1, 12)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"), F.lit("&q="),
        F.url_encode(q_raw),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q_param"),
        (F.url_decode(F.url_encode(q_raw)) == q_raw).alias("roundtrip_ok"),
    )


@register(
    "b4_ohlc_bars",
    oracle="""
        SELECT event_type, time_bucket(INTERVAL 1 DAY, ts) AS day,
               round(arg_min(value, ts), 6) AS open,
               round(max(value), 6)         AS high,
               round(min(value), 6)         AS low,
               round(arg_max(value, ts), 6) AS close,
               CAST(count(*) AS BIGINT)     AS n
        FROM events
        GROUP BY 1, 2
    """,
)
def b4_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 (late registration, see module docstring): OHLC bars — the
    canonical timeseries downsample: per (series, day), the first/max/min/
    last value by event time. ``min_by``/``max_by`` fold ordered-first/last
    into ONE hash aggregate — no window, no sort, map-side partial
    aggregation carries (candidate value, candidate ts) pairs only.
    Deterministic because event timestamps are unique at every SF
    (verified); with tie-prone timestamps the key becomes
    struct(ts, event_id).
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.window("ts", "1 day").alias("w"))
        .agg(
            F.round(F.min_by("value", "ts"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", "ts"), 6).alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type", F.col("w.start").alias("day"),
            "open", "high", "low", "close", "n",
        )
    )


@register(
    "b4_time_weighted_avg",
    oracle="""
        WITH step AS (
            SELECT user_id, value, epoch_us(ts) AS us,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts) AS nxt
            FROM events)
        SELECT user_id,
               round(sum(value * (nxt - us)) / sum(nxt - us), 6) AS twap,
               CAST(count(*) AS BIGINT) AS n_steps
        FROM step WHERE nxt IS NOT NULL
        GROUP BY user_id
    """,
)
def b4_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 (late registration, see module docstring): time-weighted average —
    each observation holds until the next one, so the mean weights each
    value by its holding duration (the metrics/finance aggregation a plain
    AVG silently gets wrong on irregular samples). One window pass for the
    next-timestamp lead (µs-exact integer arithmetic, per the events float
    discipline), then a hash aggregate; the series' last point has no
    duration and drops on both engines.
    """
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros("ts")
    step = ev.select(
        "user_id",
        "value",
        us.alias("us"),
        F.lead(us).over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    dt = F.col("nxt") - F.col("us")
    return step.groupBy("user_id").agg(
        F.round(F.sum(F.col("value") * dt) / F.sum(dt), 6).alias("twap"),
        F.count("*").alias("n_steps"),
    )


@register(
    "b4_skew_diagnosis",
    oracle="""
        WITH kc AS (
            SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT)              AS n_keys,
               CAST(max(c) AS BIGINT)                AS max_rows,
               round(avg(c), 6)                      AS avg_rows,
               round(CAST(max(c) AS DOUBLE)/avg(c), 6) AS skew_factor,
               round(quantile_cont(c, 0.99), 6)      AS p99_rows
        FROM kc
    """,
)
def b4_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 (late registration, see module docstring): join/agg-key skew
    diagnosis — per-key row counts reduced to the numbers that decide a
    shuffle strategy: key cardinality, heaviest key, p99, and the
    max/mean skew factor. This is the planning query you run BEFORE picking
    salting (b3_join_salted_skew / b4_salted_skew_agg) or trusting AQE's
    skew-join split at 100 TB.

    Plan: two chained hash aggregates — per-key counts (map-side combined,
    the only full-data shuffle), then a single-row reduction over the
    key-cardinality-sized frame.
    """
    li = load(spark, sf_dir, "lineitem")
    kc = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    return kc.agg(
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_rows"),
        F.round(F.avg("c"), 6).alias("avg_rows"),
        F.round(F.max("c").cast("double") / F.avg("c"), 6).alias("skew_factor"),
        F.round(F.percentile("c", 0.99), 6).alias("p99_rows"),
    )


@register(
    "c5_passage_chunking",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        spans AS (
          SELECT doc_id, u.i AS passage_idx,
                 1 + u.i*24 AS start_tok,
                 array_to_string(t[(u.i*24+1):(u.i*24+32)], ' ') AS passage,
                 len(t[(u.i*24+1):(u.i*24+32)]) AS n_tokens
          FROM toks, LATERAL unnest(generate_series(0,
               greatest(CAST(ceil((len(t)-32)/24.0) AS INT), 0))) AS u(i)
        )
        SELECT doc_id, CAST(passage_idx AS BIGINT) AS passage_idx,
               CAST(start_tok AS BIGINT) AS start_tok, passage,
               CAST(n_tokens AS BIGINT) AS n_tokens
        FROM spans WHERE n_tokens > 0
    """,
)
def c5_passage_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 (late registration, see module docstring): RAG passage chunking —
    32-token windows at stride 24 (8-token overlap) with provenance
    (doc_id, passage_idx, start_tok), the retrieval-prep stage between
    "documents" and "embeddings". The trailing partial window survives (a
    retriever must be able to reach a document's tail), and sub-window docs
    yield themselves as one passage.

    Plan: window construction is array-side per row (a handful of
    slice+join lambda steps per doc — per-PASSAGE cost); posexplode fans
    out; no shuffle at all — chunking is embarrassingly parallel, which is
    the point at 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    last = F.greatest(
        F.ceil((n - 32) / F.lit(24.0)).cast("int"), F.lit(0)
    )
    passages = F.transform(
        F.sequence(F.lit(0), last),
        lambda i: F.struct(
            (i * 24 + 1).alias("start_tok"),
            F.array_join(F.slice(toks, i * 24 + 1, 32), " ").alias("passage"),
            F.size(F.slice(toks, i * 24 + 1, 32)).alias("n_tokens"),
        ),
    )
    return (
        d.select("doc_id", F.posexplode(passages).alias("passage_idx", "p"))
        .where(F.col("p.n_tokens") > 0)
        .select(
            "doc_id",
            F.col("passage_idx").cast("bigint"),
            F.col("p.start_tok").cast("bigint").alias("start_tok"),
            F.col("p.passage").alias("passage"),
            F.col("p.n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "s1_epoch_shuffle",
    oracle="""
        SELECT epoch, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY epoch
                   ORDER BY md5(epoch || '-' || doc_id), doc_id) AS BIGINT)
                   AS position
        FROM documents
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch)
    """,
)
def s1_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (late registration, see module docstring): per-epoch deterministic
    training order — epoch e's order is the md5(e ⊕ doc_id) rank: a fresh,
    uniform, RNG-free permutation per epoch that any engine (and any rerun,
    resume, or re-shard) reproduces bit-for-bit. The data-ordering
    discipline a resumable trainer needs: position is a pure function of
    (epoch, doc_id).

    Plan: one explode by 3 epochs + one rank window per epoch partition —
    the sort is the cost, which is exactly the cost of shuffling a corpus.
    """
    d = load(spark, sf_dir, "documents")
    epochs = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("epoch")
    de = d.select("doc_id").select(epochs, "doc_id")
    w = W.partitionBy("epoch").orderBy(
        F.md5(F.concat_ws("-", "epoch", "doc_id")), F.col("doc_id")
    )
    return de.withColumn("position", F.row_number().over(w).cast("bigint"))
