"""Round-6 surface: the Spark-4 execution fronts still uncovered after
round 5 — SQL scripting (BEGIN/DECLARE/WHILE), approx_top_k, GROUP/ORDER BY
ALL, dynamic-gap session windows, the cogrouped-pandas UDF tier, and the
distributed pair-counting core of BPE tokenizer training.

Reference basis: the reference demo's query surface is engine-portable SQL
over shared files (``/root/reference/README.md:85-211``); every oracle here
is plain ANSI SQL DuckDB runs on the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_iceberg_demo_spark.io import load, register_views
from apache_iceberg_demo_spark.registry import register


@register(
    "b2_sql_scripting_compound",
    oracle="""
        WITH t AS (
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total
            FROM lineitem
        )
        SELECT round(((total * 1.05) * 1.05) * 1.05, 6) AS compounded_revenue,
               CAST(3 AS INT) AS n_rounds
        FROM t
    """,
)
def b2_sql_scripting_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: Spark 4 SQL scripting — BEGIN/END block with DECLAREd variables
    and a WHILE loop, the procedural control flow that previously required
    a driver-side Python loop. The script seeds a variable from a table
    aggregate (exact DECIMAL accumulation, then one cast to double) and
    compounds it three times; the oracle replays the identical float
    operation order ``((t*1.05)*1.05)*1.05`` closed-form."""
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        BEGIN
          DECLARE total DOUBLE DEFAULT 0.0;
          DECLARE i INT DEFAULT 0;
          SET total = (
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            FROM lineitem
          );
          WHILE i < 3 DO
            SET total = total * 1.05;
            SET i = i + 1;
          END WHILE;
          SELECT round(total, 6) AS compounded_revenue, i AS n_rounds;
        END
        """
    )


@register(
    "b4_approx_top_k_events",
    oracle="""
        SELECT event_type AS item, CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY event_type
    """,
)
def b4_approx_top_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: Spark 4 ``approx_top_k`` heavy-hitter sketch. Contract that makes
    it hash-verifiable: k (10) and the sketch's tracked-item budget both
    exceed the event-type domain (~6 values), so the sketch degenerates to
    EXACT counts of every distinct value — the oracle is a plain group
    count. At 100 TB the same call with k << NDV returns approximate heavy
    hitters in one pass and mergeable partials (the CMS entry
    ``b4_countmin_heavy_hitters`` carries the accuracy-contract story)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 10)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
    )


@register(
    "b6_group_order_by_all",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                   AS total_price
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
)
def b6_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6/B2: ``GROUP BY ALL`` + ``ORDER BY ALL`` — Spark 4 adopted both
    DuckDB-origin conveniences, so the same SQL text runs verbatim on both
    engines (the engine-portability property the reference demos)."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                   AS total_price
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@register(
    "b5_session_window_dynamic_gap",
    oracle="""
        WITH g AS (
            SELECT user_id, ts,
                   ts + CASE WHEN event_type = 'purchase'
                             THEN INTERVAL 60 MINUTE
                             ELSE INTERVAL 15 MINUTE END AS ind_end
            FROM events
        ),
        f AS (
            SELECT user_id, ts, ind_end,
                   max(ind_end) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prev_max
            FROM g
        ),
        n AS (
            SELECT *, CASE WHEN prev_max IS NULL OR ts > prev_max
                           THEN 1 ELSE 0 END AS new_s
            FROM f
        ),
        s AS (
            SELECT *, sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM n
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ind_end) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s
        GROUP BY user_id, sid
    """,
)
def b5_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: session windows whose gap is a PER-EVENT expression — purchases
    hold a session open for 60 minutes, everything else 15 (the
    engagement-weighted sessionization real funnels use). Spark's
    ``session_window(ts, gap_expr)`` merges events whose [ts, ts+gap)
    intervals chain; the oracle replays the same interval-union rule with a
    running max-of-ends window (new session iff ts > max of all previous
    ends — strict inequality, matching Spark's merge of touching
    intervals)."""
    ev = load(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("15 minutes")
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def _cogroup_buckets(df: DataFrame) -> int:
    """Cogroup bucket count derived from the fact side's own input splits
    (4 buckets per split → each pandas batch holds ~1/4 of a split, bounded
    by executor memory at ANY scale). Same input-proportional pattern as
    ``tuning.input_sized_shuffle`` — never a fixed constant: a literal 64
    would cap parallelism at 64 tasks and hand ~1.5 TB per bucket to a
    single pandas call at 100 TB."""
    return 4 * max(8, df.rdd.getNumPartitions())


@register(
    "b10_cogroup_apply_reconcile",
    oracle="""
        SELECT o.o_orderkey,
               round(o.o_totalprice, 6) AS total_price,
               round(sum(l.l_extendedprice), 6) AS gross,
               round(o.o_totalprice - sum(l.l_extendedprice), 6) AS delta
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def b10_cogroup_apply_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: the cogrouped-pandas tier (``groupBy().cogroup().applyInPandas``)
    — the one UDF surface round 5 did not cover: TWO tables shuffled once on
    a shared key, each group pair handed to pandas together. Used here for
    ledger reconciliation (order header total vs sum of its line items).

    Scale shape: the cogroup key is a BUCKET (orderkey mod N), not the raw
    orderkey — N Arrow batch pairs instead of one tiny pandas call per
    order, with the per-order merge vectorized inside each bucket. N scales
    with the lineitem side's input splits (see ``_cogroup_buckets``); the
    shuffle is still one exchange per side, same as a join."""
    import pandas as pd

    li_scan = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    n_buckets = _cogroup_buckets(li_scan)
    o = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn("bucket", F.pmod("o_orderkey", F.lit(n_buckets)))
    )
    li = li_scan.withColumn("bucket", F.pmod("l_orderkey", F.lit(n_buckets)))

    def reconcile(orders_pdf: pd.DataFrame, items_pdf: pd.DataFrame) -> pd.DataFrame:
        gross = (
            items_pdf.groupby("l_orderkey", as_index=False)["l_extendedprice"]
            .sum()
            .rename(columns={"l_orderkey": "o_orderkey", "l_extendedprice": "gross"})
        )
        m = orders_pdf.merge(gross, on="o_orderkey", how="inner")
        return pd.DataFrame(
            {
                "o_orderkey": m["o_orderkey"],
                "total_price": m["o_totalprice"].round(6),
                "gross": m["gross"].round(6),
                "delta": (m["o_totalprice"] - m["gross"]).round(6),
            }
        )

    return (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            reconcile,
            "o_orderkey bigint, total_price double, gross double, delta double",
        )
    )


@register(
    "c5_bpe_pair_merges",
    oracle="""
        WITH words AS (
            SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents
        ),
        pairs AS (
            SELECT unnest(list_transform(
                       range(1, length(word)),
                       i -> word[i:i+1]
                   )) AS pair
            FROM words
            WHERE length(word) >= 2
        ),
        counted AS (
            SELECT pair, CAST(count(*) AS BIGINT) AS freq
            FROM pairs
            GROUP BY pair
        ),
        ranked AS (
            SELECT pair, freq,
                   row_number() OVER (ORDER BY freq DESC, pair) AS rk
            FROM counted
        )
        SELECT CAST(rk AS INT) AS merge_rank, pair, freq
        FROM ranked
        WHERE rk <= 5
    """,
)
def c5_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: the distributed core of BPE tokenizer training — adjacent
    symbol-pair frequency counting over the corpus, yielding the top merge
    candidates (rank 1 is the pair BPE would merge first; a full trainer
    re-applies the merge and recounts, each round this same one-shuffle
    job).

    Spark-first: pairs are substrings generated by a sequence transform
    (``substr(word, i, 2)`` — no per-character array materialization), one
    explode, one hash-aggregate shuffle carrying (pair, partial count), and
    a 5-row TakeOrdered. Ties break on the pair string so the merge table
    is deterministic across engines and runs — a reproducibility property
    real tokenizer training pipelines need."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.length("word") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").cast("bigint").alias("freq"))
    w = F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("pair")))
    return (
        counted.withColumn("rk", w)
        .filter(F.col("rk") <= 5)
        .select(F.col("rk").cast("int").alias("merge_rank"), "pair", "freq")
    )
