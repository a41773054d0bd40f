"""asof_join carries the latest right row atomically: a NULL value column in
that row is carried as NULL (DuckDB ASOF semantics), never an older row's
value, and multi-column carries never mix columns from different rows."""

from __future__ import annotations

from apache_iceberg_demo_spark.operators.asof import asof_join


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_null_value_in_latest_right_row_is_carried(spark):
    left = spark.createDataFrame(
        [(1, 1, 4), (2, 1, 6), (3, 1, 10), (4, 2, 10)],
        "id int, k int, ts int",
    )
    right = spark.createDataFrame(
        [(1, 5, 1.5), (1, 8, None)], "k int, ts int, v double"
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["v"])
    assert _rows(out, "id", "asof_v") == [
        (1, None),  # no right row at or before ts 4
        (2, 1.5),
        (3, None),  # latest row (ts 8) has v NULL: carried, not ts 5's 1.5
        (4, None),  # key without right rows
    ]


def test_multi_column_carry_takes_one_row(spark):
    """Per-column last(ignorenulls) would answer (1.5, 'b') for id 2: v from
    the ts-5 row, w from the ts-8 row. The match is one row: (NULL, 'b')."""
    left = spark.createDataFrame([(1, 1, 6), (2, 1, 9)], "id int, k int, ts int")
    right = spark.createDataFrame(
        [(1, 5, 1.5, "a"), (1, 8, None, "b")], "k int, ts int, v double, w string"
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["v", "w"]
    )
    assert _rows(out, "id", "asof_v", "asof_w") == [(1, 1.5, "a"), (2, None, "b")]
