"""local_rows_df (r15): the Arrow path for small driver-built frames
must be value- and schema-identical to the classic createDataFrame
path for every row shape the call sites use — ints, bit-exact doubles,
strings (incl. quotes/newlines), booleans, Nones, timestamps (tz and
ntz), double arrays, and the empty frame."""

from __future__ import annotations

import datetime
import struct

from map_reduce_indexing_spark.localrel import local_rows_df

CASES = [
    ([(1234, 5678)], "n_pinned long, n_head long"),
    (
        [(j, f"f{j}", 0.1 * j - 3.7e-13) for j in range(7)],
        "feature_id long, feature string, weight double",
    ),
    ([(5, True)], "n_orders long, bounded_plan boolean"),
    (
        [(1, "src", 2, 3, None, None, 7)],
        "generation long, src string, since long, until long, "
        "mode string, gated_rows_in long, gated_rows_appended long",
    ),
    (
        [
            (
                1,
                datetime.datetime(2020, 5, 1, 3, 4, 5, 123456),
                4,
                100,
                2048,
                0,
                1,
                "a,b",
                True,
            )
        ],
        "generation int, published timestamp_ntz, n_files int, "
        "n_rows long, bytes long, n_deleted long, schema_id int, "
        "tags string, is_head boolean",
    ),
    (
        [(3, datetime.datetime(1996, 1, 1), datetime.datetime(1996, 12, 31))],
        "n long, d0 timestamp, d1 timestamp",
    ),
    ([(2, [1.0, 2.5], [0.1, -0.2])], "cell long, w1 array<double>, w2 array<double>"),
    ([], "a long, b string"),
    ([(0, "ab'c\"d\\e\nf", 9)], "r long, s string, n long"),
]


def test_local_rows_df_matches_classic_path(spark):
    for rows, schema in CASES:
        old = spark.createDataFrame(rows, schema)
        new = local_rows_df(spark, rows, schema)
        assert old.schema == new.schema, schema
        assert [tuple(r) for r in old.collect()] == [
            tuple(r) for r in new.collect()
        ], schema


def test_local_rows_df_doubles_are_bit_exact(spark):
    w = 0.1 * 3 - 3.7e-13
    got = local_rows_df(spark, [(w,)], "w double").collect()[0][0]
    assert struct.pack("d", got) == struct.pack("d", w)


def test_local_rows_df_plan_is_a_local_table_scan(spark):
    """The point of the helper: the classic path plans as
    `Scan ExistingRDD` over a pickled Python RDD (every action pays a
    Python-worker round trip); the Arrow path lands as a pure-JVM
    LocalTableScan."""
    df = local_rows_df(spark, [(1, 2)], "a long, b long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_local_rows_df_accepts_a_generator(spark):
    """`rows` is walked once per column; a generator must still give
    every row to every column, not an empty frame."""
    rows = [(j, f"w{j}") for j in range(4)]
    got = local_rows_df(spark, (r for r in rows), "n long, w string")
    assert [tuple(r) for r in got.collect()] == rows
