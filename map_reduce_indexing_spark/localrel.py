"""Small driver-built DataFrames without the pickled-RDD tax (r15).

Several metadata-served queries end with `spark.createDataFrame(rows,
ddl)` over a handful of driver-computed rows (manifest counts, trained
model weights, audit reports). With a plain Python list that call takes
the legacy pickle path: the rows become a parallelized Python RDD, and
EVERY downstream action pays a Python-worker round trip just to read
them back — measured ~190 ms per noop execution at local[8] versus
~50 ms for the same values through the pandas/Arrow path or a SQL
literal (the values never touch a Python worker again). At 100 TB the
absolute cost is the same, which is exactly why it is worth removing:
it is a fixed per-query driver tax, the kind guide §5 says the driver
should not pay.

`local_rows_df` keeps the call-site contract (list of row tuples + DDL
schema string) but routes through pandas/Arrow. Every column is built
as a dtype=object Series so pandas never coerces values before Arrow
sees them: Python ints/floats/bools/strs/None/lists arrive in Arrow
exactly as passed (float64 bit patterns are moved, not re-parsed), and
the explicit schema drives the Arrow types. Falls back to the classic
path if the Arrow conversion rejects a value shape (kept for safety —
the callers' oracle checks would catch a silent semantic change, the
fallback catches a loud one).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import _parse_datatype_string


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    # materialize once: the per-column walk below iterates `rows` once
    # per column, which would exhaust a generator after the first
    rows = list(rows)
    try:
        struct = _parse_datatype_string(schema)
        names = struct.fieldNames()
        data = {
            name: pd.Series([r[i] for r in rows], dtype=object)
            for i, name in enumerate(names)
        }
        pdf = pd.DataFrame(data, columns=names)
        # empty frames: pandas loses the row axis, Spark needs the schema
        # anyway — both paths agree on zero rows
        return spark.createDataFrame(pdf, schema=struct)
    except Exception:  # noqa: BLE001 — correctness over speed
        return spark.createDataFrame(rows, schema)
