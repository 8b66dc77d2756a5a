"""Arrow-path construction of small driver-local DataFrames.

``spark.createDataFrame(list_of_rows, schema)`` builds a PYTHON-RDD
local relation: the rows are pickled into ``defaultParallelism``
slices, and EVERY downstream evaluation re-launches one Python worker
pass per slice. The pathology (round 15, measured): a harness that
writes such a 2-row frame through ``coalesce(1)`` evaluates all 32
slices SEQUENTIALLY inside the single write task — ~115 ms of Python
worker handshake per slice, ~4-8 s of pure overhead for two rows —
and even parallel consumers (broadcast dims) re-pay one Python worker
sweep per action.

:func:`arrow_local_df` routes the same rows through pandas + Arrow
instead (guide §4: move data across the boundary as Arrow batches, not
pickled rows): the data lands in ~``ceil(rows/parallelism)``-row Arrow
batches with NO Python at evaluation time — the 2-row write drops to
~0.2 s. Falls back to the classic path for types the Arrow converter
rejects, so it is always safe to call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def arrow_local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` through the Arrow path.

    ``rows`` is a driver-local iterable of tuples/Rows; ``schema`` a DDL
    string or StructType. Values are carried in object-dtype pandas
    columns, so ints stay exact (no float64 round trip) and None stays
    NULL; naive datetimes are localized to the session timezone (this
    engine pins UTC) exactly as the classic path does on a UTC host.
    Falls back to the classic ``createDataFrame`` on any conversion
    error rather than failing the query.
    """
    rows = list(rows)  # a generator would be exhausted by the first column
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd

        target = (
            spark.createDataFrame([], schema).schema
            if isinstance(schema, str)
            else schema
        )
        names = [f.name for f in target.fields]
        data = {
            n: pd.Series([tuple(r)[i] for r in rows], dtype=object)
            for i, n in enumerate(names)
        }
        return spark.createDataFrame(pd.DataFrame(data, columns=names), target)
    except Exception:
        return spark.createDataFrame(rows, schema)
