from __future__ import annotations

from olist_snowflake_dbt_spark.functions.local_frame import arrow_local_df


def test_arrow_local_df_accepts_generator(spark):
    rows = ((i, str(i)) for i in range(3))
    out = arrow_local_df(spark, rows, "a int, b string")
    assert sorted(tuple(r) for r in out.collect()) == [(0, "0"), (1, "1"), (2, "2")]
