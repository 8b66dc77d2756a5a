"""dbt model versions (registry.register_versioned / resolve_ref) and
dbt grants (Engine._apply_grants / read_as) — unit coverage beyond the
two driver queries."""

from __future__ import annotations

import pytest

from olist_snowflake_dbt_spark.plans.registry import (
    CompilationError,
    ModelRegistry,
    RefNotFoundError,
)
from olist_snowflake_dbt_spark.runner import Engine


def _registry(spark):
    reg = ModelRegistry(spark)
    reg.register_source("src", spark.range(5).withColumnRenamed("id", "k"))
    reg.register("base", "select k, k * 2 as v from {{ ref('src') }}")
    return reg


def _add_versions(reg, latest=None, deprecation=None):
    reg.register_versioned(
        "agg",
        {
            1: "select sum(v) as total from {{ ref('base') }}",
            2: "select k % 2 as bucket, sum(v) as total from {{ ref('base') }} group by 1",
        },
        latest=latest,
        deprecation=deprecation,
    )


class TestModelVersions:
    def test_unpinned_resolves_latest(self, spark):
        reg = _registry(spark)
        _add_versions(reg)
        df = reg.build("agg")  # latest defaults to max version = 2
        assert set(df.columns) == {"bucket", "total"}

    def test_latest_override_pins_default(self, spark):
        reg = _registry(spark)
        _add_versions(reg, latest=1)  # dbt latest_version may trail v2
        assert reg.build("agg").columns == ["total"]

    def test_sql_pin_and_python_pin(self, spark):
        reg = _registry(spark)
        _add_versions(reg)
        reg.register("old_consumer", "select total from {{ ref('agg', v=1) }}")
        assert reg.build("old_consumer").columns == ["total"]
        assert reg.build("agg_v1").count() == 1

    def test_pin_behind_latest_warns_once(self, spark):
        reg = _registry(spark)
        _add_versions(reg)
        reg.register("old_consumer", "select total from {{ ref('agg', v=1) }}")
        reg.build("old_consumer")
        assert len(reg.version_warnings) == 1
        assert "pinned behind latest" in reg.version_warnings[0]
        assert "old_consumer" in reg.version_warnings[0]

    def test_deprecated_version_warns(self, spark):
        reg = _registry(spark)
        _add_versions(reg, deprecation={1: "2026-06-30"})
        reg.register("old_consumer", "select total from {{ ref('agg', v=1) }}")
        reg.build("old_consumer")
        assert any("deprecated on 2026-06-30" in w for w in reg.version_warnings)

    def test_graph_edges_use_concrete_nodes(self, spark):
        reg = _registry(spark)
        _add_versions(reg)
        reg.register("new_consumer", "select * from {{ ref('agg') }}")
        edges = reg.graph()
        assert edges["new_consumer"] == ("agg_v2",)
        # graph() resolution must not spam warnings
        assert reg.version_warnings == []

    def test_unknown_version_is_ref_error(self, spark):
        reg = _registry(spark)
        _add_versions(reg)
        with pytest.raises(RefNotFoundError, match="no such version"):
            reg.resolve_ref("agg", 9)

    def test_pin_on_unversioned_model_is_error(self, spark):
        reg = _registry(spark)
        with pytest.raises(RefNotFoundError, match="not a versioned model"):
            reg.resolve_ref("base", 1)

    def test_name_collision_with_unversioned(self, spark):
        reg = _registry(spark)
        with pytest.raises(CompilationError, match="unversioned model"):
            reg.register_versioned("base", {1: "select 1"})


class TestGrants:
    def _engine(self, spark, tmp_path):
        eng = Engine(spark, str(tmp_path / "wh"))
        eng.registry.register_source("src", spark.range(10).withColumnRenamed("id", "k"))
        return eng

    def test_first_run_grants_all_configured(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.registry.register(
            "m", "select k from {{ ref('src') }}", materialized="table",
            grants={"select": ["a", "b"]},
        )
        eng.run()
        assert eng.grants_log == [("m", "grant", "select", "a"), ("m", "grant", "select", "b")]

    def test_rerun_is_idempotent_no_delta(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.registry.register(
            "m", "select k from {{ ref('src') }}", materialized="table",
            grants={"select": ["a"]},
        )
        eng.run()
        eng.run()
        assert len(eng.grants_log) == 1  # no re-grant on unchanged config

    def test_removed_role_is_revoked(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        model = eng.registry.register(
            "m", "select k from {{ ref('src') }}", materialized="table",
            grants={"select": ["a", "b"]},
        )
        eng.run()
        model.config["grants"] = {"select": ["b"]}
        eng.run()
        assert eng.grants_log[-1] == ("m", "revoke", "select", "a")
        assert eng.grants_state["m"]["select"] == {"b"}

    def test_dropped_privilege_is_fully_revoked(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        model = eng.registry.register(
            "m", "select k from {{ ref('src') }}", materialized="table",
            grants={"select": ["a"], "insert": ["etl"]},
        )
        eng.run()
        model.config["grants"] = {"select": ["a"]}
        eng.run()
        assert ("m", "revoke", "insert", "etl") in eng.grants_log
        assert "insert" not in eng.grants_state["m"]

    def test_read_as_enforced_and_open_when_unmanaged(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.registry.register(
            "m", "select k from {{ ref('src') }}", materialized="table",
            grants={"select": ["a"]},
        )
        eng.registry.register("open", "select k from {{ ref('src') }}")
        eng.run()
        assert eng.read_as("a", "m").count() == 10
        with pytest.raises(PermissionError, match="lacks select"):
            eng.read_as("intruder", "m")
        # unmanaged relation stays open (dbt: grants only when configured)
        assert eng.read_as("anyone", "open").count() == 10

    def test_grants_audit_frame(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.registry.register(
            "m", "select k from {{ ref('src') }}", materialized="table",
            grants={"select": ["a"]},
        )
        eng.run()
        rows = eng.grants_audit().collect()
        assert [(r.seq, r.model, r.action, r.privilege, r.role) for r in rows] == [
            (0, "m", "grant", "select", "a")
        ]


class TestObservedMetrics:
    def test_observe_collected_during_write(self, spark, tmp_path):
        from pyspark.sql import functions as F

        eng = Engine(spark, str(tmp_path / "wh"))
        eng.registry.register_source(
            "src", spark.createDataFrame([(1, 5.0), (2, None), (3, 7.0)], "k int, v double")
        )

        @eng.registry.model(
            name="m",
            materialized="table",
            observe={
                "n_rows": F.count(F.lit(1)),
                "n_null_v": F.count(F.when(F.col("v").isNull(), 1)),
            },
        )
        def m(ctx):
            return ctx.ref("src")

        eng.run()
        assert eng.run_metrics["m"] == {"n_rows": 3, "n_null_v": 1}

    def test_view_nodes_do_not_observe(self, spark, tmp_path):
        from pyspark.sql import functions as F

        eng = Engine(spark, str(tmp_path / "wh"))
        eng.registry.register_source("src", spark.range(3))
        eng.registry.register(
            "v", "select * from {{ ref('src') }}",
            observe={"n": F.count(F.lit(1))},
        )
        eng.run()
        assert "v" not in eng.run_metrics  # a view has no action to piggyback

    def test_rerun_refreshes_metrics(self, spark, tmp_path):
        from pyspark.sql import functions as F

        eng = Engine(spark, str(tmp_path / "wh"))
        holder = {"df": spark.range(4)}
        eng.registry.register_source("src", lambda s: holder["df"])

        @eng.registry.model(
            name="m", materialized="table", observe={"n": F.count(F.lit(1))}
        )
        def m(ctx):
            return ctx.ref("src")

        eng.run()
        assert eng.run_metrics["m"] == {"n": 4}


class TestUnitTestFixtures:
    def _engine(self, spark, tmp_path):
        eng = Engine(spark, str(tmp_path / "wh"))
        eng.registry.register_source("src", spark.range(100).withColumnRenamed("id", "k"))
        eng.registry.register("stg", "select k, k * 2 as v from {{ ref('src') }}")
        eng.registry.register(
            "agg", "select k % 2 as b, sum(v) as total from {{ ref('stg') }} group by 1"
        )
        return eng

    def test_given_expect_pass_and_fail(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        given = {"stg": spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int")}
        expect = spark.createDataFrame([(1, 40), (0, 20)], "b int, total bigint")
        res = eng.unit_test("agg", given, expect)
        assert res.passed and res.failures == 0
        bad = spark.createDataFrame([(1, 41), (0, 20)], "b int, total bigint")
        res2 = eng.unit_test("agg", given, bad)
        assert not res2.passed and res2.failures == 2  # one actual + one expected row

    def test_mock_source_directly(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        given = {"src": spark.createDataFrame([(7,)], "k int")}
        expect = spark.createDataFrame([(1, 14)], "b int, total bigint")
        assert eng.unit_test("agg", given, expect).passed

    def test_mocks_do_not_leak_into_real_build(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        given = {"stg": spark.createDataFrame([(1, 10)], "k int, v int")}
        expect = spark.createDataFrame([(1, 10)], "b int, total bigint")
        assert eng.unit_test("agg", given, expect).passed
        real = eng.registry.build("agg")
        # real build sees all 100 src rows, not the 1-row fixture
        assert real.agg({"total": "sum"}).first()[0] == sum(2 * k for k in range(100))

    def test_unknown_mock_raises(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        with pytest.raises(RefNotFoundError, match="unknown nodes"):
            eng.unit_test(
                "agg",
                {"nope": spark.range(1)},
                spark.createDataFrame([(0, 0)], "b int, total bigint"),
            )


class TestNamedSelectors:
    def _engine(self, spark, tmp_path):
        eng = Engine(spark, str(tmp_path / "wh"))
        eng.registry.register_source("src", spark.range(5).withColumnRenamed("id", "k"))
        eng.registry.register("stg", "select k from {{ ref('src') }}", tags=("core",))
        eng.registry.register("mart_a", "select k from {{ ref('stg') }}", tags=("core",))
        eng.registry.register("mart_b", "select k from {{ ref('stg') }}")
        return eng

    def test_selector_resolves_definition(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.define_selector("core_models", "tag:core")
        assert eng.ls(selector="core_models") == ["mart_a", "stg"]

    def test_selector_with_exclude(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.define_selector("marts_only", "stg+", exclude="stg")
        assert eng.ls(selector="marts_only") == ["mart_a", "mart_b"]

    def test_default_selector_applies_when_no_selection(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.define_selector("core_models", "tag:core", default=True)
        assert eng.ls() == ["mart_a", "stg"]
        # explicit selection overrides the default
        assert eng.ls(select="mart_b") == ["mart_b"]
        out = eng.run()
        assert set(out) == {"mart_a", "stg"}
        assert set(eng.run_keep_going()) == {"mart_a", "stg"}

    def test_selector_mutually_exclusive_and_unknown(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.define_selector("s", "stg")
        with pytest.raises(ValueError, match="mutually exclusive"):
            eng.ls(select="stg", selector="s")
        with pytest.raises(KeyError, match="unknown selector"):
            eng.ls(selector="nope")

    def test_selector_on_concurrent_run(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.define_selector("core_models", "tag:core")
        out = eng.run_concurrent(selector="core_models", threads=2)
        assert set(out) == {"mart_a", "stg"}


def test_docs_manifest_includes_new_surfaces(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register_source("src", spark.range(3).withColumnRenamed("id", "k"))
    eng.registry.register_versioned(
        "m", {1: "select k from {{ ref('src') }}",
              2: "select k, k*2 as v from {{ ref('src') }}"},
        deprecation={1: "2026-12-31"},
    )
    eng.registry.register(
        "mart", "select * from {{ ref('m') }}", materialized="table",
        grants={"select": ["bi"]},
    )
    eng.define_selector("core", "mart", default=True)
    eng.run(select="mart")
    doc = eng.generate_docs(write=False)
    assert doc["versions"]["m"]["latest"] == 2
    assert doc["versions"]["m"]["versions"] == {1: "m_v1", 2: "m_v2"}
    assert doc["versions"]["m"]["deprecation"] == {1: "2026-12-31"}
    assert doc["grants"]["mart"] == {"select": ["bi"]}
    assert doc["selectors"]["core"] == {"select": "mart", "exclude": None}
    assert doc["selectors"]["__default__"] == "core"


class TestStateModifiedAspects:
    """dbt state:modified.<aspect> sub-selectors over the per-aspect
    state manifest (registry.checksums_detail / Engine.write_state)."""

    def _eng(self, spark, tmp_path, cfg=None, sql=None):
        from olist_snowflake_dbt_spark.runner import Engine

        eng = Engine(spark, str(tmp_path / "wh"))
        src = spark.createDataFrame([(1, 2.0)], "id long, v double")
        eng.registry.register_source("rawtab", src)
        eng.registry.register(
            "m1",
            sql or "SELECT id, v FROM {{ ref('rawtab') }}",
            materialized="table",
            **(cfg or {}),
        )
        return eng

    def test_body_change_selects_only_under_body(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        state = __import__("json").load(open(eng.write_state()))
        eng2 = self._eng(
            spark, tmp_path, sql="SELECT id, v*2 AS v FROM {{ ref('rawtab') }}"
        )
        sel_body = eng2.registry.select("state:modified.body", state=state)
        sel_cfg = eng2.registry.select("state:modified.configs", state=state)
        assert "m1" in sel_body and "m1" not in sel_cfg

    def test_config_change_selects_only_under_configs(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        state = __import__("json").load(open(eng.write_state()))
        eng2 = self._eng(spark, tmp_path, cfg={"grants": {"select": ["x"]}})
        assert "m1" in eng2.registry.select(
            "state:modified.configs", state=state
        )
        assert "m1" not in eng2.registry.select(
            "state:modified.body", state=state
        )
        # the combined selector sees it too
        assert "m1" in eng2.registry.select("state:modified", state=state)

    def test_contract_change_is_its_own_aspect(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        state = __import__("json").load(open(eng.write_state()))
        eng2 = self._eng(
            spark, tmp_path,
            cfg={"contract": {"columns": {"id": "bigint", "v": "double"}}},
        )
        assert "m1" in eng2.registry.select(
            "state:modified.contract", state=state
        )
        assert "m1" not in eng2.registry.select(
            "state:modified.body", state=state
        )

    def test_new_node_modified_under_every_aspect(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        state = __import__("json").load(open(eng.write_state()))
        eng.registry.register("m2", "SELECT 1 AS one")
        for aspect in ("body", "configs", "contract", "relation"):
            assert "m2" in eng.registry.select(
                f"state:modified.{aspect}", state=state
            )

    def test_legacy_flat_manifest_falls_back_to_all(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        legacy = eng.registry.checksums()  # flat name -> hash
        # unchanged: nothing selected under any aspect
        assert eng.registry.select("state:modified.body", state=legacy) == set()
        # changed body: selected via the conservative all-fallback
        eng2 = self._eng(
            spark, tmp_path, sql="SELECT id FROM {{ ref('rawtab') }}"
        )
        assert "m1" in eng2.registry.select(
            "state:modified.body", state=legacy
        )

    def test_unknown_aspect_raises(self, spark, tmp_path):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.plans.registry import CompilationError

        eng = self._eng(spark, tmp_path)
        with _pytest.raises(CompilationError, match="unknown state:modified"):
            eng.registry.select(
                "state:modified.macros", state={}
            )
