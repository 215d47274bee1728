"""Probe-based type inference tests (SURVEY §5 mechanism 1 parity)."""

import pytest

from dataforge_core_spark.model import ProjectError
from dataforge_core_spark.probe import build_probe_sql, check_boolean, run_probe


def test_probe_success_type(spark):
    res = run_probe(spark, "[This].a + 1", {"This.a": "bigint"})
    assert res.status == "success"
    assert res.data_type == "bigint"


def test_probe_decimal_inference(spark):
    res = run_probe(spark, "[This].a * 2", {"This.a": "decimal"})
    assert res.status == "success"
    assert res.data_type.startswith("decimal")


def test_probe_date_function(spark):
    res = run_probe(
        spark, "date_format([This].d, 'yyyyMM')", {"This.d": "timestamp"}
    )
    assert res.status == "success"
    assert res.data_type == "string"


def test_probe_null_warning(spark):
    # miniSparky.py:66-72: NULL first row -> 'improper type casting' warning.
    # (The reference runs Spark 3.5 non-ANSI where CAST('zzz' AS int) is
    # silently NULL; under Spark 4 ANSI the same silent-NULL path is
    # try_cast — the probe mechanism is identical.)
    res = run_probe(spark, "try_cast('zzz' AS int)")
    assert res.status == "warning"
    assert "improper type casting" in res.message


def test_probe_extraneous_input(spark):
    # miniSparky.py:73-77: injected extra select item -> error
    res = run_probe(spark, "1 as col1, 2")
    assert res.status == "error"
    assert "Extraneous input" in res.message


def test_probe_aggregate_wrapping(spark):
    sql = build_probe_sql(
        "SUM([orders].x) + [This].y",
        {"orders.x": "bigint", "This.y": "int"},
    )
    assert "first_value(" in sql  # non-aggregated param wrapped (:51-53)
    res = run_probe(
        spark,
        "SUM([orders].x) + [This].y",
        {"orders.x": "bigint", "This.y": "int"},
    )
    assert res.status == "success"
    assert res.data_type == "bigint"


def test_check_boolean(spark):
    check_boolean(spark, "[This].a = [Related].b", {"This.a": "bigint", "Related.b": "bigint"})
    with pytest.raises(ProjectError, match="must be boolean"):
        check_boolean(spark, "[This].a + 1", {"This.a": "bigint"})


def test_probe_window_expression(spark):
    res = run_probe(
        spark,
        "ROW_NUMBER() OVER (PARTITION BY [This].k ORDER BY [This].t)",
        {"This.k": "string", "This.t": "timestamp"},
    )
    assert res.status == "success"
    assert res.data_type == "int"


def test_validate_project_demo(spark):
    """Dependency-ordered probe waves over the demo project: everything
    probes clean with correctly inferred types."""
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.probe import validate_project

    project = load_project("projects/tpch_demo")
    report = validate_project(spark, project)
    errors = [r for r in report if r["status"] == "error"]
    assert not errors, errors
    by_name = {r["name"]: r for r in report if r["kind"] == "rule"}
    assert by_name["tpch_lineitem.net_price_int"]["data_type"] == "bigint"
    assert by_name["tpch_customer.order_statuses"]["data_type"] == "array<string>"
    assert all(
        r["data_type"] == "boolean"
        for r in report
        if r["kind"] in ("relation", "filter")
    )


def test_probe_cache_no_requery(spark):
    """Second validation of the same project issues ZERO probe queries:
    probe results are pure functions of (expression, param types) over a
    constant literal view, cached per session by probe SQL (the
    reference caches equivalently in its metadata DB, SURVEY §7.3)."""
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.probe import probe_stats, validate_project

    project = load_project("projects/tpch_demo")
    first = validate_project(spark, project)
    runs_after_first = probe_stats["runs"]
    second = validate_project(spark, project)
    assert probe_stats["runs"] == runs_after_first, "probe re-queried"
    assert probe_stats["hits"] >= len(second)
    assert [r["status"] for r in first] == [r["status"] for r in second]


def test_probe_store_cross_run_persistence(spark, tmp_path):
    """A fresh session (simulated by dropping the per-session cache)
    resolves an already-probed expression from the file-backed
    ProbeStore without issuing a probe query (the reference persists
    inferred types in its metadata DB, impc_update_test_results.sql)."""
    from dataforge_core_spark import probe

    store = probe.ProbeStore(str(tmp_path))
    prev = probe.set_probe_store(store)
    try:
        probe._probe_cache.pop(spark, None)
        expr = "concat([This].a, '-', [This].b) || 'probe-store-test'"
        runs0 = probe.probe_stats["runs"]
        r1 = probe.run_probe(spark, expr)
        assert probe.probe_stats["runs"] == runs0 + 1
        assert r1.status == "success" and r1.data_type == "string"
        # simulate a brand-new session: session cache gone, store remains
        probe._probe_cache.pop(spark, None)
        store2 = probe.ProbeStore(str(tmp_path))  # re-read from disk
        probe.set_probe_store(store2)
        hits0 = probe.probe_stats["store_hits"]
        r2 = probe.run_probe(spark, expr)
        assert probe.probe_stats["runs"] == runs0 + 1  # no new probe job
        assert probe.probe_stats["store_hits"] == hits0 + 1
        assert (r2.status, r2.data_type) == (r1.status, r1.data_type)
    finally:
        probe.set_probe_store(prev)


def test_validate_cli_second_run_zero_probes(spark, tmp_path):
    """`--validate --state DIR` twice: the second run issues ZERO probe
    queries even from a cold session cache — results come from the
    persisted probe_cache.json."""
    from dataforge_core_spark import probe
    from dataforge_core_spark.cli import main

    state = str(tmp_path / "state")
    prev = probe.set_probe_store(None)
    try:
        probe._probe_cache.pop(spark, None)
        assert main(["--validate", "projects/tpch_demo", "--state", state]) == 0
        assert probe._probe_store is not None  # CLI installed the store
        runs_after_first = probe.probe_stats["runs"]
        probe._probe_cache.pop(spark, None)  # simulate a new session
        assert main(["--validate", "projects/tpch_demo", "--state", state]) == 0
        assert probe.probe_stats["runs"] == runs_after_first
    finally:
        probe.set_probe_store(prev)


def test_datatypes_table_does_not_shadow_probe_view(spark):
    """A persistent table named ``datatypes`` in the current database
    must not hide the probe fixture: the view is a session temp view,
    which shadows the table, so a fresh session still probes the rule
    to its correct type."""
    from dataforge_core_spark import probe

    # qualified, so the DDL never resolves to a session's temp view
    table = f"`{spark.catalog.currentDatabase()}`.datatypes"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (x INT) USING parquet")
    prev = probe.set_probe_store(None)
    try:
        res = probe.run_probe(
            spark.newSession(), "[This].a + 1", {"This.a": "bigint"}
        )
        assert (res.status, res.data_type) == ("success", "bigint")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        probe.set_probe_store(prev)


def test_validate_project_never_lists_the_catalog(spark, monkeypatch):
    """The probe view check is O(1) in the catalog's size: with
    ``Catalog.listTables`` raising, validating the demo project on a
    fresh session gives the same report rows and runs the same number
    of probes as without the patch."""
    from pyspark.sql.catalog import Catalog

    from dataforge_core_spark import probe
    from dataforge_core_spark.loader import load_project

    project = load_project("projects/tpch_demo")
    prev = probe.set_probe_store(None)
    try:
        runs0 = probe.probe_stats["runs"]
        want = probe.validate_project(spark.newSession(), project)
        want_runs = probe.probe_stats["runs"] - runs0

        def no_listing(*args, **kwargs):
            raise AssertionError("the probe layer listed the catalog")

        monkeypatch.setattr(Catalog, "listTables", no_listing)
        runs0 = probe.probe_stats["runs"]
        got = probe.validate_project(spark.newSession(), project)
        assert probe.probe_stats["runs"] - runs0 == want_runs
    finally:
        probe.set_probe_store(prev)
    assert got == want
    assert want_runs > 0
