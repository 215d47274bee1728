"""The emitted Spark SQL (the reference's build artifact) must execute and
produce the same hub/output contents as the DataFrame compiler."""

from __future__ import annotations

import os
import tempfile

import pytest


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    import shutil

    # CREATE TABLE AS writes managed tables under spark-warehouse; a stale
    # dir from a killed session blocks re-creation
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    project = load_project("projects/tpch_demo")
    subs = {"DATA_DIR": sf_dir}
    target = tempfile.mkdtemp(prefix="dfspark_target_")
    run_sql = SqlEmitter(project, subs, spark=spark).emit_all(target)
    # execute the emitted statements on the session catalog
    n = run_statements(spark, run_sql)
    assert n >= 2 * len(project.sources)  # DROP + CREATE per source
    runner = ProjectRunner(spark, project, subs)
    hubs = runner.build()
    outs = runner.build_outputs(hubs)
    return project, hubs, outs, target


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        [tuple(repr(r[c]) for c in cols) for r in df.collect()]
    )


@pytest.mark.parametrize(
    "source_name",
    [
        "tpch_region",
        "tpch_nation",
        "tpch_supplier",
        "tpch_orders",
        "tpch_customer",
        "tpch_lineitem",
        "tpch_part",
    ],
)
def test_sql_hub_matches_dataframe_hub(built, spark, source_name):
    project, hubs, _, _ = built
    src = project.source_by_name()[source_name]
    sql_df = spark.table(src.target_table)
    df = hubs[source_name]
    assert sorted(sql_df.columns) == sorted(df.columns)
    assert _rows(sql_df) == _rows(df)


@pytest.mark.parametrize("output_name", ["feature_customer", "entity_union"])
def test_sql_output_matches_dataframe_output(built, spark, output_name):
    _, _, outs, _ = built
    sql_df = spark.table(output_name)
    df = outs[output_name]
    assert sorted(sql_df.columns) == sorted(df.columns)
    assert _rows(sql_df) == _rows(df)


def test_artifact_layout(built):
    project, _, _, target = built
    assert os.path.isfile(os.path.join(target, "run.sql"))
    for s in project.sources:
        assert os.path.isfile(
            os.path.join(target, "sources", f"{s.source_name}.sql")
        )
    for o in project.outputs:
        assert os.path.isfile(
            os.path.join(target, "outputs", f"{o.output_name}.sql")
        )


def test_cli_build(tmp_path):
    from dataforge_core_spark.cli import main

    rc = main(
        [
            "--build",
            "projects/tpch_demo",
            "--target",
            str(tmp_path / "target"),
            "--data-dir",
            "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    assert (tmp_path / "target" / "run.sql").is_file()


def test_emitter_type_inference_leaves_no_stale_cache(spark, sf_dir, tmp_path):
    """The emitter reads only the hubs' schemas.  It must leave no
    persisted plan in the CacheManager (shared by every
    ``newSession()``): a later read of the same sources has to follow
    the files, not rows cached before a source file was rewritten."""
    import shutil

    import pyarrow.parquet as pq

    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter

    data = tmp_path / "data"
    data.mkdir()
    for name in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, name), data / name)
    project = load_project("projects/tpch_demo")
    subs = {"DATA_DIR": str(data)}
    SqlEmitter(project, subs, spark=spark).emit_all(str(tmp_path / "target"))

    def region_rows() -> int:
        runner = ProjectRunner(spark, project, subs)
        return runner.build()["tpch_region"].count()

    region = data / "region.parquet"
    table = pq.read_table(region)
    assert region_rows() == table.num_rows
    pq.write_table(table.slice(0, table.num_rows - 1), region)
    assert region_rows() == table.num_rows - 1


def test_run_statements_splits_outside_quotes(spark):
    """A ';' inside a quoted literal does not end a statement, and a
    blank trailing statement is neither run nor counted."""
    from dataforge_core_spark.sql_emitter import run_statements

    script = (
        "DROP TABLE IF EXISTS split_a;\n"
        "CREATE TABLE split_a USING parquet AS SELECT 'x;y' AS s;\n"
        "DROP TABLE IF EXISTS split_b;\n"
        "CREATE TABLE split_b USING parquet AS\n"
        "  SELECT s, ';' AS t FROM split_a;\n"
        "  \n"
    )
    try:
        assert run_statements(spark, script) == 4
        row = spark.table("split_b").collect()
        assert [tuple(r) for r in row] == [("x;y", ";")]
    finally:
        spark.sql("DROP TABLE IF EXISTS split_a")
        spark.sql("DROP TABLE IF EXISTS split_b")
