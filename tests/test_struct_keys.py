"""Nested struct columns: schema-JSON raw attributes (impc_parse_raw_
attribute.sql:13-28), struct navigation in rules, and struct-key output
mappings ``attr.key col`` (P7 — impc_parse_mapping.sql:25,39)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def struct_parquet(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("structsrc") / "docs")
    spark.sql(
        f"""
        SELECT doc_id,
               named_struct('w', CAST(n_chars % 640 AS INT),
                            'h', CAST(n_chars % 480 AS INT),
                            'fmt', lang) AS meta
        FROM parquet.`{sf_dir}/documents.parquet`
        """
    ).write.mode("overwrite").parquet(path)
    return path


def _project(path):
    from dataforge_core_spark.loader import parse_output_dict, parse_source_dict
    from dataforge_core_spark.model import Project

    src = parse_source_dict(
        {
            "source_name": "media",
            "source_table": path,
            "target_table": "hub_media",
            "raw_attributes": [
                "doc_id long",
                {
                    "name": "meta",
                    "schema": {
                        "type": "struct",
                        "fields": [
                            {"name": "w", "type": "integer",
                             "nullable": True, "metadata": {}},
                            {"name": "h", "type": "integer",
                             "nullable": True, "metadata": {}},
                            {"name": "fmt", "type": "string",
                             "nullable": True, "metadata": {}},
                        ],
                    },
                },
            ],
            "rules": [
                # struct navigation inside a rule expression
                {"name": "area", "expression": (
                    "CAST([This].meta.w AS bigint) * [This].meta.h"
                )},
            ],
        }
    )
    out = parse_output_dict(
        {
            "output_name": "media_dims",
            "columns": ["doc long", "width int", "fmt string", "area long"],
            "channels": [
                {
                    "source_name": "media",
                    "mappings": [
                        "doc_id doc",
                        "meta.w width",  # struct-key mapping (P7)
                        "meta.fmt fmt",
                        "area area",
                    ],
                }
            ],
        }
    )
    return Project(sources=[src], outputs=[out])


def test_struct_rule_and_mapping(spark, struct_parquet):
    from dataforge_core_spark.runner import ProjectRunner

    project = _project(struct_parquet)
    runner = ProjectRunner(spark, project)
    hubs = runner.build()
    outs = runner.build_outputs(hubs)
    hub = hubs["media"]
    assert dict(hub.dtypes)["area"] == "bigint"
    row = (
        outs["media_dims"]
        .filter("doc = 0")
        .collect()[0]
    )
    src_row = spark.read.parquet(struct_parquet).filter("doc_id = 0").collect()[0]
    assert row["width"] == src_row["meta"]["w"]
    assert row["fmt"] == src_row["meta"]["fmt"]
    assert row["area"] == src_row["meta"]["w"] * src_row["meta"]["h"]


def test_unpivot_rejected(spark, struct_parquet):
    # O4 parity: declared but rejected (u_output_generate_query.sql:101)
    from dataforge_core_spark.loader import parse_output_dict
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.runner import ProjectRunner

    project = _project(struct_parquet)
    project.outputs[0].channels[0].unpivot = ["w", "h"]
    runner = ProjectRunner(spark, project)
    with pytest.raises(ProjectError, match="Unpivot not supported yet!"):
        runner.build_outputs()
