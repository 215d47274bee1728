"""Self-join lookup (J3): a relation from a source to itself, resolved via
an explicit relation path, joining the in-flight pipeline (the reference
joins cte(n-1) — u_enr_query_generate_query.sql:90-91)."""

from __future__ import annotations


def test_self_relation_lookup(spark, sf_dir):
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    src = parse_source_dict(
        {
            "source_name": "orders_sj",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "enriched_orders_sj",
            "raw_attributes": [
                "o_orderkey long",
                "o_custkey long",
                "o_totalprice double",
            ],
            "rules": [
                {
                    "name": "prev_price",
                    "expression": "[orders_sj].o_totalprice",
                    "parameters": [
                        {
                            "source_name": "orders_sj",
                            "relations": ["[orders_sj]- prev -[orders_sj]"],
                        }
                    ],
                },
            ],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[orders_sj]- prev -[orders_sj]",
                "expression": "[This].o_orderkey = [Related].o_orderkey + 1",
                "cardinality": "M-1",
            }
        ]
    )
    project = Project(sources=[src], relations=rels)
    hubs = ProjectRunner(spark, project).build()
    got = {
        r["o_orderkey"]: r["prev_price"]
        for r in hubs["orders_sj"].collect()
    }
    expect = {
        r["o_orderkey"]: r["prev"]
        for r in spark.sql(
            f"""
            SELECT a.o_orderkey, b.o_totalprice AS prev
            FROM parquet.`{sf_dir}/orders.parquet` a
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` b
              ON a.o_orderkey = b.o_orderkey + 1
            """
        ).collect()
    }
    assert got == expect
    assert any(v is not None for v in got.values())
