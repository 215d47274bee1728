"""Randomized compiler <-> emitter differential test.

Hypothesis generates small random projects within the rule grammar (2-3
sources over the nation/region/customer tables, random relations and
rules: arithmetic, string functions, rule-on-rule chains, M-1 lookups, a
2-hop lookup, 1-M aggregates, validation rules) and asserts the
DataFrame runner's hub contents equal the contents produced by executing
the emitted SQL artifact on the same session — the same parity the fixed
demo project pins, over paths the demo doesn't hit.  Only
order-independent expressions are generated (no double sums), so any
mismatch is semantic drift between the two backends, not reduction
order.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings, strategies as st

_uid = itertools.count()

# per-source generation context: (numeric attrs, string attrs)
_REGION = (["r_regionkey"], ["r_name"])
_NATION = (["n_nationkey", "n_regionkey"], ["n_name"])
_CUSTOMER = (["c_custkey", "c_nationkey", "c_acctbal"], ["c_name"])

_NUM_OPS = ["+", "-", "*"]


@st.composite
def _rules_for(draw, ctx, lookups, agg_targets, max_rules=3):
    """Random rule list for one source.

    ``lookups``: list of "[src].attr" reachable via M-1 paths.
    ``agg_targets``: list of (num_attr_token, str_attr_token) reachable
    via 1-M paths (aggregated with count/min/max only — order-free).
    """
    nums, strs = ctx
    rules = []
    prior_numeric: list[str] = []
    n = draw(st.integers(min_value=0, max_value=max_rules))
    for i in range(n):
        name = f"r{i}"
        kinds = ["arith", "fn", "str", "valid"]
        if prior_numeric:
            kinds.append("prior")
        if lookups:
            kinds.append("lookup")
        if agg_targets:
            kinds.append("agg")
        kind = draw(st.sampled_from(kinds))
        c = draw(st.integers(min_value=1, max_value=9))
        if kind == "arith":
            a = draw(st.sampled_from(nums))
            op = draw(st.sampled_from(_NUM_OPS))
            expr = f"[This].{a} {op} {c}"
            prior_numeric.append(name)
        elif kind == "fn":
            a = draw(st.sampled_from(nums))
            expr = f"abs([This].{a} - {c})"
            prior_numeric.append(name)
        elif kind == "str":
            s = draw(st.sampled_from(strs))
            expr = draw(
                st.sampled_from(
                    [f"upper([This].{s})", f"concat([This].{s}, '_{c}')"]
                )
            )
        elif kind == "prior":
            p = draw(st.sampled_from(prior_numeric))
            expr = f"[This].{p} + {c}"
            prior_numeric.append(name)
        elif kind == "lookup":
            expr = draw(st.sampled_from(lookups))
        elif kind == "agg":
            num_tok, str_tok = draw(st.sampled_from(agg_targets))
            expr = draw(
                st.sampled_from(
                    [
                        f"count({num_tok})",
                        f"min({num_tok})",
                        f"max({num_tok})",
                        f"max({str_tok})",
                    ]
                )
            )
        else:  # valid
            a = draw(st.sampled_from(nums))
            rules.append(
                {
                    "name": name,
                    "expression": f"[This].{a} >= {c}",
                    "rule_type": "V",
                    "validation_action": draw(st.sampled_from(["W", "F"])),
                }
            )
            continue
        rules.append({"name": name, "expression": expr})
    return rules


@st.composite
def project_specs(draw):
    include_cust = draw(st.booleans())
    rel_nr = draw(st.booleans())
    rel_cn = include_cust and draw(st.booleans())
    # One data-dependency direction per relation: a relation used for a
    # lookup one way AND an aggregate the other way makes the two
    # sources mutually dependent, which the engine (correctly, C6)
    # rejects as "Circular dependencies in sources" — keep generated
    # projects inside the valid grammar.
    nr_dir = draw(st.sampled_from(["lookup", "agg"])) if rel_nr else None
    cn_dir = draw(st.sampled_from(["lookup", "agg"])) if rel_cn else None

    region_rules = draw(
        _rules_for(
            _REGION,
            lookups=[],
            agg_targets=(
                [("[nation_r].n_nationkey", "[nation_r].n_name")]
                if nr_dir == "agg"
                else []
            ),
        )
    )
    nation_lookups = ["[region_r].r_name"] if nr_dir == "lookup" else []
    nation_aggs = (
        [("[customer_r].c_custkey", "[customer_r].c_name")]
        if cn_dir == "agg"
        else []
    )
    nation_rules = draw(
        _rules_for(_NATION, lookups=nation_lookups, agg_targets=nation_aggs)
    )
    cust_lookups = []
    if cn_dir == "lookup":
        cust_lookups.append("[nation_r].n_name")
        if nr_dir == "lookup":
            cust_lookups.append("[region_r].r_name")  # 2-hop
    cust_rules = (
        draw(_rules_for(_CUSTOMER, lookups=cust_lookups, agg_targets=[]))
        if include_cust
        else None
    )
    # optional random output: fixed (k long, s string) columns, channels
    # over the available sources with random filters and set operations —
    # widens the differential to the output path (channel filters,
    # typed-NULL fill, UNION ALL / INTERSECT / EXCEPT combining)
    output = None
    if draw(st.booleans()):
        chans = [
            {"source_name": "region_r", "mappings": ["r_regionkey k", "r_name s"]}
        ]
        if draw(st.booleans()):
            ch = {
                "source_name": "nation_r",
                "mappings": ["n_nationkey k", "n_name s"],
                "set_operation": draw(
                    st.sampled_from(["union", "intersect", "except"])
                ),
            }
            if draw(st.booleans()):
                ch["filter"] = (
                    f"[This].n_nationkey >= "
                    f"{draw(st.integers(min_value=0, max_value=20))}"
                )
            chans.append(ch)
        if include_cust and draw(st.booleans()):
            chans.append(
                {
                    "source_name": "customer_r",
                    "mappings": ["c_custkey k"],  # s -> typed NULL fill
                    "set_operation": draw(
                        st.sampled_from(["union", "except"])
                    ),
                    "filter": "[This].c_acctbal > 0",
                }
            )
        output = {"columns": ["k long", "s string"], "channels": chans}
    return {
        "include_cust": include_cust,
        "rel_nr": rel_nr,
        "rel_cn": rel_cn,
        "region_rules": region_rules,
        "nation_rules": nation_rules,
        "cust_rules": cust_rules,
        "output": output,
    }


def _mk_project(sf_dir: str, spec: dict, uid: str):
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project

    def src(name, table, attrs, rules):
        return parse_source_dict(
            {
                "source_name": name,
                "source_table": f"{sf_dir}/{table}.parquet",
                "target_table": f"rnd_{uid}_{name}",
                "raw_attributes": attrs,
                "rules": rules,
            }
        )

    sources = [
        src(
            "region_r",
            "region",
            ["r_regionkey long", "r_name string"],
            spec["region_rules"],
        ),
        src(
            "nation_r",
            "nation",
            ["n_nationkey long", "n_name string", "n_regionkey long"],
            spec["nation_rules"],
        ),
    ]
    if spec["include_cust"]:
        sources.append(
            src(
                "customer_r",
                "customer",
                [
                    "c_custkey long",
                    "c_name string",
                    "c_nationkey long",
                    "c_acctbal double",
                ],
                spec["cust_rules"],
            )
        )
    rels = []
    if spec["rel_nr"]:
        rels.append(
            {
                "name": "[nation_r]- nr -[region_r]",
                "expression": "[This].n_regionkey = [Related].r_regionkey",
                "cardinality": "M-1",
            }
        )
    if spec["rel_cn"]:
        rels.append(
            {
                "name": "[customer_r]- cn -[nation_r]",
                "expression": "[This].c_nationkey = [Related].n_nationkey",
                "cardinality": "M-1",
            }
        )
    outputs = []
    if spec["output"]:
        from dataforge_core_spark.loader import parse_output_dict

        outputs.append(
            parse_output_dict(
                {
                    "output_name": f"rnd_{uid}_out",
                    **spec["output"],
                }
            )
        )
    return Project(
        sources=sources,
        relations=parse_relations_list(rels),
        outputs=outputs,
    )


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.filter_too_much,
        HealthCheck.data_too_large,
    ],
)
@given(spec=project_specs())
def test_random_project_sql_matches_dataframe(spark, sf_dir, spec):
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    uid = f"{os.getpid()}_{next(_uid)}"
    project = _mk_project(sf_dir, spec, uid)
    target = tempfile.mkdtemp(prefix="dfspark_rnd_")
    try:
        run_sql = SqlEmitter(project, {}, spark=spark).emit_all(target)
        run_statements(spark, run_sql)
        runner = ProjectRunner(spark, project)
        hubs = runner.build()
        for s in project.sources:
            sql_df = spark.table(s.target_table)
            df = hubs[s.source_name]
            assert sorted(sql_df.columns) == sorted(df.columns), (
                s.source_name
            )
            assert _rows(sql_df) == _rows(df), s.source_name
        if project.outputs:
            outs = runner.build_outputs(hubs)
            for o in project.outputs:
                sql_df = spark.table(o.output_name)
                df = outs[o.output_name]
                assert sorted(sql_df.columns) == sorted(df.columns), (
                    o.output_name
                )
                assert _rows(sql_df) == _rows(df), o.output_name
    finally:
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        names = [s.target_table for s in project.sources]
        names += [o.output_name for o in project.outputs]
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)


# ---------------------------------------------------------------------------
# Randomized SUB-SOURCE CHAIN differential (§2.11): random element-rule
# sets at two nesting depths, including ancestor references (parent hub
# column, outer element field), compiled by the DataFrame path and by the
# emitted SQL artifact — both must agree row-for-row.
# ---------------------------------------------------------------------------

import pytest


@pytest.fixture(scope="module")
def rnd_chain_parquet(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rnd_chain") / "orders_nested")
    spark.sql(
        f"""
        SELECT o.o_orderkey,
               collect_list(struct(
                 l.l_linenumber,
                 CAST(l.l_quantity AS DOUBLE) AS l_quantity,
                 array(
                   named_struct('kind', 'tax',
                                'amount', CAST(l.l_tax AS DOUBLE)),
                   named_struct('kind', 'disc',
                                'amount', CAST(l.l_discount AS DOUBLE))
                 ) AS charges
               )) AS items
        FROM parquet.`{sf_dir}/orders.parquet` o
        JOIN parquet.`{sf_dir}/lineitem.parquet` l
          ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey % 7 = 0
        GROUP BY o.o_orderkey
        """
    ).write.mode("overwrite").parquet(path)
    return path


@st.composite
def _element_rules(draw, nums, strs, ancestors, max_rules=3):
    """Random scalar element rules; ``ancestors`` are ready-made
    '[src].attr' reference strings known numeric."""
    rules = []
    prior: list[str] = []
    n = draw(st.integers(min_value=1, max_value=max_rules))
    for i in range(n):
        name = f"e{i}"
        kinds = ["arith", "abs"]
        if strs:
            kinds.append("str")
        if prior:
            kinds.append("prior")
        if ancestors:
            kinds.append("anc")
        kind = draw(st.sampled_from(kinds))
        c = draw(st.integers(min_value=1, max_value=9))
        if kind == "arith":
            a = draw(st.sampled_from(nums))
            op = draw(st.sampled_from(_NUM_OPS))
            expr = f"[This].{a} {op} {c}"
            prior.append(name)
        elif kind == "abs":
            a = draw(st.sampled_from(nums))
            expr = f"abs([This].{a} - {c})"
            prior.append(name)
        elif kind == "str":
            s = draw(st.sampled_from(strs))
            expr = draw(
                st.sampled_from(
                    [f"upper([This].{s})", f"concat([This].{s}, '_{c}')"]
                )
            )
        elif kind == "prior":
            p = draw(st.sampled_from(prior))
            expr = f"[This].{p} + {c}"
            prior.append(name)
        else:  # ancestor reference
            ref = draw(st.sampled_from(ancestors))
            expr = f"{ref} * {c}"
            prior.append(name)
        rules.append({"name": name, "expression": expr})
    return rules


@st.composite
def chain_specs(draw):
    item_rules = draw(
        _element_rules(
            nums=["l_linenumber", "l_quantity"],
            strs=[],
            ancestors=["[orders_rnd].o_orderkey"],
        )
    )
    charge_ancestors = [
        "[orders_rnd].o_orderkey",
        "[items_rnd].l_quantity",
        "[items_rnd].l_linenumber",
    ]
    charge_rules = draw(
        _element_rules(
            nums=["amount"], strs=["kind"], ancestors=charge_ancestors
        )
    )
    return {"item_rules": item_rules, "charge_rules": charge_rules}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.filter_too_much,
        HealthCheck.data_too_large,
    ],
)
@given(spec=chain_specs())
def test_random_chain_sql_matches_dataframe(spark, rnd_chain_parquet, spec):
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    uid = f"{os.getpid()}_{next(_uid)}"
    charges_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": "kind", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "amount", "type": "double", "nullable": True,
                 "metadata": {}},
            ],
        },
        "containsNull": True,
    }
    items_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": "l_linenumber", "type": "integer",
                 "nullable": True, "metadata": {}},
                {"name": "l_quantity", "type": "double",
                 "nullable": True, "metadata": {}},
                {"name": "charges", "type": charges_schema,
                 "nullable": True, "metadata": {}},
            ],
        },
        "containsNull": True,
    }
    tbl = f"rnd_chain_{uid}"
    project = Project(
        sources=[
            parse_source_dict(
                {
                    "source_name": "orders_rnd",
                    "source_table": rnd_chain_parquet,
                    "target_table": tbl,
                    "raw_attributes": [
                        "o_orderkey long",
                        {"name": "items", "schema": items_schema},
                    ],
                }
            ),
            parse_source_dict(
                {
                    "source_name": "items_rnd",
                    "sub_source": {
                        "parent": "orders_rnd", "attribute": "items",
                    },
                    "raw_attributes": [
                        "l_linenumber integer",
                        "l_quantity double",
                        {"name": "charges", "schema": charges_schema},
                    ],
                    "rules": spec["item_rules"],
                }
            ),
            parse_source_dict(
                {
                    "source_name": "charges_rnd",
                    "sub_source": {
                        "parent": "items_rnd", "attribute": "charges",
                    },
                    "raw_attributes": ["kind string", "amount double"],
                    "rules": spec["charge_rules"],
                }
            ),
        ]
    )
    target = tempfile.mkdtemp(prefix="dfspark_rndchain_")
    try:
        run_sql = SqlEmitter(project, {}, spark=spark).emit_all(target)
        run_statements(spark, run_sql)
        df = ProjectRunner(spark, project).build()["orders_rnd"]
        sql_df = spark.table(tbl)
        assert sorted(sql_df.columns) == sorted(df.columns)
        assert _rows(sql_df) == _rows(df)
    finally:
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)


# ---------------------------------------------------------------------------
# Sibling sub-source references, randomized: a parent with TWO array
# attributes; the second sub-source's element rules may reference the
# first sibling's raw attrs AND enriched rules (all numeric by
# construction), composed with its own scalar arithmetic.  DataFrame
# runner vs emitted-SQL artifact, same parity as the chain test.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rnd_sibling_parquet(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rnd_sib") / "orders_sib")
    spark.sql(
        f"""
        SELECT o.o_orderkey,
               collect_list(struct(
                 l.l_linenumber,
                 CAST(l.l_quantity AS DOUBLE) AS l_quantity
               )) AS items,
               array(
                 named_struct('kind', 'tax',
                              'rate', CAST(max(l.l_tax) AS DOUBLE)),
                 named_struct('kind', 'disc',
                              'rate', CAST(max(l.l_discount) AS DOUBLE))
               ) AS fees
        FROM parquet.`{sf_dir}/orders.parquet` o
        JOIN parquet.`{sf_dir}/lineitem.parquet` l
          ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey % 7 = 0
        GROUP BY o.o_orderkey
        """
    ).write.mode("overwrite").parquet(path)
    return path


@st.composite
def _fee_rules(draw, sib, item_rule_names, max_rules=3):
    """Element rules for the fees sub-source: own-scope arithmetic plus
    sibling-array references (size / array_max over the sibling's raw
    attrs and its — numeric by construction — enriched rules)."""
    rules = []
    prior: list[str] = []
    n = draw(st.integers(min_value=1, max_value=max_rules))
    sib_numeric = ["l_linenumber", "l_quantity", *item_rule_names]
    for i in range(n):
        name = f"f{i}"
        kinds = ["arith", "sib_size", "sib_max"]
        if prior:
            kinds.append("prior")
        kind = draw(st.sampled_from(kinds))
        c = draw(st.integers(min_value=1, max_value=9))
        if kind == "arith":
            expr = f"[This].rate * {c}"
        elif kind == "sib_size":
            a = draw(st.sampled_from(sib_numeric))
            expr = f"size([{sib}].{a}) + {c}"
        elif kind == "sib_max":
            a = draw(st.sampled_from(sib_numeric))
            expr = f"array_max([{sib}].{a}) * {c}"
        else:  # prior
            p = draw(st.sampled_from(prior))
            expr = f"[This].{p} + {c}"
        prior.append(name)
        rules.append({"name": name, "expression": expr})
    return rules


@st.composite
def sibling_specs(draw):
    # strs=[] -> every item rule is numeric, so fee rules may reference
    # any of them through array_max
    item_rules = draw(
        _element_rules(
            nums=["l_linenumber", "l_quantity"],
            strs=[],
            ancestors=["[orders_rs].o_orderkey"],
        )
    )
    fee_rules = draw(
        _fee_rules("items_rs", [r["name"] for r in item_rules])
    )
    return {"item_rules": item_rules, "fee_rules": fee_rules}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.filter_too_much,
        HealthCheck.data_too_large,
    ],
)
@given(spec=sibling_specs())
def test_random_sibling_sql_matches_dataframe(
    spark, rnd_sibling_parquet, spec
):
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    uid = f"{os.getpid()}_{next(_uid)}"
    items_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": "l_linenumber", "type": "integer",
                 "nullable": True, "metadata": {}},
                {"name": "l_quantity", "type": "double",
                 "nullable": True, "metadata": {}},
            ],
        },
        "containsNull": True,
    }
    fees_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": "kind", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "rate", "type": "double", "nullable": True,
                 "metadata": {}},
            ],
        },
        "containsNull": True,
    }
    tbl = f"rnd_sib_{uid}"
    project = Project(
        sources=[
            parse_source_dict(
                {
                    "source_name": "orders_rs",
                    "source_table": rnd_sibling_parquet,
                    "target_table": tbl,
                    "raw_attributes": [
                        "o_orderkey long",
                        {"name": "items", "schema": items_schema},
                        {"name": "fees", "schema": fees_schema},
                    ],
                }
            ),
            parse_source_dict(
                {
                    "source_name": "items_rs",
                    "sub_source": {
                        "parent": "orders_rs", "attribute": "items",
                    },
                    "raw_attributes": [
                        "l_linenumber integer",
                        "l_quantity double",
                    ],
                    "rules": spec["item_rules"],
                }
            ),
            parse_source_dict(
                {
                    "source_name": "fees_rs",
                    "sub_source": {
                        "parent": "orders_rs", "attribute": "fees",
                    },
                    "raw_attributes": ["kind string", "rate double"],
                    "rules": spec["fee_rules"],
                }
            ),
        ]
    )
    target = tempfile.mkdtemp(prefix="dfspark_rndsib_")
    try:
        run_sql = SqlEmitter(project, {}, spark=spark).emit_all(target)
        run_statements(spark, run_sql)
        df = ProjectRunner(spark, project).build()["orders_rs"]
        sql_df = spark.table(tbl)
        assert sorted(sql_df.columns) == sorted(df.columns)
        assert _rows(sql_df) == _rows(df)
    finally:
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)
