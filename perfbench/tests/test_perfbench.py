"""The benchmark's own checks: seeded inputs are deterministic, the
generated project compiles to hubs that match the oracles, and the
small helpers compute what they claim.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, host, oracles, projectgen  # noqa: E402
from perfbench.workloads import TEMPLATE, _same_tree, tail  # noqa: E402


def test_same_seed_gives_byte_identical_data(tmp_path):
    datagen.generate(str(tmp_path / "a"), 11, 0.001)
    datagen.generate(str(tmp_path / "b"), 11, 0.001)
    datagen.generate(str(tmp_path / "c"), 12, 0.001)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in datagen.TABLES)


def test_generated_project_is_byte_identical(tmp_path):
    projectgen.expand(TEMPLATE, str(tmp_path / "a"))
    projectgen.expand(TEMPLATE, str(tmp_path / "b"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), TEMPLATE)  # rules were dropped


def test_rule_edit_round_trips(tmp_path):
    from dataforge_core_spark.loader import load_project

    d = str(tmp_path / "p")
    projectgen.expand(TEMPLATE, d)
    keep = str(tmp_path / "orig")
    projectgen.expand(TEMPLATE, keep)
    edits = projectgen.editable_rules(d)
    assert edits
    for key in edits:
        projectgen.edit_rule(d, *key, wrap=True)
    load_project(d)  # the edited project still loads
    assert not _same_tree(d, keep)
    for key in edits:
        projectgen.edit_rule(d, *key, wrap=False)
    assert _same_tree(d, keep)


def test_kept_rules_include_validation_rules_and_closure():
    tpl = projectgen._load_template(TEMPLATE)
    kept = projectgen._kept_rules(tpl, 0.0)
    assert ("tpch_lineitem", "quantity_valid") in kept  # a validation rule
    assert ("tpch_lineitem", "net_price") in kept  # named by an output
    assert ("tpch_supplier", "s_suppkey_str") in kept  # a join key
    rules = {(s["source_name"], r["name"]): r for s in tpl["sources"]
             for r in s.get("rules") or []}
    for key in kept:  # closed under the rules a kept expression names
        named = projectgen._words(rules[key]["expression"])
        assert all(k in kept for k in rules if k[1] in named)
    assert kept < projectgen._kept_rules(tpl, projectgen.KEEP_SHARE) < set(rules)


@pytest.fixture(scope="module")
def spark():
    from dataforge_core_spark.session import get_spark

    return get_spark(app_name="perfbench_tests", shuffle_partitions=4)


def test_generated_project_hubs_match_oracles(spark, tmp_path):
    import __spark_entry__ as entry
    from dataforge_core_spark import ProjectRunner, load_project

    data = str(tmp_path / "data")
    datagen.generate(data, 4, 0.001)
    projectgen.expand(TEMPLATE, str(tmp_path / "p"))
    project = load_project(str(tmp_path / "p"))
    runner = ProjectRunner(spark, project, {"DATA_DIR": data})
    hubs = runner.build()
    outs = runner.build_outputs(hubs)
    o = entry.all_oracles()
    bad = [oracles.mismatch(src, df, oracles.oracle_rows(data, o[oracles.HUB_ORACLES[src]]),
                            subset=True) for src, df in hubs.items()]
    bad += [oracles.mismatch(out, df, oracles.oracle_rows(data, o[oracles.OUTPUT_ORACLES[out]]),
                             subset=True) for out, df in outs.items()]
    assert len(bad) == 9
    assert [b for b in bad if b] == []


def test_tail_has_ten_samples_beyond_it():
    assert tail(list(range(10))) is None
    pct, value = tail([float(x) for x in range(100)])
    assert value == 89.0 and sum(x > value for x in range(100)) == 10
    assert pct == 90.0


def test_cpu_seconds_include_live_descendants():
    import subprocess

    spin = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.5: pass\nprint(flush=True)\ntime.sleep(60)")
    before = host.cpu_seconds(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", spin], stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # the child has spun and now sleeps, unreaped
        assert host.cpu_seconds(os.getpid()) - before >= 0.4
    finally:
        child.kill()
        child.wait()


def test_cpu_shares_ignore_guest_fields():
    # user nice system idle iowait irq softirq steal
    before = [0, 0, 0, 0, 0, 0, 0, 0]
    after = [30, 0, 10, 50, 0, 0, 0, 10]
    shares = host.cpu_shares(before, after)
    assert shares == {"steal_pct": 10.0, "busy_pct": 40.0}
    assert len(host.cpu_ticks()) == 8
