"""The bench harness is round-critical (the driver records BENCH_r{N}
from its stdout): a builder thunk that raises, or a cache-clear that
misses a new cache, silently breaks the round's perf record.  This
drives every index builder and the cache-clearer end-to-end at sf0.001
— the same code path bench.main() runs at sf0.1."""

from __future__ import annotations

import importlib
import os
import sys


def _bench(sf_dir: str):
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    import bench

    return importlib.reload(bench)


def test_index_builders_run_and_caches_clear(spark, sf_dir):
    bench = _bench(sf_dir)
    # cold state -> every builder must construct its index from scratch
    bench._clear_operator_caches(spark)
    for name, build in bench._index_builders():
        build(spark)  # raises = the round's bench would die on this row
    # clearing again must free/forget everything the builders created
    # (a cache the clearer misses keeps serving stale frames after a
    # round driver re-runs bench in one session)
    bench._clear_operator_caches(spark)
    from dataforge_core_spark.operators import (
        dedup,
        similarity,
        simhash,
        sketches,
    )

    for cache in (
        dedup._ex_cache,
        dedup._pairs_cache,
        dedup._labels_cache,
        dedup._substr_cache,
        dedup._tokbase_cache,
        simhash._sig_cache,
        simhash._salted_cache,
        similarity._knn_cache,
        similarity._pr_edges_cache,
        similarity._kcore_cache,
        similarity._kmeans_cache,
        similarity._nprobe_scored_cache,
        similarity._pc2_cache,
        sketches._toks_cache,
    ):
        assert cache == {}, "cache survived _clear_operator_caches"


def test_host_speed_probe_positive():
    bench = _bench("/root/testdata/sf0.001")
    s = bench._host_speed()
    assert 0 < s < 60, s


def test_noisy_lanes_are_registered_queries():
    """Every NOISY_LANES name must exist in the registry — a renamed
    lane silently loses its 5-run treatment otherwise."""
    bench = _bench("/root/testdata/sf0.001")
    import __spark_entry__ as e

    missing = bench.NOISY_LANES - set(e.queries())
    assert not missing, missing


def test_every_operator_cache_is_cleared_by_bench():
    """The cold-path guarantee of bench.py depends on
    _clear_operator_caches knowing EVERY module-level operator cache —
    a forgotten one silently serves warm indexes inside 'cold' index
    timings (continuation-session review finding).  This meta-test
    enumerates every dict named *_cache in the operator/entry modules
    and asserts its name appears in the clear function's source, so
    adding a cache without registering it fails loudly here."""
    import importlib
    import inspect
    import pkgutil

    import bench
    from dataforge_core_spark import operators

    src = inspect.getsource(bench._clear_operator_caches)
    missing = []
    # enumerate the PACKAGE, not a hardcoded module list — a cache in
    # a brand-new operator module must not escape the guard
    mods = [
        importlib.import_module(f"dataforge_core_spark.operators.{m.name}")
        for m in pkgutil.iter_modules(operators.__path__)
    ]
    assert len(mods) >= 11, "operator package enumeration looks broken"
    for mod in mods:
        for name, val in vars(mod).items():
            if name.endswith("_cache") and isinstance(val, dict):
                if f"{mod.__name__.rsplit('.', 1)[-1]}.{name}" not in src:
                    missing.append(f"{mod.__name__}.{name}")
    # the entry module's hub cache is cleared as entry._hub_cache
    import __spark_entry__ as entry

    if "_hub_cache" not in src or not hasattr(entry, "_hub_cache"):
        missing.append("__spark_entry__._hub_cache")
    assert not missing, (
        "caches unknown to bench._clear_operator_caches: " + ", ".join(missing)
    )


def test_index_deps_cover_every_builder():
    """_INDEX_DEPS must stay in 1:1 sync with _index_builders() (the
    concurrent scheduler derives its DAG from the dict, so a builder
    missing there dies at phase start) and every edge must point at a
    real builder that precedes its dependent in the sequential order
    (the fallback path must also satisfy the DAG)."""
    bench = _bench("/root/testdata/sf0.001")
    order = [name for name, _ in bench._index_builders()]
    assert set(order) == set(bench._INDEX_DEPS)
    pos = {n: i for i, n in enumerate(order)}
    for name, deps in bench._INDEX_DEPS.items():
        for d in deps:
            assert d in pos, f"{name} depends on unknown builder {d}"
            assert pos[d] < pos[name], (
                f"sequential order violates edge {d} -> {name}"
            )


def test_concurrent_index_scheduler_respects_deps(monkeypatch):
    """Drive _run_index_builds with a fake diamond DAG and record
    completion order: no builder may start before its deps completed,
    and every builder must run exactly once."""
    import threading
    import time as _t

    bench = _bench("/root/testdata/sf0.001")
    lock = threading.Lock()
    events: list[tuple[str, str]] = []

    def mk(name, delay):
        def thunk(_s):
            with lock:
                events.append(("start", name))
            _t.sleep(delay)
            with lock:
                events.append(("end", name))

        return thunk

    fake = [
        ("a", mk("a", 0.05)),
        ("b", mk("b", 0.01)),
        ("c", mk("c", 0.01)),
        ("d", mk("d", 0.01)),
    ]
    deps = {"a": [], "b": ["a"], "c": ["a"], "d": ["b", "c"]}
    monkeypatch.setattr(bench, "_index_builders", lambda: fake)
    monkeypatch.setattr(bench, "_INDEX_DEPS", deps)
    times, wall = bench._run_index_builds(None)
    assert set(times) == {"a", "b", "c", "d"}
    assert wall > 0
    ended = set()
    for kind, name in events:
        if kind == "end":
            ended.add(name)
        else:
            missing = [d for d in deps[name] if d not in ended]
            assert not missing, f"{name} started before {missing}"
    assert sum(1 for k, n in events if k == "start") == 4


def test_index_deps_cover_every_cross_builder_cache_touch(spark, sf_dir):
    """Deterministic missing-edge detector for the concurrent index
    phase (r13 verdict #3: two missing edges — kmv->shingles,
    ppl_model->token_base — were found racing unguarded
    check-then-act cache guards only by code review).  Every
    module-level ``*_cache`` dict is instrumented for reads AND
    writes, the builders run sequentially with a current-builder tag,
    and then for every cache key the rule is asserted
    scheduling-independently: a builder that TOUCHES a key created by
    another builder must have the creator among its declared
    transitive _INDEX_DEPS — otherwise the concurrent scheduler is
    free to run the two at once and the unlocked guard races (double
    materialization at best, a half-built view at worst).  Also
    asserts no key is written twice (a rebuild inside one sequential
    pass = a guard that doesn't guard)."""
    import importlib
    import pkgutil

    import __spark_entry__ as entry
    from dataforge_core_spark import operators

    bench = _bench(sf_dir)

    mods = [
        importlib.import_module(f"dataforge_core_spark.operators.{m.name}")
        for m in pkgutil.iter_modules(operators.__path__)
    ] + [entry]

    current = {"builder": None}
    touches: dict[tuple, dict] = {}  # (cache, key) -> {creator, touchers}

    def _log(cname, key, write):
        rec = touches.setdefault(
            (cname, key), {"creators": [], "touchers": set()}
        )
        b = current["builder"]
        if b is None:
            return
        rec["touchers"].add(b)
        if write:
            rec["creators"].append(b)

    def _mk(cname):
        class _Audited(dict):
            def __contains__(self, key):
                _log(cname, key, False)
                return dict.__contains__(self, key)

            def __getitem__(self, key):
                _log(cname, key, False)
                return dict.__getitem__(self, key)

            def get(self, key, default=None):
                _log(cname, key, False)
                return dict.get(self, key, default)

            def __setitem__(self, key, value):
                _log(cname, key, not dict.__contains__(self, key))
                dict.__setitem__(self, key, value)

            def setdefault(self, key, default=None):
                _log(cname, key, not dict.__contains__(self, key))
                return dict.setdefault(self, key, default)

        return _Audited()

    originals: list[tuple] = []
    bench._clear_operator_caches(spark)
    try:
        for mod in mods:
            for name, val in list(vars(mod).items()):
                if name.endswith("_cache") and isinstance(val, dict):
                    cname = f"{mod.__name__.rsplit('.', 1)[-1]}.{name}"
                    originals.append((mod, name, val))
                    setattr(mod, name, _mk(cname))
        assert len(originals) >= 20, "cache enumeration looks broken"

        for name, build in bench._index_builders():
            current["builder"] = name
            build(spark)
        current["builder"] = None

        closure: dict[str, set] = {}

        def _deps(n: str) -> set:
            if n not in closure:
                closure[n] = set()  # cycle guard; DAG asserted elsewhere
                out = set()
                for d in bench._INDEX_DEPS[n]:
                    out.add(d)
                    out |= _deps(d)
                closure[n] = out
            return closure[n]

        problems = []
        for (cname, key), rec in touches.items():
            if len(rec["creators"]) > 1:
                problems.append(
                    f"{cname}{key!r} written {len(rec['creators'])}x "
                    f"by {rec['creators']} (guard doesn't guard)"
                )
            if not rec["creators"]:
                continue  # pre-seeded or never built in this phase
            creator = rec["creators"][0]
            for b in rec["touchers"] - {creator}:
                if creator not in _deps(b):
                    problems.append(
                        f"missing _INDEX_DEPS edge {creator} -> {b} "
                        f"(shared cache entry {cname}{key!r})"
                    )
        assert not problems, "\n".join(sorted(set(problems)))
    finally:
        for mod, name, val in originals:
            setattr(mod, name, val)
        bench._clear_operator_caches(spark)


def test_stamp_salvage_tool():
    """scripts/stamp_salvage.py must reproduce the r15 adjudication:
    per-bucket ratio profile + per-lane min composite over two
    partially-contaminated stamps (pure stdlib, no Spark)."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from stamp_salvage import salvage
    finally:
        sys.path.pop(0)

    out = salvage(
        os.path.join(repo, "BENCH_DETAIL_r15_builder_prelm.json"),
        os.path.join(repo, "BENCH_DETAIL_r15_builder.json"),
    )
    assert out["n_lanes"] == 191
    assert out["min_composite_s"] <= min(
        out["ref_total_s"], out["suspect_total_s"]
    )
    assert out["per_bucket_ratio"], "no at_s offsets found"
    assert all(r > 0 for r in out["per_bucket_ratio"].values())


def test_steal_gauge_pure():
    """_steal_pct must compute the steal share of total ticks and fail
    closed (-1.0) on missing/degenerate samples — the gauge the r16
    stamps use to attribute uniform lane inflation to hypervisor
    throttling."""
    bench = _bench("/root/testdata/sf0.001")
    t0 = [0] * 10
    t1 = [10, 0, 0, 70, 0, 0, 0, 20, 0, 0]  # 20% of 100 ticks stolen
    assert bench._steal_pct(t0, t1) == 20.0
    # guest/guest_nice ticks (fields 8-9) are already inside user/nice:
    # counting them again would dilute the share to 20/108
    t1_guest = [10, 0, 0, 70, 0, 0, 0, 20, 5, 3]
    assert bench._steal_pct(t0, t1_guest) == 20.0
    assert bench._steal_pct([], t1) == -1.0
    assert bench._steal_pct(t0, t0) == -1.0
    ticks = bench._cpu_ticks()
    assert ticks == [] or len(ticks) >= 8
