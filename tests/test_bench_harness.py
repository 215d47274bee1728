"""The bench harness is round-critical (the driver records BENCH_r{N}
from its stdout): a builder thunk that raises, or a stored relation
that survives ``clear_stored``, silently breaks the round's perf
record.  This drives every index builder and the stored-relation
registry end-to-end at sf0.001 — the same code path bench.main() runs
at sf0.1."""

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
    from dataforge_core_spark import session

    bench = _bench(sf_dir)
    # cold state -> every builder must construct its index from scratch
    session.clear_stored(spark)
    for name, build in bench._index_builders():
        build(spark)  # raises = the round's bench would die on this row
    assert session._stored, "the index builders stored nothing"
    # clearing again must free/forget everything the builders created
    # (an entry that survives keeps serving stale frames after a round
    # driver re-runs bench in one session)
    session.clear_stored(spark)
    assert session._stored == {}


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


def test_operators_define_no_module_level_cache():
    """Every stored operator relation goes through session.stored, the
    one registry clear_stored empties.  A module-level ``*_cache`` dict
    in an operator module (or the entry module) is a second, private
    store that clear_stored cannot see — it would serve warm indexes
    inside bench's 'cold' index timings."""
    import importlib
    import pkgutil

    import __spark_entry__ as entry
    from dataforge_core_spark import operators

    # enumerate the PACKAGE, not a hardcoded module list — a cache in
    # a brand-new operator module must not escape the guard
    mods = [
        importlib.import_module(f"dataforge_core_spark.operators.{m.name}")
        for m in pkgutil.iter_modules(operators.__path__)
    ]
    assert len(mods) >= 11, "operator package enumeration looks broken"
    found = [
        f"{mod.__name__}.{name}"
        for mod in mods + [entry]
        for name, val in vars(mod).items()
        if name.endswith("_cache") and isinstance(val, dict)
    ]
    assert not found, "module-level caches outside session.stored: " + (
        ", ".join(found)
    )


def test_stored_builds_each_key_once_across_threads():
    """A second caller of a key whose first build is still running
    waits on the per-key lock and gets the SAME object: build runs
    once, so concurrent first calls cannot double-build a relation or
    race its temp-view names.  Then a stress pass: 16 threads on 4
    keys with a shortened switch interval, every key built once."""
    import sys
    import threading
    from types import SimpleNamespace

    from dataforge_core_spark import session

    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="stored-unit-test")
    )
    started, release = threading.Event(), threading.Event()
    calls: list[int] = []
    got: dict[int, object] = {}

    def build():
        calls.append(1)
        started.set()
        assert release.wait(30)
        return object()

    def call(i):
        got[i] = session.stored(fake, "sf", "unit", build, 7)

    t1 = threading.Thread(target=call, args=(1,))
    t2 = threading.Thread(target=call, args=(2,))
    try:
        t1.start()
        assert started.wait(30)
        t2.start()
        t2.join(0.3)
        assert t2.is_alive(), "second caller did not wait for the build"
        release.set()
        t1.join(30)
        t2.join(30)
        assert not t1.is_alive() and not t2.is_alive()
        assert len(calls) == 1
        assert got[1] is got[2]
        assert session.stored(fake, "sf", "unit", build, 7) is got[1]

        builds: dict[int, int] = {}
        results: dict[int, set] = {p: set() for p in range(4)}
        count_lock = threading.Lock()

        def stress_build(p):
            with count_lock:
                builds[p] = builds.get(p, 0) + 1
            return object()

        def stress(i):
            for p in range(4):
                v = session.stored(
                    fake, "sf", "stress", lambda: stress_build(p), p
                )
                with count_lock:
                    results[p].add(id(v))

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            workers = [
                threading.Thread(target=stress, args=(i,)) for i in range(16)
            ]
            for t in workers:
                t.start()
            for t in workers:
                t.join(30)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in workers)
        assert builds == {p: 1 for p in range(4)}
        assert all(len(ids) == 1 for ids in results.values())
    finally:
        release.set()
        for key in [("unit", "stored-unit-test", "sf", 7)] + [
            ("stress", "stored-unit-test", "sf", p) for p in range(4)
        ]:
            session._stored.pop(key, None)
            session._stored_locks.pop(key, None)


def test_lm_scores_concurrent_first_call(spark, sf_dir):
    """Two threads making the FIRST _lm_scores call of a session share
    one build, so neither can drop the other's lm_dbg/lm_cnt
    scaffolding views mid-query."""
    import threading

    from dataforge_core_spark import session
    from dataforge_core_spark.operators import text

    session.clear_stored(spark)
    names: dict[int, str] = {}
    errors: list[BaseException] = []

    def call(i):
        try:
            names[i] = text._lm_scores(spark, sf_dir)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=call, args=(i,)) for i in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert names[1] == names[2]
    assert spark.table(names[1]).count() > 0


def test_clear_stored_frees_normed_checkpoint(spark, sf_dir):
    """_normed stores its checkpointed frame next to the view name, so
    clear_stored frees the blocks at once instead of leaving them to
    the async ContextCleaner through the next timed phase."""
    from dataforge_core_spark import session
    from dataforge_core_spark.operators import similarity

    sc = spark.sparkContext

    def rdd_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    session.clear_stored(spark)
    before = rdd_ids()
    similarity._normed(spark, sf_dir)
    mine = rdd_ids() - before
    assert mine, "_normed produced no checkpoint blocks"
    session.clear_stored(spark)
    assert not (mine & rdd_ids()), "_normed checkpoint blocks not freed"


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
    phase.  The edges are a scheduling order (session.stored's per-key
    locks are what prevent double builds), and a missing edge lets a
    builder start early and sit blocked on another builder's lock, or
    build a shared relation itself so its own timing absorbs the other
    builder's work.  The registry is instrumented for reads AND
    writes, the builders run sequentially with a current-builder tag,
    and then for every stored key: a builder that TOUCHES a key
    created by another builder must have the creator among its
    declared transitive _INDEX_DEPS.  Also asserts no key is written
    twice (a rebuild inside one sequential pass = a store that doesn't
    store)."""
    from dataforge_core_spark import session

    bench = _bench(sf_dir)

    current = {"builder": None}
    touches: dict[tuple, dict] = {}  # key -> {creators, touchers}

    def _log(key, write):
        rec = touches.setdefault(key, {"creators": [], "touchers": set()})
        b = current["builder"]
        if b is None:
            return
        rec["touchers"].add(b)
        if write:
            rec["creators"].append(b)

    class _Audited(dict):
        def get(self, key, default=None):
            _log(key, False)
            return dict.get(self, key, default)

        def __setitem__(self, key, value):
            _log(key, not dict.__contains__(self, key))
            dict.__setitem__(self, key, value)

    original = session._stored
    session.clear_stored(spark)
    session._stored = _Audited()
    try:
        for name, build in bench._index_builders():
            current["builder"] = name
            build(spark)
        current["builder"] = None
        assert len(touches) >= 20, "registry instrumentation looks broken"

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
        for key, rec in touches.items():
            if len(rec["creators"]) > 1:
                problems.append(
                    f"{key!r} written {len(rec['creators'])}x "
                    f"by {rec['creators']} (store doesn't store)"
                )
            if not rec["creators"]:
                continue  # pre-seeded or never built in this phase
            creator = rec["creators"][0]
            for b in rec["touchers"] - {creator}:
                if creator not in _deps(b):
                    problems.append(
                        f"missing _INDEX_DEPS edge {creator} -> {b} "
                        f"(shared stored entry {key!r})"
                    )
        assert not problems, "\n".join(sorted(set(problems)))
    finally:
        session.clear_stored(spark)
        session._stored = original


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
