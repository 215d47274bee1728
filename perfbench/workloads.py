"""The benchmark's workloads and their ops.

Each workload runs its ops in passes, one op after another (a closed
loop with one client):

* ``project``: ``build``, ``rebuild``, ``run_sql`` and ``run`` of a
  project generated from ``projects/tpch_demo``;
* ``lanes``: every pinned ``__spark_entry__.queries()`` lane, each to a
  noop sink.
"""

from __future__ import annotations

import filecmp
import os
import random
import shutil
import statistics
import sys
import time

from perfbench import datagen, oracles, projectgen

TEMPLATE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "projects",
    "tpch_demo",
)


class Op:
    __slots__ = ("kind", "name", "id", "wall", "fn_s", "exec_s", "ok",
                 "probe", "stages")

    def __init__(self, kind: str, name: str, op_id: str):
        self.kind, self.name, self.id = kind, name, op_id
        self.wall = self.fn_s = self.exec_s = 0.0
        self.ok = True
        self.probe = {}
        self.stages = {}


class Pass:
    def __init__(self, traced: bool):
        self.traced = traced
        self.ops: list[Op] = []
        self.wall = 0.0
        self.cpu_s = 0.0

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def tail(xs: list[float]) -> tuple[float, float] | None:
    """``(percentile, value)`` of the highest percentile with at least
    ten samples beyond it, or None with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    xs = sorted(xs)
    k = n - 11  # index with exactly ten samples above it
    return 100.0 * (k + 1) / n, xs[k]


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class Workload:
    kinds: tuple[str, ...] = ()

    def __init__(self, spark, cfg: dict, seed: int, work: str):
        self.spark = spark
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.data_dir = os.path.join(self.inputs, "data")
        self.tracer = None
        self._traced = False
        self._n = 0
        self._n_dirs = 0

    # -- inputs ------------------------------------------------------------
    def generate(self, out: str) -> None:
        datagen.generate(os.path.join(out, "data"), self.seed, self.cfg["sf"])

    def prepare(self, rep: int) -> float:
        """Generate the inputs; later repetitions go to a scratch
        directory and must match the first byte for byte."""
        out = self.inputs if rep == 0 else os.path.join(self.work, f"inputs{rep}")
        t = time.perf_counter()
        self.generate(out)
        dt = time.perf_counter() - t
        if rep:
            if not _same_tree(self.inputs, out):
                raise RuntimeError(f"seed {self.seed}: generated inputs differ")
            shutil.rmtree(out)
        return dt

    def setup(self) -> None:
        pass

    # -- ops ---------------------------------------------------------------
    def _timed(self, kind: str, name: str, body) -> Op:
        from dataforge_core_spark import probe

        self._n += 1
        op = Op(kind, name, f"op{self._n}")
        tracer = self.tracer if self._traced else None
        before = dict(probe.probe_stats)
        if tracer:
            tracer.begin_op(op.id, kind)
        t = time.perf_counter()
        try:
            body(op)
        except Exception as e:  # counted as a failed op
            op.ok = False
            print(f"OP FAILED {kind} {name}: {str(e)[:500]}", file=sys.stderr)
        op.wall = time.perf_counter() - t
        if tracer:
            tracer.end_op()
            from perfbench import trace

            op.stages = trace.op_stage_metrics(
                self.spark, [op.id] + tracer.stream_runs.get(op.id, [])
            )
        op.probe = {k: probe.probe_stats[k] - before[k] for k in before}
        return op

    def run_pass(self, traced: bool) -> Pass:
        from perfbench import host

        self._traced = traced
        p = Pass(traced)
        cpu = host.cpu_seconds(os.getpid())
        t = time.perf_counter()
        if traced:
            self.tracer.listen()
        try:
            for kind, name, body in self.pass_ops():
                p.ops.append(self._timed(kind, name, body))
        finally:
            if traced:
                self.tracer.unlisten()
        p.wall = time.perf_counter() - t
        p.cpu_s = host.cpu_seconds(os.getpid()) - cpu
        return p

    def pass_ops(self):
        raise NotImplementedError

    def new_session(self):
        s = self.spark.newSession()
        if self._traced:
            self.tracer.listen_session(s)
        return s

    def fresh_dir(self, prefix: str) -> str:
        self._n_dirs += 1
        return os.path.join(self.work, "out", f"{prefix}{self._n_dirs}")

    def detail(self, first: Pass, plain: list[Pass]) -> dict:
        out = {}
        for kind in self.kinds:
            walls = [o.wall for p in plain for o in p.ops if o.kind == kind]
            out[f"{kind}_p50_s"] = statistics.median(walls) if walls else None
        return out


class Project(Workload):
    """A user's edit loop on one generated project: build it with an
    empty probe store, make one rule edit and rebuild it with the store
    of the last build, execute the emitted ``run.sql`` (the ``--run-sql``
    path), and materialize the project (the ``--run`` path)."""

    kinds = ("build", "rebuild", "run_sql", "run")

    def generate(self, out: str) -> None:
        # the run seed picks the data and the rule each rebuild edits;
        # the project's rule subset is the same for every seed
        super().generate(out)
        projectgen.expand(TEMPLATE, os.path.join(out, "project"))

    def setup(self) -> None:
        self.project = os.path.join(self.inputs, "project")
        self.subs = {"DATA_DIR": self.data_dir}
        self.editable = projectgen.editable_rules(self.project)
        self.rng = random.Random(self.seed)
        self.wrapped: set = set()
        self.state = self.target = self.out = None

    def _build(self, op: Op, state: str) -> None:
        from dataforge_core_spark import loader, probe
        from dataforge_core_spark.sql_emitter import SqlEmitter

        session = self.new_session()
        probe.set_probe_store(probe.ProbeStore(state))
        project = loader.load_project(self.project)
        errors = [r for r in probe.validate_project(session, project)
                  if r["status"] == "error"]
        if errors:
            raise RuntimeError(f"validation errors: {errors[:3]}")
        target = self.fresh_dir("target")
        SqlEmitter(project, self.subs, spark=session).emit_all(target)
        self.state, self.target = state, target

    def _edit(self) -> None:
        key = self.rng.choice(self.editable)
        projectgen.edit_rule(self.project, *key, wrap=key not in self.wrapped)
        self.wrapped ^= {key}

    def _run_sql(self, op: Op) -> None:
        from dataforge_core_spark.backends import SparkWarehouse

        SparkWarehouse(self.spark, log_path=self.target).run(
            os.path.join(self.target, "run.sql"))

    def _run(self, op: Op) -> None:
        from dataforge_core_spark import loader
        from dataforge_core_spark.runner import ProjectRunner

        out = self.fresh_dir("run")
        ProjectRunner(self.spark, loader.load_project(self.project), self.subs).materialize(out)
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = out

    def pass_ops(self):
        yield "build", "build", lambda op: self._build(op, self.fresh_dir("state"))
        self._edit()
        yield "rebuild", "rebuild", lambda op: self._build(op, self.state)
        yield "run_sql", "run_sql", self._run_sql
        yield "run", "run", self._run

    def detail(self, first, plain):
        out = super().detail(first, plain)
        out["sql_bytes"] = os.path.getsize(os.path.join(self.target, "run.sql"))
        out["probe_jobs_per_build"] = statistics.median(
            o.probe["runs"] for p in plain for o in p.ops if o.kind == "build")
        return out

    def check(self) -> list:
        """Hubs and outputs of both paths against the oracles, on the
        columns the generated project kept."""
        import __spark_entry__ as entry
        from dataforge_core_spark import loader

        o = entry.all_oracles()
        project = loader.load_project(self.project)
        pairs = [(s.target_table, oracles.HUB_ORACLES[s.source_name])
                 for s in project.sources]
        pairs += [(x.output_name, oracles.OUTPUT_ORACLES[x.output_name])
                  for x in project.outputs]
        out = []
        for table, oracle in pairs:
            expected = oracles.oracle_rows(self.data_dir, o[oracle])
            frames = {
                f"run:{table}": self.spark.read.parquet(os.path.join(self.out, table)),
                f"run_sql:{table}": self.spark.table(table),
            }
            for label, df in frames.items():
                out.append(oracles.mismatch(label, df, expected, subset=True))
        return out


def family(lane: str) -> str:
    head = lane.split("_", 1)[0]
    return "hub" if head == "output" else head


class Lanes(Workload):
    """Operator work: pinned lanes served by one long-lived session."""

    kinds = ("batch", "stream")

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.fns = entry.queries()
        self.lanes = list(self.cfg["lanes"])
        missing = [n for n in self.lanes if n not in self.fns]
        if missing:
            raise RuntimeError(f"pinned lanes not in the registry: {missing}")

    def _lane(self, name: str):
        def body(op: Op) -> None:
            t = time.perf_counter()
            df = self.fns[name](self.spark, self.data_dir)
            op.fn_s = time.perf_counter() - t
            df.write.format("noop").mode("overwrite").save()
            op.exec_s = time.perf_counter() - t - op.fn_s

        return body

    def pass_ops(self):
        for name in self.lanes:
            yield ("stream" if name.startswith("stream_") else "batch"), name, self._lane(name)

    def detail(self, first, plain):
        out = {}
        for kind in self.kinds:
            sums = [sum(o.wall for o in p.ops if o.kind == kind) for p in plain]
            out[f"{kind}_pass_s"] = statistics.median(sums)
        walls = [o.wall for p in plain for o in p.ops]
        out["lane_p50_s"] = statistics.median(walls)
        t = tail(walls)
        out["lane_tail"] = {"percentile": t[0], "s": t[1]} if t else None
        out["lanes"] = len(self.lanes)
        return out

    def check(self) -> list:
        import __spark_entry__ as entry

        o = entry.all_oracles()
        return [oracles.mismatch(n, self.fns[n](self.spark, self.data_dir),
                                 oracles.oracle_rows(self.data_dir, o[n]))
                for n in self.lanes]


WORKLOADS = {"project": Project, "lanes": Lanes}


# -- traced run ------------------------------------------------------------

# span name -> per-layer metric of its self time
_SPAN_METRICS = {
    "loader.load_project": "loader.load_s",
    "probe.validate_project": "probe.validate_s",
    "compiler.plan": "compiler.plan_s",
    "planner.plan_source": "compiler.plan_s",
    "compiler.compile_source": "compiler.compile_source_s",
    "compiler.compile_output": "compiler.compile_output_s",
    "sql_emitter.emit_all": "sql_emitter.emit_s",
    "readers.read_source": "readers.read_source_s",
    "readers.write_output": "readers.write_output_s",
    "backends.execute": "backends.execute_s",
}


def install_tracing(tracer) -> None:
    """Wrap the engine's public entry points with span recorders."""
    from dataforge_core_spark import backends, loader, probe
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.plans import planner
    from dataforge_core_spark.sources import readers
    from dataforge_core_spark.sql_emitter import SqlEmitter
    from perfbench.trace import patch

    patch(tracer, loader, "load_project", "loader.load_project")
    patch(tracer, probe, "validate_project", "probe.validate_project")
    patch(tracer, planner, "plan_source", "planner.plan_source")
    for attr in ("plan", "compile_source", "compile_output"):
        patch(tracer, SourceCompiler, attr, f"compiler.{attr}")
    patch(tracer, SqlEmitter, "emit_all", "sql_emitter.emit_all")
    patch(tracer, readers, "read_source", "readers.read_source")
    patch(tracer, readers, "write_output", "readers.write_output")
    patch(
        tracer, backends.SparkWarehouse, "execute", "backends.execute",
        count=lambda self, query, mode="run": sum(
            1 for s in backends.STMT_SPLIT.findall(query) if s.strip()),
    )


def _pass_layers(wl: Workload, p: Pass) -> dict[str, float]:
    from perfbench.trace import self_times

    tracer = wl.tracer
    ids = {o.id for o in p.ops}
    spans = [s for s in tracer.spans if s.op in ids]
    m: dict[str, float] = {}
    for name, secs in self_times(spans).items():
        if name in _SPAN_METRICS:
            key = _SPAN_METRICS[name]
            m[key] = m.get(key, 0.0) + secs
    m["compiler.plan_calls"] = sum(s.name == "planner.plan_source" for s in spans)
    m["backends.statements"] = sum(s.count for s in spans if s.name == "backends.execute")
    runs = sum(o.probe.get("runs", 0) for o in p.ops)
    hits = sum(o.probe.get("hits", 0) + o.probe.get("store_hits", 0) for o in p.ops)
    m["probe.jobs"] = runs
    m["probe.hit_ratio"] = hits / (hits + runs) if hits + runs else 0.0
    for o in p.ops:
        for k, v in o.stages.items():
            m[f"spark.{k}"] = m.get(f"spark.{k}", 0.0) + v
    cores = os.cpu_count() or 1
    m["spark.core_util"] = m.get("spark.executor_run_s", 0.0) / (p.wall * cores)
    m["operators.fn_s"] = sum(o.fn_s for o in p.ops)
    m["spark.exec_s"] = sum(o.exec_s for o in p.ops)
    for q in tracer.queries:
        if q["op"] in ids:
            for phase in ("analysis", "optimization", "planning"):
                key = f"catalyst.{phase}_ms"
                m[key] = m.get(key, 0.0) + q[phase]
    batches = [b for b in tracer.batches if b["op"] in ids]
    m["streaming.batches"] = len(batches)
    for key, field in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                       ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                       ("commit_offsets_ms", "commitOffsets")):
        m[f"streaming.{key}"] = sum(b["ms"].get(field, 0) for b in batches)
    stream_fn = sum(o.fn_s for o in p.ops if o.kind == "stream")
    m["streaming.overhead_s"] = (
        stream_fn - m["streaming.trigger_ms"] / 1000.0 if stream_fn else 0.0)
    return m


def layer_metrics(wl: Workload, first: Pass, traced: list[Pass],
                  plain: list[Pass]) -> dict[str, float]:
    """Per-layer metrics: the median over traced warm passes of each
    pass's value; lane-family rollups from the untraced warm passes
    (``.s``) and the cold first pass (``.first_s``)."""
    per_pass = [_pass_layers(wl, p) for p in traced]
    keys = {k for m in per_pass for k in m}
    out = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
    if isinstance(wl, Lanes):
        fams = {family(n) for n in wl.lanes}
        for fam in fams:
            out[f"operators.{fam}.first_s"] = sum(
                o.wall for o in first.ops if family(o.name) == fam)
            out[f"operators.{fam}.s"] = statistics.median(
                sum(o.wall for o in p.ops if family(o.name) == fam) for p in plain)
    return out
