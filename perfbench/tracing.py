"""Spans and counters around the calls into each engine layer.

Used only by the traced run (``--trace 1``).  ``Tracer.install`` wraps
the engine's layer entry points from outside: every module attribute of
the engine package that is bound to a target function is replaced by a
wrapper that opens a span, and ``Tracer.uninstall`` puts the originals
back.  No engine file is edited.

A span records its name, start, end, parent span and operation id.
While a span is open its thread's Spark job group is ``perfbench-<id>``,
so after each operation the jobs it submitted are read from Spark's
in-process status store and attributed to the innermost span that was
open when they ran.  Spans stay in memory until ``dump`` writes them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

PKG = "dww_data_pipeline_spark"
GROUP_PREFIX = "perfbench-"
GROUP_KEY = "spark.jobGroup.id"
COUNTS = ("jobs", "jobs_not_succeeded", "stages", "tasks", "task_run_s",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def import_engine() -> None:
    """Import every engine module, so that every binding exists before
    wrappers are counted."""
    pkg = importlib.import_module(PKG)
    for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        if not info.name.endswith("__main__"):
            importlib.import_module(info.name)


def engine_modules() -> list:
    return [m for n, m in sorted(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(PKG + "."))]


def bindings(fn) -> list[tuple]:
    """Every (module, attribute) of the engine bound to ``fn``."""
    return [(m, a) for m in engine_modules()
            for a, v in list(vars(m).items()) if v is fn]


def installed_wrappers() -> int:
    """How many engine module attributes are bound to a wrapper now."""
    return sum(1 for m in engine_modules() for v in list(vars(m).values())
               if hasattr(v, "__perfbench_original__"))


def public_functions(module_prefix: str) -> list:
    """Plain functions defined (not imported) in the engine modules under
    ``module_prefix`` whose names do not start with ``_``."""
    out = []
    for m in engine_modules():
        if not m.__name__.startswith(module_prefix):
            continue
        for name, v in sorted(vars(m).items()):
            if (inspect.isfunction(v) and v.__module__ == m.__name__
                    and not name.startswith("_") and not hasattr(v, "evalType")):
                out.append(v)
    return out


class Span:
    __slots__ = ("idx", "name", "op", "parent", "start", "end", "counts", "attrs")

    def __init__(self, idx, name, op, parent):
        self.idx, self.name, self.op, self.parent = idx, name, op, parent
        self.start, self.end = time.perf_counter(), None
        self.counts = dict.fromkeys(COUNTS, 0)
        self.attrs = {}

    @property
    def dur(self) -> float:
        return (self.end or time.perf_counter()) - self.start

    def record(self, t0: float) -> dict:
        return {"id": self.idx, "name": self.name, "op": self.op,
                "parent": self.parent, "start": round(self.start - t0, 6),
                "end": round((self.end or self.start) - t0, 6),
                **self.counts, **self.attrs}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.patches: list[tuple] = []   # (module, attr, original)
        self.op: int | None = None
        self._local = threading.local()
        self._main = threading.main_thread()
        self._lock = threading.Lock()
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._stage_defaults = [
            getattr(self._store, f"stageData$default${i}")() for i in (3, 4, 5)]
        # one marker job gives the id after which jobs are ours to count
        self.sc.setLocalProperty(GROUP_KEY, GROUP_PREFIX + "start")
        self.sc.parallelize([0], 1).count()
        self.sc.setLocalProperty(GROUP_KEY, None)
        self._next_job = max(self.sc.statusTracker().getJobIdsForGroup(
            GROUP_PREFIX + "start")) + 1
        self.t0 = time.perf_counter()

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            if threading.current_thread() is self._main:
                self._main_stack = st
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1].idx
        else:
            # a foreachBatch callback runs on its own thread while the
            # main thread waits inside its open span: parent it there
            main = getattr(self, "_main_stack", None)
            parent = main[-1].idx if main else None
        with self._lock:
            s = Span(len(self.spans), name, self.op, parent)
            self.spans.append(s)
        stack.append(s)
        # a callback thread shares its JVM thread with the stream that
        # called it, so put back whatever group was set, not just ours
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, GROUP_PREFIX + str(s.idx))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)

    # ---------------------------------------------------------- wrappers

    def patch(self, fn, wrapper) -> int:
        """Bind ``wrapper`` wherever the engine binds ``fn``."""
        wrapper.__perfbench_original__ = fn
        n = 0
        for m, a in bindings(fn):
            setattr(m, a, wrapper)
            self.patches.append((m, a, fn))
            n += 1
        return n

    def spanned(self, fn, name: str, hook=None):
        """A wrapper of ``fn`` that runs it inside span ``name`` and inside
        ``hook(span, args, kwargs)``, a context manager that may record
        span attributes."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s, (hook(s, args, kwargs) if hook else nullcontext()):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> dict[str, tuple[int, int]]:
        """Wrap every layer entry point; returns {target: (bound, patched)}."""
        import_engine()
        from dww_data_pipeline_spark.plans import dedup_plans
        from dww_data_pipeline_spark.sources import (
            ann_index,
            catalog,
            shards,
            tokenizer_store,
        )

        targets = [
            (catalog.load_table, "sources.catalog.load_table", None),
            (tokenizer_store.tokenizer_store_cached,
             "sources.tokenizer_store.lookup", None),
            (tokenizer_store.build_tokenizer_store,
             "sources.tokenizer_store.build", None),
            (shards.write_sharded, "sources.shards.write", _count_written),
        ]
        memo = getattr(dedup_plans, "_KNN_EDGE_MEMO", None)
        for name in ("knn_edges_cached", "nn_descent_edges_cached"):
            fn = getattr(dedup_plans, name, None)
            if fn is not None:
                targets.append((fn, "plans.dedup_plans.knn_edges", _memo_growth(memo)))
        for fn in public_functions(f"{PKG}.sources.ann_index"):
            targets.append((fn, "sources.ann_index." + fn.__name__, None))
        for fn in public_functions(f"{PKG}.operators"):
            short = fn.__module__.rsplit(".", 1)[-1]
            targets.append((fn, f"operators.{short}.{fn.__name__}", None))

        report = {}
        for fn, name, hook in targets:
            key = f"{fn.__module__}.{fn.__name__}"
            bound = len(bindings(fn))
            report[key] = (bound, self.patch(fn, self.spanned(fn, name, hook)))
        return report

    def uninstall(self) -> None:
        for m, a, fn in reversed(self.patches):
            setattr(m, a, fn)
        self.patches.clear()

    # -------------------------------------------------- status store

    def collect_jobs(self) -> None:
        """Attribute every job submitted since the last call to the span
        whose job group it ran under (else to the open operation's root
        span), with its stage and task counters."""
        self._bus.waitUntilEmpty()
        by_idx = {}
        misses, jid = 0, self._next_job
        while misses < 5:
            try:
                job = self._store.job(jid)
            except Exception:  # py4j NoSuchElementException: not submitted
                misses += 1
                jid += 1
                continue
            misses = 0
            self._next_job = jid + 1
            opt = job.jobGroup()
            group = opt.get() if opt.isDefined() else None
            idx = None
            if group and group.startswith(GROUP_PREFIX) and group[-1].isdigit():
                idx = int(group[len(GROUP_PREFIX):])
            elif self.op is not None:
                idx = by_idx.setdefault("root", self._op_root())
            if idx is not None:
                self._add_job(self.spans[idx].counts, job)
            jid += 1

    def _op_root(self):
        for s in reversed(self.spans):
            if s.op == self.op and s.parent is None:
                return s.idx
        return None

    def _add_job(self, c: dict, job) -> None:
        if job.status().toString() != "SUCCEEDED":
            # adaptive execution may cancel a job it no longer needs, and
            # whether it got to start depends on timing: keep it apart
            c["jobs_not_succeeded"] += 1
            return
        c["jobs"] += 1
        it = job.stageIds().iterator()
        while it.hasNext():
            attempts = self._store.stageData(it.next(), False, *self._stage_defaults)
            ran = False
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() != "COMPLETE":
                    continue
                ran = True
                c["tasks"] += st.numCompleteTasks()
                c["task_run_s"] += st.executorRunTime() / 1000.0
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
            c["stages"] += ran

    # ---------------------------------------------------------- output

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.record(self.t0) for s in self.spans]}, f)


# -------------------------------------------------------- span hooks

def _files_under(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


@contextmanager
def _count_written(span, args, kwargs):
    """write_sharded(out, path, ...): files and bytes the write added."""
    path = kwargs["path"] if "path" in kwargs else args[1]
    before = _files_under(path)
    yield
    new = {p: n for p, n in _files_under(path).items() if p not in before}
    span.attrs["files_written"] = len(new)
    span.attrs["bytes_written"] = sum(new.values())


def _memo_growth(memo):
    """A kNN-memo lookup is a build when the memo grew during the call."""
    @contextmanager
    def hook(span, args, kwargs):
        size = len(memo) if memo is not None else 0
        yield
        span.attrs["build"] = int(memo is not None and len(memo) > size)
    return hook


# ------------------------------------------------- per-op aggregation

def _children(spans) -> dict[int, list]:
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def _subtree(s, kids) -> dict:
    tot = dict(s.counts)
    for k in kids.get(s.idx, ()):
        for key, v in _subtree(k, kids).items():
            tot[key] += v
    return tot


def _self_time(s, kids) -> float:
    """Duration minus the part of it that child spans cover."""
    ivs = sorted((max(k.start, s.start), min(k.end or s.end, s.end))
                 for k in kids.get(s.idx, ()))
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return s.dur - covered


def _outermost(spans, prefix: str, by_idx) -> list:
    """Spans named ``prefix*`` with no ancestor of the same prefix."""
    out = []
    for s in spans:
        if not s.name.startswith(prefix):
            continue
        p = s.parent
        while p is not None and not by_idx[p].name.startswith(prefix):
            p = by_idx[p].parent
        if p is None:
            out.append(s)
    return out


def op_layers(spans: list, cores: int) -> dict:
    """Per-layer numbers of one operation from its spans (root first)."""
    by_idx = {s.idx: s for s in spans}
    kids = _children(spans)
    total = _subtree(spans[0], kids)

    def sum_counts(ss, key):
        return sum(_subtree(s, kids)[key] for s in ss)

    def named(prefix):
        return [s for s in spans if s.name.startswith(prefix)]

    build = named("plans.build")
    plan = named("catalyst.plan")
    build_s = sum(s.dur for s in build)
    plan_s = sum(s.dur for s in plan)
    exec_s = sum(s.dur for s in _outermost(spans, "exec.", by_idx))
    # every job outside build and plan is Spark executing the operation
    ex = {k: total[k] - sum_counts(build, k) - sum_counts(plan, k) for k in COUNTS}
    lt = _outermost(spans, "sources.catalog.load_table", by_idx)
    look = named("sources.tokenizer_store.lookup")
    tbuild = _outermost(spans, "sources.tokenizer_store.build", by_idx)
    hits = sum(1 for s in look
               if not any(k.name == "sources.tokenizer_store.build"
                          for k in kids.get(s.idx, ())))
    knn = named("plans.dedup_plans.knn_edges")
    ops = named("operators.")
    writes = named("sources.shards.write")
    return {
        "plans.build_s": build_s,
        "plans.build_jobs": sum_counts(build, "jobs"),
        "catalyst.plan_s": plan_s,
        "exec.exec_s": exec_s,
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.task_run_s": ex["task_run_s"],
        "exec.core_idle_ratio": (1.0 - ex["task_run_s"] / (exec_s * cores)
                                 if exec_s > 0 else 0.0),
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "exec.spill_bytes": ex["spill_bytes"],
        "sources.catalog.load_table_calls": len(named("sources.catalog.load_table")),
        "sources.catalog.load_table_s": sum(s.dur for s in lt),
        "sources.catalog.load_table_jobs": sum_counts(lt, "jobs"),
        "sources.tokenizer_store.lookups": len(look),
        "sources.tokenizer_store.hits": hits,
        "sources.tokenizer_store.builds": len(tbuild),
        "sources.tokenizer_store.build_s": sum(s.dur for s in tbuild),
        "plans.dedup_plans.knn_edges_lookups": len(knn),
        "plans.dedup_plans.knn_edges_builds": sum(s.attrs.get("build", 0) for s in knn),
        "sources.ann_index.lifecycle_s": sum(
            s.dur for s in _outermost(spans, "sources.ann_index.", by_idx)),
        "operators.calls": len(ops),
        "operators.self_s": sum(_self_time(s, kids) for s in ops),
        "operators.jobs": sum(s.counts["jobs"] for s in ops),
        "sources.shards.write_s": sum(s.dur for s in writes),
        "sources.shards.files_written": sum(s.attrs.get("files_written", 0) for s in writes),
        "sources.shards.bytes_written": sum(s.attrs.get("bytes_written", 0) for s in writes),
    }


def operator_breakdown(spans: list) -> dict[str, dict]:
    """Calls, self seconds and jobs per operator function."""
    kids = _children(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if s.name.startswith("operators."):
            row = out.setdefault(s.name, {"calls": 0, "self_s": 0.0, "jobs": 0})
            row["calls"] += 1
            row["self_s"] += _self_time(s, kids)
            row["jobs"] += s.counts["jobs"]
    return out
