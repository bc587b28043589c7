"""Out-of-program tracing for the benchmark's traced run.

Everything here wraps the program from outside; no program file changes:

- every public function of ``dataframes_spark.{session, core, functions.*,
  operators.*, io.*, quality, streaming, ml}``, the public methods of the
  classes those modules define (``Table`` among them) and the
  ``queries()`` functions of ``__spark_entry__`` are replaced, in every
  module that holds a reference to them, by a wrapper that records a span;
- the py4j gateway client's ``send_command`` is wrapped to count round
  trips and the time spent in them;
- the DAG scheduler's next job id is read at the start and end of each
  op's build, each outermost operator call inside a build and each
  action, so ``statusTracker`` can attribute the jobs in between, with
  their stages and tasks, to them.

Spans stay in memory as ``[layer, module, name, parent, op, pass, start,
end]`` rows and are written as JSON when the run ends.
"""

from __future__ import annotations

import copy
import functools
import importlib
import pkgutil
import time
import types

LAYERS = ("session", "core", "functions", "operators", "io", "quality", "streaming", "ml")
# layers whose submodules are reported one by one as ``<layer>.<mod>``
SPLIT_LAYERS = ("functions", "operators", "io")


def _layer_of(modname: str) -> tuple[str, str] | None:
    parts = modname.split(".")
    if parts[0] != "dataframes_spark" or len(parts) < 2 or parts[1] not in LAYERS:
        return None
    layer = parts[1]
    if layer in SPLIT_LAYERS and len(parts) > 2:
        return layer, f"{layer}.{parts[2]}"
    return layer, layer


class Traced:
    """A span-recording stand-in for one program callable.

    Binds like a function when stored on a class, and pickles as the
    callable it wraps, so a UDF that captures it ships the original to
    Python workers.
    """

    def __init__(self, fn, tracer: "Tracer", layer: str, module: str, name: str):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._tracer = tracer
        self._layer = layer
        self._module = module
        self._name = name

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        if not tracer.enabled:
            return self._fn(*args, **kwargs)
        return tracer.call(self, args, kwargs)

    def __get__(self, obj, objtype=None):
        if obj is None:
            return self
        return types.MethodType(self, obj)

    def __reduce__(self):
        return copy.copy, (self._fn,)


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.pass_no: int | None = None
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self._count_py4j = False
        self._sc = None
        self._scheduler = None
        self._in_build = False
        self._marks: list[int] = []
        self._eager: list[tuple[int, int]] = []
        self._eager_depth = 0
        # (pass, op, [build start, action start, end] job marks, eager ranges)
        self.pending: list[tuple] = []
        self.jobs: list[dict] = []

    # -- spans ---------------------------------------------------------
    def call(self, w: Traced, args, kwargs):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        span = [w._layer, w._module, w._name, parent, self.op, self.pass_no, 0.0, 0.0]
        self.spans.append(span)
        self._stack.append(idx)
        eager = w._layer == "operators" and self._in_build
        eager_start = 0
        if eager:
            if self._eager_depth == 0:
                eager_start = self._mark()
            self._eager_depth += 1
        span[6] = time.perf_counter()
        try:
            return w._fn(*args, **kwargs)
        finally:
            span[7] = time.perf_counter()
            self._stack.pop()
            if eager:
                self._eager_depth -= 1
                if self._eager_depth == 0:
                    self._eager.append((eager_start, self._mark()))

    def span(self, layer: str, name: str):
        """Context manager for a benchmark-side span (an op or its action)."""
        return _Span(self, layer, name)

    # -- py4j ----------------------------------------------------------
    def install_py4j(self, gateway_client) -> None:
        send = gateway_client.send_command

        def send_command(*args, **kwargs):
            if not self._count_py4j:
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                self.py4j_s += time.perf_counter() - t0
                self.py4j_calls += 1

        gateway_client.send_command = send_command

    # -- Spark job attribution -----------------------------------------
    # The DAG scheduler hands out job ids in order and ``numTotalJobs`` is
    # the next one, so the jobs a phase started are the ids between its
    # start and end marks. (Job groups would not do: Structured Streaming
    # sets its own group per query.)
    def bind(self, sc) -> None:
        self._sc = sc
        self._scheduler = sc._jsc.sc().dagScheduler()

    def _mark(self) -> int:
        counting, self._count_py4j = self._count_py4j, False
        try:
            return self._scheduler.numTotalJobs()
        finally:
            self._count_py4j = counting

    def begin_build(self) -> None:
        self._marks = [self._mark()]
        self._eager: list[tuple[int, int]] = []
        self._in_build = True
        self._count_py4j = True

    def begin_action(self) -> None:
        self._count_py4j = False
        self._in_build = False
        self._marks.append(self._mark())

    def end_op(self) -> None:
        self._count_py4j = False
        self._in_build = False
        marks = self._marks + [self._mark()] * (3 - len(self._marks))
        self.pending.append((self.pass_no, self.op, marks, self._eager))

    def resolve_jobs(self) -> None:
        """Look up the jobs, stages and tasks each pending op started
        (outside any timed interval)."""
        tracker = self._sc.statusTracker()
        for pass_no, op, (build0, action0, end), eager in self.pending:
            for job_id in range(build0, end):
                if job_id >= action0:
                    kind = "action"
                elif any(lo <= job_id < hi for lo, hi in eager):
                    kind = "eager"
                else:
                    kind = "build"
                info = tracker.getJobInfo(job_id)
                stages = tasks = failed = 0
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
                self.jobs.append(
                    {"pass": pass_no, "op": op, "kind": kind, "job": job_id,
                     "stages": stages, "tasks": tasks, "failed_tasks": failed}
                )
        self.pending.clear()


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer = tracer
        self.row = [layer, layer, name, -1, None, None, 0.0, 0.0]

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            self.row[3] = tr._stack[-1] if tr._stack else -1
            self.row[4], self.row[5] = tr.op, tr.pass_no
            tr._stack.append(len(tr.spans))
            tr.spans.append(self.row)
        self.row[6] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.row[7] = time.perf_counter()
        if self.tracer.enabled:
            self.tracer._stack.pop()
        return False


def _import_layers() -> list[types.ModuleType]:
    import dataframes_spark

    mods = []
    for info in pkgutil.walk_packages(dataframes_spark.__path__, "dataframes_spark."):
        if _layer_of(info.name) is None:
            continue
        try:
            mods.append(importlib.import_module(info.name))
        except ImportError:
            # an optional-dependency module the program itself cannot load
            continue
    return mods


def install(tracer: Tracer, entry: types.ModuleType) -> int:
    """Wrap the program's public callables; return how many were wrapped."""
    wrapped: dict[int, tuple[object, object]] = {}

    def wrap(fn, layer, module, name):
        w = Traced(fn, tracer, layer, module, name)
        wrapped[id(fn)] = (fn, w)
        return w

    for mod in _import_layers():
        layer, module = _layer_of(mod.__name__)
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if isinstance(obj, types.FunctionType):
                # pyspark UDF objects carry ``evalType``; they run on workers
                if not hasattr(obj, "evalType"):
                    wrap(obj, layer, module, f"{mod.__name__}.{name}")
            elif isinstance(obj, type):
                _wrap_class(obj, wrap, layer, module)

    for name, fn in entry.queries().items():
        if isinstance(fn, types.FunctionType):
            wrap(fn, "entry", "entry", name)

    import sys

    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == entry.__name__ or modname.startswith("dataframes_spark")):
            continue
        for name, val in list(vars(mod).items()):
            hit = wrapped.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, name, hit[1])
    return len(wrapped)


def _wrap_class(cls: type, wrap, layer: str, module: str) -> None:
    for attr, val in list(vars(cls).items()):
        if attr.startswith("_"):
            continue
        name = f"{cls.__module__}.{cls.__qualname__}.{attr}"
        if isinstance(val, types.FunctionType):
            setattr(cls, attr, wrap(val, layer, module, name))
        elif isinstance(val, staticmethod) and isinstance(val.__func__, types.FunctionType):
            setattr(cls, attr, staticmethod(wrap(val.__func__, layer, module, name)))
        elif isinstance(val, classmethod) and isinstance(val.__func__, types.FunctionType):
            setattr(cls, attr, classmethod(wrap(val.__func__, layer, module, name)))
