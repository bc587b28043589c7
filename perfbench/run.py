"""Benchmark of the dataframes_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

A run is one fresh process with one client in a closed loop:

1. make the seeded inputs (``data.py``) in a per-run directory, which is
   also the run's ``TMPDIR``, ``SPARK_GRAFT_WAREHOUSE`` and Spark local dir;
2. set up: ``get_spark(cpus=<cores>)`` (this launches the JVM) and
   ``load_table`` for each of the workload's tables;
3. one timed cold pass over the workload's ops. An op is its
   ``queries()`` build plus ``df.write.format("noop").mode("overwrite")
   .save()``, an action that forces every output column and moves nothing
   to the Spark driver;
4. an untimed check of every op's output against its DuckDB oracle twin,
   one op per core at a time; it runs every op once more, so it is also
   a warm-up, followed by the workload's ``warmup_passes`` untimed passes;
5. timed warm passes until ``--seconds`` have gone by (at least three);
6. stop the session, the JVM and its Python workers, and remove the
   per-run directory.

With ``--trace 1`` the program's public callables are wrapped
(``tracing.py``); warm passes alternate untraced and traced, the per-layer
metrics come from the traced ones, and ``trace.overhead_s`` is the traced
minus the untraced median pass time. Spans are written to
``.perfbench/traces``.

Stdout carries the report, one ``name value unit`` line per metric, and
ends with one JSON line ``{"correct", "attempted", "failed", "metrics"}``
holding the ``end_to_end`` (trace 0) or ``per_layer`` (trace 1) metrics
named in ``BENCHMARK.json``. The full result is also saved under
``.perfbench/results`` for ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
import meters  # noqa: E402

PROGRAM_FILES = ("__spark_entry__.py", "dataframes_spark/__init__.py", "tools/check_oracle.py")
# warm passes per untraced run, at the least; odd, so the median is a pass
MIN_WARM_PASSES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Run:
    def __init__(self, workload: str, spec: dict, seed: int, seconds: float, trace: bool, run_dir: str):
        self.spec = spec
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.data_dir = os.path.join(run_dir, "data")
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.local_dir = os.path.join(run_dir, "local")
        for d in (self.data_dir, self.tmp_dir, self.warehouse, self.local_dir):
            os.makedirs(d)
        self.tracer = None
        self.spark = None
        self.meter = meters.ProcessMeter(os.getpid())
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0
        self.op_times: dict[str, list[float]] = {}
        self.result: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace)}

    # -- environment ---------------------------------------------------
    def isolate(self) -> None:
        """Point every scratch location of the program, Spark and the JVM
        into the run directory, and let Python workers import the program."""
        os.environ["TMPDIR"] = self.tmp_dir
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.warehouse
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        # PerfDisableSharedMem keeps the JVM's hsperfdata file out of /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.local_dir} -XX:+PerfDisableSharedMem"
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        tempfile.tempdir = None
        sys.path.insert(0, ROOT)

    # -- one op ----------------------------------------------------------
    def run_op(self, name: str, fn, pass_no: int, traced: bool) -> float | None:
        tr = self.tracer
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced:
                tr.op, tr.pass_no = name, pass_no
                tr.begin_build()
                with tr.span("op", name):
                    df = fn(self.spark, self.data_dir)
                    tr.begin_action()
                    with tr.span("spark", "action"):
                        df.write.format("noop").mode("overwrite").save()
            else:
                df = fn(self.spark, self.data_dir)
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failing op is a result, not a crash
            self.fail(name, f"pass {pass_no}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            if traced:
                tr.end_op()
        return time.perf_counter() - t0

    def fail(self, name: str, why: str) -> None:
        self.failures.setdefault(name, []).append(why)
        log(f"FAIL {name}: {why[:200]}")

    # -- the run ---------------------------------------------------------
    def execute(self) -> dict:
        res = self.result
        res["inputs"] = data.generate(self.seed, self.data_dir)
        tables = self.spec["tables"]
        input_bytes = sum(res["inputs"][t]["bytes"] for t in tables)

        import __spark_entry__ as entry
        from dataframes_spark import session

        if self.trace:
            import tracing

            self.tracer = tracing.Tracer()
            res["wrapped_callables"] = tracing.install(self.tracer, entry)
            self.tracer.enabled = True

        cpus = str(len(os.sched_getaffinity(0)))
        t0 = time.perf_counter()
        self.spark = session.get_spark(cpus=cpus)
        for t in tables:
            session.load_table(self.spark, self.data_dir, t)
        res["setup_s"] = time.perf_counter() - t0
        log(f"setup {res['setup_s']:.2f}s on local[{cpus}]")
        self.meter.sample()

        if self.tracer is not None:
            self.tracer.enabled = False
            sc = self.spark.sparkContext
            self.tracer.bind(sc)
            self.tracer.install_py4j(sc._gateway._gateway_client)

        queries = entry.queries()
        ops = [(n, queries[n]) for n in self.spec["ops"]]

        t0 = time.perf_counter()
        cold = {}
        for name, fn in ops:
            cold[name] = self.run_op(name, fn, 0, False)
        res["cold_op_s"] = cold
        res["cold_pass_s"] = time.perf_counter() - t0
        log(f"cold pass {res['cold_pass_s']:.2f}s")

        self.check(ops, entry.oracle_sql())
        # Untimed warm-up passes. The JVM keeps compiling the driver's
        # planner code for about ten passes of short ops; without these the
        # warm passes of such a workload fall on the steep part of that
        # curve, and a slower host phase then doubles their CPU time.
        t0 = time.perf_counter()
        for k in range(self.spec.get("warmup_passes", 0)):
            for name, fn in ops:
                self.run_op(name, fn, -1 - k, False)
        res["warmup_s"] = time.perf_counter() - t0
        self.warm(ops, input_bytes)
        self.meter.sample()
        res["peak_rss_mb"] = self.meter.peak_rss_mb()
        jvm = self.spark.sparkContext._gateway.proc.pid
        res["peak_rss_mb_by_process"] = {
            ("benchmark" if pid == os.getpid() else "jvm" if pid == jvm else f"worker-{pid}"): kib / 1024.0
            for pid, kib in self.meter.peak_kib.items()
        }
        return res

    def warm(self, ops, input_bytes: int) -> None:
        res, tr = self.result, self.tracer
        passes = {False: [], True: []}
        pass_ops = {False: [], True: []}
        cpu = {False: [], True: []}
        stored = {False: [], True: []}
        cpu_prev = self.meter.sample()
        bytes_prev = meters.tree_bytes(self.tmp_dir, self.warehouse)
        start = time.perf_counter()
        pass_no = 0
        # a traced run needs two untraced and two traced passes at the least
        min_passes = MIN_WARM_PASSES + (tr is not None)
        while pass_no < min_passes or time.perf_counter() - start < self.seconds:
            pass_no += 1
            # untraced, traced, traced, untraced, ...: drift between passes cancels
            traced = tr is not None and pass_no % 4 in (2, 3)
            if tr is not None:
                tr.enabled = traced
            t0 = time.perf_counter()
            lat = []
            for name, fn in ops:
                dt = self.run_op(name, fn, pass_no, traced)
                if dt is not None:
                    lat.append(dt)
                    if not traced:
                        self.op_times.setdefault(name, []).append(dt)
            passes[traced].append(time.perf_counter() - t0)
            if lat:
                pass_ops[traced].append(lat)
            if tr is not None:
                tr.enabled = False
                if traced:
                    tr.resolve_jobs()
            cpu_now = self.meter.sample()
            bytes_now = meters.tree_bytes(self.tmp_dir, self.warehouse)
            cpu[traced].append(cpu_now - cpu_prev)
            stored[traced].append(bytes_now - bytes_prev)
            cpu_prev, bytes_prev = cpu_now, bytes_now
        res["warm_s"] = time.perf_counter() - start
        res["passes"] = passes[False]
        res["pass_op_s"] = pass_ops[False]
        res["op_samples"] = sum(len(lat) for lat in pass_ops[False])
        res["op_median_s"] = {n: statistics.median(v) for n, v in self.op_times.items()}
        res["pass_s"] = statistics.median(passes[False])
        # Percentiles are taken within each pass and then the median over
        # passes: pooled over a varying number of passes, a percentile of
        # a few dissimilar ops would land on different ops from run to run.
        res["op_p50_ms"] = statistics.median(percentile(lat, 0.5) for lat in pass_ops[False]) * 1e3
        res["op_p90_ms"] = statistics.median(percentile(lat, 0.9) for lat in pass_ops[False]) * 1e3
        res["pass_cpu_s"] = cpu[False]
        res["cpu_s"] = statistics.median(cpu[False])
        res["stored_bytes_per_input_byte"] = statistics.median(stored[False]) / input_bytes
        res["input_bytes"] = input_bytes
        log(f"warm: {len(passes[False])} passes, median {res['pass_s']:.2f}s, {res['op_samples']} op samples")
        if tr is not None:
            res["traced_passes"] = passes[True]
            res["trace_overhead_s"] = statistics.median(passes[True]) - res["pass_s"]
            res["traced_stored_bytes"] = statistics.median(stored[True])

    def check(self, ops, oracle_sql: dict[str, str]) -> None:
        """Check every op against its oracle twin, one op per core at a
        time: the check is untimed, and running ops side by side keeps it
        from costing a whole sequential pass."""
        import oracle

        checker = oracle.Oracle(ROOT, self.data_dir, oracle_sql)

        def one(op) -> str | None:
            name, fn = op
            try:
                return checker.check(name, fn(self.spark, self.data_dir))
            except Exception as e:  # noqa: BLE001
                return f"{type(e).__name__}: {str(e)[:300]}"

        checked = [op for op in ops if op[0] in oracle_sql]
        t0 = time.perf_counter()
        try:
            with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
                whys = list(pool.map(one, checked))
        finally:
            checker.close()
        self.result["check_s"] = time.perf_counter() - t0
        status = {name: "no oracle" for name, _ in ops}
        for (name, _), why in zip(checked, whys):
            self.attempted += 1
            if why is None:
                status[name] = "ok"
            else:
                status[name] = "mismatch"
                self.fail(name, f"check: {why[:400]}")
        self.result["check"] = status
        log(f"check {self.result['check_s']:.2f}s")

    def stop(self) -> None:
        """Stop the session, the JVM and its workers, and wait for each."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        own = os.getpid()
        pids = [p for p in meters.descendants(own) if p != own]
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
            _wait_gone(pids)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while any(meters.alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if meters.alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def layer_metrics(res: dict, tracer) -> dict[str, float]:
    """Per-layer metrics from the traced warm passes, per pass."""
    spans = tracer.spans
    traced_passes = {s[5] for s in spans if s[5]}
    n = max(len(traced_passes), 1)
    out: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        out[key] = out.get(key, 0.0) + value

    child_s = [0.0] * len(spans)
    for s in spans:
        if s[3] >= 0:
            child_s[s[3]] += s[7] - s[6]

    # a span is outermost for a layer (module) when no ancestor shares it
    for i, (layer, module, name, parent, op, pass_no, t0, t1) in enumerate(spans):
        dur = t1 - t0
        if pass_no is None and op is None:
            if name.endswith(".get_spark"):
                add("session.get_spark_s", dur)
            elif name.endswith(".load_table"):
                add("session.load_table_s", dur)
            continue
        if pass_no not in traced_passes:
            continue
        if layer == "session" and name.endswith(".load_table"):
            add("session.load_table_calls", 1.0 / n)
        if layer == "spark":
            add("spark.action_s", dur / n)
            continue
        if layer == "op":
            continue
        layers, modules = set(), set()
        p = parent
        while p >= 0:
            layers.add(spans[p][0])
            modules.add(spans[p][1])
            p = spans[p][3]
        if layer == "entry":
            add("entry.self_s", (dur - child_s[i]) / n)
            if "entry" not in layers:
                add("entry.build_s", dur / n)
            continue
        if layer not in layers:
            add(f"{layer}.call_s", dur / n)
            add(f"{layer}.calls", 1.0 / n)
        if module != layer and module not in modules:
            add(f"{module}.call_s", dur / n)

    for job in tracer.jobs:
        if job["pass"] not in traced_passes:
            continue
        add("spark.jobs", 1.0 / n)
        add("spark.stages", job["stages"] / n)
        add("spark.tasks", job["tasks"] / n)
        add("spark.failed_tasks", job["failed_tasks"] / n)
        if job["kind"] in ("build", "eager"):
            add("spark.build_jobs", 1.0 / n)
        if job["kind"] == "eager":
            add("operators.eager_jobs", 1.0 / n)
    out["py4j.calls"] = tracer.py4j_calls / n
    out["py4j.s"] = tracer.py4j_s / n
    out["io.bytes_stored"] = res["traced_stored_bytes"]
    out["trace.overhead_s"] = res["trace_overhead_s"]
    out["trace.pass_s"] = statistics.median(res["traced_passes"])
    return out


def layer_unit(name: str) -> str:
    if name.endswith("bytes_stored"):
        return "bytes"
    if name.endswith(("calls", "jobs", "stages", "tasks")):
        return "count"
    return "s"


# end-to-end metrics printed and saved but not listed in BENCHMARK.json:
# peak memory swings with the JVM's heap sizing, and the other two can be 0
UNGATED_UNITS = {"peak_rss_mb": "MB", "stored_bytes_per_input_byte": "ratio", "op_fail_ratio": "ratio"}


def e2e_metrics(res: dict) -> dict[str, float]:
    keys = ("setup_s", "cold_pass_s", "pass_s", "op_p50_ms", "op_p90_ms", "cpu_s",
            "peak_rss_mb", "stored_bytes_per_input_byte")
    out = {k: res[k] for k in keys}
    out["op_fail_ratio"] = res["failed"] / res["attempted"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        log(f"program not found next to the benchmark (missing {', '.join(missing)})")
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in spec:
        log(f"unknown workload {args.workload!r}; have {sorted(spec)}")
        return 2

    state = os.path.join(ROOT, ".perfbench")
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-s{args.seed}-", dir=_mkdir(state))
    run = Run(args.workload, spec[args.workload], args.seed, args.seconds, bool(args.trace), run_dir)
    run.isolate()
    try:
        try:
            res = run.execute()
        finally:
            run.stop()
    except Exception:  # noqa: BLE001 — report and fail the run without a result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    res["failures"] = run.failures
    res["attempted"] = run.attempted
    res["failed"] = sum(len(v) for v in run.failures.values())
    stamp = time.strftime("%Y%m%dT%H%M%S")
    res["metrics"] = e2e_metrics(res)
    if run.tracer is not None:
        res["layer_metrics"] = layer_metrics(res, run.tracer)
        path = os.path.join(_mkdir(os.path.join(state, "traces")), f"{args.workload}-s{args.seed}-{stamp}.json")
        with open(path, "w") as f:
            json.dump({"columns": ["layer", "module", "name", "parent", "op", "pass", "start", "end"],
                       "spans": run.tracer.spans, "jobs": run.tracer.jobs}, f)
        res["spans_file"] = os.path.relpath(path, ROOT)
    with open(os.path.join(_mkdir(os.path.join(state, "results")),
                           f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump(res, f, indent=1)

    print(f"workload {args.workload} seed {args.seed}: {len(res['passes'])} warm passes, "
          f"{res['op_samples']} warm op samples")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    for name, value in res["metrics"].items():
        print(f"{name} {value:.6g} {units.get(name) or UNGATED_UNITS[name]}")
    for name, value in sorted(res.get("layer_metrics", {}).items()):
        print(f"{name} {value:.6g} {units.get(name, layer_unit(name))}")
    checked = res["check"]
    print("check: " + ", ".join(f"{k}={v}" for k, v in checked.items()))
    for name, whys in run.failures.items():
        print(f"failed {name}: {whys[0][:300]}")

    chosen = bench["per_layer"] if args.trace else bench["end_to_end"]
    pool = res.get("layer_metrics", {}) if args.trace else res["metrics"]
    line = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": pool[m["name"]], "unit": m["unit"]} for m in chosen},
    }
    print(json.dumps(line))
    return 0


def _mkdir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


if __name__ == "__main__":
    sys.exit(main())
