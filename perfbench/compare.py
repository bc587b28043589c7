"""Compare two sets of benchmark runs, or summarise one.

    python3 perfbench/compare.py .perfbench/results            # one set
    python3 perfbench/compare.py parent_results change_results # two sets

Each argument is a result file written by ``run.py`` or a directory
searched for them. For every workload and metric the report gives each
set's run count, median and quartiles (``statistics.quantiles(n=4)``) and
its spread, the quartile distance as a share of the median. With two sets
it adds a verdict against the metric's bound from ``BENCHMARK.json``:

- ``agree``: the second median is within the bound of the first;
- ``better`` / ``worse``: it moved by more than the bound;
- ``unresolved``: a set's spread is wider than the bound, so the runs
  cannot tell, unless the median moved by more than the bound and every
  run of one set beats every run of the other.

Metrics without a bound (per-layer ones, ``peak_rss_mb``,
``op_fail_ratio``, ``stored_bytes_per_input_byte``) get statistics only. Exits 1 if any
bounded metric is ``worse``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list[dict]:
    files = []
    if os.path.isdir(path):
        for dirpath, _dirs, names in os.walk(path):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".json")]
    else:
        files = [path]
    runs = []
    for f in sorted(files):
        with open(f) as fh:
            try:
                res = json.load(fh)
            except json.JSONDecodeError:
                continue
        if isinstance(res, dict) and "workload" in res and "metrics" in res:
            runs.append(res)
    return runs


def groups(runs: list[dict]) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    for res in runs:
        pool = dict(res["metrics"]) if not res.get("trace") else {}
        pool.update(res.get("layer_metrics", {}))
        for name, value in pool.items():
            out.setdefault((res["workload"], name), []).append(float(value))
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        q1 = q3 = med
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    if med:
        spread = (q3 - q1) / abs(med)
    else:
        spread = 0.0 if q3 == q1 else float("inf")
    return med, q1, q3, spread


def verdict(a: list[float], b: list[float], bound: float, lower_better: bool) -> str:
    sa, sb = summary(a), summary(b)
    sign = 1.0 if lower_better else -1.0
    if sa[0] == 0:
        return "agree" if sb[0] == 0 else "unresolved"
    delta = sign * (sb[0] - sa[0]) / abs(sa[0])
    if max(sa[3], sb[3]) > bound:
        if delta < -bound and all(sign * (y - x) < 0 for x in a for y in b):
            return "better"
        if delta > bound and all(sign * (y - x) > 0 for x in a for y in b):
            return "worse"
        return "unresolved"
    if delta > bound:
        return "worse"
    if delta < -bound:
        return "better"
    return "agree"


def fmt(s: tuple[float, float, float, float], n: int) -> str:
    return f"n={n:<2} med={s[0]:<11.5g} q1={s[1]:<11.5g} q3={s[2]:<11.5g} spread={s[3]:.3f}"


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    sets = [groups(load(p)) for p in argv]
    keys = sorted(set().union(*sets), key=lambda k: (k[0], k[1] not in e2e, k[1]))
    worse = 0
    for workload, name in keys:
        m = e2e.get(name)
        tag = f"bound={m['bound']}" if m else "no bound"
        cells = [f"{workload:<12} {name:<32} {tag:<12}"]
        vals = [s.get((workload, name)) for s in sets]
        for v in vals:
            cells.append(fmt(summary(v), len(v)) if v else "n=0")
        if len(sets) == 2 and m and all(vals):
            v = verdict(vals[0], vals[1], m["bound"], m["better"] == "lower")
            worse += v == "worse"
            cells.append(v)
        elif len(sets) == 1 and m and vals[0]:
            cells.append("steady" if summary(vals[0])[3] <= m["bound"] else "SPREAD>BOUND")
        print("  ".join(cells))
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
