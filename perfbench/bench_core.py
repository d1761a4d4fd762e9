"""Pure parts of the benchmark: sampling, percentiles, span self times,
oracle comparison and failure accounting. No I/O besides what callers
pass in, so tests/test_bench_core.py can pin each rule."""
import functools
import importlib.util
import math
import os
import random


@functools.lru_cache(maxsize=None)
def _oracle_gate():
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "check_oracle.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def cells_equal(a, b):
    """Cell equality of the oracle gate itself (scripts/check_oracle.py),
    so the benchmark accepts exactly what the gate accepts."""
    return _oracle_gate().cells_equal(a, b)


def sample(modules, costs, seed, tolerance=0.05):
    """Seeded sample of the query inventory: one query per module.

    `modules` maps each operator module to its query names (its stratum).
    Within a module the queries are ranked by their recorded cost
    (`costs`, seconds). Adjacent queries whose costs differ by at most
    `tolerance` are twins; the seed picks one of the twin pair nearest the
    module's median rank, or the median query when the module has no
    twins. So the seed changes which queries run but not, to first order,
    how much work a sample is: the spread of a metric between seeds
    measures the engine, not the draw. The seed also fixes the run order
    (a seeded shuffle).
    """
    rng = random.Random(seed)
    picked = []
    for module in sorted(modules):
        ranked = sorted(modules[module], key=lambda n: (costs.get(n, 0.0), n))
        cost = [costs.get(n, 0.0) for n in ranked]
        mid = (len(ranked) - 1) / 2
        pairs = [i for i in range(len(ranked) - 1)
                 if cost[i + 1] - cost[i] <= tolerance * cost[i]]
        if pairs:
            i = min(pairs, key=lambda i: (abs(i + 0.5 - mid), i))
            picked.append(ranked[i + rng.randrange(2)])
        else:
            picked.append(ranked[int(mid)])
    rng.shuffle(picked)
    return picked


def percentile(values, p):
    """p-th percentile, linear between the two nearest ranks (the
    "inclusive" rule of Python's statistics.quantiles)."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    pos = (len(ordered) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def beyond(n, p):
    """How many of n samples lie beyond the p-th percentile (the guide's
    rule wants at least ten)."""
    return n - max(1, math.ceil(p / 100.0 * n))


def median(values):
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its own
    interval that its children cover (children clipped to the parent;
    overlapping children count once). Returns {span id: self time}."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start"], s["end"]
        covered = union_length(
            [(max(c["start"], start), min(c["end"], end))
             for c in children.get(s["id"], [])])
        out[s["id"]] = (end - start) - covered
    return out


def layer_self_times(spans):
    """Self time summed per span name (layer)."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + own[s["id"]]
    return out


def compare_result(spark_cols, spark_rows, oracle_cols, oracle_rows):
    """The oracle gate's comparison: same column names, scalar cells only,
    same row count, and cell-exact rows in file order with columns taken
    in name order. Returns None when equal, else the first difference."""
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns differ: {sorted(spark_cols)} vs {sorted(oracle_cols)}"
    for rows in (spark_rows, oracle_rows):
        for r in rows:
            if any(isinstance(v, (list, dict)) for v in r):
                return "non-scalar output cell"
    if len(spark_rows) != len(oracle_rows):
        return f"row count {len(spark_rows)} vs {len(oracle_rows)}"
    names = sorted(spark_cols)
    s_idx = [spark_cols.index(c) for c in names]
    o_idx = [oracle_cols.index(c) for c in names]
    for r, (srow, orow) in enumerate(zip(spark_rows, oracle_rows)):
        for c, si, oi in zip(names, s_idx, o_idx):
            if not cells_equal(srow[si], orow[oi]):
                return f"row {r} column {c}: {srow[si]!r} vs {orow[oi]!r}"
    return None


def count_failures(executions, wrong):
    """(attempted, failed) over timed executions: an execution fails when
    it threw, or when its query's checked output was wrong."""
    failed = sum(1 for e in executions
                 if e.get("error") is not None or e["name"] in wrong)
    return len(executions), failed
