"""Statistics of one benchmark run: latency percentiles, the tail rule,
span self time and the per-layer roll-up of a traced run."""

import math
import statistics
from collections import defaultdict

TAIL_BEYOND = 10


def p50(values):
    return statistics.median(values) if values else None


def geomean(values):
    """Geometric mean; None if any value is missing."""
    if not values or any(v is None or v <= 0 for v in values):
        return None
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(latencies, failed=0):
    """The highest percentile with at least ten samples beyond it.

    `latencies` are the successful ops; each of the `failed` ops counts as
    missing any latency limit, so it sits beyond every finite sample.
    Returns (value, percentile, sample count), or (None, None, n) when the
    run has too few samples or the tail rank lands on a failed op.
    """
    ranked = sorted(latencies) + [math.inf] * failed
    n = len(ranked)
    if n <= TAIL_BEYOND:
        return None, None, n
    rank = n - TAIL_BEYOND  # 1-based rank with exactly ten samples beyond it
    value = ranked[rank - 1]
    pct = 100.0 * rank / n
    return (None if math.isinf(value) else value), pct, n


def latency_summary(ops):
    """p50 and tail over the successful ops; failed ops are missing, never fast."""
    ok = [o["ms"] for o in ops if o["ok"]]
    failed = sum(1 for o in ops if not o["ok"])
    value, pct, n = tail(ok, failed)
    return {"p50_ms": p50(ok), "tail_ms": value, "tail_pct": pct, "n": n,
            "ok": len(ok), "failed": failed}


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Span id -> duration minus the part of it its child spans cover (ns)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length([(max(c["start_ns"], lo), min(c["end_ns"], hi))
                                for c in children[s["id"]]
                                if c["end_ns"] > lo and c["start_ns"] < hi])
        out[s["id"]] = (hi - lo) - covered
    return out


COUNTER_KEYS = ("jobs", "tasks", "cpu_ms", "gc_ms", "task_wait_ms", "shuffle_bytes",
                "spill_bytes", "input_bytes", "input_records", "output_bytes")


def per_op_layers(spans, counters):
    """op id -> span name -> summed ms, self ms, calls and Spark counters."""
    selfs = self_times(spans)
    out = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for s in spans:
        acc = out[s["op"]][s["name"]]
        acc["ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        acc["self_ms"] += selfs[s["id"]] / 1e6
        acc["calls"] += 1
        for k, v in counters.get(str(s["id"]), {}).items():
            acc[k] += v
    return out


def op_totals(layers):
    """Spark counters summed over every span of one op."""
    tot = defaultdict(float)
    for acc in layers.values():
        for k in COUNTER_KEYS:
            tot[k] += acc.get(k, 0.0)
    return tot
