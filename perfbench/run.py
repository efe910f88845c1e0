#!/usr/bin/env python3
"""graft benchmark: seeded serve and curate workloads.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine sources
of the checkout together with the benchmark program (sbt, into
perfbench/target); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, stages them under
perfbench/out, starts one JVM at local[nproc] and runs the workload's
closed loop (one client) for --seconds. With --trace 0 the last stdout
line reports the end-to-end metrics; with --trace 1 every second op of
each class is traced and the line reports the per-layer metrics and the
tracing overhead. The lines before it name every metric of the workload
with its unit and every output check.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

# the query classes of serve; op_p50_ms is their geometric mean, and the
# low-weight `meta` class is timed and checked but left out of it
SCAN_CLASSES = ["series_read", "rollup_agg", "raw_agg", "mor_read", "label_scan"]
CLASSES = {"serve": SCAN_CLASSES + ["meta"], "curate": ["curate"]}
QUERY_CLASSES = ["raw_agg", "mor_read", "rollup_agg"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(out_dir):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdout=f,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            env=dict(os.environ, SPARK_HOME=spark_home()),
                            timeout=840).returncode
    if rc != 0:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def run_jvm(classes, args, run_dir, deadline):
    resources = os.path.join(ROOT, "src", "main", "resources")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + ["-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
                               "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
                               "-cp", f"{classes}:{resources}:{spark_home()}/jars/*", "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; see {run_dir}/jvm.log")


# ----------------------------------------------------------------- metrics

def close(a, b, rel=1e-9):
    return a is not None and b is not None and abs(a - b) <= rel * max(1.0, abs(b))


def check_results(workload, raw, truth):
    """Output checks the generator's analytic answers decide. Every op must
    succeed, and every class (serve) or shard (curate) must have run."""
    errors = [f"{o['cls']}: {o['err']}" for o in raw["ops"] if not o["ok"]]
    checks = [("every op succeeded", not errors,
               f"{len(errors)} of {len(raw['ops'])} ops failed; first: {errors[:1]}")]
    ops = [o for o in raw["ops"] if o["ok"]]
    if workload == "serve":
        for cls in CLASSES["serve"]:
            bad = []
            runs = [o for o in ops if o["cls"] == cls]
            if not runs:
                bad.append("no successful query")
            for o in runs:
                exp = truth["expected"][o["result"]["plan"]]
                for k, v in exp.items():
                    got = o["result"].get(k)
                    if not (got == v if k in ("rows", "values") else close(got, v)):
                        bad.append((o["result"]["plan"], k, got, v))
            checks.append((f"serve: {cls} results match the generator's answers",
                           not bad, str(bad[:3])))
        for m, exp in truth["mor"].items():
            ok = (raw["extra"].get(f"mor.{m}.rows") == exp["rows"]
                  and close(raw["extra"].get(f"mor.{m}.sum"), exp["sum"]))
            checks.append((f"serve: MOR table holds the rewritten, tombstoned {m}", ok,
                           f"rows {raw['extra'].get(f'mor.{m}.rows')} vs {exp['rows']}"))
    else:
        runs = [o for o in ops if o["cls"] == "curate"]
        for s, shard in sorted(truth["shards"].items()):
            ids = set(shard["ids"])
            kept = [set(o["result"]["kept"]) for o in runs if o["result"]["shard"] == s]
            checks.append((f"curate: shard {s} ran", bool(kept), "no successful run"))
            checks.append((f"curate: shard {s} kept docs are a subset of the input",
                           all(k <= ids for k in kept), ""))
            bad = [f for k in kept for f in shard["families"] if len(k.intersection(f)) != 1]
            checks.append((f"curate: shard {s} keeps exactly one member of every planted family",
                           not bad, f"{len(bad)} families: {bad[:2]}"))
            checks.append((f"curate: every run of shard {s} keeps the same docs",
                           all(k == kept[0] for k in kept), ""))
    return checks


def end_to_end(workload, raw, started):
    """The gated metrics (setup_s, op_p50_ms, peak_rss_mb) and the workload's
    own: name -> (value, unit); plus the tail summaries, attempted, failed."""
    ops = raw["ops"]
    measured = raw["extra"]["measured_s"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    primary = [o for o in ops if o["cls"] in CLASSES[workload]]
    lat = stats.latency_summary(primary)
    # set-up: everything before the first timed op, from the start of input
    # generation: generation, JVM and session start, staging and warm-up
    m = {"setup_s": (raw["extra"]["first_op_epoch_s"] - started, "s"),
         "op_p50_ms": (lat["p50_ms"], "ms"),
         "peak_rss_mb": (raw["extra"]["peak_rss_mb"], "MB"),
         "failed_frac": (failed / attempted if attempted else 1.0, "ratio")}
    tails = {}
    if workload == "serve":
        # the mix's p50: geometric mean of the query class p50s, so it moves
        # smoothly with every class whatever number of queries a run made
        p50s = [stats.latency_summary([o for o in ops if o["cls"] == c])["p50_ms"]
                for c in CLASSES["serve"]]
        m["op_p50_ms"] = (stats.geomean(p50s[:len(SCAN_CLASSES)]), "ms")
        m["queries_per_s"] = (lat["ok"] / measured, "q/s")
        m["query_tail_ms"] = (lat["tail_ms"], "ms")
        tails["query_tail_ms"] = lat
        for cls, p in zip(CLASSES["serve"], p50s):
            m[f"{cls}_p50_ms"] = (p, "ms")
    else:
        docs = sum(o["result"]["docs"] for o in primary if o["ok"])
        m["docs_per_s"] = (docs / measured, "docs/s")
        m["curate_tail_ms"] = (lat["tail_ms"], "ms")
        tails["curate_tail_ms"] = lat
    return m, tails, attempted, failed


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


def trace_overhead(workload, ops):
    """The traced run interleaves traced and untraced ops of every class:
    per class, traced over untraced p50 and mean, minus one; the geometric
    mean over the classes that have both."""
    ratios = {"op_p50_ms": [], "op_mean_ms": []}
    for cls in CLASSES[workload]:
        halves = [[o["ms"] for o in ops if o["ok"] and o["cls"] == cls and o["traced"] == flag]
                  for flag in (True, False)]
        if all(halves):
            ratios["op_p50_ms"].append(stats.p50(halves[0]) / stats.p50(halves[1]))
            ratios["op_mean_ms"].append(statistics.mean(halves[0]) / statistics.mean(halves[1]))
    return {f"trace.overhead.{k}": stats.geomean(v) - 1.0 if v else None
            for k, v in ratios.items()}


def per_layer(raw, truth):
    """Every per-layer metric, each the median over traced ops; a layer the
    workload does not call reads 0."""
    by_op = stats.per_op_layers(raw["spans"], raw["counters"])
    ops = {o["idx"] + 1: o for o in raw["ops"]}
    extra = raw["extra"]
    out = {}

    def span_field(name, span, field):
        out[name] = median_or_zero([acc[span][field] for acc in by_op.values() if span in acc])

    def op_field(name, totals, field):
        out[name] = median_or_zero([t[field] for t in totals])

    for f in ("ms", "jobs", "tasks", "cpu_ms", "shuffle_bytes"):
        span_field(f"storage.append.{f}", "storage.append", f)
    for f in ("written_bytes", "files_added"):
        out[f"storage.append.{f}"] = median_or_zero(
            [v for k, v in extra.items() if k.startswith("append.") and k.endswith(f)])
    span_field("storage.manifest.ms", "storage.manifest", "ms")
    span_field("storage.meta.ms", "storage.meta", "ms")
    aggs = extra.get("planner.agg_queries", 0)
    out["storage.planner.rollup_frac"] = extra["planner.rollup_served"] / aggs if aggs else 0.0

    for c in SCAN_CLASSES:
        for part in ("build", "plan"):
            span_field(f"scan.{c}.{part}_ms", f"scan.{c}.{part}", "ms")
            span_field(f"scan.{c}.{part}_jobs", f"scan.{c}.{part}", "jobs")
        span_field(f"scan.{c}.exec_ms", f"scan.{c}.exec", "ms")
        totals = {op: stats.op_totals(acc) for op, acc in by_op.items() if f"scan.{c}.exec" in acc}
        for f in ("jobs", "tasks", "input_bytes"):
            op_field(f"scan.{c}.{f}", totals.values(), f)
        out[f"scan.{c}.rows_read_per_row_out"] = median_or_zero(
            [t["input_records"] / max(1, ops[op]["result"].get("rows", 0))
             for op, t in totals.items()])
        if c in QUERY_CLASSES:
            for f in ("cpu_ms", "shuffle_bytes", "spill_bytes"):
                op_field(f"query.{c}.{f}", totals.values(), f)

    for stage in ("gate", "lsh", "cluster", "drop"):
        span_field(f"ops.{stage}.ms", f"ops.{stage}", "ms")
    span_field("ops.cluster.jobs", "ops.cluster", "jobs")
    curate = [stats.op_totals(acc) for op, acc in by_op.items()
              if op in ops and ops[op]["cls"] == "curate"]
    op_field("ops.cpu_ms", curate, "cpu_ms")
    op_field("ops.shuffle_bytes", curate, "shuffle_bytes")
    # exact counts: one value per distinct shard, whichever runs were traced
    shards = {}
    for o in raw["ops"]:
        if o["ok"] and o["cls"] == "curate":
            shards.setdefault(o["result"]["shard"], o["result"])
    out["ops.lsh.pairs"] = statistics.mean(r["pairs"] for r in shards.values()) if shards else 0.0
    out["ops.planted_recall"] = planted_recall(shards, truth)

    timed = [stats.op_totals(acc) for op, acc in by_op.items() if op in ops]
    op_field("spark.gc_ms", timed, "gc_ms")
    op_field("spark.task_wait_ms", timed, "task_wait_ms")
    return out


def span_summary(raw):
    """Per span name: median over traced ops of its time and self time (ms)."""
    per = {}
    for acc in stats.per_op_layers(raw["spans"], raw["counters"]).values():
        for name, v in acc.items():
            per.setdefault(name, []).append((v["ms"], v["self_ms"]))
    return {name: {"ms": statistics.median(t for t, _ in vs),
                   "self_ms": statistics.median(s for _, s in vs), "ops": len(vs)}
            for name, vs in sorted(per.items())}


def planted_recall(shards, truth):
    """Planted families reduced to exactly one member, over families planted."""
    useful = attempted = 0
    for s, r in shards.items():
        kept = set(r["kept"])
        for fam in truth["shards"][s]["families"]:
            attempted += 1
            useful += len(kept.intersection(fam)) == 1
    return useful / attempted if attempted else 0.0


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CLASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out_root = os.path.join(HERE, "out")
    os.makedirs(out_root, exist_ok=True)
    classes = build(out_root)
    deadline = time.time() + RUN_LIMIT_S

    run_dir = os.path.join(out_root, f"run-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    started = time.time()
    truth = gen.generate(a.workload, a.seed, os.path.join(run_dir, "input"))
    gen_s = time.time() - started
    raw_path = os.path.join(run_dir, "raw.json")
    rc = run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--input", os.path.join(run_dir, "input"),
                           "--work", os.path.join(run_dir, "work"), "--out", raw_path],
                 run_dir, deadline)
    if not os.path.exists(raw_path):
        fail(f"the run wrote no result (exit {rc}); see {run_dir}/jvm.log")
    with open(raw_path) as f:
        raw = json.load(f)

    e2e, tails, attempted, failed = end_to_end(a.workload, raw, started)
    if a.trace:
        metrics = per_layer(raw, truth)
        metrics.update(trace_overhead(a.workload, raw["ops"]))
        spec = {m["name"]: m["unit"] for m in load_spec()["per_layer"]}
    else:
        metrics = {k: v for k, (v, _) in e2e.items()}
        spec = {m["name"]: m["unit"] for m in load_spec()["end_to_end"]}

    checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
    checks += check_results(a.workload, raw, truth)
    missing = [n for n in spec if metrics.get(n) is None]
    checks.append(("every reported metric was measured", not missing, f"missing {missing}"))
    correct = rc == 0 and all(ok for _, ok, _ in checks)

    for name, (value, unit) in e2e.items():
        print(f"metric {name} = {fmt(value)} {unit}")
    for name, t in tails.items():
        print(f"tail {name}: p{fmt(t['tail_pct'])} of {t['n']} samples")
    for name, ok, detail in checks:
        print(f"check {'PASSED' if ok else 'FAILED'}: {name}" + ("" if ok else f" ({detail})"))
    print(f"inputs sha256 {truth['digest']}  (generated in {gen_s:.2f} s)")

    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": metrics[n], "unit": u} for n, u in spec.items()
                          if n not in missing}}
    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "inputs_sha256": truth["digest"], "sizes": truth["sizes"], "gen_s": gen_s,
                "session_s": raw["extra"]["session_s"], "staging_s": raw["extra"]["staging_s"],
                "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
                "tails": tails, "ops": [[o["cls"], o["ms"], o["cpu_ms"], o["ok"], o["traced"]]
                                        for o in raw["ops"]],
                "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
                "result": result}
    if a.trace:
        artifact["per_layer"] = metrics
        artifact["span_self_time"] = span_summary(raw)
        artifact["spans"] = raw["spans"]
    with open(os.path.join(out_root, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if correct:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


if __name__ == "__main__":
    main()
