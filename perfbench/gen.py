"""Seeded input generators for the graft benchmark.

Every input a workload reads is generated here from the seed and staged as
parquet before the engine starts; the engine sees only the staged files.
Each generator also returns the analytic answers the checks compare the
engine's results with, and a digest of everything it staged, so that the
same seed provably gives identical inputs.
"""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
MIN_MS = 60_000
# 2024-01-01T00:00Z
DAY0 = 1_704_067_200_000

METRICS = 10
HOSTS = 25
REGIONS = 4
FILES_PER_INPUT = 4

# Sizes of each workload. The benchmark description in BENCHMARK.json and
# perfbench/NOTES.md quotes these.
SERVE = dict(days=2, step_ms=20 * MIN_MS, mor_metrics=2, mor_step_ms=5 * MIN_MS,
             rewrite_frac=0.10, rounds=100, meta_every=4, warm_rounds=1)
CURATE = dict(shards=4, docs=500, warm_docs=200, family_rate=0.04, warm_runs=4)


class Digest:
    """sha256 over every staged array, in staging order."""

    def __init__(self):
        self.h = hashlib.sha256()

    def add(self, *arrays):
        for a in arrays:
            if isinstance(a, (list, tuple)):
                for s in a:
                    self.h.update(s.encode("utf-8"))
                    self.h.update(b"\0")
            else:
                a = np.ascontiguousarray(a)
                self.h.update(str(a.dtype).encode())
                self.h.update(a.tobytes())

    def hexdigest(self):
        return self.h.hexdigest()


def series_population():
    """(metric, host, region) index of every series, metric-major."""
    m, h, r = np.meshgrid(np.arange(METRICS), np.arange(HOSTS), np.arange(REGIONS),
                          indexing="ij")
    return m.ravel(), h.ravel(), r.ravel()


def metric_name(i):
    return f"m{i}"


def host_name(i):
    return f"h{i:02d}"


def region_name(i):
    return f"r{i}"


def write_samples(out_dir, midx, hidx, ridx, times, values, digest):
    """Stage samples as parquet in the engine's input schema
    (name, labels{host, region}, time, value, valueStr)."""
    digest.add(midx, hidx, ridx, times, values)
    os.makedirs(out_dir, exist_ok=True)
    n = len(times)
    mnames = pa.array([metric_name(i) for i in range(METRICS)])
    hnames = pa.array([host_name(i) for i in range(HOSTS)])
    rnames = pa.array([region_name(i) for i in range(REGIONS)])
    for part, rows in enumerate(np.array_split(np.arange(n), FILES_PER_INPUT)):
        k = len(rows)
        items = np.empty(2 * k, dtype=object)
        items[0::2] = hnames.take(pa.array(hidx[rows])).to_numpy(zero_copy_only=False)
        items[1::2] = rnames.take(pa.array(ridx[rows])).to_numpy(zero_copy_only=False)
        labels = pa.MapArray.from_arrays(
            pa.array(np.arange(0, 2 * k + 1, 2, dtype=np.int32)),
            pa.array(np.tile(np.array(["host", "region"], dtype=object), k)),
            pa.array(items, type=pa.string()))
        table = pa.table({
            "name": mnames.take(pa.array(midx[rows])),
            "labels": labels,
            "time": pa.array(times[rows], type=pa.int64()),
            "value": pa.array(values[rows], type=pa.float64()),
            "valueStr": pa.nulls(k, type=pa.string()),
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{part}.parquet"))


def write_props(path, props):
    with open(path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")


# ------------------------------------------------------------------- serve

# one round of the serve loop: every class once, in a fixed order, so every
# run issues the same class sequence; the seed picks each query's parameters.
# The low-weight `meta` class closes the first of every `meta_every` rounds.
SERVE_ROUND = ["series_read", "rollup_agg", "raw_agg", "label_scan", "mor_read"]


def gen_serve(seed, out):
    """An append-only table of 1,000 series over two days, a merge-on-read
    table with ~10% rewrites and one tombstone, and a seeded query plan
    with the analytic answer to every query."""
    c = SERVE
    rng = np.random.default_rng([seed, 2])
    d = Digest()
    midx, hidx, ridx = series_population()
    nser = len(midx)
    step = c["step_ms"]
    ts = c["days"] * DAY_MS // step
    times = DAY0 + np.arange(ts, dtype=np.int64) * step
    values = rng.integers(0, 1000, size=(nser, ts)).astype(np.float64)
    write_samples(os.path.join(out, "main"), np.repeat(midx, ts), np.repeat(hidx, ts),
                  np.repeat(ridx, ts), np.tile(times, nser), values.ravel(), d)

    # merge-on-read table: the first metrics over day 0
    mor = midx < c["mor_metrics"]
    mm, mh, mr = midx[mor], hidx[mor], ridx[mor]
    mstep = c["mor_step_ms"]
    mts = DAY_MS // mstep
    mtimes = DAY0 + np.arange(mts, dtype=np.int64) * mstep
    mvals = rng.integers(0, 1000, size=(len(mm), mts)).astype(np.float64)
    write_samples(os.path.join(out, "mor_base"), np.repeat(mm, mts), np.repeat(mh, mts),
                  np.repeat(mr, mts), np.tile(mtimes, len(mm)), mvals.ravel(), d)
    flat = mvals.ravel().copy()
    rw = np.sort(rng.choice(flat.size, int(flat.size * c["rewrite_frac"]), replace=False))
    flat[rw] = flat[rw] + rng.integers(1, 1000, size=rw.size)
    write_samples(os.path.join(out, "mor_rewrites"), np.repeat(mm, mts)[rw],
                  np.repeat(mh, mts)[rw], np.repeat(mr, mts)[rw],
                  np.tile(mtimes, len(mm))[rw], flat[rw], d)
    final = flat.reshape(mvals.shape)
    live = np.ones_like(final, dtype=bool)
    del_metric = int(rng.integers(c["mor_metrics"]))
    del_hour = int(rng.integers(24))
    del_lo = DAY0 + del_hour * HOUR_MS
    del_hi = del_lo + HOUR_MS - 1
    live[np.ix_(mm == del_metric, (mtimes >= del_lo) & (mtimes <= del_hi))] = False
    # a rewritten sample outside the tombstone, read back by the checks
    alive_rw = [i for i in rw if live.ravel()[i]]
    probe = alive_rw[int(rng.integers(len(alive_rw)))]
    ps, pt = divmod(int(probe), mts)
    props = dict(
        warm_queries=c["warm_rounds"] * (len(SERVE_ROUND) + 1),
        mor_from=DAY0, mor_to=DAY0 + DAY_MS - 1,
        mor_metrics=",".join(metric_name(i) for i in range(c["mor_metrics"])),
        mor_delete=f"{metric_name(del_metric)},{del_lo},{del_hi}",
        mor_rewrite_probe=(f"{metric_name(mm[ps])},{host_name(mh[ps])},{region_name(mr[ps])},"
                           f"{mtimes[pt]},{final[ps, pt]!r}"))

    mor_expected = {}
    for m in range(c["mor_metrics"]):
        sel = (mm == m)[:, None] & live
        mor_expected[metric_name(m)] = {"rows": int(sel.sum()), "sum": float(final[sel].sum())}

    plan, expected = [], []
    # the warm-up rounds after the timed ones, which no run reaches, warm
    # the set-up with every class
    for r in range(c["rounds"] + c["warm_rounds"]):
        meta = ["meta"] if r % c["meta_every"] == 0 or r >= c["rounds"] else []
        for cls in SERVE_ROUND + meta:
            row, exp = serve_query(cls, rng, values, times, midx, hidx, ridx, mor_expected)
            expected.append(exp)
            plan.append("\t".join([str(len(plan)), cls] + [str(x) for x in row]))
    with open(os.path.join(out, "plan.tsv"), "w") as f:
        f.write("\n".join(plan) + "\n")
    d.add(plan)
    write_props(os.path.join(out, "params.properties"), props)
    return {"digest": d.hexdigest(), "expected": expected, "mor": mor_expected,
            "sizes": {"main_samples": int(values.size), "mor_samples": int(mvals.size),
                      "mor_rewrites": int(rw.size), "plan_queries": len(plan)}}


def serve_query(cls, rng, values, times, midx, hidx, ridx, mor_expected):
    """Parameters of one query of class `cls` and its analytic answer."""
    step = times[1] - times[0]
    if cls == "series_read":
        s = int(rng.integers(len(midx)))
        span = 6 * HOUR_MS // step
        a = int(rng.integers(len(times) - span + 1))
        lo, hi = int(times[a]), int(times[a] + 6 * HOUR_MS - 1)
        v = values[s, a:a + span]
        return ([metric_name(midx[s]), host_name(hidx[s]), region_name(ridx[s]), lo, hi],
                {"rows": len(v), "sum.v": float(v.sum())})
    if cls == "rollup_agg":
        m = int(rng.integers(METRICS))
        v = values[midx == m]
        lo, hi = int(times[0]), int(times[-1] + step - 1)
        days = (hi - lo + 1) // DAY_MS
        per_day = v.reshape(len(v), days, -1)
        return ([metric_name(m), lo, hi],
                {"rows": len(v) * days, "sum.count": float(v.size), "sum.sum": float(v.sum()),
                 "max.max": float(v.max()), "sum.max": float(per_day.max(axis=2).sum())})
    if cls == "raw_agg":
        m, r = int(rng.integers(METRICS)), int(rng.integers(REGIONS))
        day = int(rng.integers(len(times) * step // DAY_MS))
        per_day = DAY_MS // step
        v = values[(midx == m) & (ridx == r), day * per_day:(day + 1) * per_day]
        hourly = v.reshape(len(v), 24, -1)
        lo = int(times[0]) + day * DAY_MS
        return ([metric_name(m), region_name(r), lo, lo + DAY_MS - 1],
                {"rows": len(v) * 24, "sum.max": float(hourly.max(axis=2).sum()),
                 "sum.avg": float(hourly.mean(axis=2).sum())})
    if cls == "label_scan":
        h = int(rng.integers(HOSTS))
        a = int(rng.integers(len(times) - DAY_MS // step + 1))
        lo, hi = int(times[a]), int(times[a] + DAY_MS - 1)
        v = values[hidx == h, a:a + DAY_MS // step]
        return ([host_name(h), lo, hi],
                {"rows": METRICS, "sum.n": float(v.size), "sum.s": float(v.sum())})
    if cls == "mor_read":
        m = metric_name(int(rng.integers(len(mor_expected))))
        return ([m, DAY0, DAY0 + DAY_MS - 1],
                {"rows": mor_expected[m]["rows"], "sum.v": mor_expected[m]["sum"]})
    assert cls == "meta", cls
    return [], {"values": [host_name(i) for i in range(HOSTS)]}


# ------------------------------------------------------------------ curate

STOP_EN = ["the", "a", "of", "and", "to", "in", "is"]
STOP_OTHER = ["el", "los", "que", "der", "und", "ist", "les", "et", "dans"]


def vocabulary(rng, n=400):
    syll = ["ka", "lo", "mi", "ter", "an", "so", "ri", "ven", "ul", "de", "pra", "tor",
            "ex", "qui", "mon", "sa", "bel", "gro", "nu", "fi"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(syll[int(i)] for i in rng.integers(len(syll), size=k)))
    return sorted(words)


def make_doc(rng, vocab, zipf, n_words, stop_rate, stops):
    content = vocab[rng.choice(len(vocab), size=n_words, p=zipf)]
    is_stop = rng.random(n_words) < stop_rate
    words = np.where(is_stop, np.array(stops, dtype=object)[rng.integers(len(stops), size=n_words)],
                     content)
    return list(words)


def edit(rng, vocab, words, rate):
    """Word-level edit: replace `rate` of the words with random content words."""
    words = list(words)
    for i in np.nonzero(rng.random(len(words)) < rate)[0]:
        words[i] = vocab[int(rng.integers(len(vocab)))]
    return words


def render(words):
    out = []
    for i, w in enumerate(words):
        out.append(w + ("." if i % 17 == 16 else ""))
    return " ".join(out)


def gen_corpus(rng, vocab, zipf, n_docs, base_id, family_rate):
    """n_docs docs: a mix of good and low-quality prose, plus planted
    near-duplicate families (2-4 members, 3% word edits) that all pass
    the quality gate."""
    docs, families = [], []
    n_fam_docs = int(n_docs * family_rate)
    while len(docs) < n_docs - n_fam_docs:
        kind = rng.random()
        if kind < 0.15:  # short, stopword-free: the gate drops it
            words = make_doc(rng, vocab, zipf, int(rng.integers(5, 20)), 0.0, STOP_EN)
        elif kind < 0.25:  # other-language stopwords
            words = make_doc(rng, vocab, zipf, int(rng.integers(40, 160)), 0.3, STOP_OTHER)
        else:
            words = make_doc(rng, vocab, zipf, int(rng.integers(40, 160)), 0.3, STOP_EN)
        docs.append(words)
    while len(docs) < n_docs:
        base = make_doc(rng, vocab, zipf, int(rng.integers(90, 160)), 0.35, STOP_EN)
        size = min(int(rng.integers(2, 5)), n_docs - len(docs))
        fam = []
        for j in range(size):
            fam.append(len(docs))
            docs.append(base if j == 0 else edit(rng, vocab, base, 0.03))
        if size >= 2:
            families.append(fam)
    order = rng.permutation(n_docs)
    pos = np.empty(n_docs, dtype=np.int64)
    pos[order] = np.arange(n_docs)
    ids = base_id + np.arange(n_docs, dtype=np.int64)
    texts = [render(docs[i]) for i in order]
    fams = [sorted(int(ids[pos[i]]) for i in f) for f in families]
    return ids, texts, fams


def write_docs(out_dir, ids, texts, digest):
    digest.add(ids, texts)
    os.makedirs(out_dir, exist_ok=True)
    for part, rows in enumerate(np.array_split(np.arange(len(ids)), FILES_PER_INPUT)):
        pq.write_table(pa.table({"doc_id": pa.array(ids[rows], type=pa.int64()),
                                 "text": pa.array([texts[i] for i in rows], type=pa.string())}),
                       os.path.join(out_dir, f"part-{part}.parquet"))


def gen_curate(seed, out):
    c = CURATE
    rng = np.random.default_rng([seed, 3])
    d = Digest()
    vocab = np.array(vocabulary(rng), dtype=object)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    props = dict(warm_runs=c["warm_runs"], shards=c["shards"])
    shards = {}
    for s in range(c["shards"]):
        ids, texts, fams = gen_corpus(rng, vocab, zipf, c["docs"], (s + 1) * 1_000_000,
                                      c["family_rate"])
        write_docs(os.path.join(out, "shards", str(s)), ids, texts, d)
        props[f"shard.{s}.docs"] = len(ids)
        shards[s] = {"ids": [int(i) for i in ids], "families": fams}
    ids, texts, _ = gen_corpus(rng, vocab, zipf, c["warm_docs"], 0, c["family_rate"])
    write_docs(os.path.join(out, "warm"), ids, texts, d)
    write_props(os.path.join(out, "params.properties"), props)
    return {"digest": d.hexdigest(), "shards": shards,
            "sizes": {"docs_per_shard": c["docs"], "shards": c["shards"],
                      "families_per_shard": [len(shards[s]["families"]) for s in shards]}}


GENERATORS = {"serve": gen_serve, "curate": gen_curate}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)
