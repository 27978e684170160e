"""Pure reductions for the benchmark: order statistics, planted-truth pair
recall, failure accounting, result digests, the MinHash-LSH pair check and
per-layer trace attribution.
Everything here is plain Python over plain data so it is unit-tested
without Spark (see test_benchlib.py)."""
import hashlib
import statistics
from collections import Counter

# Layers of the engine, in pipeline order, as the trace names its spans.
LAYERS = [
    "featurize", "cand.exact", "cand.caption_lsh", "cand.phash_hamming",
    "cand.containment", "cc", "naming", "resolve",
    "state.hash_lookup", "state.hash_merge", "state.commit",
    "ops.minhash_lsh", "ops.simhash", "ops.containment", "ops.jaccard",
]
# Counters the trace file carries for every span.
SPAN_COUNTERS = ["wall_s", "self_s", "jobs", "task_s", "cpu_s", "gc_s",
                 "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                 "sched_wait_s"]
# Per-layer counters reported as metrics (a subset, to stay within the
# benchmark's metric budget; the trace file has all of SPAN_COUNTERS).
LAYER_METRICS = ["wall_s", "jobs", "task_s", "cpu_s", "shuffle_write_mb",
                 "sched_wait_s", "rows_out"]
# Layer counters the benchmark reads from the layers' own outputs.
LAYER_EXTRAS = [
    "cand.caption_lsh.salted_buckets", "cand.caption_lsh.salt_groups",
    "cand.phash_hamming.salted_buckets", "cand.phash_hamming.salt_groups",
    "cand.exact.edges_per_row", "cand.caption_lsh.edges_per_row",
    "cand.phash_hamming.edges_per_row", "cand.containment.edges_per_row",
    "cc.jobs_per_call", "state.hash_lookup.hit_ratio",
    "state.commit.write_mb", "state.commit.write_amp",
]
# MinHash-LSH must find every oracle pair at or above this Jaccard: 16 bands
# of 4 lanes find a pair of Jaccard 0.9 with probability 1 - (1 - 0.9^4)^16,
# i.e. all but ~4e-8 (DocOps); below it, down to the 0.8 threshold, a miss
# is the approximation the technique allows.
LSH_MUST_FIND = 0.9


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q2, q3) as statistics.quantiles(n=4) gives them (exclusive
    method); a single value is its own quartiles."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def spread(xs):
    """Interquartile range as a share of the median (0 when the median is
    0 and all values agree)."""
    q1, q2, q3 = quartiles(xs)
    if q2 == 0:
        return 0.0 if q1 == q3 else float("inf")
    return (q3 - q1) / abs(q2)


def pairs(n):
    """C(n, 2): pairs inside a group of n."""
    return n * (n - 1) // 2


def pair_scores(truth, cluster):
    """Planted-truth pair recall and precision of a clustering, from group
    counts only: with n_tc rows in (truth t, cluster c), true pairs are
    sum C(n_t,2), found pairs sum C(n_c,2), and correct pairs sum C(n_tc,2).
    No pair is materialized. Returns (recall, precision); 1.0 when the
    denominator is 0 (nothing to find / nothing claimed)."""
    both = Counter(zip(truth, cluster))
    t = Counter(truth)
    c = Counter(cluster)
    hit = sum(pairs(n) for n in both.values())
    true = sum(pairs(n) for n in t.values())
    found = sum(pairs(n) for n in c.values())
    return (hit / true if true else 1.0), (hit / found if found else 1.0)


def fail_frac(runs):
    """Share of runs that failed: an error, a leak, or a failed check."""
    if not runs:
        return 1.0
    return sum(1 for r in runs if not r["ok"]) / len(runs)


def canon_rows(df):
    """Rows of a pandas frame as sorted string tuples, columns sorted by
    name -- the comparison tools/compare_oracle.py makes."""
    df = df[sorted(df.columns)]
    return sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))


def digest(df):
    """(rows, columns, sha256) of a frame in canonical form."""
    rows = canon_rows(df)
    h = hashlib.sha256("\n".join("|".join(r) for r in rows).encode()).hexdigest()
    return len(rows), tuple(sorted(df.columns)), h


def lsh_check(got, oracle):
    """Check MinHash-LSH pairs against the exact oracle. `got` is an iterable
    of (doc1, doc2); `oracle` maps each true pair (Jaccard >= threshold) to
    its Jaccard. Returns (outside, missed, missed_must): pairs found that the
    oracle lacks (the verify stage is exact, so any is a defect), oracle
    pairs not found, and those of the missed whose Jaccard is at least
    LSH_MUST_FIND."""
    got = set(got)
    outside = [p for p in got if p not in oracle]
    missed = [p for p in oracle if p not in got]
    must = [p for p in missed if oracle[p] >= LSH_MUST_FIND]
    return outside, missed, must


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of intervals."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                  if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(trace):
    """Per-span counters of one traced run.

    Spans nest (parent ids). A job belongs to the innermost span open at its
    submission; a task to the innermost span open at its launch. Time spent
    in the benchmark's own bookkeeping (`asides`) is excluded from every
    span's wall. For each span:
      wall_s        its duration minus the asides inside it
      self_s        wall_s minus the part of it its child spans cover
      sched_wait_s  wall_s not covered by any of its own tasks running
      jobs, task_s, cpu_s, gc_s, shuffle/spill: own jobs and tasks plus
                    those of its descendants
    Returns {span_id: {"name", "parent", counters...}}."""
    spans = {s["id"]: s for s in trace["spans"]}
    asides = [tuple(a) for a in trace["asides"]]

    def innermost(t):
        best = None
        for s in spans.values():
            if s["start_ms"] <= t <= s["end_ms"]:
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        return best

    def in_aside(t):
        return any(a <= t <= b for a, b in asides)

    own = {i: {"jobs": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
               "spill_mb": 0.0, "intervals": []} for i in spans}
    for _, submit in trace["jobs"]:
        s = innermost(submit)
        if s is not None and not in_aside(submit):
            own[s["id"]]["jobs"] += 1
    for launch, finish, run_ms, cpu_ns, gc_ms, sw, sr, spill in trace["tasks"]:
        s = innermost(launch)
        if s is None or in_aside(launch):
            continue
        o = own[s["id"]]
        o["task_s"] += run_ms / 1e3
        o["cpu_s"] += cpu_ns / 1e9
        o["gc_s"] += gc_ms / 1e3
        o["shuffle_write_mb"] += sw / 1e6
        o["shuffle_read_mb"] += sr / 1e6
        o["spill_mb"] += spill / 1e6
        o["intervals"].append((launch, finish))

    children = {i: [] for i in spans}
    for s in spans.values():
        if s["parent"] in children:
            children[s["parent"]].append(s["id"])

    def descendants(i):
        out = [i]
        for c in children[i]:
            out += descendants(c)
        return out

    result = {}
    for i, s in spans.items():
        lo, hi = s["start_ms"], s["end_ms"]
        wall = (hi - lo) - covered(asides, lo, hi)
        kids = [(spans[c]["start_ms"], spans[c]["end_ms"]) for c in children[i]]
        self_ms = (hi - lo) - covered(asides + kids, lo, hi)
        sub = descendants(i)
        tasks_cover = covered([iv for d in sub for iv in own[d]["intervals"]], lo, hi)
        r = {"name": s["name"], "parent": s["parent"],
             "wall_s": wall / 1e3,
             "self_s": self_ms / 1e3,
             "sched_wait_s": max(0.0, wall - tasks_cover) / 1e3}
        for k in ("jobs", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb"):
            r[k] = sum(own[d][k] for d in sub)
        result[i] = r
    return result


def job_drift(trace, untraced_jobs):
    """Jobs a traced run made beyond the untraced call's: those submitted
    inside a span and outside every aside, less one for each seal the traced
    run adds (note "trace.extra_seals"), less `untraced_jobs`. 0 when the
    traced run re-composes the pipeline from the same jobs."""
    spans = [(s["start_ms"], s["end_ms"]) for s in trace["spans"]]
    asides = [tuple(a) for a in trace["asides"]]
    jobs = sum(1 for _, t in trace["jobs"]
               if any(a <= t <= b for a, b in spans)
               and not any(a <= t <= b for a, b in asides))
    return jobs - int(trace["notes"].get("trace.extra_seals", 0)) - untraced_jobs


def layer_totals(spans):
    """Sum each layer's counters over its spans ({layer: counters}) and
    count its calls."""
    out = {}
    for r in spans.values():
        if r["name"] not in LAYERS:
            continue
        acc = out.setdefault(r["name"], {k: 0.0 for k in SPAN_COUNTERS})
        acc.setdefault("calls", 0)
        for k in SPAN_COUNTERS:
            acc[k] += r[k]
        acc["calls"] += 1
    return out


def unit_of(metric):
    """Unit of a per-layer metric, from its name."""
    last = metric.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last in ("jobs", "rows_out", "salted_buckets", "salt_groups", "jobs_per_call",
                "missed_pairs"):
        return "count"
    return "ratio"
