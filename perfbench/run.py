#!/usr/bin/env python3
"""Dedup engine benchmark: one workload, one seed, one closed-loop caller.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark JVM from
source into .bench_build/perfbench (rebuilt only when a source changes),
generates the seed's input, warms up, measures pipeline calls for S seconds
on local[4], checks every run's output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics from traced
runs and writes the span trace to .bench_build/perfbench/traces/.
See perfbench/README.md."""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402

WORKLOADS = ["images_incremental", "docs"]
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(OUT, "classes.jsa")
RUN_BUDGET_S = 170  # every run but a building one ends within 180 s
HEAP = "2g"
MIN_RECALL = 0.99
# MinHash-LSH is approximate by design: its verify stage is exact, so it may
# return no pair outside the oracle's, but blocking may miss a true pair
# whose Jaccard is near the 0.8 threshold. It is checked with
# benchlib.lsh_check against q_jaccard_pairs' oracle, which gives every true
# pair's Jaccard (the two oracles list the same pairs).
LSH, JACCARD = "q_minhash_lsh_pairs", "q_jaccard_pairs"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
E2E_UNITS = {"setup_s": "s", "run_s": "s", "rows_per_s": "1/s",
             "pass_frac": "ratio", "cpu_s": "s", "shuffle_write_mb": "MB",
             "jobs": "count", "peak_rss_mb": "MB", "recall": "ratio"}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    project's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    die("no Spark jars: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        die("engine sources (src/main/scala) not found; run from a full checkout")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                                     recursive=True))


def build(jars):
    """Compile engine + benchmark with scalac and pack the classes into
    OUT/perfbench.jar, skipped when the sources hash to the stamp of the
    last build. A rebuild drops the class-data archive (see run_jvm)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    jar = os.path.join(OUT, "perfbench.jar")
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    for f in (stamp_file, jar, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    p = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed", 3)
    # the JVM's class-data archive takes jars on the class path, not
    # directories
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


def run_jvm(jar, jars, args, work, deadline):
    # the heap grows on demand up to HEAP, so the peak RSS follows what the
    # program allocates
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
           "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    # Class-data sharing: the first invocation after a build dumps the
    # classes it loaded into ARCHIVE as it exits; later ones map it, which
    # takes several seconds of class loading off set-up (README, Set-up).
    dump = None
    if os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    else:
        dump = f"{ARCHIVE}.{os.getpid()}.tmp"
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if dump and os.path.exists(dump):
        if rc == 0:
            os.replace(dump, ARCHIVE)
        else:
            os.remove(dump)
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        tail = open(log_path).read()[-4000:]
        sys.stderr.write(tail)
        die("benchmark JVM " + ("timed out" if rc is None else f"exited {rc}"), 4)
    return json.load(open(os.path.join(work, "result.json")))


def read_parquet(path, columns=None):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return pd.concat([pd.read_parquet(f, columns=columns) for f in files],
                     ignore_index=True)


class Checker:
    """Per-run output checks; reference data is read once."""

    def __init__(self, res):
        self.res = res
        self.wl = res["workload"]
        d = res["input_dir"]
        if self.wl == "images_incremental":
            truth = read_parquet(os.path.join(d, "input"), ["image_id", "truth_cluster"])
            self.truth = dict(zip(truth["image_id"], truth["truth_cluster"]))
            self.reference = bl.digest(read_parquet(os.path.join(d, "reference_actions")))
        else:
            import duckdb
            con = duckdb.connect()
            con.sql("CREATE VIEW documents AS SELECT * FROM "
                    f"'{os.path.join(d, 'docs', 'documents.parquet')}'")
            self.oracle = {q: bl.digest(con.sql(sql).df())
                           for q, sql in res["finish"]["oracle_sql"].items() if q != LSH}
            jac = con.sql(res["finish"]["oracle_sql"][JACCARD]).df()
            jaccard = {(a, b): i / u for a, b, i, u in
                       zip(jac["doc1"], jac["doc2"], jac["n_inter"], jac["n_union"])}
            lsh = con.sql(res["finish"]["oracle_sql"][LSH]).df()
            # a true pair q_jaccard_pairs lacks counts as one LSH must find
            self.lsh_oracle = {p: jaccard.get(p, 1.0) for p in zip(lsh["doc1"], lsh["doc2"])}

    def check(self, run):
        """Returns (problems, recall). On `docs` the recall is
        q_minhash_lsh_pairs' share of the oracle's pairs (the other queries
        must equal their oracle); the check also sets run["lsh_missed"]."""
        if run["error"]:
            return [run["error"]], 0.0
        problems = []
        if run["leaked_rdds"]:
            problems.append(f"{run['leaked_rdds']} persisted RDDs leaked")
        out = run["out"]
        if self.wl == "docs":
            for q, want in self.oracle.items():
                if bl.digest(read_parquet(os.path.join(out, q))) != want:
                    problems.append(f"{q} differs from the oracle")
            got = read_parquet(os.path.join(out, LSH), ["doc1", "doc2"])
            pairs = list(zip(got["doc1"], got["doc2"]))
            outside, missed, must = bl.lsh_check(pairs, self.lsh_oracle)
            run["lsh_missed"] = len(missed)
            if len(set(pairs)) != len(pairs):
                problems.append(f"{LSH}: {len(pairs) - len(set(pairs))} duplicate pairs")
            if outside or must:
                problems.append(f"{LSH}: {len(outside)} pairs outside the oracle, "
                                f"{len(must)} missed with Jaccard >= {bl.LSH_MUST_FIND}")
            return problems, 1.0 - len(missed) / max(1, len(self.lsh_oracle))
        actions = read_parquet(glob.glob(os.path.join(out, "state/actions/data/snap-*"))[0])
        if bl.digest(actions) != self.reference:
            problems.append("actions differ from Dedup.run on the same input")
        fin = self.res["finish"]
        for k in ("cache_hits", "hashed_rows"):
            if run[k] != fin["expected_" + k]:
                problems.append(f"{k} {run[k]} != {fin['expected_' + k]}")
        if len(actions) != len(self.truth):
            problems.append(f"{len(actions)} action rows for {len(self.truth)} input rows")
        truth = [self.truth.get(i) for i in actions["image_id"]]
        recall, precision = bl.pair_scores(truth, list(actions["cluster_id"]))
        if recall < MIN_RECALL or precision < MIN_RECALL:
            problems.append(f"pair recall {recall:.4f} precision {precision:.4f}")
        return problems, recall


def e2e_metrics(res, runs):
    timed = [r for r in runs if not r["traced"]]
    run_s = bl.median([r["wall_s"] for r in timed])
    setup_s = res["session_s"] + res["prepare_s"] + sum(res["warmup_s"])
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": res["input_rows"] / run_s,
        "pass_frac": 1.0 - bl.fail_frac(runs),
        "cpu_s": bl.median([r["cpu_s"] for r in timed]),
        "shuffle_write_mb": bl.median([r["shuffle_write_mb"] for r in timed]),
        "jobs": bl.median([r["jobs"] for r in timed]),
        "peak_rss_mb": res["peak_rss_mb"],
        "recall": bl.median([r["recall"] for r in runs]),
    }


def layer_metrics(runs):
    """Per-layer metrics: medians over the traced runs; a layer the workload
    never reaches reads 0."""
    traced = [r for r in runs if r["traced"]]
    per_run = []
    for r in traced:
        spans = bl.attribute(r["trace"])
        layers = bl.layer_totals(spans)
        notes = r["trace"]["notes"]
        m = {}
        for layer in bl.LAYERS:
            acc = layers.get(layer, {})
            for k in bl.LAYER_METRICS:
                m[f"{layer}.{k}"] = notes.get(f"{layer}.rows_out", 0.0) \
                    if k == "rows_out" else acc.get(k, 0.0)
        for k in bl.LAYER_EXTRAS:
            m[k] = notes.get(k, 0.0)
        cc = layers.get("cc")
        m["cc.jobs_per_call"] = cc["jobs"] / cc["calls"] if cc else 0.0
        m["ops.minhash_lsh.missed_pairs"] = r.get("lsh_missed", 0)
        if "state_write_bytes" in r:
            m["state.commit.write_mb"] = r["state_write_bytes"] / 1e6
            m["state.commit.write_amp"] = r["state_write_bytes"] / max(1, r["miss_bytes"])
        root = [s for s in spans.values() if s["name"] == "pipeline"]
        m["trace.total_s"] = root[0]["wall_s"] if root else r["wall_s"]
        per_run.append((m, spans))
    keys = per_run[0][0].keys()
    out = {k: bl.median([m[k] for m, _ in per_run]) for k in keys}
    untraced = [r["wall_s"] for r in runs if not r["traced"]]
    out["trace.run_s"] = bl.median(untraced)
    out["trace.overhead_frac"] = out["trace.total_s"] / out["trace.run_s"] - 1.0
    out["run.fail_frac"] = bl.fail_frac(runs)
    out["box.steal_frac"] = bl.median([r["steal"] for r in runs])
    out["box.idle_frac"] = bl.median([r["idle"] for r in runs])
    return out, [spans for _, spans in per_run]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    jar = build(jars)
    deadline = time.monotonic() + RUN_BUDGET_S
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_jvm = time.monotonic()
        res = run_jvm(jar, jars, args, work, deadline)
        t_check = time.monotonic()
        checker = Checker(res)
        runs = res["runs"]
        untraced_jobs = round(bl.median([r["jobs"] for r in runs if not r["traced"]]))
        for r in runs:
            try:
                problems, r["recall"] = checker.check(r)
            except Exception as e:  # a missing or unreadable output fails the run
                problems, r["recall"] = [f"check failed: {e!r}"], 0.0
            if r["traced"] and not r["error"]:
                drift = bl.job_drift(r["trace"], untraced_jobs)
                if drift:
                    problems.append(f"traced run made {drift:+d} jobs against the untraced "
                                    "call: its re-composition no longer matches the engine")
            r["ok"] = not problems
            r["problems"] = problems
        print(f"timing: jvm {t_check - t_jvm:.1f} s (finish {res['finish']['finish_s']:.1f} s), "
              f"checks {time.monotonic() - t_check:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for i, r in enumerate(runs):
        kind = "traced" if r["traced"] else "run"
        status = "ok" if r["ok"] else "FAILED: " + "; ".join(r["problems"])
        print(f"{kind} {i}: {r['wall_s']:.3f} s  jobs {r['jobs']}  "
              f"cpu {r['cpu_s']:.2f} s  steal {r['steal']:.3f}  "
              f"idle {r['idle']:.3f}  {status}")
    print(f"box steal median {bl.median([r['steal'] for r in runs]):.4f}, "
          f"idle median {bl.median([r['idle'] for r in runs]):.4f} "
          f"over {len(runs)} runs; input {res['input_rows']} rows")
    print("setup: session {:.2f} s, prepare {:.2f} s, warm-up {} s".format(
        res["session_s"], res["prepare_s"], " ".join(f"{x:.2f}" for x in res["warmup_s"])))
    if args.trace:
        metrics, spans = layer_metrics(runs)
        units = {}
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        with open(os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "runs": [list(s.values()) for s in spans],
                       "notes": [r["trace"]["notes"] for r in runs if r["traced"]]}, f)
        print(f"traced total {metrics['trace.total_s']:.3f} s vs run_s "
              f"{metrics['trace.run_s']:.3f} s: overhead {metrics['trace.overhead_frac']:+.3f}")
    else:
        metrics = e2e_metrics(res, runs)
        units = E2E_UNITS
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units.get(k, bl.unit_of(k))}")
    failed = sum(1 for r in runs if not r["ok"])
    print(json.dumps({
        "correct": failed == 0, "attempted": len(runs), "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, bl.unit_of(k))}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
