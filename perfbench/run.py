#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source into .bench_build/ (see build.py); each seed's inputs are
generated once into .bench_build/inputs/ (see gen.py), outside every timed
window. Each run gets a fresh directory under .bench_build/runs/ that holds
the JVM's java.io.tmpdir, its log, result and spans.

The first run on a build also runs every workload once for one unit to dump
the classes each loads into a class-data archive next to the build; every
measured run maps its workload's archive, which takes about half of the
JVM's cold start off each run.

Output: one line with the machine conditions of the run, then the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). Workloads, metrics and the layer each
per-layer metric belongs to are described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402

# Input sizes per workload. The corpus is a fifth of sf0.1: a pass's time is
# set by Spark's per-query floor, so a larger corpus would mostly lengthen
# input generation and the DuckDB oracles.
SIZES = {
    "hpo_short_trials": dict(docs=200, vecs=200, events=1000, users=100),
    "corpus_day_n": dict(docs=1000, vecs=500, events=1000, users=100),
    "stream_drain": dict(docs=200, vecs=500, events=20000, users=300),
}
HEAP = "3g"
# A fixed young generation keeps the peak resident set from following G1's
# adaptive eden sizing from run to run.
YOUNG = "256m"
# A run must exit within 180 s; keep room for the checks after the JVM.
JVM_DEADLINE_S = 165
# Training all archives happens once per build, in its first run.
TRAIN_DEADLINE_S = 600
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def bench_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def launch(build_dir, args, seconds, cds, inputs, run_dir, sizes, deadline):
    """Run the harness JVM once with its own tmpdir; raise if it fails."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx" + HEAP, "-Xmn" + YOUNG, "-Xss4m", "-XX:+UseG1GC"] + cds + [
           "--add-modules", "jdk.incubator.vector",
           "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/{}=ALL-UNNAMED".format(p)]
    cmd += ["-cp", build.classpath(os.path.join(build_dir, "prog.jar")),
            "perfbench.Harness", args.workload, str(args.seed), str(seconds),
            str(args.trace), inputs, run_dir,
            str(sizes["docs"]), str(sizes["events"])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF"):
        env.pop(k, None)
    try:
        with open(os.path.join(run_dir, "harness.log"), "wb") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                    env=env)
            try:
                rc = proc.wait(timeout=max(10.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("harness exceeded its deadline, see " + run_dir)
        if rc != 0:
            raise SystemExit("harness failed (exit {}), see {}/harness.log".format(rc, run_dir))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def train_archives(build_dir, spec, args, deadline):
    """Once per build, before its first measured run: run every workload for
    one unit with -XX:ArchiveClassesAtExit, so that every measured run maps a
    class-data archive of the classes its workload loads. A workload whose
    archive could not be made runs without one."""
    marker = os.path.join(build_dir, ".trained")
    if os.path.exists(marker):
        return
    for w in [w["name"] for w in spec["workloads"]]:
        archive = os.path.join(build_dir, "cds-{}.jsa".format(w))
        partial = "{}.partial-{}".format(archive, os.getpid())
        train = argparse.Namespace(workload=w, seed=args.seed, trace=0)
        inputs = gen.generate(os.path.join(os.path.dirname(build_dir), "inputs"),
                              args.seed, SIZES[w])
        train_dir = os.path.join(build_dir, "training-" + w)
        shutil.rmtree(train_dir, ignore_errors=True)
        os.makedirs(train_dir)
        try:
            launch(build_dir, train, 0, ["-XX:ArchiveClassesAtExit=" + partial], inputs,
                   train_dir, SIZES[w], deadline)
            os.replace(partial, archive)
        except SystemExit as e:
            print("class-data archive for {} not made: {}".format(w, e), file=sys.stderr)
        finally:
            shutil.rmtree(train_dir, ignore_errors=True)
            if os.path.exists(partial):
                os.remove(partial)
    open(marker, "w").close()


def run_harness(build_dir, args, inputs, run_dir, sizes, deadline):
    """The measured run, mapping the workload's class-data archive if the
    build has one."""
    archive = os.path.join(build_dir, "cds-{}.jsa".format(args.workload))
    cds = ["-XX:SharedArchiveFile=" + archive] if os.path.isfile(archive) else []
    launch(build_dir, args, args.seconds, cds, inputs, run_dir, sizes, deadline)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def oracle_failures(root, res, inputs, run_dir):
    """Compare each oracle op's landed rows with DuckDB on the generated
    tables, with the normalization of tools/check.py. The oracle's rows are
    computed once per input set and kept as a hash."""
    if not res["oracle_sql"]:
        return []
    import duckdb
    sys.path.insert(0, os.path.join(root, "tools"))
    from check import norm_rows
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute("CREATE VIEW {0} AS SELECT * FROM read_parquet('{1}/{0}.parquet')"
                    .format(t, inputs))

    def rows_hash(q):
        cols, rows = norm_rows([d[0] for d in q.description], q.fetchall())
        return hashlib.sha256(repr((cols, rows)).encode()).hexdigest(), len(rows)

    fails = []
    for name, sql in sorted(res["oracle_sql"].items()):
        cached = os.path.join(inputs, "oracle-{}.json".format(name))
        if os.path.isfile(cached):
            with open(cached) as f:
                want = tuple(json.load(f))
        else:
            want = rows_hash(con.execute(sql))
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        for p in res["oracle_passes"]:
            files = glob.glob(os.path.join(run_dir, "checks", "pass{}".format(p), name, "*.parquet"))
            if not files:
                fails.append("{} pass {}: no output landed".format(name, p))
                continue
            got = rows_hash(con.execute("SELECT * FROM read_parquet({})".format(
                json.dumps(files).replace('"', "'"))))
            if got[0] != want[0]:
                fails.append("{} pass {}: {} rows differ from the DuckDB oracle's {}"
                             .format(name, p, got[1], want[1]))
    return fails


def digest_failures(root, args, sizes, digests):
    """Engine-only outputs must repeat across runs of the same seed."""
    if not digests:
        return []
    d = os.path.join(root, ".bench_build", "digests")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "{}-seed{}-{}.json".format(
        args.workload, args.seed, "-".join(str(sizes[k]) for k in sorted(sizes))))
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as f:
            json.dump(digests, f, sort_keys=True)
        os.replace(path + ".tmp", path)
        return []
    with open(path) as f:
        known = json.load(f)
    return ["{}: digest differs from an earlier run of seed {}".format(k, args.seed)
            for k, v in digests.items() if k in known and known[k] != v]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    spec = bench_spec(root)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit("unknown workload " + args.workload)
    sizes = SIZES[args.workload]

    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    prog = build.ensure(root, os.path.join(build_dir, "build.log"))
    train_archives(prog, spec, args, time.time() + TRAIN_DEADLINE_S)
    # building and training may take long; the run's own 180 s start after
    t_run = time.time() if time.time() - t_start > 60 else t_start
    inputs = gen.generate(os.path.join(build_dir, "inputs"), args.seed, sizes)
    run_dir = os.path.join(build_dir, "runs", "{}-seed{}-t{}-{}-{}".format(
        args.workload, args.seed, args.trace, os.getpid(), time.time_ns()))
    os.makedirs(run_dir)
    try:
        res = run_harness(prog, args, inputs, run_dir, sizes,
                          t_run + JVM_DEADLINE_S)
        failures = list(res["failures"])
        failures += oracle_failures(root, res, inputs, run_dir)
        failures += digest_failures(root, args, sizes, res["digests"])
    finally:
        for sub in ("corpus", "checks", "warehouse"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    with open(os.path.join(run_dir, "failures.json"), "w") as f:
        json.dump(failures, f, indent=1)

    kind = "per_layer" if args.trace else "end_to_end"
    measured = res[kind]
    metrics = {}
    for m in spec[kind]:
        # a per-layer metric of a layer the workload does not run reads 0;
        # an end-to-end metric is always measured
        v = measured.get(m["name"], None if kind == "end_to_end" else 0.0)
        if v is None:
            raise SystemExit("no value for " + m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"machine": res["machine"], "setup_s_each": res["setup_s_each"],
                      "failures": failures[:5], "run_dir": os.path.relpath(run_dir, root)}))
    print(json.dumps({"correct": not failures, "attempted": int(res["attempted"]),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
