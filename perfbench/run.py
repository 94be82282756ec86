#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the review-clustering pipeline and
the query registry.

    python3 perfbench/run.py --workload reviews_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the
program and the harness with sbt (offline); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed
under `.bench_build/`, outside any timed span. One JVM then sets up,
makes a cold pass and measures warm passes for `--seconds`.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The lines before it
name every figure with its unit. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = {
    # cluster-heavy: short reviews, a 400-word dictionary with 16 planted
    # topics, k=16, Parquet sinks
    "reviews_wide": dict(kind="reviews", n_reviews=1500, tok_lo=20, tok_hi=120,
                         n_dict=400, topics=16, p_dict=0.3, k=16, max_iter=3),
    # the registry's pipeline-decomposition, pair/kNN and I/O queries
    "registry_mix": dict(kind="registry", n_docs=1000, n_emb=400, n_cust=1000,
                         n_events=5000),
}

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "docs_per_s": "1/s",
             "call_p50_s": "s", "call_p90_s": "s", "live_heap_mb": "MB"}
# what each end-to-end metric is called on each kind of workload
ALIASES = {"reviews": {"pass_s": "pipeline_s"},
           "registry": {"pass_s": "registry_s", "call_p50_s": "query_p50_s",
                        "call_p90_s": "query_p90_s"}}

# The JVM flags Spark needs on JDK 17 outside spark-submit (the same set
# the repository's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

HEAP = "3g"
RUN_LIMIT_S = 170   # one run's wall, building excepted


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def die(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    h = hashlib.sha1()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project", "build.properties")]
    files = [os.path.join(root, t) for t in tops]
    for d in (os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")):
        for dirpath, dirnames, names in os.walk(d):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles the program and the harness; returns the runtime classpath."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env, timeout=850)
    with open(log) as f:
        tail = f.read().strip().splitlines()
    if r.returncode != 0 or not tail:
        die("build failed; see " + log)
    cp = tail[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def inputs(build_dir, workload, seed, shape):
    """Generates this workload's inputs for the seed (once per checkout)."""
    base = os.path.join(build_dir, "inputs")
    d = os.path.join(base, f"{workload}-{seed}")
    done = os.path.join(d, "ledger.json")
    if not os.path.exists(done):
        if os.path.isdir(base):
            for old in os.listdir(base):
                if old.startswith(workload + "-"):
                    shutil.rmtree(os.path.join(base, old))
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if shape["kind"] == "reviews":
            gen.reviews(tmp, seed, shape["n_reviews"], shape["tok_lo"], shape["tok_hi"],
                        shape["n_dict"], shape["topics"], shape["p_dict"])
        else:
            gen.registry_tables(tmp, seed, shape["n_docs"], shape["n_emb"],
                                shape["n_cust"], shape["n_events"])
        os.rename(tmp, d)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.path.dirname(HERE)
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            die(f"no {need} beside perfbench/: run from a checkout of the repository")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    shape = WORKLOADS[args.workload]
    data = inputs(build_dir, args.workload, args.seed, shape)
    work = os.path.join(build_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    cpus = len(os.sched_getaffinity(0))
    hargs = [f"workload={args.workload}", f"input={data}", f"work={work}",
             f"seconds={args.seconds}", f"trace={args.trace}", f"seed={args.seed}",
             f"cpus={cpus}"]
    if shape["kind"] == "reviews":
        hargs += [f"k={shape['k']}", f"max_iter={shape['max_iter']}"]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Harness"] + hargs)
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"harness exceeded {RUN_LIMIT_S} s; see {log}")
    result_file = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"harness failed (exit {r.returncode}); see {log}")
    with open(result_file) as f:
        res = json.load(f)

    jvm_s = time.time() - t0
    failures = list(res["failures"])
    failed = res["failed"]
    if shape["kind"] == "registry":
        # the repository's DuckDB comparison on the first round's results
        chk = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data,
                              os.path.join(work, "oracle")], capture_output=True, text=True,
                             stdin=subprocess.DEVNULL, timeout=120)
        bad = [ln for ln in chk.stdout.splitlines() if ln.startswith("FAIL")]
        if chk.returncode != 0 and not bad:
            bad = [f"tools/check.py exited {chk.returncode}: {chk.stderr.strip()[-300:]}"]
        failures += bad
        failed += len(bad)
        print("oracle (tools/check.py): " + (chk.stdout.strip().splitlines() or ["no output"])[-1])
    attempted = res["attempted"]

    e2e = res["e2e"]
    samples = res["samples"]
    print(f"workload {args.workload} seed {args.seed}: {res['passes']} passes in one JVM "
          f"({samples['passes']} measured warm passes, {samples['calls']} call samples, "
          f"{time.time() - t0:.1f} s wall, {jvm_s:.1f} s of it in the JVM: {res['jvm_phases_s']})")
    for name, unit in E2E_UNITS.items():
        alias = ALIASES[shape["kind"]].get(name)
        print(f"  {name} = {e2e[name]:.6g} {unit}" + (f"  ({alias})" if alias else ""))
    cold_name = "cold_pipeline_s" if shape["kind"] == "reviews" else "first round"
    print(f"  cold_pass_s = {res['cold_pass_s']:.6g} s  ({cold_name}; part of setup_s)")
    print(f"  failed_frac = {failed / attempted:.6g} ({failed} of {attempted})")
    print(f"  digest_mismatch_frac = "
          f"{res['digest_mismatch'] / max(1, res['digest_compared']):.6g} "
          f"({res['digest_mismatch']} of {res['digest_compared']} compared outputs)")
    print(f"  lloyd iterations per pass = {res['iterations']}")
    print("  pass walls (s): " + ", ".join(f"{w:.2f}" for w in res["pass_walls"]))
    for name, secs in res["info"].get("substrate_build_s", {}).items():
        print(f"  {name} built in {secs:.3f} s")
    slowest = sorted(res["call_medians"].items(), key=lambda kv: -kv[1])[:8]
    print("  slowest calls (median s): " + ", ".join(f"{n} {s:.3f}" for n, s in slowest))
    for msg in failures:
        print(f"  FAILED CHECK: {msg}")

    # the untraced run of a seed is kept so a traced run of the same seed
    # can report the tracing overhead
    untraced = os.path.join(build_dir, "untraced", f"{args.workload}-{args.seed}.json")
    if args.trace:
        layer = res["layer"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layer.items())}
        for k, m in metrics.items():
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["pass_s"]
            over = layer["trace.pass_s"] - base
            print(f"  tracing overhead = {over:.6g} s ({over / base:.2%} of the untraced pass_s {base:.6g} s)")
        else:
            print("  tracing overhead: run this seed with --trace 0 first")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        os.makedirs(os.path.dirname(untraced), exist_ok=True)
        with open(untraced, "w") as f:
            json.dump(e2e, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
