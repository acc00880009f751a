#!/usr/bin/env python3
"""graft benchmark: cold knowledge-graph builds with a kill-resume, and a
traced run that attributes time to each layer.

    python3 perfbench/run.py --workload kg_sf0.001 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (`sbt stage` in this directory); later runs reuse the
build while the sources are unchanged. Each run writes its seeded input
copy, store and logs under `.perfbench/` in the checkout, deletes the
input and store when it ends, and prints one JSON object as its last
line. See README.md.
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

import inputs as tables

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
GOLDENS = os.path.join(HERE, "goldens.json")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

# name -> input tables (a directory under data/) and page amplification
# (Pipeline.run `mult`). At x72 web has 108,000 pages, past
# Triples.SaltPageThreshold (100,000), so its builds take the salted
# two-phase evidence path that builds at the reference scales take; kg does
# not. A larger mult adds a few seconds to every web run, and the benchmark's
# runs must fit in a fixed time (see README.md, Sizing).
WORKLOADS = {
    "kg_sf0.001": {"data": "sf0.001", "mult": 1},
    "web_sf0.001_x72": {"data": "sf0.001", "mult": 72},
}
# How long a harness JVM may take before it is killed and the run fails.
# A traced JVM loops query rounds for --seconds after its build and layers.
UNTRACED_TIMEOUT_S = 170
TRACED_BASE_TIMEOUT_S = 155
QUERY_ROUNDS = 2


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    # the launch options read SPARK_DRIVER_MEM when the build loads
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts.append(f"-Djava.io.tmpdir={tmp}")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts + ["-Xmx2g"]).strip()
    # every JVM the sbt launcher starts: no hsperfdata file in the system temp dir
    env["JAVA_TOOL_OPTIONS"] = " ".join([env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    return env


def ensure_build():
    """Compile the program and the harness unless the sources are unchanged
    since the last build. Returns the JVM launch arguments."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no build.sbt at the checkout root; run from a graft checkout")
    stamp = source_stamp()
    if not (os.path.isfile(LAUNCH) and os.path.isfile(STAMP)
            and open(STAMP).read().strip() == stamp):
        log("building the program and the harness (sbt stage)")
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "stage"],
                           cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        if r.returncode != 0 or not os.path.isfile(LAUNCH):
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        with open(STAMP, "w") as fh:
            fh.write(stamp + "\n")
        # flush the build's writes now, not during the first measured build
        os.sync()
        log(f"built in {time.time() - t0:.1f}s")
    with open(LAUNCH) as fh:
        return [line.rstrip("\n") for line in fh if line.strip()]


# ---------------------------------------------------------------- JVMs

_children = []


def _stop_children(signum, _frame):
    """Stop every child with this process, and wait for each to end."""
    for p in _children:
        if p.poll() is None:
            p.terminate()
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
    sys.exit(128 + signum)


class JvmFailed(Exception):
    """A harness JVM timed out or ended without a result line."""


def jvm(launch, run_dir, mode, timeout_s, **kw):
    """One harness JVM in a fresh process; returns its result object."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = [f"{k}={v}" for k, v in kw.items()]
    log_path = os.path.join(WORK, "logs", f"{os.path.basename(run_dir)}-{mode}.log")
    with open(log_path, "w") as err:
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        cmd = (["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + launch
               + ["graftbench.Main", mode] + args + [f"launch_ms={int(time.time() * 1000)}"])
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        _children.append(p)
        try:
            out, _ = p.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise JvmFailed(f"{mode} JVM timed out after {timeout_s:.0f}s; log {log_path}")
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        raise JvmFailed(f"{mode} JVM exited {p.returncode} without a result; log {log_path}")
    return json.loads(lines[-1][len("PERFBENCH "):])


# ---------------------------------------------------------------- gates

def load_goldens():
    if not os.path.isfile(GOLDENS):
        return {}
    with open(GOLDENS) as fh:
        return json.load(fh)


BUILD_KEYS = ("n_pages", "n_edges", "n_nodes", "edges_digest", "nodes_digest")


def check_build_output(res, golden, failures, what="build"):
    """Gate one build's output against the golden; returns whether it passed."""
    ok = True
    if res["audit_mismatches"] != 0:
        failures.append(f"{what} audit_mismatches={res['audit_mismatches']}")
        ok = False
    for k in BUILD_KEYS:
        if golden is not None and res[k] != golden[k]:
            failures.append(f"{what} {k}={res[k]} != golden {golden[k]}")
            ok = False
    return ok


def check_build(res, golden, failures):
    """Gate one build JVM's result; returns (builds_ok, resumes_ok)."""
    build_ok = "build_error" not in res
    if not build_ok:
        failures.append(f"build failed: {res['build_error']}")
    else:
        build_ok = check_build_output(res, golden, failures)
    resume_ok = "resume_s" in res
    if not resume_ok:
        failures.append(f"resume failed: {res.get('resume_error', 'not run')}")
    else:
        if res["resume_audit_mismatches"] != 0:
            failures.append(f"resume audit_mismatches={res['resume_audit_mismatches']}")
            resume_ok = False
        if build_ok and res["resume_edges_digest"] != res["edges_digest"]:
            failures.append(f"resume edges_digest={res['resume_edges_digest']} "
                            f"!= build {res['edges_digest']}")
            resume_ok = False
    return build_ok, resume_ok


def check_queries(res, golden, failures):
    """Gate every query call; returns (attempted, failed)."""
    attempted = failed = 0
    for i, rnd in enumerate(res["rounds"]):
        for c in rnd:
            attempted += 1
            g = (golden or {}).get(c["q"])
            bad = None
            if "error" in c:
                bad = c["error"]
            elif g is not None and c["rows"] != g["rows"]:
                bad = f"rows={c['rows']} != golden {g['rows']}"
            elif g is not None and g["digest"] is not None and c["digest"] != g["digest"]:
                bad = f"digest={c['digest']} != golden {g['digest']}"
            if bad:
                failed += 1
                c["failed"] = True
                failures.append(f"query {c['q']} round {i}: {bad}")
    return attempted, failed


def check_layer_rows(rows, golden, failures):
    """Gate the row counts of the traced layer calls; returns (attempted, failed)."""
    failed = 0
    for name, n in sorted(rows.items()):
        if golden is not None and n != golden.get(name):
            failures.append(f"layer {name} rows={n} != golden {golden.get(name)}")
            failed += 1
    return len(rows), failed


def record_goldens(goldens, workload, info, failures):
    """Store a passing run's outputs as the workload's goldens: the build's
    content digests from an untraced run; each layer call's rows and each
    query's rows (and digest, for outputs with no floating-point column)
    from a traced one."""
    if failures:
        raise SystemExit("perfbench: not recording goldens from a failing run: "
                         + "; ".join(failures))
    entry = goldens.setdefault(workload, {})
    if "build" in info:
        b = info["build"]
        entry["build"] = {k: b[k] for k in BUILD_KEYS}
    if "layer_rows" in info:
        entry["layers"] = info["layer_rows"]
    if "queries" in info:
        entry["queries"] = {c["q"]: {"rows": c["rows"],
                                     "digest": None if c["float"] else c["digest"]}
                            for c in info["queries"]["rounds"][0]}
    with open(GOLDENS, "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")


# ---------------------------------------------------------------- runs

def run_untraced(launch, run_dir, w, inputs, golden, failures, cpus):
    res = jvm(launch, run_dir, "build", UNTRACED_TIMEOUT_S, cpus=cpus, input=inputs,
              store=os.path.join(run_dir, "store"), mult=w["mult"])
    build_ok, resume_ok = check_build(res, (golden or {}).get("build"), failures)
    metrics = {"setup_s": res["setup_s"], "retained_heap_mb": res["retained_heap_mb"]}
    if build_ok:
        metrics.update({
            "build_s": res["build_s"],
            "edges_per_s": res["n_edges"] / res["build_s"],
            "pages_per_s": res["n_pages"] / res["build_s"],
            "store_mb": res["store_mb"]})
    if resume_ok:
        metrics["resume_s"] = res["resume_s"]
    info = {"calib_ms": res["calib_ms"], "host": res["host"], "build": res}
    return metrics, 2, (not build_ok) + (not resume_ok), info


def run_traced(launch, run_dir, w, inputs, golden, failures, cpus, seconds):
    base = os.path.basename(run_dir)
    spans = os.path.join(WORK, "traces", f"{base}.jsonl")
    tr = jvm(launch, run_dir, "trace", traced_timeout_s(seconds), cpus=cpus, input=inputs,
             mult=w["mult"], store=os.path.join(run_dir, "store"), seconds=seconds,
             min_rounds=QUERY_ROUNDS, spans=spans, trace_id=base)
    golden = golden or {}
    build_ok = check_build_output(tr["build"], golden.get("build"), failures, "traced build")
    layer_attempted, layer_failed = check_layer_rows(tr["layer_rows"], golden.get("layers"),
                                                     failures)
    q_attempted, q_failed = check_queries(tr, golden.get("queries"), failures)
    attempted = 1 + layer_attempted + q_attempted
    failed = (not build_ok) + layer_failed + q_failed
    metrics = dict(tr["metrics"])
    rounds = tr["rounds"]
    steady = rounds[1:]
    for name in [c["q"] for c in rounds[0]]:
        xs = [c["s"] for r in steady for c in r if c["q"] == name and not c.get("failed")]
        if xs:
            metrics[f"query.{name}_s"] = statistics.median(xs)
    cold = [c for c in rounds[0] if c["q"] == "q_triples" and not c.get("failed")]
    if cold:
        metrics["query.q_triples_cold_s"] = cold[0]["s"]
    ok = [c for r in steady for c in r if not c.get("failed")]
    if ok:
        metrics["query.task_cpu_s"] = sum(c["cpu_s"] for c in ok) / len(steady)
        metrics["query.shuffle_mb"] = sum(c["shuffle_mb"] for c in ok) / len(steady)
    info = {"calib_ms": tr["calib_ms"], "host": tr["host"], "queries": tr,
            "traced_build": tr["build"], "layer_rows": tr["layer_rows"],
            "spans": os.path.relpath(spans, ROOT), "setup_s": tr["setup_s"],
            "retained_heap_mb": tr["retained_heap_mb"],
            "query_rounds_s": [sum(c.get("s", 0.0) for c in r) for r in rounds]}
    return metrics, attempted, failed, info


def traced_timeout_s(seconds):
    """The build and the layers take a fixed time; the query rounds loop
    for `seconds`, and the last round may start just before they end."""
    return TRACED_BASE_TIMEOUT_S + 2 * seconds


def smoke():
    """Every workload path (build, kill-resume, traced layers, traced
    queries) and every gate, once each, in separate processes."""
    bad = []
    for name in sorted(WORKLOADS):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace)]
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
            _children.append(p)
            out, _ = p.communicate()
            last = (out.strip().splitlines() or ["{}"])[-1]
            ok = p.returncode == 0 and json.loads(last).get("correct") is True
            log(f"smoke {name} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                bad.append(f"{name} trace={trace}")
    log("smoke: all paths and gates passed" if not bad else f"smoke failures: {bad}")
    return 1 if bad else 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="write this run's outputs to goldens.json instead of checking them")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once untraced and once traced, checking every gate")
    a = ap.parse_args(argv)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_children)
    if a.smoke:
        return smoke()
    if a.workload is None or a.seed is None:
        ap.error("--workload and --seed are required")
    w = WORKLOADS[a.workload]
    launch = ensure_build()
    cpus = os.cpu_count()
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    goldens = load_goldens()
    golden = None if a.record_goldens else goldens.get(a.workload)
    if golden is None and not a.record_goldens:
        raise SystemExit(f"perfbench: no goldens recorded for {a.workload}")
    needed = ("build", "layers", "queries") if a.trace else ("build",)
    if golden is not None and any(k not in golden for k in needed):
        raise SystemExit(f"perfbench: goldens for {a.workload} lack one of {needed}")
    failures = []
    try:
        inputs = os.path.join(run_dir, "input")
        tables.write_inputs(os.path.join(tables.DATA, w["data"]), inputs, a.seed)
        if a.trace:
            metrics, attempted, failed, info = run_traced(
                launch, run_dir, w, inputs, golden, failures, cpus, a.seconds)
        else:
            metrics, attempted, failed, info = run_untraced(
                launch, run_dir, w, inputs, golden, failures, cpus)
    except JvmFailed as e:
        # The JVM counts as one failed operation; the run reports no metrics.
        log(f"FAILED: {e}")
        attempted = failed = 1
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.record_goldens:
        record_goldens(goldens, a.workload, info, failures)
    for f in failures:
        log(f"GATE FAILED: {f}")
    log("host " + json.dumps(info["host"], sort_keys=True)
        + f" calib_ms {info['calib_ms']}")
    with open(BENCHMARK) as fh:
        declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    out_metrics = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                   for m in declared if m["name"] in metrics}
    info["unlisted_metrics"] = {k: v for k, v in metrics.items() if k not in out_metrics}
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        log(f"metrics not measured: {missing}")
    correct = not failures and not missing
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": out_metrics}
    info.pop("queries", None)
    print(json.dumps(info, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
