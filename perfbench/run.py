#!/usr/bin/env python3
"""graft benchmark: ETL build, batch analytics and dashboard serving.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the benchmark's JVM harness from the checkout's sources
(sbt, offline; rebuilt only when a source file changed), generates the
inputs from the seed, runs one workload in a fresh JVM, checks the
outputs with DuckDB and prints one JSON object as the last line of
standard output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import gen_data  # noqa: E402
import checks  # noqa: E402

# input scale per workload (lineitem rows = 6e6 x sf), and the ship-date
# span in months where it is narrower than the reference's 83
SCALE = {"etl_build": 0.002, "analytics_batch": 0.01, "dashboard_wide": 0.01}
MONTHS = {"etl_build": 36}
# --seconds sets a fixed amount of work: this many seconds of it per round
# (on 4 cores), so every run of a workload attempts the same operations;
# analytics_batch is one cold pass whatever --seconds says
ROUND_S = {"etl_build": 28.0, "dashboard_wide": 2.5}
RUN_LIMIT_S = 170          # one run, build excluded
BUILD_LIMIT_S = 840
HEAP = "3g"
BUILD_DIR = os.path.join(ROOT, ".bench_build")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_child(cmd, cwd, log_path, deadline, env=None):
    """Run `cmd` in its own process group, output to `log_path`; on a
    timeout or a signal the whole group is killed and waited for."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return proc.returncode


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build reads, relative to ROOT, sorted."""
    picked = ["build.sbt", "perfbench/build.sbt"]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            picked += [os.path.relpath(os.path.join(d, f), ROOT)
                       for f in files if f.endswith((".scala", ".java"))]
    for top in ("project", "perfbench/project"):
        if os.path.isdir(os.path.join(ROOT, top)):
            picked += [f"{top}/{f}" for f in os.listdir(os.path.join(ROOT, top))
                       if f.endswith((".sbt", ".scala", ".properties"))]
    return sorted(picked)


def build():
    """Compile graft + the harness; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    meta_path = os.path.join(BUILD_DIR, "build.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        if meta["stamp"] == stamp and all(os.path.exists(p) for p in meta["classpath"]):
            return meta["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building graft and the benchmark harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    log_path = os.path.join(BUILD_DIR, "build.log")
    try:
        code = run_child(cmd, HERE, log_path, time.time() + BUILD_LIMIT_S, env)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_LIMIT_S} s, log in {log_path}")
    with open(log_path) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code}), log in {log_path}")
    cp_line = [l for l in lines if l.count(".jar") > 3 and os.pathsep in l]
    if not cp_line:
        fail(f"build printed no classpath, log in {log_path}")
    classpath = cp_line[-1].strip().split(os.pathsep)
    with open(meta_path, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


# ------------------------------------------------------------ dashboards

# route kinds: the JVM names its spans and per-layer metrics after them
ROUTES = ("summary", "by_payer", "multi_field", "autocomplete_payer",
          "documents", "knn")
PER_ROUTE = 2        # requests per route per round


def request(route, key):
    """(route kind, path + query) for one request."""
    (state, ym), words, vec, query = key
    if route == "summary":
        return route, f"/api/rates/summary?state={state}&year_month={ym}"
    if route == "by_payer":
        return route, f"/api/rates/by-payer?state={state}&year_month={ym}"
    if route == "multi_field":
        return route, f"/api/search/multi-field?year_month={ym}&states={state}&limit=20"
    if route == "autocomplete_payer":
        return route, (f"/api/autocomplete/payer?state={state}&year_month={ym}"
                       f"&query={query}")
    if route == "documents":
        return route, f"/api/search/documents?q={words[0]}+{words[1]}&limit=10"
    return route, f"/api/knn/{vec}?k=10"


def request_plan(seed, universe, rounds):
    """The warm-up request and the per-round request lists, drawn from the
    seed. Keys come from every slice, every vector id and every
    vocabulary word pair, so nearly every request misses the server's
    plan and JSON-view caches."""
    rng = random.Random(seed * 7919 + 1)
    slices, n_vec = universe["slices"], universe["vectors"]
    pairs = [(a, b) for i, a in enumerate(gen_data.VOCAB)
             for b in gen_data.VOCAB[i + 1:]]
    queries = ["", "pay", "payer_", "er_1", "_2", "3", "4", "0"]

    def draw():
        return (rng.choice(slices), rng.choice(pairs),
                rng.randrange(n_vec), rng.choice(queries))
    warm = [request("summary", draw())]
    plan = []
    for _ in range(rounds):
        reqs = [request(r, draw()) for r in ROUTES for _ in range(PER_ROUTE)]
        rng.shuffle(reqs)
        plan.append(reqs)
    return {"warm": warm, "rounds": plan}


# ----------------------------------------------------------------- run

def jvm_command(classpath, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={args['tmp']}",
             f"-Dspark.local.dir={args['local']}",
             "-Dspark.ui.enabled=false",
             "-cp", os.pathsep.join(classpath), "graft.perfbench.PerfMain"]
            + [x for k, v in args["main"].items() for x in (f"--{k}", str(v))])


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "\n".join(f.read().splitlines()[-n:])
    except OSError:
        return ""


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, start_ms):
    by_kind = {}
    for op in res["ops"]:
        if op["ok"]:
            by_kind.setdefault(op["kind"], []).append(op["ms"])
    meds = [median(v) for v in by_kind.values()]
    geo = math.exp(sum(math.log(max(m, 1e-3)) for m in meds) / len(meds)) if meds else 0.0
    values = {
        "setup_s": (res["setup_done_ms"] - start_ms) / 1e3,
        "run_s": res["phase_s"],
        "op_geomean_ms": geo,
        "cpu_s": res["phase_cpu_s"],
        "live_heap_mb": res["live_heap_mb"],
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in checks.BENCH["end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in checks.BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)  # unwinds through the cleanup below
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    classpath = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    os.makedirs(os.path.join(BUILD_DIR, "runs"), exist_ok=True)
    run_dir = os.path.join(BUILD_DIR, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        dirs = {k: os.path.join(run_dir, k) for k in ("data", "work", "tmp", "local")}
        for d in dirs.values():
            os.makedirs(d)
        rounds = 1 if a.workload == "analytics_batch" else max(
            1, round(a.seconds / ROUND_S[a.workload]))
        counts = gen_data.write(dirs["data"], a.seed, SCALE[a.workload], MONTHS.get(a.workload))
        con = checks.connect(dirs["data"])
        if a.workload == "dashboard_wide":
            plan = request_plan(a.seed, checks.universe(con), rounds)
            with open(os.path.join(dirs["work"], "requests.json"), "w") as f:
                json.dump(plan, f)
        out_json = os.path.join(run_dir, "result.json")
        cores = len(os.sched_getaffinity(0))
        start_ms = int(time.time() * 1000)
        cmd = jvm_command(classpath, {
            "tmp": dirs["tmp"], "local": dirs["local"],
            "main": {"workload": a.workload, "data": dirs["data"],
                     "work": dirs["work"], "out": out_json,
                     "rounds": rounds, "trace": a.trace, "cores": cores}})
        jvm_log = os.path.join(run_dir, "jvm.log")
        try:
            code = run_child(cmd, dirs["work"], jvm_log, deadline)
        except subprocess.TimeoutExpired:
            sys.stderr.write(tail(jvm_log) + "\n")
            fail(f"the JVM did not finish within {RUN_LIMIT_S} s")
        if code != 0 or not os.path.exists(out_json):
            sys.stderr.write(tail(jvm_log) + "\n")
            fail(f"the JVM exited with code {code}")
        with open(out_json) as f:
            res = json.load(f)

        ops = res["ops"]
        kinds = {}
        for op in ops:
            kinds.setdefault(op["kind"], []).append(op["ms"])
        log(f"{res['rounds']} round(s) in {res['phase_s']:.3f} s; "
            "median ms per operation kind: " +
            ", ".join(f"{k}={median(v):.0f}" for k, v in kinds.items()))
        failed = [op for op in ops if not op["ok"]]
        for op in failed[:5]:
            log(f"failed {op['kind']}: {op['detail'][:300]}")
        t_check = time.time()
        problems = checks.run(a.workload, con, res, counts, a.seed,
                              {op["kind"] for op in failed})
        log(f"wall: {t_check - t_start:.1f} s to the end of the JVM, "
            f"{time.time() - t_check:.1f} s of checks")
        for p in problems[:20]:
            log(f"check: {p}")
        if a.trace:
            metrics = checks.per_layer(a.workload, res["layers"])
            traces = os.path.join(BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(dirs["work"], "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    traces, f"{a.workload}-seed{a.seed}.jsonl"))
        else:
            metrics = end_to_end(res, start_ms)
        print(json.dumps({"correct": not problems, "attempted": len(ops),
                          "failed": len(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
