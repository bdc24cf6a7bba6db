#!/usr/bin/env python3
"""graft benchmark: cold and warm time-to-result on three query tiers plus
a streaming write path.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (sbt, offline) into .bench_build/,
then launches harness JVMs on the fixture copy in perfbench/fixtures/. Set-up
(JVM launch to a ready session with every table opened through Tables.*)
is sampled in --setups fresh JVMs: the measured run's own and --setups - 1
that only set up and exit. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. A
provenance line precedes it; a readable summary goes to stderr.

Extra options (self-test and pinning): --queries a,b (override the
workload's query list), --pins FILE, --write-pins FILE, --inject-failure,
--sf X, --setups N.
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
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import spans as spanlib  # noqa: E402
import stream_check  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


_children = []


def _stop_children(signum, _frame):
    for p in list(_children):
        _kill(p)
    sys.exit(128 + signum)


def _kill(p):
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the whole group on
    timeout or when this process is stopped. Returns the exit code, or
    None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill(p)
        return None
    finally:
        _children.remove(p)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def tree_digest(paths):
    """sha256 over (relative path, content) of every file under `paths`."""
    h = hashlib.sha256()
    for base in paths:
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


# --------------------------------------------------------------- build

def build():
    """Compile graft + harness with sbt once per source state; returns the
    runtime classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(src, "graft", "SparkEntry.scala")):
        fail("graft sources (src/main/scala) are missing; nothing to build")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    stamp = tree_digest([src, os.path.join(HERE, "src")]) + "".join(
        hashlib.sha256(open(f, "rb").read()).hexdigest() for f in files)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (sbt compile) ...")
    t0 = time.time()
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 840,
                       cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = [ln for ln in open(log_path).read().splitlines()
             if ln and not ln.startswith("[") and ":" in ln
             and ".jar" in ln]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def fixture(sf):
    """The fixture copy for scale `sf` and its content fingerprint."""
    d = os.path.join(HERE, "fixtures", f"sf{sf}")
    if not os.path.isdir(d):
        fail(f"no fixture for sf{sf} under perfbench/fixtures")
    return d, tree_digest([d])


# ------------------------------------------------------------- harness

def harness(classpath, mode, k, fx, out, extra, timeout):
    jvm = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jvm += ["-Xmx2g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Main"]
    args = ["--mode", mode, "--k", str(k), "--fixture", fx, "--out", out,
            "--work", os.path.join(WORK, "run")]
    for key, val in extra.items():
        args += [f"--{key}", str(val)]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    err_path = out + ".stderr"
    t0_ms = int(time.time() * 1000)
    with open(err_path, "w") as err:
        rc = run_child(jvm + args + ["--t0-ms", str(t0_ms)], timeout,
                       stdout=err, stderr=err, cwd=WORK)
    if rc is None:
        fail(f"harness ({mode}) exceeded {timeout} s; see {err_path}")
    if rc != 0 or not os.path.isfile(out):
        tail = open(err_path).read()[-2000:]
        fail(f"harness ({mode}) exited {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


# --------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else [0.0] * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def percentile(xs, p):
    s = sorted(xs)
    if not s:
        return 0.0
    i = (len(s) - 1) * p
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def check_execs(execs, pins):
    """Mark each execution valid only if it returned and its digest equals
    the pin; returns the number of failures."""
    failed = 0
    for e in execs:
        got = f"{e.get('rows')}:{e.get('hash')}" if e.get("ok") else None
        want = pins.get(e["name"])
        e["valid"] = got is not None and got == want
        if not e["valid"]:
            failed += 1
            why = e.get("error") or (
                "no pinned digest" if want is None else
                f"digest {got} != pinned {want}")
            log(f"FAILED {e['name']} (pass {e['pass']}): {why}")
    return failed


SUM_KEYS = {
    "operators.build_ms": "build_ms", "operators.eager_jobs": "eager_jobs",
    "plans.analysis_ms": "analysis_ms",
    "plans.optimization_ms": "optimization_ms",
    "plans.planning_ms": "planning_ms",
    "plans.analyzed_nodes": "analyzed_nodes",
    "plans.exchanges": "exchanges",
    "plans.reused_exchanges": "reused_exchanges",
    "plans.nested_loop_joins": "nested_loop_joins",
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.job_gap_ms": "job_gap_ms", "exec.task_ms": "task_ms",
    "exec.task_cpu_ms": "task_cpu_ms", "exec.task_gc_ms": "task_gc_ms",
    "exec.input_bytes": "input_bytes",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes",
    "checkpoints.sweep_ms": "sweep_ms",
}
MAX_KEYS = {"exec.peak_exec_mem_mb": "peak_exec_mem_mb",
            "exec.stage_skew": "stage_skew",
            "checkpoints.storage_mb": "storage_mb"}


def layer_metrics(execs, passes, k):
    """Per-layer figures of the traced run: per warm pass, sums of the
    additive counts and maxima of the peak ones; the median over passes."""
    sums = defaultdict(lambda: defaultdict(float))
    maxes = defaultdict(lambda: defaultdict(float))
    for e in execs:
        for key in list(SUM_KEYS.values()) + ["action_ms", "action_task_ms"]:
            sums[e["pass"]][key] += e.get(key, 0) or 0
        for key in MAX_KEYS.values():
            maxes[e["pass"]][key] = max(maxes[e["pass"]][key], e.get(key, 0) or 0)
    m = {name: median([sums[p][key] for p in passes])
         for name, key in SUM_KEYS.items()}
    m.update({name: median([maxes[p][key] for p in passes])
              for name, key in MAX_KEYS.items()})
    m["exec.core_util"] = median([
        sums[p]["action_task_ms"] / max(1e-9, sums[p]["action_ms"] * k)
        for p in passes])
    m["exec.failed_tasks"] = sum(e.get("failed_tasks", 0) for e in execs)
    return m


def span_metrics(path, n_passes, info):
    """Harness self time per pass; records the self-time sum check."""
    selfs = spanlib.self_times(spanlib.load(path))
    info["span_self_time_gap"] = selfs["check"]
    info["span_self_time_within_tolerance"] = selfs["within_tolerance"]
    info["span_outside_parent_ms"] = selfs["outside_ms"]
    info["span_sibling_overlap_ms"] = selfs["overlap_ms"]
    info["span_queries_within_tolerance"] = f"{selfs['roots_within']}/{selfs['roots']}"
    return {"trace.harness_self_ms":
            selfs["by_name"].get("query", 0.0) / max(1, n_passes)}


def batch_metrics(res, trace, k, conf):
    execs = res["execs"]
    by_pass = defaultdict(list)
    for e in execs:
        by_pass[e["pass"]].append(e)
    passes = {p["pass"]: p for p in res["passes"]}
    valid_pass = {p: all(e["valid"] for e in es) for p, es in by_pass.items()}
    warm = [p for p in sorted(passes) if p > 0]
    warm_ok = [p for p in warm if valid_pass[p]] or warm
    warm_walls = [passes[p]["wall_s"] for p in warm_ok]
    lat = [e["ms"] for e in execs if e["pass"] in warm_ok and e["valid"]]
    p90 = percentile(lat, 0.9)
    info = {
        "cold_pass_valid": valid_pass.get(0, False),
        "warm_passes": len(warm), "warm_passes_valid": len(warm_ok),
        "warm_pass_quartiles_s": quartiles(warm_walls),
        "latency_samples": len(lat),
        "latency_samples_beyond_p90": sum(1 for x in lat if x > p90),
    }
    if not trace:
        return {
            "cold_pass_s": passes[0]["wall_s"],
            "warm_pass_s": median(warm_walls),
            "latency_p50_ms": percentile(lat, 0.5),
        }, info
    m = layer_metrics(execs, warm_ok, k)
    m["latency.p90_ms"] = p90
    m["jvm.jit_ms"] = passes[0]["jit_ms"]
    m["jvm.gc_ms"] = median([passes[p]["gc_ms"] for p in warm_ok])
    m["trace.warm_pass_s"] = median(warm_walls)
    m.update(span_metrics(res["spans"], len(passes), info))
    m.update(res["expressions"])
    m.update(stream_check.write_layers(res["stream_probe"], *conf["probe_rows"]))
    return m, info


def stream_metrics(res, trace, k, conf):
    s = res["stream"]
    lat = s["latency_ms"]
    info = {"latency_samples": len(lat), "latencies_ms": lat,
            "rate_files_per_s": conf["plan"]["rate"],
            "warm_drains_s": s["warm_drain_s"],
            "max_lateness_ms": max(s["lateness_ms"])}
    info["paced_valid"] = max(s["lateness_ms"]) <= 1000.0 / conf["plan"]["rate"]
    if not info["paced_valid"]:
        log("paced phase INVALID: the generator ran more than one period late")
    if not trace:
        return {
            "cold_pass_s": s["cold_drain_s"],
            "warm_pass_s": median(s["warm_drain_s"]),
            "latency_p50_ms": percentile(lat, 0.5),
        }, info
    m = layer_metrics(res["execs"], [1], k)
    m["latency.p90_ms"] = percentile(lat, 0.9)
    tot = res["exec_totals"]
    for key in ("jobs", "stages", "tasks", "job_gap_ms", "task_ms",
                "task_cpu_ms", "task_gc_ms", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "peak_exec_mem_mb", "failed_tasks", "stage_skew", "core_util"):
        m["exec." + key] = tot[key]
    m["jvm.jit_ms"] = s["jit_cold_ms"]
    m["jvm.gc_ms"] = s["gc_ms"]
    m["trace.warm_pass_s"] = median(s["warm_drain_s"])
    m.update(span_metrics(res["spans"], 1, info))
    m.update(res["expressions"])
    m.update(stream_check.write_layers(s, conf["rows"], conf["plan"]))
    return m, info


# ---------------------------------------------------------------- main

def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries")
    ap.add_argument("--pins")
    ap.add_argument("--write-pins")
    ap.add_argument("--inject-failure", action="store_true")
    ap.add_argument("--sf", type=float)
    ap.add_argument("--setups", type=int)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        conf = load_json("workloads.json")
        pins = json.load(open(args.pins or os.path.join(HERE, "pins.json")))
    except (OSError, ValueError) as e:
        fail(f"cannot read the benchmark definitions: {e}")
    if args.workload not in conf["workloads"]:
        fail(f"unknown workload {args.workload}")
    w = conf["workloads"][args.workload]
    k = min(conf["k"], len(os.sched_getaffinity(0)))
    sf = args.sf or w["sf"]
    n_setups = args.setups or conf["setups"]

    log("start")
    classpath = build()
    fx, fx_print = fixture(sf)
    ready = time.time()
    pinned = pins["by_sf"].get(str(sf), {})
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    # set-up samples in fresh JVMs that do nothing else
    setup_runs = [harness(classpath, "setup", k, fx,
                          os.path.join(run_dir, f"setup{i}.json"), {},
                          170 - (time.time() - ready))
                  for i in range(n_setups - 1)]

    extra = {"seed": args.seed, "seconds": args.seconds, "trace": args.trace,
             "spans": os.path.join(run_dir, "spans.jsonl")}
    side = {}
    if w["kind"] == "batch":
        queries = args.queries.split(",") if args.queries else w["queries"]
        if args.inject_failure:
            queries = queries + ["perfbench.injected_failure"]
        extra.update({"queries": ",".join(queries), "min-warm": w["min_warm"]})
        if args.trace:
            probe = conf["probe"]
            pargs, prow = stream_check.prepare(
                fx, os.path.join(run_dir, "probe"), args.seed, probe)
            extra.update({f"probe-{a}": v for a, v in pargs.items()})
            side["probe_rows"] = (prow, probe)
        mode, metric_fn = "batch", batch_metrics
    else:
        plan = dict(w["plan"])
        plan["n_paced"] = max(plan["min_paced"], round(args.seconds * plan["rate"]))
        sargs, rows = stream_check.prepare(
            fx, os.path.join(run_dir, "stream"), args.seed, plan)
        extra.update({f"stream-{a}": v for a, v in sargs.items()})
        side.update({"plan": plan, "rows": rows})
        mode, metric_fn = "stream", stream_metrics
    log("launching the harness")
    res = harness(classpath, mode, k, fx, os.path.join(run_dir, "result.json"),
                  extra, 170 - (time.time() - ready))
    setups = setup_runs + [res]

    failed = check_execs(res["execs"], pinned)
    attempted = len(res["execs"])
    if w["kind"] == "stream":
        attempted += len(side["rows"])
    metrics, info = metric_fn(res, args.trace, k, side)
    if not info.get("paced_valid", True):
        failed += 1
    if args.write_pins:
        write_pins(args.write_pins, sf, res["execs"])

    if args.trace:
        metrics["session.create_ms"] = median([s["session_ms"] for s in setups])
        metrics["sources.open_ms"] = median([s["open_ms"] for s in setups])
        wanted = bench["per_layer"]
    else:
        metrics["setup_s"] = median([s["setup_s"] for s in setups])
        metrics["retained_heap_mb"] = res["retained_heap_mb"]
        wanted = bench["end_to_end"]
    out = {}
    for spec in wanted:
        if spec["name"] not in metrics:
            fail(f"metric {spec['name']} was not measured")
        out[spec["name"]] = {"value": float(metrics[spec["name"]]),
                             "unit": spec["unit"]}

    provenance = {
        "workload": args.workload, "seed": args.seed, "k": res["k"],
        "master": res["master"], "spark": res["spark_version"],
        "jvm": res["jvm"], "git_head": git_head(), "sf": sf,
        "fixture_fingerprint": fx_print[:16],
        "setup_samples_s": [s["setup_s"] for s in setups],
        "failed_frac": failed / max(1, attempted), "attempted": attempted,
        **info}
    print(json.dumps({"provenance": provenance}))
    log("provenance " + json.dumps(provenance))
    for name, v in out.items():
        log(f"{name} = {v['value']:.6g} {v['unit']}")
    log(f"failed_frac = {failed}/{attempted}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def write_pins(path, sf, execs):
    """Record each query's digest at scale `sf` in `path`; refuses a query
    whose executions disagree (cold and warm passes must match)."""
    new = {}
    for e in execs:
        if not e.get("ok"):
            continue
        d = f"{e['rows']}:{e['hash']}"
        if new.setdefault(e["name"], d) != d:
            fail(f"cannot pin {e['name']}: its executions disagree")
    old = json.load(open(path)) if os.path.isfile(path) else {"by_sf": {}}
    old["by_sf"].setdefault(str(sf), {}).update(new)
    with open(path, "w") as f:
        json.dump(old, f, indent=1, sort_keys=True)


def git_head():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        # not a git checkout: fingerprint the program sources instead
        return "src:" + tree_digest([os.path.join(ROOT, "src", "main")])[:16]


if __name__ == "__main__":
    main()
