#!/usr/bin/env python3
"""graft benchmark: one command that builds the engine from this checkout,
generates its inputs from a seed, runs one workload on one JVM, checks
every answer and prints the metrics.

    python3 perfbench/run.py --workload brc_text --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(BENCHMARK.json lists both). Full records (operations, spans, plan
fingerprints, session config, calibrations) go to .bench_build/results/.
See perfbench/README.md for the workloads, the protocol and the metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import oracle  # noqa: E402

WORKLOADS = ("brc_text", "suite_mix")
TABLES = os.path.join(HERE, "tables", "sf0.01")
HEAP = "2g"
RUN_LIMIT_S = 175          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run in a checkout also builds

SOURCES = ("build.sbt", "project/build.properties", "src/main", "perfbench/build.sbt",
           "perfbench/project/build.properties", "perfbench/src")

E2E_UNITS = {"wall_s.p50": "s", "wall_s.tail": "s", "mrows_per_s": "Mrows/s",
             "query_s.geomean": "s", "setup_s": "s", "retained_mb": "MB"}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
            if "target" not in os.path.relpath(d, ROOT).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt (offline); cache the classpath."""
    for rel in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            die(f"cannot build: {rel} is missing from this checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    lines = open(log).read().splitlines()
    cp = [l for l in lines if l.startswith(os.path.join(HERE, "target"))]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (rc {rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1]


def java_cmd(cp, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(BUILD, "tmp")
    return (["java"] + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
               f"-Dgraft.fixtures.dir={os.path.join(ROOT, 'fixtures')}",
               "-cp", cp, "perfbench.Main"] + args)


def prune_data(keep=12):
    """Keep the most recently used generated data sets only."""
    data = os.path.join(BUILD, "data")
    sets = sorted((os.path.join(data, d) for d in os.listdir(data)), key=os.path.getmtime) \
        if os.path.isdir(data) else []
    for d in sets[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(cp, a, deadline):
    prune_data()
    work, run_dir = BUILD, os.path.join(BUILD, "run")
    for d in (os.path.join(work, "tmp"), os.path.join(work, "answers"), run_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    out = os.path.join(run_dir, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--sf", TABLES]
    proc = subprocess.Popen(java_cmd(cp, args), cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        die("benchmark JVM exceeded the run time limit", 3)
    if rc != 0 or not os.path.exists(out):
        die(f"benchmark JVM failed (rc {rc})", 3)
    with open(out) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def per_query(ops, key, avg=median):
    by = {}
    for o in ops:
        if o.get(key) is not None:
            by.setdefault(o["q"], []).append(o[key])
    return {q: avg(v) for q, v in by.items()}


def per_pass(ops, key, avg=median):
    """Sum over the workload's queries of each query's median value."""
    return sum(per_query(ops, key, avg).values())


def per_pass_mean(ops, key):
    """As per_pass with means: the per-layer counters are whole ms or
    counts, and a mean keeps the digits a median of integers drops."""
    return per_pass(ops, key, statistics.fmean)


def tail(walls):
    """(value, percentile, samples beyond it) of the tail operation time.

    The highest percentile with at least 10 samples beyond it reaches p90
    only at 100 samples; a run in the time budget makes 2 to 20. Below 100
    samples the tail is p90 by nearest rank, which moves smoothly with the
    sample count (and equals the 10-beyond rule at 100 samples). The
    percentile and the count beyond it are recorded with the value."""
    s = sorted(walls)
    n = len(s)
    beyond = 10 if n >= 100 else n - math.ceil(0.9 * n)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond


def end_to_end(rec, ops):
    """One operation is one pass over the workload's queries (brc_text: the
    one query; suite_mix: all seven, back to back)."""
    walls = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
    med_q = per_query(ops, "wall_s")
    tail_v, tail_pct, beyond = tail(walls)
    return {
        "wall_s.p50": median(walls),
        "wall_s.tail": tail_v,
        "mrows_per_s": per_pass(ops, "rows_in") / sum(med_q.values()) / 1e6,
        "query_s.geomean": math.exp(sum(math.log(v) for v in med_q.values()) / len(med_q)),
        "setup_s": median(rec["setup_rounds_s"]),
        "retained_mb": rec["retained_mb"]["total"],
    }, {"tail_percentile": tail_pct, "tail_beyond": beyond, "samples": len(walls),
        "peak_rss_mb": rec["peak_rss_mb"]}


def self_times(ops):
    """Per span name, the sum over queries of the median self time (ms)."""
    per = {}
    for o in ops:
        spans = o.get("spans") or []
        kids = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        for s in spans:
            cover, end = 0.0, s["start_ms"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
                a, b = max(c["start_ms"], end), min(c["end_ms"], s["end_ms"])
                if b > a:
                    cover += b - a
                    end = b
            key = (o["q"], s["layer"] + ":" + s["name"])
            per.setdefault(key, []).append((s["end_ms"] - s["start_ms"]) - cover)
    out = {}
    for (q, name), v in per.items():
        out[name] = out.get(name, 0.0) + median(v)
    return out


def per_layer(rec, ops):
    lay = rec["layers"]
    cpus = rec["cpus"]
    wall = per_pass_mean(ops, "wall_s")
    passes = [p for p in rec["passes"] if p["traced"]]
    m = {
        "io.read_floor_s": (lay["io.read_floor_s"], "s"),
        "env.cpu_calib_s": (lay["env.cpu_calib_s"], "s"),
        "sources.BrcDataSource.scan_s": (lay["sources.BrcDataSource.scan_s"], "s"),
        "sources.parquet.scan_s": (lay["sources.parquet.scan_s"], "s"),
        "onebrc.OneBrc.agg_self_s": (lay["onebrc.OneBrc.agg_self_s"], "s"),
        "onebrc.generate_s": (lay["onebrc.generate_s"], "s"),
        "runtime.map.wall_s": (per_pass_mean(ops, "map_wall_ms") / 1e3, "s"),
        "runtime.map.busy_s": (per_pass_mean(ops, "map_busy_ms") / 1e3, "s"),
        "runtime.map.cpu_s": (per_pass_mean(ops, "map_cpu_ms") / 1e3, "s"),
        "runtime.map.tasks": (per_pass_mean(ops, "map_tasks"), "count"),
        "runtime.map.task_skew": (median([o["map_task_skew"] for o in ops]), "ratio"),
        "runtime.reduce.wall_s": (per_pass_mean(ops, "reduce_wall_ms") / 1e3, "s"),
        "runtime.busy_ratio": (per_pass_mean(ops, "busy_ms") / 1e3 / (wall * cpus), "ratio"),
        "runtime.jobs": (per_pass_mean(ops, "jobs"), "count"),
        "runtime.stages": (per_pass_mean(ops, "stages"), "count"),
        "runtime.tasks": (per_pass_mean(ops, "tasks"), "count"),
        "plans.construct_ms": (per_pass_mean(ops, "construct_ms"), "ms"),
        "plans.analysis_ms": (per_pass_mean(ops, "analysis_ms"), "ms"),
        "plans.optimization_ms": (per_pass_mean(ops, "optimization_ms"), "ms"),
        "plans.planning_ms": (per_pass_mean(ops, "planning_ms"), "ms"),
        "exchange.shuffle_read_bytes": (per_pass_mean(ops, "shuffle_read_bytes"), "bytes"),
        "exchange.shuffle_write_bytes": (per_pass_mean(ops, "shuffle_write_bytes"), "bytes"),
        "exchange.shuffle_write_records": (per_pass_mean(ops, "shuffle_write_records"), "count"),
        "jvm.jit_ms": (statistics.fmean(p["jit_ms"] for p in passes), "ms"),
        "jvm.gc_ms": (statistics.fmean(p["gc_ms"] for p in passes), "ms"),
        "CacheRegistry.storage_mb": (rec["storage_mb"], "MB"),
        "storage.block_drops": (rec["block_drops"], "count"),
        "trace.overhead_s": (median([p["wall_s"] for p in passes])
                             - median([p["wall_s"] for p in rec["passes"] if not p["traced"]]), "s"),
    }
    modules = {}
    for q, v in per_query(ops, "wall_s").items():
        mod = next(o["module"] for o in ops if o["q"] == q)
        modules[f"{mod}.query_s"] = modules.get(f"{mod}.query_s", 0.0) + v
    extra = {k: (v, "s") for k, v in sorted(modules.items())}
    extra["runtime.map.gc_s"] = (per_pass_mean(ops, "map_gc_ms") / 1e3, "s")
    extra["exchange.spill_bytes"] = (per_pass_mean(ops, "spill_bytes"), "bytes")
    extra["onebrc.OneBrc.query_s.ladder"] = (lay["onebrc.OneBrc.query_s"], "s")
    return m, extra


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    cp = build()
    deadline = max(deadline, time.time() + 150)  # the first run pays the build
    rec = run_jvm(cp, a, deadline)

    # correctness over every execution of the run; metrics over the window
    runs = rec["executions"]
    problems, verdicts = [], {}
    if rec["oracles"]:
        for state in ("cold", "warm"):  # a fresh session; the window's session after it
            v, self_test_ok = oracle.check(TABLES, os.path.join(BUILD, "answers", state),
                                           rec["oracles"], os.path.join(BUILD, "oracle"))
            verdicts[state] = v
            problems += [f"{q} ({state} answer): {r}" for q, r in v.items() if r]
            if not self_test_ok:
                problems.append(f"answer checker accepted a perturbed {state} answer")
    wrong_q = {q for v in verdicts.values() for q, r in v.items() if r}
    failed = sum(1 for o in runs if not o["ok"] or o["q"] in wrong_q)
    problems += [f"{o['q']} ({o['step']} pass {o['pass']}): {o['reason']}" for o in runs if not o["ok"]]
    correct = failed == 0 and not problems
    ops = [o for o in rec["ops"] if o["traced"] == bool(a.trace)]

    if a.trace:
        layer, extra = per_layer(rec, ops)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        info = {"self_ms": self_times(ops),
                "extra": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()}}
    else:
        e2e, info = end_to_end(rec, ops)
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    error_rate = failed / len(runs)

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    artifact = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                    correct=correct, attempted=len(runs), failed=failed, error_rate=error_rate,
                    problems=problems, oracle=verdicts, metrics=metrics, info=info,
                    plan_fp=rec["plan_fp"], config=rec["config"], cpus=rec["cpus"],
                    calibration={k: rec["layers"].get(k) for k in ("env.cpu_calib_s", "io.read_floor_s")},
                    prepared=rec["prepared"], retained_mb=rec["retained_mb"],
                    setup_rounds_s=rec["setup_rounds_s"],
                    settle=rec["settle"], passes=rec["passes"], executions=runs, ops=rec["ops"])
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(BUILD, "results", name), "w") as f:
        json.dump(artifact, f)

    for p in rec["passes"]:
        print(f"[perfbench] pass {p['pass']:3d} traced={str(p['traced']).lower():5s} "
              f"wall_s={p['wall_s']:.3f} jvm.jit_ms={p['jit_ms']} jvm.gc_ms={p['gc_ms']}")
    for q in problems:
        print(f"[perfbench] WRONG {q}")
    for k, v in sorted(metrics.items()):
        print(f"[perfbench] {k} = {v['value']:.6g} {v['unit']}")
    for k, v in sorted(info.get("extra", {}).items()):
        print(f"[perfbench] {k} = {v['value']:.6g} {v['unit']}")
    if "samples" in info:
        print(f"[perfbench] wall_s.tail is p{info['tail_percentile']:.1f} of {info['samples']} operations"
              f" ({info['tail_beyond']} beyond it)")
        print(f"[perfbench] peak_rss_mb = {info['peak_rss_mb']:.6g} MB (VmHWM; follows the fixed 2 GB heap)")
    print(f"[perfbench] error_rate = {error_rate:.6g} ratio ({failed} of {len(runs)} executions)")
    print(json.dumps({"correct": correct, "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
