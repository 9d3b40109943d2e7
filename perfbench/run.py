#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
from source with sbt (offline) into `.bench_build/perfbench`; later runs
reuse the build until a source file changes. Inputs are generated from the
seed before any measured process starts and cached per seed.

The measured JVM sets up (session, table registration), runs one cold
pass and the workload's warm-up passes, then measured passes for at least
`--seconds` (and at least the workload's minimum count), and with
`--trace 0` sets up ten more times; `setup_s` is the median of the eleven
set-ups.
`--trace 1` attaches a Spark listener and reports per-layer figures
instead. Every pass's outputs are checked against a DuckDB replay; the
last line of stdout is {"correct", "attempted", "failed", "metrics"}.
The full record of the run (passes, spans, jobs, load) is written to
`.bench_build/perfbench/artifacts/`.
"""
import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import metrics as m  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = tuple(gen.GENERATORS)
JVM_HEAP = "3g"
# The serial collector: no concurrent GC threads competing with the timed
# tasks, and a fixed heap so that every run collects alike. With G1 the
# same passes spread several times wider from run to run.
JVM_GC = ["-XX:+UseSerialGC", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"]
RUN_TIMEOUT_S = 150        # the measured JVM, cold pass included
INPUT_CACHE_PER_WORKLOAD = 6

# The module opens Spark needs on JDK 17 outside spark-submit (build.sbt's
# jdk17AddOpens list).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


_running = []


def _stop(signum, _frame):
    """Take the running child down with us when we are stopped."""
    for proc in _running:
        proc.kill()
        proc.wait()
    fail(f"stopped by signal {signum}", 128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion; its exit code, or None after `timeout` s."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    _running.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None
    finally:
        _running.remove(proc)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), HARNESS):
        for d, subdirs, files in os.walk(top):
            # build outputs: target/ and sbt's project/project/
            subdirs[:] = [s for s in subdirs if s != "target"
                          and not (s == "project" and os.path.basename(d) == "project")]
            newest = max([newest] + [os.path.getmtime(os.path.join(d, f)) for f in files])
    return max(newest, os.path.getmtime(os.path.join(ROOT, "build.sbt")))


def build():
    """Compile graft and the harness; return the harness's runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_source_mtime():
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export harness/Runtime/fullClasspath"], 850,
                         cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = [l.strip() for l in open(log) if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def inputs(workload, seed):
    """The workload's generated inputs for `seed`, generating them once."""
    cache = os.path.join(WORK, "inputs")
    path = os.path.join(cache, f"{workload}-{seed}")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        os.rename(tmp, path)
        old = sorted((os.path.getmtime(os.path.join(cache, d)), d) for d in os.listdir(cache)
                     if d.startswith(workload + "-") and ".tmp" not in d)
        for _, d in old[:-INPUT_CACHE_PER_WORKLOAD]:
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    return path


def jvm(cp, mode, workload, inp, out, seconds, trace, timeout):
    """Run the harness once; return its spawn time (epoch s)."""
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    # the session must not pick up a caller's Spark or graft tuning
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS"))}
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java"] + JVM_GC + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", cp, "graft.perfbench.Harness", mode, workload, inp, out,
            str(seconds), str(trace)])
    spawned = time.time()
    with open(os.path.join(out, f"{mode}.log"), "a") as log:
        code = run_child(cmd, timeout, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"{mode} JVM {'timed out' if code is None else f'exited {code}'}; "
             f"see {out}/{mode}.log")
    return spawned


def load1():
    return float(open("/proc/loadavg").read().split()[0])


def cpu_times():
    """(busy, steal) seconds of the whole machine since boot, from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    # user nice system idle iowait irq softirq steal
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, f[7] / hz


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no graft sources to build under {ROOT}", code=2)

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    inp = inputs(a.workload, a.seed)
    summary = json.load(open(os.path.join(inp, "summary.json")))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    if a.workload == "media_incremental":
        blobs = os.path.join(os.path.dirname(inp), gen.MEDIA_BLOBS)
        if not os.path.exists(os.path.join(blobs, "images.parquet")):
            # encoded with graft itself, once per checkout
            shutil.rmtree(blobs, ignore_errors=True)
            gen.gen_media_blobs_ids(blobs)
            jvm(cp, "prepare", a.workload, blobs, os.path.join(run_dir, "prepare"), 0, 0,
                timeout=170)
    load_before, (busy0, steal0) = load1(), cpu_times()
    own0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    spawned = jvm(cp, "run", a.workload, inp, run_dir, a.seconds, a.trace, RUN_TIMEOUT_S)
    own1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    main_wall = time.time() - spawned
    load_after, (busy1, steal1) = load1(), cpu_times()
    own_cpu = (own1.ru_utime + own1.ru_stime) - (own0.ru_utime + own0.ru_stime)
    res = json.load(open(os.path.join(run_dir, "result.json")))
    # the first set-up includes the JVM start; the others reuse the JVM
    setups = [res["ready_ms"] / 1000 - spawned] + res["resetup_s"]

    # correctness: every pass against the replay
    t_check = time.time()
    oracles = json.load(open(os.path.join(run_dir, "oracles.json")))
    attempted = failed = 0
    problems = {}
    for p in res["passes"]:
        want = check.expected(a.workload, inp, oracles, p["pass"])
        bad = [f"error: {p['error']}"] if p["error"] else check.check_pass(p["result"], want)
        attempted += p["attempted"] + len(want)
        failed += p["failed"] + (len(want) if p["error"] else len(bad))
        if bad:
            problems[p["pass"]] = bad

    check_s = time.time() - t_check
    # the cold pass, the warm-up passes, the measured ones
    cold, warm = res["passes"][0], res["passes"][1 + res["warmup"]:]
    steps = [s for p in warm for s in p["steps"]]
    tail_pct, tail_s, n_steps = m.tail(steps)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "inputs": summary, "cores": res["cores"], "setups_s": setups,
        "step_tail": {"percentile": tail_pct, "samples": n_steps},
        # diagnostics, not gates: CPU in cores over the measured JVM's life
        "load": {"load1_before": load_before, "load1_after": load_after,
                 "own_cores": own_cpu / main_wall,
                 "foreign_cores": max(0.0, busy1 - busy0 - own_cpu) / main_wall,
                 "steal_cores": (steal1 - steal0) / main_wall},
        "run_s": {"jvm": main_wall, "check": check_s},
        "problems": problems, "oracles": oracles,
        "warmup_passes": res["warmup"], "passes": res["passes"],
    }
    if a.trace == 0:
        wall = statistics.median([p["wall_s"] for p in warm])
        values = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_pass_s": (cold["wall_s"], "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (summary["input_rows"] / wall, "rows/s"),
            "step_p50_s": (statistics.median(steps), "s"),
            "step_tail_s": (tail_s, "s"),
            "cpu_s": (statistics.median([p["cpu_s"] for p in warm]), "s"),
            # the state grows pass by pass: read it at the same pass in every run
            "stored_mb": (warm[0]["stored_bytes"] / m.MB, "MB"),
            # a failed pass may leave no growth; success_rate reports it
            "write_amp": (statistics.median([p["wchar"] / p["stored_growth"] for p in warm
                                             if p["stored_growth"] > 0] or [0.0]), "ratio"),
            "heap_after_gc_mb": (statistics.median(p["heap_after_gc_mb"] for p in warm), "MB"),
            "success_rate": ((attempted - failed) / attempted, "ratio"),
        }
    else:
        layers = [m.layer_counts(p) for p in warm]
        values = {k: (statistics.median([l[k] for l in layers]), m.unit(k)) for k in layers[0]}
        artifact["layers_per_pass"] = layers
    artifact["metrics"] = {k: v for k, (v, _) in values.items()}

    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    art_path = os.path.join(WORK, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1)
    if problems:
        print(f"perfbench: output mismatches, see {art_path}: "
              f"{json.dumps(problems)[:2000]}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()
