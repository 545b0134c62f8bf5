#!/usr/bin/env python3
"""Seeded, result-checked benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the workload closed
loop with one client thread on `local[nproc]`, checks every op's result,
and prints the metrics. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics, or with `--trace 1` the per-layer ones). The lines before it
repeat every metric with its unit, plus the pinned settings and the host
load, for a human reader. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tpch", "llm_pipeline")
DEADLINE_S = 170
HEAP = "3g"
# Set-up and resource variables the benchmark pins itself; they are
# dropped from the JVM's environment. Any other SPARK_GRAFT_* variable
# changes a query shape or rule and makes the benchmark refuse to run.
PINNED_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_LOCAL_DIR", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        yield os.path.join(ROOT, f)


def _stamp():
    h = hashlib.sha256()
    for p in sorted(_source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt unless this source state is built;
    return the JVM arguments that launch the harness."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = _stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch) as g:
                    return g.read().splitlines()
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    sbt_tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # sbt itself keeps its caches in the user's home; its scratch files
    # stay in the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={sbt_tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    for k in PINNED_ENV:
        env.pop(k, None)
    blog = os.path.join(WORK, "build.log")
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    with open(blog, "w") as out:
        rc = _run([sbt, "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                  HERE, env, out, deadline)
    if rc != 0 or not os.path.exists(launch):
        raise BenchError(f"build failed (rc={rc}); see {blog}:\n" + _tail(blog))
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as g:
        return g.read().splitlines()


def _tail(path, n=25):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def _run(cmd, cwd, env, out, deadline):
    """Run `cmd` in its own process group; kill the group at the deadline.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{os.path.basename(cmd[0])} passed the deadline and was killed")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# --------------------------------------------------------------- settings

def child_env():
    bad = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k not in PINNED_ENV)
    if bad:
        raise BenchError("refusing to run with query-shape or rule toggles set: " +
                         ", ".join(bad) + " (unset them; the benchmark measures the defaults)")
    env = {k: v for k, v in os.environ.items() if k not in PINNED_ENV}
    env.pop("JAVA_TOOL_OPTIONS", None)
    env.pop("_JAVA_OPTIONS", None)
    return env


def local_dir_kind(path):
    """'tmpfs' when `path` sits on a RAM-backed file system, else 'disk'."""
    best, kind = "", "disk"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], ("tmpfs" if parts[2] in ("tmpfs", "ramfs") else "disk")
    return kind


def host_load():
    """1-minute load average and cumulative steal / iowait in ms."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    tick_ms = 1000.0 / os.sysconf("SC_CLK_TCK")
    return {"load1": load1, "iowait_ms": int(cpu[5]) * tick_ms, "steal_ms": int(cpu[8]) * tick_ms}


# -------------------------------------------------------------------- run

def run_harness(launch, workload, data, seconds, trace, cores, tmp, deadline):
    """Run the harness JVM with `tmp` as its scratch, Spark local and Delta
    table directory; return its parsed output."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    out = os.path.join(tmp, "out.json")
    flags, cp = launch[:-2], launch[-1]
    cmd = (["java"] + flags +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Dgraft.local.dir={local}",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
            f"workload={workload}", f"data={data}", f"tmp={tmp}", f"out={out}",
            f"seconds={seconds}", f"trace={int(trace)}",
            f"cores={cores}"])
    jlog = os.path.join(WORK, "harness.log")
    with open(jlog, "w") as f:
        rc = _run(cmd, ROOT, child_env(), f, deadline)
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"harness failed (rc={rc}); see {jlog}:\n" + _tail(jlog))
    with open(out) as f:
        return json.load(f)


def delta_live_files(table):
    """Live data files of a Delta table, replayed from its log."""
    live = set()
    logdir = os.path.join(table, "_delta_log")
    for name in sorted(os.listdir(logdir)):
        if name.endswith(".json"):
            with open(os.path.join(logdir, name)) as f:
                for line in f:
                    a = json.loads(line)
                    if "add" in a:
                        live.add(a["add"]["path"])
                    elif "remove" in a:
                        live.discard(a["remove"]["path"])
    return len(live)


def check_ops(res, workload, data):
    import checks
    if "error" in res["warmup"]:
        raise BenchError(f"warm-up op {res['warmup']['name']} failed: {res['warmup']['error']}")
    ops = res["ops"]
    truth = None
    if workload == "llm_pipeline":
        truth = checks.LlmTruth(data)
        states = {}
    else:
        cache = data + ".oracle.pkl"
        oracle = checks.oracle_answers(data, res["oracle"], cache)
    outcomes = []
    for op in ops:
        if "error" in op:
            why = op["error"]
        elif truth is not None:
            why = truth.check(op, states.setdefault(op["pass"], {}))
        else:
            why = checks.check_relational(op, oracle)
        outcomes.append(why)
        if why:
            log(f"FAILED {op['name']} (pass {op['pass']}): {why[:300]}")
    return outcomes, (truth.quality if truth else {})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise BenchError(f"engine sources not found under {ROOT} (build.sbt, src/main/scala/graft)")
    child_env()  # refuse early on a rule toggle
    os.makedirs(WORK, exist_ok=True)

    first_build = not os.path.exists(os.path.join(WORK, "build.stamp"))
    launch = build(time.time() + 850 if first_build else deadline)
    if first_build:  # the first run in a checkout may spend its time building
        deadline = time.time() + DEADLINE_S

    import gen
    import report
    data = gen.ensure(os.path.join(WORK, "fixtures"), args.workload, args.seed)
    cores = len(os.sched_getaffinity(0))
    settings = {"master": f"local[{cores}]", "heap": HEAP,
                "local_dir_on": local_dir_kind(WORK),
                "client_threads": 1, "loop": "closed", "seed": args.seed,
                "run_seconds": args.seconds, "trace": args.trace}
    tmp = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        before = host_load()
        t0 = time.time()
        res = run_harness(launch, args.workload, data, args.seconds,
                          args.trace == 1, cores, tmp, deadline)
        after = host_load()
        harness_s = time.time() - t0
        outcomes, quality = check_ops(res, args.workload, data)
        tables = {}
        if args.workload == "llm_pipeline":
            for p in range(res["passes"]):
                t = os.path.join(tmp, f"delta-pass{p}")
                if os.path.isdir(os.path.join(t, "_delta_log")):
                    tables[p] = delta_live_files(t)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    context = {"load1_before": before["load1"], "load1_after": after["load1"],
               "steal_ms": round(after["steal_ms"] - before["steal_ms"]),
               "iowait_ms": round(after["iowait_ms"] - before["iowait_ms"]),
               "harness_wall_s": round(harness_s, 2)}
    settings.update(spark_version=res["spark_version"], max_heap_mb=round(res["max_heap_mb"]),
                    passes=res["passes"], **{"spark.local.dir": res["local_dir"]})
    if args.trace:
        metrics = report.per_layer(res, cores, tables)
    else:
        metrics = report.end_to_end(res)
    attempted = len(outcomes)
    failed = report.failed_count(outcomes)
    for k, v in sorted(settings.items()):
        print(f"# setting {k}: {v}")
    for k, v in sorted(context.items()):
        print(f"# host {k}: {v}")
    for k, v in report.extra(res, outcomes, quality, args.trace == 1).items():
        print(f"# {k}: {v['value']} {v['unit']}")
    for k, v in metrics.items():
        print(f"# metric {k}: {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    # a terminated runner still kills and waits for its JVM or sbt (see _run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    except Exception as e:
        import traceback
        traceback.print_exc()
        log(f"error: {e}")
        sys.exit(2)
