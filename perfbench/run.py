#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from the
checkout it runs in, then runs one workload in one fresh JVM.

    python3 perfbench/run.py --workload vault_api|suite_sf001 \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run in a checkout compiles
(sbt, offline) and builds the benchmark-owned index warehouse; later runs
reuse both while the sources are unchanged. Everything it writes stays
under .bench_build/perfbench/ in the checkout.

Standard output: a readable report (environment stamp, every metric with
its unit and sample count, the correctness verdict and any failure by
name), then, as the last line, one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics named in BENCHMARK.json, with --trace 1 the per-layer
ones. Exits non-zero, printing no result, when anything cannot be built
or run.
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

WORKLOADS = ("vault_api", "suite_sf001")
RUN_LIMIT_S = 170          # one measured run, JVM start to exit
# after this many seconds a run starts no optional work (extra warm passes
# or decks), so a slow host shortens it instead of tripping RUN_LIMIT_S
RUN_SOFT_LIMIT_S = 120
BUILD_LIMIT_S = 350        # compile, then index warehouse: first run only
TOOL_LIMIT_S = 900         # --self-test, --make-refs (all 158 keys)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def log_tail(path, n=30):
    """Copy the end of a child's log to stderr, where a failure shows."""
    try:
        lines = open(path, errors="replace").read().splitlines()
    except OSError:
        return
    sys.stderr.write("\n".join(lines[-n:]) + "\n")


def cores():
    return len(os.sched_getaffinity(0))


def cgroup_memory_limit():
    """The memory limit of this process's cgroup (v2 or v1), if any."""
    try:
        with open("/proc/self/cgroup") as f:
            entries = [l.rstrip("\n").split(":", 2) for l in f]
    except OSError:
        return None
    paths = []
    for _, ctrls, path in entries:
        if ctrls == "":
            paths.append(f"/sys/fs/cgroup{path}/memory.max")
        elif "memory" in ctrls.split(","):
            paths.append(f"/sys/fs/cgroup/memory{path}/memory.limit_in_bytes")
    for p in paths:
        try:
            v = open(p).read().strip()
        except OSError:
            continue
        if v.isdigit() and int(v) < 1 << 50:
            return int(v)
    return None


def heap():
    """Half of the memory this process may use (MemTotal, or a smaller
    cgroup limit), clamped to 2-8 GB: the project's test-run rule."""
    try:
        with open("/proc/meminfo") as f:
            total = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) * 1024
    except (OSError, StopIteration, ValueError):
        total = 4 << 30
    limit = cgroup_memory_limit()
    if limit is not None:
        total = min(total, limit)
    return f"{min(8, max(2, total // (2 << 30)))}g"


# Environment the engine or Spark would read that could change what is
# measured (engine knobs, Spark dirs and JVM options); the child runs
# without them, bound to the loopback interface.
DROPPED_ENV = ("SPARK_", "GRAFT_", "PYSPARK_", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS",
               "JDK_JAVA_OPTIONS")


def child_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith(DROPPED_ENV)}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env["SPARK_LOCAL_HOSTNAME"] = "localhost"
    return env


ENGINE_SOURCES = ("build.sbt", "project", "src/main")
HARNESS_SOURCES = ("perfbench/build.sbt", "perfbench/project", "perfbench/src")


def source_files(root, tops):
    """The files under `tops` that decide what gets compiled."""
    out = []
    for top in tops:
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties")))
    return out


def tree_hash(root, files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_child(cmd, log_path, limit_s, cwd, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    env = child_env() if env is None else env
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def java_cmd(cp, work, args, main="perfbench.Main"):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
             "-XX:+ExitOnOutOfMemoryError", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
            + opens + ["-cp", cp, main] + args)


def build(root, out, data, srchash, enginehash):
    """Compile engine + harness (once per source tree) and build the
    benchmark-owned index warehouse (once per engine source tree).
    Returns (classpath, warehouse)."""
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    warehouse = os.path.join(out, "warehouse", enginehash)
    if not (os.path.exists(stamp) and open(stamp).read() == srchash
            and os.path.exists(cp_file)):
        log("compiling engine and harness (sbt, offline)")
        env = child_env()
        env["COURSIER_MODE"] = "offline"
        home = os.path.expanduser("~")
        env["SBT_OPTS"] = " ".join([
            "-Dsbt.override.build.repos=true",
            f"-Dsbt.repository.config={home}/.sbt/repositories",
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
        build_log = os.path.join(out, "build.log")
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       build_log, BUILD_LIMIT_S, os.path.join(root, "perfbench"), env)
        lines = open(build_log).read().splitlines()
        cp = next((l.strip() for l in reversed(lines)
                   if l.strip() and not l.startswith("[") and ".jar" in l), None)
        if rc != 0 or cp is None:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"build failed (exit {rc}); see {build_log}", 3)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp, "w") as f:
            f.write(srchash)
    cp = open(cp_file).read().strip()
    if not os.path.exists(os.path.join(warehouse, "perfbench-built.txt")):
        log("building the index warehouse")
        # one warehouse per engine tree; older ones are stale
        shutil.rmtree(os.path.dirname(warehouse), ignore_errors=True)
        work = os.path.join(out, "work", "prepare")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        prep_log = os.path.join(out, "prepare.log")
        rc = run_child(java_cmd(cp, work, ["--prepare", "1", "--data", data,
                                           "--work", work, "--warehouse", warehouse,
                                           "--cores", str(cores())]),
                       prep_log, BUILD_LIMIT_S, root)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            log_tail(prep_log)
            fail(f"index warehouse build failed (exit {rc})", 3)
    return cp, warehouse


def applies(name, workload):
    """Per-layer metrics are named by layer; vault.* exist only on
    vault_api, the engine layers only on the suite, wall.*, cpu.*, host.*,
    jvm.* and trace.* on both. A metric of the other workload reads 0 (n=0)."""
    if name.startswith(("wall.", "cpu.", "host.", "jvm.", "trace.")):
        return True
    return name.startswith("vault.") == (workload == "vault_api")


def git_commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def report(res, names, workload, seed, srchash, commit):
    env = res.get("env", {})
    print(f"perfbench {workload} seed={seed} cores={env.get('cores')} "
          f"heap_mb={env.get('heap_mb')} spark={env.get('spark')} "
          f"java={env.get('java')} source={srchash} commit={commit} "
          f"steal_share={env.get('steal_share', 0):.3f}")
    for k, m in res["metrics"].items():
        if k in names:
            print(f"  {k:34s} {m['value']:14.4f} {m['unit']:6s} n={m['n']}")
    att, bad = res["attempted"], res["failed"]
    print(f"  failed_ratio {bad}/{att} = {bad / att:.4f} "
          f"({'correct' if res['correct'] else 'NOT CORRECT'})")
    for f in res.get("failures", []):
        print(f"  FAILED {f}")


def main():
    # a terminated run must not leave its JVM or sbt behind: SystemExit
    # unwinds through run_child, which kills the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that failures are counted and never timed")
    ap.add_argument("--make-refs", action="store_true",
                    help="rewrite refs/suite_sf0.01.json from this tree")
    a = ap.parse_args()
    if not (a.self_test or a.make_refs) and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the checkout root (BENCHMARK.json not found)")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found in this checkout", 3)
    spec = json.load(open(spec_path))
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}

    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    data = os.path.join(here, "tables", "sf0.01")
    refs = os.path.join(here, "refs", "suite_sf0.01.json")
    enginehash = tree_hash(root, source_files(root, ENGINE_SOURCES))
    srchash = tree_hash(root, source_files(root, ENGINE_SOURCES + HARNESS_SOURCES))
    cp, warehouse = build(root, out, data, srchash, enginehash)

    if a.self_test or a.make_refs:
        work = os.path.join(out, "work", "tool")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        common = ["--work", work, "--warehouse", warehouse, "--cores", str(cores())]
        if a.self_test:
            cmd = java_cmd(cp, work, common, "perfbench.SelfTest")
        else:
            cmd = java_cmd(cp, work, ["--make-refs", refs, "--data", data] + common)
        tool_log = os.path.join(out, "tool.log")
        rc = run_child(cmd, tool_log, TOOL_LIMIT_S, root)
        shutil.rmtree(work, ignore_errors=True)
        sys.stdout.write("".join(l for l in open(tool_log) if l.startswith("perfbench")))
        sys.exit(0 if rc == 0 else 1)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(out, "work", run_id)
    results = os.path.join(out, "results", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    res_path = os.path.join(results, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--warehouse", warehouse,
            "--refs", refs, "--cores", str(cores()), "--out", res_path,
            "--spans", os.path.join(results, "spans.jsonl"),
            "--soft-limit", str(RUN_SOFT_LIMIT_S)]
    t0 = time.time()
    jvm_log = os.path.join(results, "jvm.log")
    rc = run_child(java_cmd(cp, work, args), jvm_log, RUN_LIMIT_S, root)
    shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        log_tail(jvm_log)
        fail(f"run exceeded {RUN_LIMIT_S}s and was stopped", 4)
    if rc != 0 or not os.path.exists(res_path):
        log_tail(jvm_log)
        fail(f"benchmark process failed (exit {rc}); see {results}/jvm.log", 4)
    res = json.load(open(res_path))
    for n in names:
        if a.trace and n not in res["metrics"] and not applies(n, a.workload):
            res["metrics"][n] = {"value": 0.0, "unit": units[n], "n": 0}
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}", 5)
    log(f"run took {time.time() - t0:.1f}s")
    report(res, names, a.workload, a.seed, srchash, git_commit(root))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": res["metrics"][n]["value"],
                        "unit": res["metrics"][n]["unit"]} for n in names},
    }))


if __name__ == "__main__":
    main()
