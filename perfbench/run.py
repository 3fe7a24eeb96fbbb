#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload ppr_stream --seed 42 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run gets its own
scratch directory under .bench_build/perfbench/, removed afterwards, and
appends one record to .bench_build/perfbench/records.jsonl (see README.md
and compare.py). The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPEC = os.path.join(ROOT, "BENCHMARK.json")

HEAP = "3g"
RUN_LIMIT_S = 175      # a run must end within 180 s ...
BUILD_LIMIT_S = 880    # ... or 900 s when it also builds

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
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


def source_digest():
    """Digest of everything the build compiles; a changed digest rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout. Returns
    (exit code, peak RSS of the process in MB)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)

    def stop(signum, _frame):  # take the child's group down with us
        os.killpg(p.pid, signal.SIGKILL)
        os.wait4(p.pid, 0)
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    deadline = time.monotonic() + timeout
    while True:
        pid, status, usage = os.wait4(p.pid, os.WNOHANG)
        if pid == p.pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            break
        if time.monotonic() > deadline:
            os.killpg(p.pid, signal.SIGKILL)
            _, status, usage = os.wait4(p.pid, 0)
            p.returncode = None
            break
        time.sleep(0.05)
    try:  # children the process left behind in its group
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    return p.returncode, usage.ru_maxrss * 1024 / 1e6


def is_built(digest):
    """True when the saved build is of exactly these sources."""
    stamp = os.path.join(STATE, "build.stamp")
    if not (os.path.exists(os.path.join(STATE, "classpath"))
            and os.path.exists(stamp)):
        return False
    with open(stamp) as f:
        return f.read().strip() == digest


def run_limit(rebuilt):
    return BUILD_LIMIT_S if rebuilt else RUN_LIMIT_S


def build(digest, timeout):
    """Compile engine + driver with sbt and save the runtime classpath.
    Returns (classpath file, whether it compiled)."""
    cp_file = os.path.join(STATE, "classpath")
    stamp = os.path.join(STATE, "build.stamp")
    if is_built(digest):
        return cp_file, False
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        code, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            HERE, env, timeout, out, subprocess.STDOUT)
    with open(log) as f:
        lines = [l.strip() for l in f if "scala-2.13" in l and "classes" in l
                 and not l.startswith("[")]
    if code != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write("-cp\n" + lines[-1] + "\n")
    with open(stamp, "w") as f:
        f.write(digest)
    return cp_file, True


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def busy_cores(window=0.5):
    """CPU cores busy over a short window, and cores stolen by the
    hypervisor (a loaded host shows as steal inside a VM)."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[3] + v[4], v[7]
    t0, i0, s0 = sample()
    time.sleep(window)
    t1, i1, s1 = sample()
    ticks = os.sysconf("SC_CLK_TCK") * window
    return ((t1 - t0) - (i1 - i0) - (s1 - s0)) / ticks, (s1 - s0) / ticks


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["bench", "tiny"], default="bench")
    ap.add_argument("--records", default=None,
                    help="run-record file (default .bench_build/perfbench/records.jsonl)")
    ap.add_argument("--selftest", action="store_true",
                    help="run the check-rejection self test instead")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a graft checkout")
    if not os.path.exists(SPEC):
        fail("BENCHMARK.json not found at the checkout root")
    with open(SPEC) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    os.makedirs(STATE, exist_ok=True)
    digest = source_digest()
    cp_file, rebuilt = build(digest, BUILD_LIMIT_S - 60)
    limit = run_limit(rebuilt)

    work = os.path.join(STATE, "runs",
                        f"{a.workload or 'selftest'}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_json = os.path.join(work, "result.json")
    # a fixed, pre-touched heap: peak RSS is then heap plus native memory
    # instead of wherever the collector happened to grow the heap to; the
    # engine's heap use is peak_heap_mb, the live set after a full GC
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]  # as build.sbt
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += [f"@{cp_file}", "graftbench.Main", "--work", work]
    if a.selftest:
        java += ["--selftest"]
    else:
        java += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--size", a.size, "--out", out_json]

    load_before = loadavg()
    busy_before, steal_before = busy_cores()
    log = os.path.join(STATE, "last-run.log")
    with open(log, "w") as err:
        remaining = limit - (time.monotonic() - t_start)
        stdout = None if a.selftest else err
        code, rss_mb = run_group(java, work, dict(os.environ), remaining,
                                 stdout, err)
    load_after = loadavg()
    result = None
    if code == 0 and os.path.exists(out_json):
        with open(out_json) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if a.selftest:
        sys.exit(0 if code == 0 else 1)
    if result is None:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("timed out" if code is None else f"benchmark process exited {code}", 1)

    measured = dict(result["metrics"], peak_rss_mb=rss_mb)
    missing = [m["name"] for m in wanted
               if not isinstance(measured.get(m["name"]), (int, float))
               or not math.isfinite(measured[m["name"]])]
    if missing:
        fail(f"metrics not produced as finite numbers: {missing}", 1)
    line = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    nproc = os.cpu_count()
    record = {
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "git_sha": git_sha(), "src_digest": digest,
        "workload": a.workload, "seed": a.seed, "size": a.size,
        "seconds": a.seconds, "trace": a.trace,
        "n": result["n"], "m": result["m"], "sources": result["sources"],
        "nproc": nproc, "heap": f"-Xms{HEAP} -Xmx{HEAP}",
        "loadavg_before": load_before, "loadavg_after": load_after,
        "host_busy_cores_before": round(busy_before, 3),
        "host_steal_cores_before": round(steal_before, 3),
        "failures": result["failures"],
        "result": line, "metrics": measured,
        "spans": result["spans"], "setup_spans": result["setup_spans"],
        "top_spans": result["top_spans"], "builds_s": result["builds_s"],
        "session_s": result["session_s"], "latencies": result["latencies"],
    }
    records = a.records or os.path.join(STATE, "records.jsonl")
    with open(records, "a") as f:
        f.write(json.dumps(record) + "\n")
    for e in result["failures"]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
