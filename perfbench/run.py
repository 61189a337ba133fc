#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with sbt on first use
(outputs under target/ and .bench_build/), then runs the harness on a plain
JVM. The harness generates its tables once (cached in .bench_build/), draws
its requests and mutation batches from the seed, measures for the given
seconds, checks every output, and writes its figures; this script adds the
run's CPU-contention diagnostics and prints, as the last line of stdout,
one JSON object with the keys correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced run. Full figures of each run are kept in
.bench_build/perfbench/runs/.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("serve_mix", "mutate_mix")
JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC"] + [
    arg
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]
REPOS = os.path.expanduser("~/.sbt/repositories")


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout:.0f}s: {' '.join(cmd[:3])} ...")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out, err


def source_digest():
    """Digest of everything the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources (build.sbt, src/main/scala/graft) not found next to perfbench/")
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env and os.path.isfile(REPOS):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={REPOS} -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "export perfbench/Runtime/fullClasspath"]
    code, out, _ = run_group(cmd, deadline - time.time(), cwd=HERE, env=env,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def contention():
    """CPU pressure stall (us), cgroup throttling (us), CPU time stolen by
    the hypervisor and all CPU time (clock ticks), and load average."""
    d = {}
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    d["cpu_steal_ticks"], d["cpu_ticks"] = ticks[7], sum(ticks)
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    d["cpu_some_stall_us"] = int(line.split("total=")[1])
    except OSError:
        pass
    for path, key, scale in (("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1),
                             ("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1e-3)):
        try:
            with open(path) as f:
                stats = dict(l.split() for l in f if l.strip())
            d["cgroup_throttled_us"] = int(int(stats[key]) * scale)
            break
        except (OSError, KeyError, ValueError):
            pass
    with open("/proc/loadavg") as f:
        d["loadavg_1m"] = float(f.read().split()[0])
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.time()
    classpath = build(start + 720)
    # a run that had to build uses the first-run allowance; others 180 s
    deadline = max(start + 170, time.time() + 170)
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result,
            "--data", os.path.join(BUILD, "data", a.workload)])
    before = contention()
    code, _, _ = run_group(cmd, deadline - time.time(), cwd=ROOT, stdout=sys.stderr)
    after = contention()
    if code != 0 or not os.path.isfile(result):
        fail(f"harness exited with {code} and no result")
    with open(result) as f:
        res = json.load(f)
    diag = {k: round(after[k] - before[k], 3) if k != "loadavg_1m" else after[k]
            for k in after if k in before}
    diag["loadavg_1m_before"] = before.get("loadavg_1m")
    diag["cpu_steal_pct"] = round(100.0 * diag.pop("cpu_steal_ticks") / max(diag.pop("cpu_ticks"), 1), 2)
    res["contention"] = diag
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    with open(os.path.join(runs, name + ".json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    if os.path.isfile(os.path.join(work, "spans.jsonl")):
        shutil.move(os.path.join(work, "spans.jsonl"), os.path.join(runs, name + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"contention": diag}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
