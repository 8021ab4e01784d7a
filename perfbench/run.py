#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the engine with the
repo's own sbt build and the harness in perfbench/harness against it; later
runs reuse the build while the sources are unchanged. Each run generates
its inputs from the seed, runs the workload in one JVM (local[4]), checks
the outputs and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run, whose spans are kept under
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import fcntl
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
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("catalog", "dspa-replay")
REPLAY_SPEEDUP = 10000
# A run must end within 180 s of its start (the build excepted). The JVM
# gets what is left of RUN_LIMIT_S after input generation, less CHECK_S for
# the oracle compare after it, and is killed GRACE_S after its budget.
RUN_LIMIT_S = 165
CHECK_S = 10
GRACE_S = 5
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt(cwd, command, env_extra=None):
    """Run one sbt command offline; return the exported classpath line."""
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = env.get("SBT_OPTS", "").split() + ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env.update(env_extra or {})
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", command], cwd=cwd,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"sbt {command} failed in {cwd}")
    return cp[-1].strip()


def ensure_built():
    """Build the engine and the harness once per source state; return the
    harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no engine sources here (build.sbt, src/main/scala): nothing to benchmark")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    with open(os.path.join(bd, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_f, cp_f = os.path.join(bd, "build.stamp"), os.path.join(bd, "classpath.txt")
        digest = sources_digest()
        if os.path.exists(stamp_f) and open(stamp_f).read() == digest and os.path.exists(cp_f):
            return open(cp_f).read().strip()
        t0 = time.time()
        log("building the engine (sbt) ...")
        program_cp = sbt(ROOT, "export Runtime/fullClasspath")
        log("building the benchmark harness (sbt) ...")
        cp = sbt(os.path.join(HERE, "harness"), "export Runtime/fullClasspath",
                 {"PERFBENCH_PROGRAM_CP": program_cp})
        with open(cp_f, "w") as f:
            f.write(cp)
        with open(stamp_f, "w") as f:
            f.write(digest)
        log(f"built in {time.time() - t0:.1f} s")
        return cp


def run_jvm(cp, a, data, out, budget_s):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--data", data, "--out", out, "--seconds", str(a.seconds),
        "--seed", str(a.seed), "--trace", str(a.trace), "--budget-s", f"{budget_s:.1f}"]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget_s + GRACE_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise SystemExit(f"workload JVM failed ({rc})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = ensure_built()
    t0 = time.time()
    bd = build_dir()
    work = os.path.join(bd, "work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out)
    if a.workload == "dspa-replay":
        gen.replay(data, a.seed, a.seconds * REPLAY_SPEEDUP)
    else:
        gen.catalog(data, a.seed)

    res = run_jvm(cp, a, data, out, RUN_LIMIT_S - CHECK_S - GRACE_S - (time.time() - t0))
    problems = list(res["checks"])
    if a.workload != "dspa-replay":
        problems += oracle.compare(data, os.path.join(out, "dump"))
    for e in res["errors"]:
        log(f"failed: {e}")
    for p in problems:
        log(f"check: {p}")
    results = os.path.join(bd, "results")
    os.makedirs(results, exist_ok=True)
    shutil.copy(os.path.join(out, "result.json"),
                os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    if a.trace:
        keep = os.path.join(bd, "traces", f"{a.workload}-seed{a.seed}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("spans.jsonl", "result.json"):
            if os.path.exists(os.path.join(out, f)):
                shutil.copy(os.path.join(out, f), keep)
        log(f"spans and counts in {keep}")
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    for k, m in metrics.items():
        print(f"{k:44s} {m['value']:>16.6g} {m['unit']}")
    shutil.rmtree(work, ignore_errors=True) if not problems else None
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
