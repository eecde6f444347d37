#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program's
sources together with the harness (perfbench/src) into .bench_build/ with
sbt; later runs reuse that build while the sources are unchanged. Inputs are
generated from --seed, the JVM half (perfbench.Main) runs the workload, the
outputs are checked apart from the program, and the last line printed is
the result object. See perfbench/README.md for the workloads and metrics.
"""
import time

T_START = time.time()

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
JVM_TIMEOUT_S = 150

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def spark_jars():
    """The Spark jar directory the program's own build.sbt names (`unmanagedBase`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        sys.exit("perfbench: build.sbt names no existing unmanagedBase (Spark's jars)")
    return m.group(1)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if the sources changed since the last build; returns seconds spent."""
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(stamp_path) \
                and open(stamp_path).read() == h.hexdigest():
            return 0.0
        env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                              cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                              timeout=840)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            sys.exit(f"build failed (exit {rc}); log in {log}")
        with open(stamp_path, "w") as f:
            f.write(h.hexdigest())
    return time.time() - t0


def run_killable(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_command(tmp):
    """`java` with the options Spark needs on JDK 17 and the build's classpath."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-Dderby.stream.error.file=" + os.path.join(tmp, "derby.log"),
           "-Duser.timezone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{CLASSES}:{spark_jars()}/*"]


def jvm_command(wl, seed, run_dir, seconds, trace, cores):
    return java_command(os.path.join(run_dir, "tmp")) + [
        "perfbench.Main", "--workload", wl.name, "--inputs", os.path.join(run_dir, "inputs"),
        "--out", os.path.join(run_dir, "out"), "--work", os.path.join(run_dir, "work"),
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--cores", str(cores)] + wl.jvm_args(seed)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="Spark local[n] and shuffle partitions (default: every core)")
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so run_killable still kills its child group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench must run from a checkout of the graft sources")
    wl = workloads.ALL[args.workload]

    build_s = build()
    run_dir = os.path.join(BUILD, "runs", f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    generated = wl.generate(args.seed, inputs)
    t_gen = time.time()

    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        rc = run_killable(jvm_command(wl, args.seed, run_dir, args.seconds, args.trace, args.cores),
                          stdout=out, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(open(log).read()[-6000:])
        sys.exit(f"{wl.name}: the JVM exited with {rc}")
    t_jvm = time.time()
    with open(log) as f:
        sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))
    out_dir = os.path.join(run_dir, "out")
    with open(os.path.join(out_dir, "result.json")) as f:
        result = json.load(f)

    # {operation name or "*": [errors]}; fails the operations it names, or all
    errors = wl.check(generated, inputs, out_dir, result)
    for op, errs in sorted(errors.items()):
        for e in errs[:5]:
            print(f"[check] {op}: {e}", file=sys.stderr)
    print(f"[perfbench] build {build_s:.1f} s, inputs {t_gen - T_START - build_s:.1f} s, "
          f"JVM {t_jvm - t_gen:.1f} s, checks {time.time() - t_jvm:.1f} s", file=sys.stderr)
    for i, r in enumerate(result["rounds"], 1):
        print(f"[perfbench] round {i}: wall {r['wall_s']:.2f} s, cpu {r['cpu_s']:.2f} s, ops "
              + " ".join(f"{s:.2f}" for _, s, _ in r["ops"]), file=sys.stderr)
    ops = [(name, s, ok and name not in errors and "*" not in errors)
           for r in result["rounds"] for name, s, ok in r["ops"]]
    attempted = len(ops)
    failed = sum(1 for _, _, ok in ops if not ok)

    if args.trace:
        metrics = {m["name"]: {"value": result["trace"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in workloads.PER_LAYER}
    else:
        setup_s = result["timed_start_epoch_ms"] / 1000.0 - T_START - build_s
        rounds = result["rounds"]
        # op_p50_s: the median over operations of each one's median over the
        # rounds, so a batch query counts once however many rounds ran.
        op_times = {}
        for name, s, _ in ops:
            op_times.setdefault(name, []).append(s)
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(r["wall_s"] for r in rounds),
            "cpu_s": statistics.median(r["cpu_s"] for r in rounds),
            "op_p50_s": statistics.median(statistics.median(v) for v in op_times.values()),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in workloads.END_TO_END}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
