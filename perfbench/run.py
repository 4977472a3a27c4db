#!/usr/bin/env python3
"""Benchmark of the transcript-redaction engine.

Runs one seeded workload against the engine's public entry points, checks
its output, and prints the metrics; the last line of stdout is one JSON
object. See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --workload redact_paced --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --scaling --seed 1 --seconds 10   # 1-core vs 4-core backlog

Run it from the repository root. Everything it builds, generates and writes
stays under .bench_build/ there.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build    # noqa: E402
import metrics  # noqa: E402

CORES = 4          # local[4]: the box the benchmark is sized for
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fs_type(path):
    """Filesystem type of the mount holding `path`, from /proc/mounts."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def environment(root):
    """Pin the environment: the declared root, its filesystem, the cores."""
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")) or \
            os.path.realpath(os.path.join(root, "perfbench", "run.py")) != os.path.realpath(__file__):
        fail("run from the repository root (the directory holding BENCHMARK.json)")
    bench_root = os.path.join(root, ".bench_build")
    if os.path.islink(bench_root):
        fail(".bench_build must be a directory inside the checkout, not a link")
    os.makedirs(bench_root, exist_ok=True)
    if os.path.realpath(bench_root) != os.path.join(os.path.realpath(root), ".bench_build"):
        fail(f"bench root resolves outside the checkout: {os.path.realpath(bench_root)}")
    cores = os.cpu_count() or 1
    if cores < CORES:
        fail(f"needs {CORES} cores, found {cores}")
    if shutil.which("java") is None:
        fail("java not found")
    return {"bench_root": ".bench_build", "fs": fs_type(os.path.realpath(bench_root)),
            "host_cores": cores, "spark_cores": CORES, "heap": HEAP}


def jvm(root, jar, workload, seed, seconds, trace, cores, tag, timeout=JVM_TIMEOUT_S):
    b = os.path.join(root, ".bench_build")
    inputs_key = ("shared" if workload == "prepare" else f"{workload}-{seed}"
                  + (f"-{seconds:g}s" if workload == "redact_paced" else ""))
    out_dir = os.path.join(b, "out", f"{workload}-{seed}-t{int(trace)}-c{cores}{tag}")
    work = os.path.join(b, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    tmp = os.path.join(b, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed local address: no host-name lookup at SparkContext start
    env = dict(os.environ, GRAFT_DATA_DIR=os.path.join(b, "fixtures"),
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    # Class-data sharing: the first run in a checkout archives the classes it
    # loaded; later runs map the archive and start the JVM in half the time.
    jsa = jar[:-len(".jar")] + ".jsa"
    cds = f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else f"-XX:ArchiveClassesAtExit={jsa}"
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.path.join(build.spark_jars(root), "*") + os.pathsep + jar, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cores", str(cores),
              "--inputs", os.path.join(b, "inputs", inputs_key),
              "--shared", os.path.join(b, "inputs", "shared"), "--work", work,
              "--out", os.path.join(out_dir, "result.json")])
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out after {timeout}s; see {log.name}")
    if r.returncode != 0:
        tail = open(os.path.join(out_dir, "jvm.log")).read()[-3000:]
        fail(f"benchmark JVM exited {r.returncode}:\n{tail}")
    if workload == "prepare":
        return None
    res = json.load(open(os.path.join(out_dir, "result.json")))
    res["_inputs"] = os.path.join(b, "inputs", inputs_key)
    res["_work"] = work
    return res


def mismatches(root, r):
    """Output checks that run outside the JVM: the batch gates' DuckDB oracle."""
    if r["workload"] != "batch_gates":
        return {}
    b = os.path.join(root, ".bench_build")
    out = os.path.join(r["_work"], "gates-out")
    # the last warm-up pass wrote the results; timed passes use the noop sink
    warm = [o for o in r["ops"] if o["kind"] == "warm"]
    last = max((o["id"].split("-", 1)[0] for o in warm), default="")
    ran = {o["id"].split("-", 1)[1] for o in warm if o["ok"] and o["id"].startswith(last + "-")}
    return metrics.check_gates(r["_inputs"], out, os.path.join(b, "fixtures"),
                               [q for q in r["meta"]["gates"] if q in ran])


def prepare(root, jar):
    """Seed-free inputs shared by every run in this checkout: the pre-loaded
    table of table_ops and the engine's gate fixtures. Built by the first run
    of a checkout, with the build, in its longer time allowance."""
    if not os.path.exists(os.path.join(root, ".bench_build", "inputs", "shared", "meta.json")):
        jvm(root, jar, "prepare", 0, 0, False, CORES, "", timeout=600)


def history(root, jar, a):
    """Untraced throughput of earlier runs of this build, workload, seed and
    --seconds: the base of the tracing overhead."""
    build_id = os.path.basename(jar)[:-len(".jar")]
    return os.path.join(root, ".bench_build", "results", build_id,
                        f"{a.workload}-{a.seed}-{a.seconds:g}s.jsonl")


def run_checked(root, jar, a, trace, cores=CORES, tag=""):
    """One JVM run plus its output checks: (result, attempted, failed, metrics, correct)."""
    r = jvm(root, jar, a.workload, a.seed, a.seconds, trace, cores, tag)
    bad = mismatches(root, r)
    shutil.rmtree(r["_work"], ignore_errors=True)
    attempted, failed, m = metrics.end_to_end(r, bad)
    for q, why in sorted(bad.items()):
        print(f"check failed: {q}: {why}")
    for o in r["ops"]:
        if not o["ok"]:
            print(f"failed {o['kind']} {o['id']}: {o['err']}")
    correct = failed == 0 and r.get("table_ok", True)
    return r, attempted, failed, m, correct


def record(hist, a, m):
    os.makedirs(os.path.dirname(hist), exist_ok=True)
    with open(hist, "a") as f:
        f.write(json.dumps({"seed": a.seed, "work_per_s": m["work_per_s"]}) + "\n")


def measure(root, jar, a, env):
    hist = history(root, jar, a)
    if a.trace:
        # tracing overhead: traced against untraced runs of the same build
        # and inputs (one is made now if there is none yet)
        if not os.path.exists(hist):
            _, _, _, base, ok = run_checked(root, jar, a, False, tag="-base")
            if not ok:
                fail("the untraced base run failed its output check")
            record(hist, a, base)
        with open(hist) as f:
            untraced = statistics.median(json.loads(line)["work_per_s"] for line in f)
    r, attempted, failed, m, correct = run_checked(root, jar, a, bool(a.trace))
    print(f"env: root={env['bench_root']} fs={env['fs']} cores={env['spark_cores']}/"
          f"{env['host_cores']} heap={env['heap']} java={r['env']['java']} spark={r['env']['spark']}")
    print("inputs: " + json.dumps({k: v for k, v in r["meta"].items() if k != "turns_per_slice"}))
    for k, (v, u) in metrics.workload_view(r, m).items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    print(f"{a.workload} failed_ratio = {failed / max(1, attempted):.6g} ({failed}/{attempted})")
    if a.trace:
        overhead = 100.0 * (untraced - m["work_per_s"]) / untraced
        out = {k: {"value": v, "unit": metrics.PER_LAYER[k]}
               for k, v in metrics.per_layer(r, overhead).items()}
    else:
        if correct:
            record(hist, a, m)
        out = {k: {"value": m[k], "unit": metrics.UNITS[k]} for k in metrics.END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


def scaling(root, jar, a):
    """N -> 4N scaling reading of redact_backlog: 1 core against 4 cores."""
    a.workload = "redact_backlog"
    tput = {}
    for cores in (1, CORES):
        r, _, failed, m, correct = run_checked(root, jar, a, False, cores, "-scaling")
        if not correct:
            fail(f"redact_backlog at local[{cores}] failed its output check")
        tput[cores] = m["work_per_s"]
        print(f"redact_backlog local[{cores}] turns_per_s = {tput[cores]:.6g}")
    eff = tput[CORES] / (CORES * tput[1])
    print(json.dumps({"scaling_efficiency": eff, "turns_per_s_1": tput[1],
                      f"turns_per_s_{CORES}": tput[CORES]}))
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", choices=sorted(metrics.UNIT))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scaling", action="store_true",
                   help="run redact_backlog at 1 core and 4 cores and print the efficiency")
    a = p.parse_args()
    root = os.getcwd()
    if not a.scaling and not a.workload:
        p.error("--workload is required")
    env = environment(root)
    jar = build.build(root)
    prepare(root, jar)
    sys.exit(scaling(root, jar, a) if a.scaling else measure(root, jar, a, env))


if __name__ == "__main__":
    main()
