#!/usr/bin/env python3
"""Workload benchmark for the graft engine.

    python3 perfbench/run.py --workload ql_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the benchmark and
the engine from source (sbt, offline) and generates the inputs; later
runs reuse both while their sources are unchanged. Everything the
benchmark writes stays under perfbench/target, perfbench/project and
perfbench/.work.

Prints the JVM's detailed report line (with input provenance added) and,
as the last line, the result object. Exits non-zero without a result
when anything fails.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("ql_read", "ql_write", "batch")
# inputs: the TPC-H-shaped graph for the interactive workloads, and the
# base that graft.ScaleGen scales into the batch rung
READ_SF = "0.05"
BATCH_SF = "0.01"
RUNG_COPIES = "10"
RUNG_WIDTH = "5"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha256_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def tree_files(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return out


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark once per source state; return classpath."""
    sources = tree_files(os.path.join(ROOT, "src", "main"),
                         os.path.join(BENCH, "src", "main"))
    sources += [os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")]
    stamp = sha256_files(sources)
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    cp_file = os.path.join(BENCH, "target", "runtime-classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark (sbt, offline)")
    t0 = time.time()
    run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "writeClasspath"], cwd=BENCH, env=sbt_env(),
        timeout=BUILD_TIMEOUT_S, out=sys.stderr)
    log(f"build took {time.time() - t0:.0f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run(cmd, cwd, env, timeout, out=None):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=out or subprocess.PIPE, stderr=sys.stderr,
                         text=True)
    try:
        stdout, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"timed out after {timeout}s: {' '.join(cmd[:3])}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if p.returncode != 0:
        raise RuntimeError(f"exit {p.returncode}: {' '.join(cmd[:3])}")
    return stdout


def jvm_cmd(cp, main, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + args


def jvm_env():
    env = dict(os.environ)
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = local
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    return env


def inputs(cp):
    """Generate (once) the inputs; return (data dir, provenance)."""
    gen_src = os.path.join(BENCH, "src", "main", "scala", "perfbench",
                           "GenData.scala")
    scalegen_src = os.path.join(ROOT, "src", "main", "scala", "graft",
                                "ScaleGen.scala")
    gen = sha256_files([gen_src])[:12]
    scalegen = sha256_files([scalegen_src])[:12]
    key = (f"gen={gen};read_sf={READ_SF};base_sf={BATCH_SF};"
           f"scalegen={scalegen};copies={RUNG_COPIES};width={RUNG_WIDTH}")
    data = os.path.join(WORK, "data", hashlib.sha256(key.encode())
                        .hexdigest()[:16])
    done = os.path.join(data, "provenance.json")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        t0 = time.time()
        log("generating inputs")
        for name, sf in (("tpch", READ_SF), ("batchbase", BATCH_SF)):
            run(jvm_cmd(cp, "perfbench.GenData",
                        [os.path.join(data, name), sf]),
                cwd=ROOT, env=jvm_env(), timeout=600, out=sys.stderr)
        run(jvm_cmd(cp, "graft.ScaleGen",
                    [os.path.join(data, "batchbase"),
                     os.path.join(data, "rung"), RUNG_COPIES, RUNG_WIDTH]),
            cwd=ROOT, env=jvm_env(), timeout=600, out=sys.stderr)
        out = run(jvm_cmd(cp, "perfbench.DigestInputs",
                          [os.path.join(data, "tpch"),
                           os.path.join(data, "rung")]),
                  cwd=ROOT, env=jvm_env(), timeout=600)
        digests = {}
        for line in out.splitlines():
            name, rows, total = line.split()
            digests[name] = {"rows": int(rows), "digest": total}
        # the batch checks are recorded against the rung's values, not
        # against the sources that produced them
        rung = hashlib.sha256(json.dumps(
            {k: v for k, v in digests.items() if k.startswith("rung/")},
            sort_keys=True).encode()).hexdigest()[:16]
        with open(os.path.join(data, "rung.key"), "w") as f:
            f.write(f"base_sf={BATCH_SF};copies={RUNG_COPIES};"
                    f"width={RUNG_WIDTH};rung={rung}")
        prov = {"input_key": key, "generator": "perfbench.GenData",
                "read_sf": READ_SF, "batch_base_sf": BATCH_SF,
                "scalegen_args": [BATCH_SF, RUNG_COPIES, RUNG_WIDTH],
                "input_digests": digests}
        with open(done + ".tmp", "w") as f:
            json.dump(prov, f)
        os.rename(done + ".tmp", done)
        log(f"inputs took {time.time() - t0:.0f}s")
    with open(done) as f:
        return data, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", action="store_true",
                    help="print the batch step digests for expected/")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}/src; run from a checkout")
        return 2
    cp = build()
    data, prov = inputs(cp)
    rundir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        out = run(jvm_cmd(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", data, "--work", rundir,
            "--expected", os.path.join(BENCH, "expected", "batch.json"),
            "--record", "1" if a.record else "0"]),
            cwd=ROOT, env=jvm_env(), timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise RuntimeError("malformed result line")
    for l in lines[:-1]:
        if l.startswith('{"perfbench_report"'):
            rep = json.loads(l)
            rep["perfbench_report"]["provenance"].update(prov)
            l = json.dumps(rep)
        print(l)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        log(f"error: {e}")
        sys.exit(1)
