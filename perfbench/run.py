#!/usr/bin/env python3
"""Build and run the graft benchmark from the root of a checkout.

    python3 perfbench/run.py --workload store_ingest --seed 1 --seconds 5 --trace 0

builds the program and the harness from source (once per source state,
under .bench_build/), generates the input tables (once), runs one
workload in a fresh JVM and prints one JSON result line as the last line
of stdout. Diagnostics go to stderr. Other modes:

    python3 perfbench/run.py --report [--seed N] [--seconds S]
        every workload untraced and traced: end-to-end metrics, the
        tracing overhead, and the non-zero per-layer metrics
    python3 perfbench/run.py --record OUT_DIR
        training-query outputs and digests, for tools/check.py and
        perfbench/expected_digests.json
    python3 perfbench/run.py --defects [--seed N]
        whether a series re-issued after a purge is stale (a known
        defect the measured workloads do not include)
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
BUILD = ".bench_build"
# BENCHMARK.json lists the first two; store_read runs on request (see
# NOTES.md: a third workload does not fit the time a comparison may take)
WORKLOADS = ["store_ingest", "train_mix", "store_read"]
# (directory, scale factor) of the two generated datasets
DATASETS = {"store": 0.1, "train": 0.02}
JAVA_TIMEOUT_S = 165
# the one-off fixture seeding runs inside a checkout's first run, which
# may take longer than a measured run
FIXTURE_TIMEOUT_S = 600
CDS = os.path.abspath(os.path.join(BUILD, "fixtures", "classes.jsa"))
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f)
                           for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*tasks):
    return subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)


def build():
    """Compile program + harness; return the runtime classpath."""
    stamp = tree_hash(["src/main/scala", f"{BENCH}/src/main",
                       f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"])
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read()
    log("building program and harness with sbt")
    t0 = time.time()
    out = sbt("package", "export Runtime/fullClasspath")
    cp = [ln.strip() for ln in out.stdout.splitlines()
          if "scala-2.13/classes" in ln and not ln.startswith("[")]
    jars = glob.glob(os.path.join(BUILD, "target", "scala-2.13", "*.jar"))
    if out.returncode != 0 or not cp or len(jars) != 1:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    # the packaged jar stands in for the classes directory: a class-data
    # sharing archive (see fixture) only covers classes loaded from jars
    cp = ":".join([os.path.abspath(jars[0])] + [
        e for e in cp[-1].split(":") if e.endswith(".jar")])
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def data():
    """Generate the input tables once per generator version."""
    gen = os.path.join(BENCH, "datagen.py")
    stamp = tree_hash([gen])
    root = os.path.join(BUILD, "data")
    stamp_file = os.path.join(root, "data.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return root
    shutil.rmtree(root, ignore_errors=True)
    for name, sf in DATASETS.items():
        subprocess.run([sys.executable, gen, os.path.join(root, name),
                        str(sf)], check=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return root


def fixture(cp, data_root):
    """The seeded store every store run restores, built once per program
    build and data version. The JVM that seeds it also dumps the
    class-data sharing archive later runs start from, which halves JVM
    and session start-up."""
    stamp = (open(os.path.join(BUILD, "build.stamp")).read()
             + open(os.path.join(data_root, "data.stamp")).read())
    root = os.path.abspath(os.path.join(BUILD, "fixtures"))
    store = os.path.join(root, "store")
    stamp_file = os.path.join(root, "fixture.stamp")
    if (os.path.isdir(store) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return store
    log("seeding the store fixture")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    java(cp, "perfbench.StoreRead",
         [os.path.abspath(os.path.join(data_root, "store")), store], root,
         [f"-XX:ArchiveClassesAtExit={CDS}"], FIXTURE_TIMEOUT_S)
    shutil.rmtree(store + ".work", ignore_errors=True)
    shutil.rmtree(os.path.join(root, "tmp"), ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return store


def java(cp, main, args, work, flags=(), timeout=JAVA_TIMEOUT_S):
    """Run a harness main in a fresh JVM; return its stdout lines."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if not flags and os.path.exists(CDS):
        flags = [f"-XX:SharedArchiveFile={CDS}"]
    cmd = (["java", "-Xmx3g", "-Xlog:all=error:stderr", *flags,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, main] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{main} exceeded {timeout} s")
    if proc.returncode != 0:
        raise SystemExit(f"{main} exited with {proc.returncode}")
    return out.splitlines()


def prepare():
    if not os.path.exists("src/main/scala/graft/core/Store.scala"):
        raise SystemExit("no program sources under src/main/scala: run "
                         "from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp, data_root = build(), data()
    return cp, data_root, fixture(cp, data_root)


def run_dir(workload, seed, trace):
    work = os.path.abspath(os.path.join(
        BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def main_args(data_root, store_fixture, work, workload, seed, seconds, trace):
    return [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--store-data", os.path.abspath(os.path.join(data_root, "store")),
        "--train-data", os.path.abspath(os.path.join(data_root, "train")),
        "--fixture", store_fixture, "--work", work,
        "--expected", os.path.join(BENCH, "expected_digests.json")]


def run_once(cp, data_root, store_fixture, workload, seed, seconds, trace):
    work = run_dir(workload, seed, trace)
    try:
        lines = java(cp, "perfbench.Main", main_args(
            data_root, store_fixture, work, workload, seed, seconds, trace),
            work)
        trace_file = os.path.join(work, "trace.json")
        if os.path.exists(trace_file):
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(trace_file,
                        os.path.join(keep, f"{workload}-{seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = json.loads([ln for ln in lines if ln.strip()][-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("malformed result line")
    return result


def report(cp, data_root, store_fixture, seed, seconds):
    rows, layers = [], {}
    for w in WORKLOADS:
        plain = run_once(cp, data_root, store_fixture, w, seed, seconds, 0)
        traced = run_once(cp, data_root, store_fixture, w, seed, seconds, 1)
        m, t = plain["metrics"], traced["metrics"]
        over = t["harness.run.op_ms"]["value"] / m["op_ms"]["value"] - 1
        rows.append((w, plain, m, over))
        layers[w] = {k: v for k, v in t.items() if v["value"]}
    print(f"{'workload':<14}{'metric':<14}{'value':>12}  unit")
    for w, res, m, over in rows:
        for k, v in m.items():
            print(f"{w:<14}{k:<14}{v['value']:>12.3f}  {v['unit']}")
        print(f"{w:<14}{'errors':<14}{res['failed']:>12}  "
              f"of {res['attempted']}")
        print(f"{w:<14}{'trace_cost':<14}{100 * over:>12.1f}  % on op_ms")
    for w, ms in layers.items():
        print(f"\nper-layer, {w} (traced, non-zero)")
        for k, v in ms.items():
            print(f"  {k:<52}{v['value']:>12.3f}  {v['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--record")
    ap.add_argument("--defects", action="store_true")
    a = ap.parse_args()
    cp, data_root, store_fixture = prepare()
    if a.record:
        out_dir = os.path.abspath(a.record)
        java(cp, "perfbench.Record",
             [os.path.abspath(os.path.join(data_root, "train")), out_dir],
             out_dir)
        return
    if a.defects:
        work = run_dir("store_ingest", a.seed, "defects")
        try:
            lines = java(cp, "perfbench.StaleRead", main_args(
                data_root, store_fixture, work, "store_ingest", a.seed, 0, 0),
                work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("stale read after a purge: " + lines[-1])
        return
    if a.report:
        report(cp, data_root, store_fixture, a.seed, a.seconds)
        return
    if not a.workload:
        ap.error("--workload is required")
    result = run_once(cp, data_root, store_fixture, a.workload, a.seed,
                      a.seconds, a.trace)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
