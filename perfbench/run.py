#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <osm_tiles|pip_join> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call compiles the engine and the
benchmark with sbt (offline) and caches the classpath under .bench_build/;
later calls start the JVM directly. The benchmark's last stdout line is one
JSON object; everything else goes to stderr. Each run keeps its sink trees
and Spark scratch space in its own directory under .bench_build/ and deletes
it on exit.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840



def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile once per source digest; returns (classpath, JVM module opens).

    The opens are the engine build's (its javaOptions), printed by the
    benchmark build's `addOpens` task, so the list is kept in one place.
    """
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, f"build-{sources_digest()}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            classpath, opens = fh.read().splitlines()[:2]
            return classpath, opens.split()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath", "print addOpens"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        log(f"build failed (sbt exit {proc.returncode})")
        sys.exit(proc.returncode or 1)
    plain = [l.strip() for l in proc.stdout.splitlines() if not l.startswith("[")]
    classpaths = [l for l in plain if ".jar" in l]
    opens = [l for l in plain if l.startswith("--add-opens")]
    if not classpaths or not opens:
        log("build did not report a classpath and the module opens")
        sys.exit(1)
    for old in os.listdir(BUILD):
        if old.startswith("build-"):
            os.remove(os.path.join(BUILD, old))
    with open(stamp, "w") as fh:
        fh.write(f"{classpaths[-1]}\n{opens[-1]}\n")
    log(f"build took {time.time() - t0:.1f} s")
    return classpaths[-1], opens[-1].split()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["osm_tiles", "pip_join"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "vps")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"engine sources not found ({need} missing under {ROOT}); nothing to benchmark")
            sys.exit(2)

    classpath, opens = build()
    run_dir = os.path.join(BUILD, "runs", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    trace_file = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
    # the live-heap samples force full collections; without a free-ratio cap
    # G1 shrinks the heap after each and the next operation pays to grow it
    cmd = ["java", "-Xmx3g", "-XX:MaxHeapFreeRatio=100", f"-Djava.io.tmpdir={tmp_dir}"] + opens
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--run-dir", run_dir, "--trace-file", trace_file]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir must stay inside the run directory

    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
