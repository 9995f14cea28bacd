#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload olap_queries --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) and generates the input tables; later runs
reuse both while the sources are unchanged. A calibration probe runs in a
JVM of its own before and after the workload's JVM. The run prints a
report and, as its last line, one JSON object with the run's result. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ARCHIVE = os.path.join(WORK, "classes.jsa")
TRAIN_TIMEOUT_S = 600
WORKLOADS = ("olap_queries", "lakehouse_mix", "curation_batch")
DEFAULT_SEED = 1
HELD_OUT_SEED = 20261017
DATA_SCALE = 0.1
HEAP = "3g"
# flag a run whose calibration probe exceeds this multiple of quiet_ref.json
LOAD_FACTOR = 2.0
RUN_TIMEOUT_S = 170
PROBE_TIMEOUT_S = 20
# end-to-end timings brought to the reference speed: multiplied (1) or
# divided (-1) by quiet probe / mean probe of the run
SCALED = {"setup_s": 1, "ops_per_s": -1, "op_geomean_ms": 1}
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def say(msg):
    print(f"[perfbench] {msg}", flush=True)


def tree_hash(paths):
    """sha256 over the names and contents of every file under `paths`."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for d, _, names in os.walk(p):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def check_checkout():
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: no engine sources here ({need} is missing); "
                     "run from the root of a repository checkout")


def jar_classpath(cp):
    """The classpath with each class directory packed into a jar: the JVM's
    class-data-sharing archive can only cover classes loaded from jars."""
    jars = os.path.join(WORK, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in os.walk(entry):
                    for n in sorted(names):
                        z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train(cp, data_dir):
    """Dump the class-data-sharing archive from one warm-up pass of every
    workload. Startup and the first set-up then skip most class loading:
    about 10 s of a 50 s run on a 4-vCPU box. Without an archive runs still
    work, only slower."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    # captured: the archive dump prints thousands of warnings to stdout
    code, _ = run_jvm(cp, ["--mode", "train", "--data", data_dir,
                           "--expected", os.path.join(HERE, "expected.json")],
                      TRAIN_TIMEOUT_S, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], capture=True)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log(f"class-data-sharing archive: {'dumped' if os.path.exists(ARCHIVE) else 'none'}")


def build(data_dir):
    """Compile the engine and the benchmark; return the runtime classpath."""
    stamp = tree_hash([os.path.join(ROOT, p) for p in
                       ("build.sbt", "project/build.properties", "src/main")] +
                      [os.path.join(HERE, p) for p in
                       ("build.sbt", "project/build.properties", "src/main")])
    # one build lives in the target directories at a time, so the stamp
    # names the sources of the last successful build, not any earlier one
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build-stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            built = f.read().strip()
        if built == stamp:
            with open(cp_file) as f:
                return f.read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    cp = jar_classpath(lines[-1])
    train(cp, data_dir)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def data():
    """Generate the input tables once per generator version and scale."""
    gen = os.path.join(HERE, "gen_data.py")
    d = os.path.join(WORK, f"data-{tree_hash([gen])}-{DATA_SCALE}")
    if not os.path.exists(os.path.join(d, "done")):
        log(f"generating input tables at scale {DATA_SCALE}")
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, gen, d, "--scale", str(DATA_SCALE)], check=True)
        open(os.path.join(d, "done"), "w").close()
    return d


def quiet_ref_ms():
    """The committed quiet-machine calibration probe time."""
    with open(os.path.join(HERE, "quiet_ref.json")) as f:
        return float(json.load(f)["probe_ms"])


def java_cmd(cp, work, args, jvm_flags):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    if not jvm_flags and os.path.exists(ARCHIVE):
        jvm_flags = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    return (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby"]
            + jvm_flags + opens + ["-cp", cp, "perfbench.Main"] + args)


def run_jvm(cp, args, timeout, jvm_flags=(), capture=False):
    """Run the benchmark JVM in a fresh scratch directory; return its exit
    code and, with `capture`, its stdout (else passed through)."""
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(java_cmd(cp, work, args + ["--work", work], list(jvm_flags)), env=env,
                         stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        log(f"the benchmark JVM did not finish within {timeout:.0f} s")
        return 3, ""
    finally:
        shutil.rmtree(work, ignore_errors=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return "unavailable"


def probe(cp):
    """The calibration probe's time in ms, run in a JVM of its own so that
    nothing a workload run leaves behind (threads, heap, JIT state) can
    reach it; and /proc/loadavg beside it."""
    code, out = run_jvm(cp, ["--mode", "probe"], PROBE_TIMEOUT_S, capture=True)
    ms = [float(l.split()[1]) for l in out.splitlines() if l.startswith("probe_ms ")]
    if code != 0 or not ms:
        sys.exit("perfbench: the calibration probe failed")
    return ms[-1], loadavg()


def run_workload(cp, args, trace):
    """Run one workload JVM between two probes. Pass its report through,
    add the load flag and, untraced, the timings at the reference speed,
    and print the result JSON last; return the exit code."""
    t0 = time.time()
    before, load_before = probe(cp)
    code, out = run_jvm(cp, args, RUN_TIMEOUT_S - 2 * PROBE_TIMEOUT_S - (time.time() - t0),
                        capture=True)
    after, load_after = probe(cp)
    lines = out.splitlines()
    result = json.loads(lines.pop()) if lines and lines[-1].startswith("{") else None
    for line in lines:
        print(line)
    quiet = quiet_ref_ms()
    flag = max(before, after) > LOAD_FACTOR * quiet
    say(f"load probe_before_ms={before:.1f} probe_after_ms={after:.1f} "
        f"quiet_ref_ms={quiet:.1f} factor={LOAD_FACTOR:.1f} loadavg_before=[{load_before}] "
        f"loadavg_after=[{load_after}] load_flag={str(flag).lower()}")
    if flag:
        log(f"LOAD FLAG: probe {max(before, after):.0f} ms > {LOAD_FACTOR} x quiet "
            f"{quiet:.0f} ms; this run's timings are suspect")
    if result is None:
        return code or 2
    if not trace:
        # the machine's speed moves in phases of minutes, and the probe,
        # which the engine never touches, moves with it
        scale = quiet / ((before + after) / 2)
        say(f"speed scale = {scale:.4f} (quiet probe {quiet:.1f} ms / this run's mean probe)")
        for name, way in SCALED.items():
            m = result["metrics"][name]
            m["value"] = m["value"] * scale if way > 0 else m["value"] / scale
            say(f"{name} = {m['value']:.4f} {m['unit']} (at the reference speed)")
    print(json.dumps(result), flush=True)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--calibrate", action="store_true",
                    help="print the calibration probe time (for quiet_ref.json) and exit")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    check_checkout()
    d = data()
    cp = build(d)
    if a.calibrate:
        for _ in range(5):
            print(f"probe_ms {probe(cp)[0]:.1f}")
        return 0
    if not a.workload:
        ap.error("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", d,
            "--expected", os.path.join(HERE, "expected.json")]
    return run_workload(cp, args, a.trace == 1)


if __name__ == "__main__":
    sys.exit(main())
