#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the benchmark (perfbench/build.sbt
compiles the program's sources with the benchmark's) and generates the
input tables. Later runs reuse both while their sources are unchanged: a
digest of the sources decides, so an edit is always measured. Each run
gets a fresh work directory, Spark local directory and session, measures
for --seconds seconds, checks the outputs against the DuckDB oracles with
scripts/oracle_check.py, and prints one line per metric followed by one
JSON object as the last line of standard output. The exit code is 0 only when every output checked out.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics as M  # noqa: E402

STATE = os.path.join(HERE, ".state")
# the sources the benchmark jar is built from; a build is reused only while
# their digest is the one it was built from
BUILD_INPUTS = ["perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src", "src/main/scala"]
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-build.json")
JVM_TIMEOUT_S = 170
ORACLE_GROUPS = 4
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Lock:
    """Exclusive file lock, so concurrent first runs build only once."""

    def __init__(self, name):
        os.makedirs(STATE, exist_ok=True)
        self.f = open(os.path.join(STATE, name), "w")

    def __enter__(self):
        fcntl.flock(self.f, fcntl.LOCK_EX)

    def __exit__(self, *exc):
        fcntl.flock(self.f, fcntl.LOCK_UN)
        self.f.close()


def sbt_command(*tasks):
    props = ["-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true",
                  f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    return ["sbt", "--batch", *props, *tasks]


def digest(paths):
    """Digest of the files under `paths` (relative to the checkout root):
    their relative names and contents."""
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def build():
    """Build when the sources differ from the last build's (sbt compiles
    incrementally); returns (runtime classpath, source digest)."""
    sources = digest(BUILD_INPUTS)
    with Lock("build.lock"):
        stamp = {}
        if os.path.exists(BUILD_STAMP):
            with open(BUILD_STAMP) as f:
                stamp = json.load(f)
        if stamp.get("sources") != sources:
            log(f"building (sources {sources})")
            env = dict(os.environ, COURSIER_MODE="offline")
            # a jar classpath (not a classes directory) is what the CDS archive needs
            p = subprocess.run(sbt_command("package", "export Runtime/fullClasspathAsJars"),
                               cwd=HERE, env=env, capture_output=True, text=True)
            lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
                raise SystemExit("perfbench: build failed")
            # an archive of another build's classes must not be used
            for old in glob.glob(os.path.join(HERE, "target", "perfbench-*.jsa*")):
                os.remove(old)
            stamp = {"sources": sources, "classpath": lines[-1].strip()}
            with open(BUILD_STAMP, "w") as f:
                json.dump(stamp, f)
    return stamp["classpath"], sources


def ensure_data(sf):
    """Input tables at scale `sf`, generated again whenever gen_data.py changes."""
    data = os.path.join(STATE, "data", f"sf{sf}")
    version = digest(["perfbench/gen_data.py"])
    with Lock("data.lock"):
        marker = os.path.join(data, "_complete")
        current = None
        if os.path.exists(marker):
            with open(marker) as f:
                current = f.read().strip()
        if current != version:
            log(f"generating input tables (sf {sf}, seed 42)")
            shutil.rmtree(data, ignore_errors=True)
            gen_data.generate(data, sf, 42)
            with open(marker, "w") as f:
                f.write(version)
    return data


def heap_size():
    """Half of MemTotal, clamped to 2..8 GiB, as the test settings in ROADMAP.md."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cds_archive(sources):
    """Class-data-sharing archive of the classes a run loads, one per build:
    it halves the JVM and session start, which every run pays."""
    return os.path.join(HERE, "target", f"perfbench-{sources}.jsa")


def ensure_cds(classpath, archive):
    """Dump the build's CDS archive from a short analyst run, unless done."""
    with Lock("cds.lock"):
        if os.path.exists(archive) or os.path.exists(archive + ".failed"):
            return
        log("dumping the class-data-sharing archive")
        run_dir = os.path.join(STATE, "runs", "cds-dump")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            code = run_jvm(classpath, "analyst", 0, 0, 0, ensure_data(M.SCALE["analyst"]),
                           run_dir, [f"-XX:ArchiveClassesAtExit={archive}"])
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if code != 0 or not os.path.exists(archive):
            log("no CDS archive; runs start without it")
            open(archive + ".failed", "w").close()


def run_jvm(classpath, workload, seed, seconds, trace, data, run_dir, jvm_flags):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temporary files stay in the run directory; no hsperfdata file in /tmp
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xmx{heap_size()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           *jvm_flags, "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--data", data, "--run-dir", run_dir,
           "--launch-ms", str(int(time.time() * 1000)),
           "--cpus", str(len(os.sched_getaffinity(0)))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def oracle_check(data, run_dir, checks):
    """Check each output with scripts/oracle_check.py, which reads one
    parquet file per output: the part files are merged into one first. The
    checks are split into ORACLE_GROUPS directories checked concurrently.
    Returns (names that failed, names that passed, all exit codes 0)."""
    import pyarrow.parquet as pq
    procs = []
    for g in range(ORACLE_GROUPS):
        mine = checks[g::ORACLE_GROUPS]
        if not mine:
            continue
        gdir = os.path.join(run_dir, "checks", str(g))
        for c in mine:
            os.makedirs(os.path.join(gdir, c["name"]))
            pq.write_table(pq.read_table(c["path"]),
                           os.path.join(gdir, c["name"], "part-0.parquet"))
        with open(os.path.join(gdir, "oracle_sql.json"), "w") as f:
            json.dump({c["name"]: c["sql"] for c in mine}, f)
        procs.append(subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"), data, gdir],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True))
    outs = [(p.communicate()[0], p.returncode) for p in procs]
    text = "".join(o for o, _ in outs)
    with open(os.path.join(run_dir, "oracle.log"), "w") as f:
        f.write(text)
    failed = [ln.split()[1].rstrip(":") for ln in text.splitlines() if ln.startswith("FAIL ")]
    passed = [ln.split()[1] for ln in text.splitlines() if ln.startswith("PASS ")]
    return failed, passed, all(code == 0 for _, code in outs)


def main():
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=M.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("perfbench/build.sbt", "src/main/scala/graft", "scripts/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} is missing; run from the root of a full checkout")

    classpath, sources = build()
    data = ensure_data(M.SCALE[args.workload])
    archive = cds_archive(sources)
    ensure_cds(classpath, archive)
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t = time.time()
        code = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace,
                       data, run_dir, [f"-XX:SharedArchiveFile={archive}"]
                       if os.path.exists(archive) else [])
        log(f"JVM took {time.time() - t:.1f} s")
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.writelines(ln for ln in f if ln.startswith("[perfbench]"))
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: benchmark JVM {'timed out' if code is None else f'exited {code}'}")
        with open(result_path) as f:
            res = json.load(f)
        t = time.time()
        failed_checks, passed, all_ok = oracle_check(data, run_dir, res["checks"])
        log(f"oracle check took {time.time() - t:.1f} s")
        checks_ok = all_ok and not failed_checks and len(passed) == len(res["checks"])
        report, notes = M.report(res, failed_checks, checks_ok)
        # one directory per build, so runs of other sources are never summarized together
        keep = os.path.join(STATE, "results", sources)
        os.makedirs(keep, exist_ok=True)
        stem = os.path.join(keep, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}")
        with open(stem + ".json", "w") as f:
            json.dump({"run": res, "report": report}, f)
        shutil.copy(os.path.join(run_dir, "oracle.log"), stem + ".oracle.log")
        if args.trace:
            shutil.copy(os.path.join(run_dir, "trace.jsonl"), stem + ".trace.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, m in report["metrics"].items():
        print(f"{args.workload} {name} = {m['value']} {m['unit']}")
    for line in notes:
        print(f"{args.workload} {line}")
    print(json.dumps(report))
    sys.exit(0 if report["correct"] else 1)


if __name__ == "__main__":
    main()
