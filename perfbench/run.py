#!/usr/bin/env python3
"""Benchmark command: builds the program and runs one workload.

    python3 perfbench/run.py --workload load|roster \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the program
and the benchmark with sbt (offline) and keeps the resulting classpath
under .bench_build/perfbench; later runs reuse it while the sources are
unchanged. Each run gets its own work directory under .perfbench_work,
removed at the end. The last line of standard output is the result
object; everything before it is run metadata and progress.

Maintainers refresh the expected outputs of the roster workloads with
--record-expected FILE (appends one line per entry).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("load", "roster")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on a
    timeout or a signal so no child outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    """Returns the runtime classpath, building when the sources changed."""
    cp_file, hash_file = STATE / "classpath.txt", STATE / "sources.sha256"
    digest = source_hash()
    if cp_file.exists() and hash_file.exists() and hash_file.read_text() == digest:
        return cp_file.read_text().strip()
    STATE.mkdir(parents=True, exist_ok=True)
    (STATE / "classes.jsa").unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark with sbt")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspathAsJars"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(l for l in lines if "[error]" in l)[-8000:] + "\n")
        raise RuntimeError(f"sbt build failed (exit {code})")
    cp_file.write_text(lines[-1].strip())
    hash_file.write_text(digest)
    return lines[-1].strip()


def main():
    # a terminated benchmark still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log("no program sources next to the benchmark; nothing to run")
        return 2
    java = shutil.which("java")
    if java is None:
        log("java not found")
        return 2
    cp = build()

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    jsa = STATE / "classes.jsa"
    cds = [f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else [f"-XX:ArchiveClassesAtExit={jsa}"]
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *cds,
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--expected", str(HERE / "expected" / "roster.tsv")]
    if a.record_expected:
        cmd += ["--record-expected", str(Path(a.record_expected).resolve())]
    try:
        code, out = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True)
        spans = work / "spans.jsonl"
        if spans.exists():
            keep = STATE / f"spans-{a.workload}-seed{a.seed}.jsonl"
            STATE.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(spans, keep)
            log(f"span file: {keep.relative_to(ROOT)}")
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s and was killed")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        log(f"no result (JVM exit {code})")
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
