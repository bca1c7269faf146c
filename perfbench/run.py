#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <tabular_io|corpus_search>
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run it from the root of the checkout. The first run builds: sbt compiles
the library (src/main) together with the benchmark (perfbench/src) into
jars under perfbench/.build, rebuilt when a source file changes. The
benchmark JVM's last stdout line is the result JSON; everything it writes
stays under perfbench/.work (removed after the run) and perfbench/.out
(span files and the JVM log).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
OUT = BENCH / ".out"
WORKLOADS = ("tabular_io", "corpus_search")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [Path(__file__).resolve(), BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_cmd(build, work):
    """The benchmark JVM; the build's identity goes into the run's env line."""
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work / 'tmp'}"]
    cmd += [f"-Dperfbench.{k}={v}" for k, v in build.items() if k != "classpath"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", build["classpath"], "perfbench.Main"]


def jars_sha(cp):
    """Hash of every classpath entry's name and size: two runs with the
    same value ran the same jars."""
    h = hashlib.sha256()
    for e in cp.split(":"):
        p = Path(e)
        h.update(f"{p.name}:{p.stat().st_size if p.exists() else -1}\n".encode())
    return h.hexdigest()[:16]


def build():
    """Build if the sources changed since the last build; return the
    classpath and what identifies the build."""
    info_file = BUILD / "build.json"
    want = stamp()
    if info_file.exists():
        info = json.loads(info_file.read_text())
        if info["stamp"] == want:
            return info
    shutil.rmtree(BUILD, ignore_errors=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME to the Spark install whose jars the library builds against")
        env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "package",
             "export Runtime/fullClasspathAsJars"],
            cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    cp = [l for l in lines if ".jar:" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed; see {log}")
    cp = cp[-1].strip()
    info = {"stamp": want, "spark_home": str(Path(env["SPARK_HOME"]).resolve()),
            "classpath_sha": jars_sha(cp), "classpath": cp}
    info_file.write_text(json.dumps(info))
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs, one cycle: a check that everything runs")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no library sources under {ROOT / 'src/main/scala/graft'}; "
             "run from the root of a checkout of the repository")
    info = build()

    OUT.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = BENCH / ".work" / f"{tag}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = java_cmd(info, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work)]
    if a.trace:
        cmd += ["--spans", str(OUT / f"spans-{tag}.jsonl")]
    if a.smoke:
        cmd.append("--smoke")
    log = OUT / f"jvm-{tag}.log"
    t0 = time.monotonic()
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; JVM log: {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        sys.stderr.write("\n".join(log.read_text().splitlines()[-40:]) + "\n")
        fail(f"benchmark JVM exited with {proc.returncode} after "
             f"{time.monotonic() - t0:.1f} s without a result")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
