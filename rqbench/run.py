#!/usr/bin/env python3
"""Raquet benchmark: one workload, one JVM, every output checked.

Run from the root of a checkout:

    python3 rqbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

The script builds the library and the benchmark from the checkout's sources
with sbt (only when a source changed since the last build), builds the
fixture for the seed when it is missing, then runs the workload in a fresh
JVM. It prints the JVM's record lines and, as the last line, the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything it writes goes under .bench_build/ in the checkout. It exits with
a code other than 0 when a check fails, a step fails or times out, or the
checkout holds no library sources.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HOME = ROOT / ".bench_build"
WORKLOADS = ("interactive", "scan")
FAMILY = 2  # fixture variants: the fixture seed is the run seed modulo this
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
# Spark on JDK 17 needs these outside spark-submit (JavaModuleOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

_child = None


def log(msg):
    print(f"[rqbench] {msg}", file=sys.stderr, flush=True)


def _kill_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()
    sys.exit(143)


def run_child(cmd, deadline, cwd=None, env=None):
    """Run cmd in its own process group; kill the group at the deadline.
    Returns (exit code, stdout text); stderr passes through."""
    global _child
    _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                              text=True, start_new_session=True)
    try:
        out, _ = _child.communicate(timeout=max(1.0, deadline - time.monotonic()))
        return _child.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        out, _ = _child.communicate()
        log(f"timed out: {' '.join(cmd[:3])} ...")
        return 124, out
    finally:
        _child = None


def tree_hash(paths):
    """sha256 over the relative names and contents of all files under paths."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT) if p.is_relative_to(ROOT) else p).encode())
            h.update(b"\0")
            h.update(p.read_bytes())
            h.update(b"\0")
    return h.hexdigest()


def source_hash():
    paths = [ROOT / "build.sbt", ROOT / "src" / "main", BENCH / "build.sbt", BENCH / "src"]
    paths += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    paths += sorted((BENCH / "project").glob("*.properties"))
    return tree_hash([p for p in paths if p.exists()])


def build(deadline):
    """Compile with sbt when the sources changed; return (classpath, classes hash)."""
    stamp_file = HOME / "build.json"
    stamp = source_hash()
    if stamp_file.exists():
        b = json.loads(stamp_file.read_text())
        if b.get("sources") == stamp and all(Path(p).exists() for p in b["classpath"].split(os.pathsep)):
            return b["classpath"], b["classes"]
    log("building the library and the benchmark with sbt")
    t0 = time.monotonic()
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={HOME / 'tmp'}").strip()
    code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], deadline, cwd=BENCH, env=env)
    lines = [l.strip() for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"[rqbench] sbt build failed (exit {code})")
    classpath = lines[-1]
    class_dirs = [Path(p) for p in classpath.split(os.pathsep) if Path(p).is_dir()]
    classes = tree_hash(class_dirs)
    stamp_file.write_text(json.dumps({"sources": stamp, "classpath": classpath, "classes": classes,
                                      "build_s": time.monotonic() - t0}))
    return classpath, classes


def java_cmd(classpath, *args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed-size heap under the throughput collector: eden is touched in
    # full within the first collections, so peak RSS follows the old
    # generation's peak rather than the collector's resizing decisions
    return [str(java), *opens, "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={HOME / 'tmp'}",
            "-cp", classpath, "rqbench.Main", *args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one expectation (self-test: the run must fail)")
    a = ap.parse_args()
    start = time.monotonic()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"[rqbench] no library sources under {ROOT} (build.sbt, src/main/scala)")
    signal.signal(signal.SIGTERM, _kill_child)
    signal.signal(signal.SIGINT, _kill_child)
    (HOME / "tmp").mkdir(parents=True, exist_ok=True)

    fresh = not (HOME / "build.json").exists()
    deadline = start + (BUILD_LIMIT_S if fresh else RUN_LIMIT_S)
    classpath, classes = build(deadline)

    fixture_seed = a.seed % FAMILY
    fixture = HOME / "fixtures" / f"fs{fixture_seed}-{classes[:16]}"
    if not (fixture / "_READY").is_file():
        log(f"building fixture {fixture.name}")
        code, out = run_child(java_cmd(classpath, "prepare", "--home", str(HOME), "--fixture",
                                       str(fixture), "--fixture-seed", str(fixture_seed)), deadline)
        sys.stdout.write(out)
        if code != 0:
            raise SystemExit(f"[rqbench] fixture build failed (exit {code})")

    code, out = run_child(java_cmd(classpath, "run", "--home", str(HOME), "--fixture", str(fixture),
                                   "--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", a.trace,
                                   "--inject-wrong", "1" if a.inject_wrong else "0"),
                          deadline)
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        sys.stdout.write(out)
        raise SystemExit(f"[rqbench] the run printed no result (exit {code})")
    sys.stdout.write(out)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
