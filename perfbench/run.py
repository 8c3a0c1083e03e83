#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness with sbt (perfbench/build.sbt) and caches the classpath under
.perfbench/build, keyed by a hash of the sources; later runs launch the
JVM directly, so no sbt log wraps the output. Every run works in its own
directory under .perfbench (java.io.tmpdir, SPARK_LOCAL_DIRS, outputs,
generated tables) and removes it at the end. Traced runs keep their spans
in .perfbench/traces. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
WORKLOADS = ("l3_multiday_5km", "catalog_graph_store")
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 800

# Spark on JDK 17 outside spark-submit (as ../build.sbt passes them)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def sources_hash() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base, pats in ((ROOT / "project", ("*.sbt", "*.scala", "*.properties")),
                       (HERE / "project", ("*.sbt", "*.scala", "*.properties")),
                       (ROOT / "src" / "main", ("**/*",)),
                       (HERE / "src", ("**/*",))):
        for pat in pats:
            files += [f for f in base.glob(pat) if f.is_file()]
    for f in sorted(set(files)):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    """The harness's runtime classpath, building first if sources changed."""
    build = STATE / "build"
    key, cp_file = build / "sources.sha256", build / "classpath.txt"
    digest = sources_hash()
    if cp_file.exists() and key.exists() and key.read_text() == digest:
        return cp_file.read_text()
    build.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    env.setdefault("COURSIER_MODE", "offline")
    log = build / "sbt.log"
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       BUILD_DEADLINE_S, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    # `export` prints the classpath as one line; sbt's console handling can
    # echo a fragment of it, so take the longest candidate
    cp = max((ln.strip() for ln in log.read_text().splitlines()
              if ".jar" in ln and not ln.startswith("[")), key=len, default=None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(cp)
    key.write_text(digest)
    return cp


def oracle_check(work: Path, timeout: float):
    """DuckDB compare of the catalog results (tools/check_oracle.py)."""
    tool = ROOT / "tools" / "check_oracle.py"
    log = work / "oracle.log"
    with open(log, "w") as out:
        rc = run_group([sys.executable, str(tool), str(work / "oracle"), str(work / "data")],
                       timeout, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    text = log.read_text()
    bad = [ln for ln in text.splitlines() if ln.startswith("FAIL")]
    passed = [ln for ln in text.splitlines() if ln.startswith("PASS")]
    if rc != 0 and not bad:
        bad = [f"oracle check exited {rc}: {text[-300:]}"]
    return passed, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} holds no library sources (build.sbt, src/main/scala)", 2)

    cp = classpath()
    deadline = time.time() + RUN_DEADLINE_S
    work = STATE / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        tmp = work / "tmp"
        tmp.mkdir(parents=True)
        if a.workload == "catalog_graph_store":
            sys.path.insert(0, str(HERE))
            import catalog_data
            rows = catalog_data.generate(work / "data", catalog_data.SEED)
            (work / "data" / "rows.txt").write_text(
                "".join(f"{k} {v}\n" for k, v in rows.items()))
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"),
                   SPARK_GRAFT_GRANULE_ROWS="64", SPARK_GRAFT_GRANULE_COLS="64")
        result = work / "result.json"
        trace_out = STATE / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
        cmd = ["java", *ADD_OPENS, "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", str(work), "--result", str(result),
               "--trace-out", str(trace_out), "--launch-ms", str(int(time.time() * 1000))]
        with open(work / "jvm.log", "w") as out:
            rc = run_group(cmd, deadline - time.time() - 15, env=env,
                           stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        log = (work / "jvm.log").read_text(errors="replace")
        if rc != 0 or not result.exists():
            sys.stderr.write(log[-4000:])
            fail(f"benchmark JVM exited {rc}")
        for ln in log.splitlines():
            if ln.startswith("[perfbench]"):
                print(ln)
            elif ln.startswith("[perfbench "):
                print(ln, file=sys.stderr)
        res = json.loads(result.read_text())
        problems = res.pop("problems")
        if a.workload == "catalog_graph_store":
            passed, bad = oracle_check(work, max(5.0, deadline - time.time()))
            print(f"[perfbench] DuckDB oracle: {len(passed)} pass, {len(bad)} fail")
            problems += bad
        for p in problems[:20]:
            print(f"[perfbench] problem: {p}")
        res["correct"] = res["correct"] and not problems
        print(json.dumps(res, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
