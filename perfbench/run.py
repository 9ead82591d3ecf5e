#!/usr/bin/env python3
"""Run one benchmark workload with one seed and print its result.

    python3 perfbench/run.py --workload retrieve|refresh \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine and the
benchmark (perfbench/build.py). The JVM runs Spark at local[nproc] with
the heap at MemTotal/2 clamped to 2-8 GiB, SPARK_GRAFT_EXTRA_CONF unset,
and every scratch file under .bench_work/. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}; the line before
it is the detail report (environment, set-up breakdown, input digests
and shares, checks, and for --trace 1 the self times). A traced run
also leaves its spans in .bench_work/spans-<workload>-<seed>.jsonl.

--digest-only prints the generated inputs' digests and shares and exits
without starting Spark (used by the benchmark's own tests).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORK = ROOT / ".bench_work"
TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def heap() -> str:
    """MemTotal/2 in whole GiB, clamped to 2..8 (the test suite's sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def git_sha():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except OSError:
        return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["retrieve", "refresh"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--digest-only", action="store_true")
    a = ap.parse_args()

    classes, source_digest = build.build()
    jars = build.spark_jars()
    run_dir = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)

    env = dict(os.environ)
    extra_conf = env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    nproc = os.cpu_count() or 1
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dderby.system.home={run_dir}",
        "-cp", f"{classes}:{jars}/*", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(run_dir / "w"),
    ]
    if a.digest_only:
        cmd.append("--digest-only")
    log = run_dir.with_suffix(".log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=str(run_dir), env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.stderr.write(f"perfbench: timed out after {TIMEOUT_S}s; log in {log}\n")
            return 3
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(open(log).read()[-6000:])
        sys.stderr.write(f"perfbench: JVM exited {p.returncode} without a result\n")
        return 4
    if a.digest_only:
        shutil.rmtree(run_dir, ignore_errors=True)
        log.unlink()
        print(json.dumps(result))
        return 0
    report = json.loads(lines[-2])["report"] if len(lines) >= 2 else {}
    report["env"] = {
        "git_sha": git_sha(), "source_digest": source_digest, "nproc": nproc,
        "heap": heap(), "spark_graft_extra_conf": "unset" if extra_conf is None else "was set; unset for the run",
        "log": str(log.relative_to(ROOT)),
    }
    spans = WORK / f"spans-{a.workload}-{a.seed}.jsonl"
    src_spans = run_dir / f"spans-{a.workload}-{a.seed}.jsonl"
    if src_spans.exists():
        src_spans.replace(spans)
        report["env"]["spans"] = str(spans.relative_to(ROOT))
    shutil.rmtree(run_dir, ignore_errors=True)
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(result) != keys or result["attempted"] < 1:
        sys.stderr.write(f"perfbench: malformed result {result}\n")
        return 5
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
