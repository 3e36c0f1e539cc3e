#!/usr/bin/env python3
"""Price-list sync benchmark: one command that builds the engine from the
checkout, generates a workload's inputs from a seed, runs and checks sync
ops, and prints one JSON result line.

    python3 perfbench/run.py --workload sync_match --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. `--trace 0` prints the end-to-end
metrics, `--trace 1` the per-layer ones (see BENCHMARK.json). The full
run record (host, every op, spans, all metrics) is written to
perfbench/work/records/. Exit code 0 when every output check passed and
no op failed, 1 otherwise, 2 or 3 when the benchmark could not run.
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
WORK = HERE / "work"
STAMP = HERE / "target" / "perfbench.stamp.json"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
HEAP = "3g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


RUNNING = []


def stop_children(signum=None, frame=None):
    """Kill and reap every process group this script started."""
    for p in RUNNING:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if signum is not None:
        sys.exit(128 + signum)


def start(cmd, **kw):
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, text=True, **kw)
    RUNNING.append(p)
    return p


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((HERE / "src").rglob("*"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the harness once per source state; return
    the runtime classpath."""
    digest = source_hash()
    if STAMP.is_file():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = start(["sbt", "--batch", "-Dsbt.log.noformat=true",
                  "compile", "export Runtime/fullClasspath"],
                 cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop_children()
        die(f"build did not finish within {BUILD_LIMIT_S} s", 3)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(out[-4000:])
        die(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    STAMP.parent.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(json.dumps({"hash": digest, "classpath": classpath}))
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", type=int, default=-1,
                    help="index of a measured op to make fail (for the benchmark's tests)")
    a = ap.parse_args()

    sys.path.insert(0, str(HERE))
    import gen

    if a.workload not in gen.WORKLOADS:
        die(f"unknown workload {a.workload!r}; known: {', '.join(sorted(gen.WORKLOADS))}")
    config = ROOT / "fixtures" / "vitya_config.json"
    if not (ROOT / "BENCHMARK.json").is_file():
        die("BENCHMARK.json not found: run from the root of a checkout")
    if not (ROOT / "src" / "main" / "scala").is_dir() or not config.is_file():
        die("engine sources not found: run from the root of a checkout that holds "
            "src/main/scala and fixtures/")

    classpath = build()
    started = time.time()

    run_dir = WORK / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    expected = gen.generate(a.workload, a.seed, run_dir / "input", config)
    log(f"generated {a.workload} seed {a.seed}: {json.dumps(expected, sort_keys=True)}")
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    record = records / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"

    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", classpath,
            "perfbench.Main", str(run_dir / "input"), str(run_dir), str(record),
            str(a.seconds), str(a.trace)] +
           ([str(a.inject_fail)] if a.inject_fail >= 0 else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    proc = start(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE)
    try:
        out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        stop_children()
        die(f"harness did not finish within {RUN_LIMIT_S} s", 3)
    finally:
        shutil.rmtree(run_dir / "spark-local", ignore_errors=True)
        shutil.rmtree(run_dir / "tmp", ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == RESULT_KEYS
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-2000:])
        die(f"no result from the harness (exit {proc.returncode})")
    # print exactly the metrics BENCHMARK.json declares for this mode
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["per_layer" if a.trace else "end_to_end"]}
    names = list(units)
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        die(f"harness did not report {', '.join(missing)}")
    wrong = [n for n in names if result["metrics"][n]["unit"] != units[n]]
    if wrong:
        die(f"harness reported other units for {', '.join(wrong)}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    log(f"record: {record.relative_to(ROOT)}")
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    sys.exit(main())
