#!/usr/bin/env python3
"""NextGenETL benchmark: one command that builds the engine, generates a
workload's inputs, runs the workload as a closed loop (one client, one JVM,
local[4], one registry query at a time to the noop sink), checks every
output against DuckDB, and prints every metric by name with its unit.

    python3 perfbench/run.py --workload etl_read --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. `--trace 0` reports the end-to-end
metrics; `--trace 1` runs traced passes next to untraced ones and reports
the per-layer metrics, with spans written to the run directory. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
Exit status is 0 only when every query ran and matched its oracle.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import benchlib  # noqa: E402
import gen_inputs  # noqa: E402
from workloads import FORK_RANKSTAT, FORK_WIDEN, WORKLOADS  # noqa: E402

ROOT = BENCH.parent
WORK = ROOT / ".bench_work"
DEADLINE_S = 160  # JVM limit; with the DuckDB check the command ends inside 180 s
JVM_OPTS = [
    *[a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                  "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                  "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Xms2g", "-Xmx2g",  # a fixed heap: G1 does not shrink it after the heap readings' full GCs
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-XX:-UseDynamicNumberOfCompilerThreads",  # JIT threads live all run: cpu_s subtracts their time
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Changes whenever a file the build reads changes."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties",
             ROOT / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        st = p.stat()
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt (only when sources
    changed) and return the runtime classpath."""
    cp_file = BENCH / "target" / "classpath.txt"
    stamp_file = WORK / "build.stamp"
    stamp = sources_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log = WORK / "build.log"
    tmp = WORK / "sbt-tmp"
    tmp.mkdir(exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                             f"-J-Djava.io.tmpdir={tmp}", f"-J-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
                             "writeClasspath"],
                            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not cp_file.is_file():
        fail(f"build failed (sbt exit {rc}); see {log}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def java(cp, args, cwd, log, timeout):
    """Run one JVM in its own process group; kill the group on timeout."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(cwd / "spark-local"))
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["java", *JVM_OPTS, f"-Djava.io.tmpdir={cwd / 'tmp'}",
             f"-Dspark.local.dir={cwd / 'spark-local'}", "-cp", cp, *args],
            cwd=cwd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            env=env, start_new_session=True)
        try:
            return proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{args[0]} exceeded its time limit; see {log}", 1)
        except BaseException:  # interrupted or terminated: take the JVM down too
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    (path / "tmp").mkdir(parents=True)
    return path


def inputs(name, cp):
    """Generate (once per checkout) the input set a workload reads; returns
    it and the sf0.1 base it was made from."""
    base = WORK / "inputs" / "sf0.1"
    gen_stamp = hashlib.sha256((BENCH / "gen_inputs.py").read_bytes()).hexdigest()
    if not (base / ".done").is_file() or (base / ".done").read_text() != gen_stamp:
        shutil.rmtree(base, ignore_errors=True)
        gen_inputs.write(str(base), 0.1)
        (base / ".done").write_text(gen_stamp)
    if name == "sf0.1":
        return base, base
    scaled = WORK / "inputs" / "sf0.1x4"
    if not (scaled / ".done").is_file() or (scaled / ".done").read_text() != gen_stamp:
        tmp = fresh_dir(WORK / "scaleup")
        shutil.rmtree(scaled, ignore_errors=True)
        rc = java(cp, ["graft.tools.ScaleUp", str(base), str(scaled), "4"], tmp,
                  WORK / "scaleup.log", 600)
        if rc != 0:
            fail(f"ScaleUp failed (exit {rc}); see {WORK / 'scaleup.log'}")
        (scaled / ".done").write_text(gen_stamp)
    return scaled, base


def write_plan(path, workload, seed, seconds, trace, kernel_dir):
    names = [q for q, _ in WORKLOADS[workload]["queries"]]
    # one untimed warm-up pass, then timed passes. Untraced: passes filling
    # about `seconds` (the workload's pass_s is about one pass on a loaded
    # 4-core host), at least three, so each query's median drops a slow
    # rep; traced: untraced and traced passes in ABBA order, so warm-up
    # drift does not bias the overhead
    kinds = ["warmup"] + (["plain", "traced", "traced", "plain"] if trace else
                          ["plain"] * max(3, round(seconds / WORKLOADS[workload]["pass_s"])))
    plan = {"workload": workload, "names": names, "trace": bool(trace), "kernel_dir": str(kernel_dir),
            "pass_kinds": kinds,
            "orders": [benchlib.pass_order(seed, workload, len(names), p) for p in range(len(kinds))],
            "probe": FORK_RANKSTAT + FORK_WIDEN if trace else []}
    path.write_text(json.dumps(plan))
    return plan


def report(workload, metrics, extra_lines):
    print(f"== {workload}")
    for line in extra_lines:
        print(line)
    for name, (value, unit, note) in metrics.items():
        print(f"{name:42s} {value:16.6f} {unit:8s} {note}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found next to {BENCH.name}/ (run from a full checkout)")

    WORK.mkdir(exist_ok=True)
    cp = build()
    wl = WORKLOADS[args.workload]
    sf, base = inputs(wl["inputs"], cp)
    t0 = time.monotonic()
    run_dir = fresh_dir(WORK / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}")
    plan = write_plan(run_dir / "plan.json", args.workload, args.seed, args.seconds, args.trace, base)
    rc = java(cp, ["perfbench.Harness", str(run_dir / "plan.json"), str(sf), str(run_dir)],
              run_dir, run_dir / "harness.log", DEADLINE_S - (time.monotonic() - t0))
    records_path = run_dir / "records.jsonl"
    if rc != 0 or not records_path.is_file():
        tail = (run_dir / "harness.log").read_text(errors="replace").splitlines()[-20:]
        fail("\n".join(tail + [f"harness exit {rc}; see {run_dir / 'harness.log'}"]), 1)
    records = benchlib.read_records(records_path)
    t_jvm = time.monotonic()

    # correctness: exceptions in any pass, then every output against DuckDB
    bad = {r["query"]: r["error"] for r in records if r["kind"] == "failure"}
    oracle = json.loads((run_dir / "oracle_sql.json").read_text())
    ran = {q: sql for q, sql in oracle.items() if q not in bad}
    bad.update(benchlib.check_outputs(str(sf), str(run_dir / "check"), ran, str(run_dir)))
    attempted = len(plan["names"])
    t_check = time.monotonic()

    setup = next(r for r in records if r["kind"] == "setup")
    conf = {k: v for k, v in next(r for r in records if r["kind"] == "conf").items() if k != "kind"}
    timed = sum(k != "warmup" for k in plan["pass_kinds"])
    extra = [f"inputs {sf.name}, {timed} timed passes after {len(plan['pass_kinds']) - timed} warm-up, "
             f"seed {args.seed}, spark {conf['spark.version']}, java {conf['java.version']}, "
             f"heap {conf['heap_max_mb']} MB",
             f"failed_share {len(bad) / attempted:.6f} ({len(bad)}/{attempted} queries)",
             f"wall: jvm {t_jvm - t0:.1f} s, duckdb check {t_check - t_jvm:.1f} s"]
    if args.trace:
        metrics, lines = benchlib.per_layer(records, setup, FORK_RANKSTAT, FORK_WIDEN)
        spans = [r for r in records if r["kind"] == "span"]
        with open(run_dir / "spans.json", "w") as f:
            json.dump(spans, f)
        extra += lines + [f"spans: {run_dir / 'spans.json'} ({len(spans)})"]
    else:
        metrics, lines = benchlib.end_to_end(records, setup["setup_s"])
        extra += lines
    report(args.workload, metrics, extra)
    for q, why in sorted(bad.items()):
        print(f"FAILED {q}: {why}", file=sys.stderr)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))
    return 1 if bad else 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
