"""The repository benchmark: one workload per call, end-to-end metrics
by name, outputs checked for correctness.

Usage:
  python3 perfbench/run.py --workload {cdc,query_mix}
      --seed N --seconds S --trace {0,1}

Builds the engine and harness from source (perfbench/build.py),
generates the seeded inputs, runs the workload in one JVM with
`local[nproc]`, checks its outputs and prints, as the last line of
stdout, one JSON object: `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end ones of
BENCHMARK.json; with `--trace 1` the per-layer ones, and the span dump
and per-layer self-time table are written under `<build>/traces/`.
Every result is also kept under `<build>/results/` for
perfbench/compare_sets.py. The exit code is 0 only when every check passed.

`--break-check` perturbs one expected value so a run shows the
correctness gate failing.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen_tables  # noqa: E402

ROOT = HERE.parent
# (tables, scale relative to sf0.1) of each workload's generated inputs
INPUTS = {
    "cdc": (["customer", "part", "orders", "lineitem"], 0.125),
    "query_mix": (list(gen_tables.TABLES), 0.125),
}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 160


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--break-check", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    classpath = build.ensure()
    out = build.out_dir()
    work = out / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = run(a, classpath, work)
    finally:
        if a.trace and (work / "spans.json").exists():
            traces = out / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.json", traces / f"{a.workload}-seed{a.seed}.spans.json")
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        # a layer the workload does not run reads 0
        names = spec["per_layer"]
        values = {m["name"]: 0.0 for m in names}
        values.update(result["per_layer"])
        values.update({f"host.{k}": v for k, v in result["host"].items()})
    else:
        names = spec["end_to_end"]
        values = result["end_to_end"]
        missing = [m["name"] for m in names if m["name"] not in values]
        if missing:
            sys.exit(f"run: workload produced no value for {missing}")
    checks = result["checks"]
    bad = [c for c in checks if not c["ok"]]
    attempted, failed = result["attempted"], result["failed"]
    print(json.dumps({"host": result["host"], "setup_s": result["setup_s"],
                      "run_wall_s": time.monotonic() - t_start}))
    print(json.dumps({"report": result["report"]}))
    for c in bad:
        print(json.dumps({"check_failed": c}))
    if a.trace:
        self_time = result["self_time"]
        # concurrent spans (per-table inserts, jobs) overlap, so the
        # shares of the workload wall can sum past 100%
        print(f"{'layer':<40}{'spans':>7}{'total_s':>10}{'self_s':>10}{'self/wall':>11}")
        for r in self_time:
            print(f"{r['layer']:<40}{r['spans']:>7}{r['total_s']:>10.3f}"
                  f"{r['self_s']:>10.3f}{100 * r['self_share']:>10.1f}%")
        (out / "traces" / f"{a.workload}-seed{a.seed}.self_time.json").write_text(
            json.dumps(self_time, indent=1))
    line = {
        "correct": failed == 0 and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }
    keep = out / "results" / a.workload
    keep.mkdir(parents=True, exist_ok=True)
    (keep / f"seed{a.seed}-trace{a.trace}-{time.time_ns()}.json").write_text(
        json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, **line,
                    "report": result["report"], "host": result["host"]}))
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


def oracle_beside(proc, data, work):
    """Runs the DuckDB oracle while the JVM sets up, then lets the JVM
    start timing: the oracle's SQL appears first in the work directory,
    and `oracle.ready` releases the timed passes."""
    import oracle
    sql = work / "results" / "oracle_sql.json"
    while not sql.exists():
        if proc.poll() is not None:
            return None
        time.sleep(0.05)
    try:
        return oracle.expected(data, sql)
    finally:
        (work / "oracle.ready").touch()


def run(a, classpath, work):
    """Generates the inputs, runs the JVM and applies the oracle checks."""
    t0 = time.monotonic()
    data = work / "data"
    tables, scale = INPUTS[a.workload]
    if tables:
        gen_tables.generate(data, a.seed, scale, tables)
    gen_s = time.monotonic() - t0
    cmd = ["java", *JVM_OPENS, "-Xmx4g", "-XX:+UseParallelGC",
           "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}",
           f"-Dspark.local.dir={work / 'spark-local'}", "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", str(data), "--work", str(work), "--out", str(work / "result.json"),
           "--break", "1" if a.break_check else "0"]
    want = None
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            if a.workload == "query_mix":
                want = oracle_beside(proc, data, work)
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        shutil.copy(work / "jvm.log", build.out_dir() / f"{a.workload}-failed-jvm.log")
        lines = (work / "jvm.log").read_text(errors="replace").splitlines()
        tail = [ln for ln in lines if not ln.lstrip().startswith(("at ", "..."))][-30:]
        sys.exit(f"run: workload JVM exited with {rc}\n" + "\n".join(tail))
    result = json.loads((work / "result.json").read_text())
    result["setup_s"] = gen_s + result["jvm_setup_s"]
    if want is not None:
        import oracle
        checks = oracle.check(work / "results", want, a.break_check)
        result["checks"] += checks
        result["attempted"] += len(checks)
        result["failed"] += sum(not c["ok"] for c in checks)
    if not a.trace:
        result["end_to_end"]["setup_s"] = result["setup_s"]
    return result


if __name__ == "__main__":
    main()
