#!/usr/bin/env python3
"""The repository benchmark: one command, four workloads, checked outputs.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--cpus C]

Builds the engine and the benchmark (perfbench/build.py), runs workload W in
one JVM on local[C] (C defaults to min(4, nproc)), checks every output, and
prints one JSON object as the last line of stdout: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything the run writes stays under <checkout>/.bench_build. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # nothing written next to the sources
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 165
HEAP = "3g"
# Spark on JDK 17 outside spark-submit (the set build.sbt uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def oracle_check(run_dir):
    """operator_mix: each query's rows against its DuckDB oracle, compared
    as dev/compare.py does (columns by name, row count, md5 of the sorted
    frame). Returns the names that do not match."""
    import duckdb
    import pandas as pd

    data, res = run_dir / "opdata", run_dir / "opres"
    con = duckdb.connect()
    for t in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.name[:-8]} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    oracles = json.loads((res / "oracle_sql.json").read_text())

    def digest(df):
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
        return hashlib.md5(df.round(9).to_csv(index=False).encode()).hexdigest()

    bad = []
    for name, sql in oracles.items():
        try:
            got = pd.read_parquet(res / name)
            want = con.execute(sql).df()
            same = (sorted(got.columns) == sorted(want.columns) and len(got) == len(want)
                    and digest(got) == digest(want))
        except Exception as e:  # an oracle that cannot run is a failed check
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            same = False
        if not same:
            print(f"perfbench: WRONG ANSWER: {name} differs from its oracle", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=None)
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_path.read_text())
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; one of {names}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    n = nproc()
    cpus = a.cpus if a.cpus is not None else min(4, n)
    if not 1 <= cpus <= n:
        fail(f"--cpus must be in 1..{n}, got {cpus}")

    classes = build.build()
    jars = build.spark_jars()
    run_dir = build.OUT / "runs" / f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = [build.java(), f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.callstack.depth=60",
           f"-Dlog4j2.configurationFile={pathlib.Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}{os.pathsep}{jars}/*", "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(cpus), "--out", str(run_dir)]
    print(f"perfbench: config workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} cpus={cpus} nproc={n} heap={HEAP}", file=sys.stderr)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0:
        fail(f"{a.workload} failed (exit {rc})")
    res = json.loads((run_dir / "result.json").read_text())

    attempted, failed = int(res["attempted"]), int(res["failed"])
    correct = bool(res["checks_passed"])
    if a.workload == "operator_mix":
        wrong = oracle_check(run_dir)
        if wrong:
            correct = False
            failed += len(wrong)  # each wrong query counts once
    failed = min(failed, attempted)
    res["info"]["failed_frac"] = failed / max(1, attempted)

    if a.trace:
        want, got = spec["per_layer"], res["layer"]
        trace_dir = build.OUT / "traces"
        trace_dir.mkdir(exist_ok=True)
        for f in ("spans.jsonl", "jobs.txt"):
            shutil.copy(run_dir / f, trace_dir / f"{a.workload}-{a.seed}.{f}")
    else:
        want, got = spec["end_to_end"], res["e2e"]
    metrics = {}
    for m in want:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        elif a.trace:  # a layer this workload does not exercise
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            fail(f"{a.workload} did not report end-to-end metric {m['name']}")
    extra = sorted(set(got) - {m["name"] for m in want})
    if extra:
        print(f"perfbench: reported but not in BENCHMARK.json: {extra}", file=sys.stderr)
    print("perfbench: info " + json.dumps(res["info"]))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
