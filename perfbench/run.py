#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

The first run in a checkout compiles the library and the benchmark with sbt
(perfbench/build.sbt); later runs reuse that build while the sources are
unchanged. The JVM writes its figures to perfbench/out/<workload>/; this
script adds the DuckDB oracle check for curate_batch, prints a readable
report on stderr and, as the last line on stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). It exits non-zero when a correctness check
fails, and without printing a result when the library sources are missing.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
WORKLOADS = ("serve_follow", "curate_batch")

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed, pre-touched heap keeps first-touch page faults out of timed work.
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
JVM_TIMEOUT_S = 165


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads from this checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt unless the sources match the last build; return the
    runtime classpath."""
    stamp_file = HERE / "target" / "perfbench.stamp"
    cp_file = HERE / "target" / "classpath.txt"
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("perfbench: building with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_jvm(cp, workload, seed, seconds, trace, tiny):
    work = OUT / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
                     "-cp", cp, "graft.perfbench.Main",
                     "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", "1" if trace else "0", "--work", str(work)]
           + (["--tiny"] if tiny else []))
    # Spark's scratch space stays inside the checkout even when the
    # environment points SPARK_LOCAL_DIRS elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "w") as jlog:
        try:
            p = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {workload} JVM killed after {JVM_TIMEOUT_S} s; "
                             f"see {work / 'jvm.log'}")
    res_file = work / "result.json"
    if p.returncode != 0 or not res_file.exists():
        log((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: {workload} JVM exited with {p.returncode} and no result")
    return work, json.loads(res_file.read_text())


def fmt(v):
    # floats to 12 significant digits (last-ulp libm differences between
    # engines), keeping int vs float distinct, as the project's oracle gate does
    if isinstance(v, float):
        return str(float(f"{v:.12g}"))
    return str(v)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(fmt(v) for v in r) for r in df.itertuples(index=False))
    return len(df), list(df.columns), hashlib.md5(json.dumps(rows).encode()).hexdigest()


def check_curate(work, result):
    """Compare each row's first-pass output with its DuckDB oracle over the
    same corpus, and every later pass with the first."""
    import duckdb
    import pandas as pd
    meta = json.loads(sorted(work.glob("setup*/curate.json"))[-1].read_text())
    con = duckdb.connect()
    for name in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{meta['corpus']}/{name}.parquet/*.parquet'")
    rows_out = {}
    for row, sql in meta["oracle"].items():
        first = canon(pd.read_parquet(f"{meta['out']}/{row}/pass0"))
        rows_out[row] = first[0]
        want = canon(con.execute(sql).df())
        if first != want:
            result["check_failures"].append(
                f"{row}: {first[0]} rows {first[1]} differ from the DuckDB oracle's "
                f"{want[0]} rows {want[1]}")
        for p in range(1, meta["passes"]):
            again = canon(pd.read_parquet(f"{meta['out']}/{row}/pass{p}"))
            if again != first:
                result["check_failures"].append(f"{row}: pass {p} output differs from pass 0")
    for row, n in rows_out.items():
        result["counts"][f"operators.{row}_rows_out"] = n


def metric_value(result, name):
    return result["layer"].get(name, result["e2e"].get(name, 0.0))


def report(result, spec, trace):
    """Readable summary on stderr: every figure the run produced, by name
    with its unit, then failures and (traced) the spans by self time."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    log(f"== {result['workload']} seed={result['seed']} trace={result['trace']}")
    for k, v in list(result["e2e"].items()) + list(result["layer"].items()):
        log(f"  {k:42s} {v:14.4f} {units.get(k, '')}")
    for k, v in result["counts"].items():
        log(f"  {k:42s} {v:14d} count")
    log(f"  attempted={result['attempted']} failed={result['failed']} "
        f"failures_by_op={result['failures_by_op']}")
    for c in result["check_failures"]:
        log(f"  CHECK FAILED: {c}")
    if trace:
        log("  spans by self time (name, count, total ms, self ms):")
        for s in result["self_times"][:15]:
            log(f"    {s['name']:34s} {s['count']:6d} {s['total_ms']:12.1f} {s['self_ms']:12.1f}")


def one_run(cp, spec, workload, seed, seconds, trace, tiny=False):
    t0 = time.monotonic()
    work, result = run_jvm(cp, workload, seed, seconds, trace, tiny)
    t1 = time.monotonic()
    if workload == "curate_batch" and not result["check_failures"]:
        check_curate(work, result)
    log(f"perfbench: JVM {t1 - t0:.1f} s, checks {time.monotonic() - t1:.1f} s")
    # keep the figures and spans; drop the stores and corpora
    for d in work.glob("setup*"):
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(work / "tmp", ignore_errors=True)
    report(result, spec, trace)
    hist = OUT / "history"
    hist.mkdir(exist_ok=True)
    (hist / f"{workload}-seed{seed}-trace{int(trace)}.json").write_text(json.dumps(result))
    if trace:
        untraced = hist / f"{workload}-seed{seed}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["e2e"]
            for m in ("op_cpu_ms", "op_p50_ms"):
                if m in base:
                    log(f"  tracing overhead on {m} vs the untraced run of this seed: "
                        f"{result['e2e'][m] / base[m] - 1:+.1%}")
    names = spec["per_layer" if trace else "end_to_end"]
    return {
        "correct": not result["check_failures"],
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": float(metric_value(result, m["name"])), "unit": m["unit"]}
                    for m in names},
    }


def selfcheck(cp, spec):
    """Every workload at the smallest size, untraced and traced: each run
    must be correct and print every BENCHMARK.json metric with its unit."""
    bad = []
    for w in WORKLOADS:
        for trace in (False, True):
            out = one_run(cp, spec, w, 1, 2, trace, tiny=True)
            names = spec["per_layer" if trace else "end_to_end"]
            if not out["correct"]:
                bad.append(f"{w} trace={int(trace)}: a correctness check failed")
            for m in names:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not math.isfinite(got["value"]):
                    bad.append(f"{w} trace={int(trace)}: {m['name']} missing or malformed")
            if not trace:
                for m in names:
                    if out["metrics"][m["name"]]["value"] <= 0:
                        bad.append(f"{w}: end-to-end metric {m['name']} is not positive")
    for b in bad:
        log(f"SELFCHECK FAILED: {b}")
    log("selfcheck: ok" if not bad else f"selfcheck: {len(bad)} problem(s)")
    return not bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="run every workload tiny, untraced and traced, and check the output")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        log(f"perfbench: no library sources next to {HERE.name}/ (build.sbt, src/main/scala)")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    OUT.mkdir(exist_ok=True)
    cp = build()
    if a.selfcheck:
        return 0 if selfcheck(cp, spec) else 1
    out = one_run(cp, spec, a.workload, a.seed, a.seconds or spec["run_seconds"], bool(a.trace))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
