#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Builds graft and the harness (perfbench/build.py), generates the seeded
inputs (perfbench/datagen.py), runs the JVM harness (perfbench/src) and
checks its outputs. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it stamps the run (commit, nproc, loadavg, JVM and Spark).
Everything is written under .bench_build/ in the checkout.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing outside .bench_build

WORKLOADS = {"analytics_mix": "analytics", "curation_batch": "curation",
             "ingest_days": "ingest"}
DEFAULT_SEED = 1
HELD_OUT_SEED = 90001
MODULES = ["Approx", "SubstringDedup", "TrainingData", "Sampling", "Packing", "ops",
           "sources", "graft_other"]
JVM_TIMEOUT_S = 145
PARITY_TIMEOUT_S = 20
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return float("nan")


def commit_of(key):
    """The checkout's commit when it is a git repository, else the
    digest of the compiled sources."""
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src-sha256:{key}"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p95(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=20, method="inclusive")[18]


def run_jvm(cp, build, a, data, work, out):
    tmp = build / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss4m"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(data), "--work", str(work),
            "--out", str(out), "--threads", str(nproc())])
    if a.max_ops:
        cmd += ["--max-ops", str(a.max_ops)]
    if a.inject_failure:
        cmd += ["--inject-failure", "1"]
    log = open(work / "jvm.log", "w")
    try:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                           timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: harness timed out, see {work / 'jvm.log'}")
    finally:
        log.close()
    if r.returncode != 0 or not out.exists():
        tail = (work / "jvm.log").read_text()[-3000:]
        raise SystemExit(f"perfbench: harness failed ({r.returncode}):\n{tail}")
    return json.loads(out.read_text())


def oracle_failures(data, results, work):
    """Compares each query's result with the DuckDB oracle through the
    repo's own comparison, tools/parity.py (rows, columns, dtypes,
    values, in order). Returns {query: difference} for the queries that
    differ and {query: row count} for those that match."""
    names = sorted(json.loads((Path(results) / "oracle_sql.json").read_text()))
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "parity.py"), str(data),
                        str(results)], capture_output=True, text=True, cwd=work,
                       timeout=PARITY_TIMEOUT_S)
    bad, rows = {}, {}
    for line in r.stdout.splitlines():
        m = re.fullmatch(r"PASS (\S+) \((\d+) rows\)", line)
        if m:
            rows[m[1]] = int(m[2])
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            bad[name] = why
    for name in names:
        if name not in rows and name not in bad:
            bad[name] = f"no parity verdict: {r.stderr.strip()[-300:]}"
    return bad, rows


def result_checksums(results, names):
    """A checksum of each query's result, for the cross-run comparison."""
    import pandas as pd
    import pyarrow.parquet as pq
    sums = {}
    for name in names:
        s = pq.read_table(f"{results}/{name}").to_pandas()
        sums[name] = str(int(pd.util.hash_pandas_object(s[sorted(s.columns)].astype(str),
                                                         index=False).sum()))
    return sums


def cross_run_check(build, key, a, data, outputs):
    """Outputs for the same seed must equal those of earlier runs of the
    same sources on the same inputs in this checkout. Returns the keys
    that differ."""
    f = build / "expect" / f"{a.workload}-{data.name}-{key}.json"
    f.parent.mkdir(parents=True, exist_ok=True)
    if f.exists():
        old = json.loads(f.read_text())
        return sorted(k for k in outputs if k in old and old[k] != outputs[k])
    f.write_text(json.dumps(outputs, sort_keys=True))
    return []


def end_to_end(res, ops):
    walls = [o["wall_s"] for o in ops]
    return {
        # session start to the first timed operation
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (median(walls), "s"),
        "op_p95_s": (p95(walls), "s"),
        "ops_per_s": (len(walls) / sum(walls), "1/s"),
        "cpu_s_per_op": (sum(o["cpu_s"] for o in ops) / len(ops), "s"),
    }


def per_layer(res, ops):
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    n = max(len(traced), 1)
    ids = {o["id"] for o in traced}
    mods = [m for m in res.get("modules", {}).values() if m["op"] in ids]

    def mean_timing(k):
        return sum(o["timings"].get(k, 0.0) for o in traced) / n

    m = {
        "ops.build_s": (mean_timing("ops.build_s"), "s"),
        "spark.plan_s": (mean_timing("spark.plan_s"), "s"),
        "spark.jobs_per_op": (sum(x["jobs"] for x in mods) / n, "count"),
        "spark.tasks_per_op": (sum(x["tasks"] for x in mods) / n, "count"),
        "spark.exec_s": (sum(x["run_s"] for x in mods) / n, "s"),
    }
    cpu_all = sum(x["cpu_s"] for x in mods)
    for mod in MODULES:
        xs = [x for x in mods if x["module"] == mod]
        run = sum(x["run_s"] for x in xs)
        m[f"{mod}.cpu_s"] = (sum(x["cpu_s"] for x in xs) / n, "s")
        m[f"{mod}.jobs"] = (sum(x["jobs"] for x in xs) / n, "count")
        m[f"{mod}.shuffle_mb"] = (sum(x["shuffle_mb"] for x in xs) / n, "MB")
        m[f"{mod}.spill_mb"] = (sum(x["spill_mb"] for x in xs) / n, "MB")
        m[f"{mod}.task_skew"] = (
            sum(x["task_skew"] * x["run_s"] for x in xs) / run if run > 0 else 1.0, "ratio")
    named = sum(x["cpu_s"] for x in mods if x["module"] in MODULES)
    m["spark.attributed_cpu_share"] = (named / cpu_all if cpu_all > 0 else 0.0, "ratio")
    m["span.unattributed_cpu_s"] = ((cpu_all - named) / n, "s")
    in_bytes = sum(o["input_bytes"] for o in traced)
    m["spark.scan_amplification"] = (
        sum(x["scan_bytes"] for x in mods) / in_bytes if in_bytes else 0.0, "ratio")
    m["sources.load_s"] = (mean_timing("sources.load_s"), "s")
    m["sources.append_s"] = (mean_timing("sources.append_s"), "s")
    m["sources.append_mb"] = (mean_timing("sources.append_mb"), "MB")
    m["sources.state_mb_end"] = (res.get("state_mb_end", 0.0), "MB")
    m["materialized.mb_after_op"] = (
        sum(o["storage_mb_after"] for o in traced) / n, "MB")
    m["storage_mb_end"] = (res["storage_mb_end"], "MB")
    m["driver.cpu_s"] = (sum(o["cpu_s"] for o in traced) / n - cpu_all / n, "s")
    m["trace.overhead_s"] = (
        median([o["wall_s"] for o in traced]) - median([o["wall_s"] for o in untraced]), "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default=None, help="data scale (default: the workload's)")
    ap.add_argument("--max-ops", type=int, default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add an unknown query to each analytics_mix cycle")
    a = ap.parse_args()

    import build as builder
    import datagen

    load_before = loadavg()
    build = ROOT / ".bench_build"
    cp, key = builder.build(build / "classes")
    scale = a.scale or WORKLOADS[a.workload]
    gen = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:8]
    data = build / "data" / f"{scale}-{a.seed}-{gen}"
    if not (data / ".done").exists():
        shutil.rmtree(data, ignore_errors=True)
        datagen.generate(str(data), scale, a.seed)
        (data / ".done").write_text("ok")
    work = build / "runs" / f"{a.workload}-{scale}-{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.time()
    res = run_jvm(cp, build, a, data, work, work / "result.json")
    phases = {"jvm": time.time() - t0}
    ops = res["ops"]

    # Correctness: ops that threw or failed their in-run check, plus
    # (analytics_mix) queries whose result differs from the DuckDB
    # oracle or whose timed row count differs from the oracle's, plus
    # outputs that differ from an earlier run with the same seed.
    failed = {o["id"]: o["error"] for o in ops if not o["ok"]}
    if a.workload == "analytics_mix":
        t0 = time.time()
        bad, rows = oracle_failures(data, res["results_dir"], work)
        phases["oracle"] = time.time() - t0
        outputs = result_checksums(res["results_dir"], sorted(rows))
        for o in ops:
            if o["id"] in failed:
                continue
            if o["name"] in bad:
                failed[o["id"]] = f"{o['name']}: {bad[o['name']]}"
            elif str(rows.get(o["name"])) != o["outputs"].get("rows"):
                failed[o["id"]] = f"{o['name']}: rows {o['outputs'].get('rows')} != oracle {rows.get(o['name'])}"
    else:
        outputs = {}
        for c in res["checks"]:
            tag = f"day{c['day']}" if "day" in c else "batch"
            outputs.update({f"{tag}.{k}": v for k, v in c.items() if k not in ("op", "day")})
    drift = cross_run_check(build, key, a, data, outputs)
    correct = not drift
    for o in ops:
        if o["id"] in failed:
            print(f"perfbench: op {o['id']} failed: {failed[o['id']]}", file=sys.stderr)
    if drift:
        print(f"perfbench: outputs differ from an earlier run with seed {a.seed}: {drift}",
              file=sys.stderr)

    good = [o for o in ops if o["id"] not in failed]
    timed = [o for o in good if not o["traced"]] if a.trace == 0 else good
    metrics = end_to_end(res, timed or ops) if a.trace == 0 else per_layer(res, good or ops)
    load_after = loadavg()
    stamp = {
        "stamp": {"commit": commit_of(key), "workload": a.workload, "seed": a.seed,
                  "scale": scale, "trace": a.trace, "nproc": nproc(),
                  "loadavg_before": load_before, "loadavg_after": load_after,
                  "loaded_host": max(load_before, load_after) > nproc(),
                  "failed_op_share": len(failed) / len(ops),
                  "op_samples": len(timed or ops),
                  "setup_parts_s": {"session": res["session_s"], "prepare": res["prepare_s"],
                                    "warmup": res["warmup_s"],
                                    **res.get("warmup_parts", {})},
                  "phases_s": phases,
                  "jvm": res["jvm"], "spark": res["spark"], "scala": res["scala"],
                  "record": str(work.relative_to(ROOT) / "result.json")}}
    if "trace_file" in res:
        stamp["stamp"]["trace_file"] = str(Path(res["trace_file"]).relative_to(ROOT))
        stamp["stamp"]["self_s"] = res["self_s"]
    print(json.dumps(stamp))
    if stamp["stamp"]["loaded_host"]:
        print(f"perfbench: loadavg above nproc ({load_before:.2f}/{load_after:.2f} > {nproc()})",
              file=sys.stderr)
    print(json.dumps({
        "correct": correct and not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
