#!/usr/bin/env python3
"""Fast self-check of the benchmark harness at the `tiny` scale
(300 documents, sf0.001 star schema), a handful of operations each.

    python3 perfbench/selfcheck.py

Asserts that
  1. every end-to-end metric of BENCHMARK.json is emitted (analytics_mix,
     ingest_days) and every per-layer metric is emitted (curation_batch,
     ingest_days);
  2. an operation that fails (an unknown query name injected into the
     analytics cycle) is counted as failed rather than crashing the run;
  3. the traced curation_batch run attributes at least 90% of executor
     CPU to a named graft module.
Exits non-zero on the first failed assertion. Takes a few minutes,
mostly JVM warm-up.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload, trace, *extra):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--scale", "tiny", "--trace", str(trace), *extra]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise SystemExit(f"selfcheck: {' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2])["stamp"], json.loads(lines[-1])


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def main():
    e2e = [m["name"] for m in SPEC["end_to_end"]]
    layer = [m["name"] for m in SPEC["per_layer"]]

    stamp, res = run("analytics_mix", 0, "--max-ops", "4", "--inject-failure")
    expect(set(res) == {"correct", "attempted", "failed", "metrics"}, "result keys")
    expect(sorted(res["metrics"]) == sorted(e2e), "analytics_mix emits every end-to-end metric")
    expect(res["attempted"] == 4 and res["failed"] == 1 and not res["correct"],
           f"the unknown query is one failed op of four (got {res['failed']}/{res['attempted']})")
    expect(stamp["failed_op_share"] == 0.25, "failed_op_share counts it")

    _, res = run("curation_batch", 1, "--seconds", "1000", "--max-ops", "2")
    expect(sorted(res["metrics"]) == sorted(layer), "curation_batch emits every per-layer metric")
    share = res["metrics"]["spark.attributed_cpu_share"]["value"]
    expect(share >= 0.9, f"curation_batch executor CPU attributed to graft modules: {share:.3f}")
    expect(res["failed"] == 0, "curation_batch ops pass their checks")

    _, res = run("ingest_days", 0, "--seconds", "1000", "--max-ops", "2")
    expect(sorted(res["metrics"]) == sorted(e2e), "ingest_days emits every end-to-end metric")
    expect(res["failed"] == 0, "ingest_days ops pass their checks")
    _, res = run("ingest_days", 1, "--seconds", "1000", "--max-ops", "2")
    expect(sorted(res["metrics"]) == sorted(layer), "ingest_days emits every per-layer metric")
    expect(res["metrics"]["sources.append_mb"]["value"] > 0, "ingest_days appends to its state")
    print("selfcheck: all green")


if __name__ == "__main__":
    main()
