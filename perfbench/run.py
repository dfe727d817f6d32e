#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine from source (see
build.py), makes the workload's inputs from the seed, computes the expected
outputs outside the timed region (cached per input), then starts one JVM
that sets up, runs closed-loop passes for --seconds and checks every output.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones from a traced pass. Everything is written under
.bench_build/ in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# The read-only sf0.1 tables (TESTDATA.md), or SPARK_GRAFT_SF_DIR as
# for graft.Bench; relational_sweep reads them as they are.
BASE = Path(os.environ.get("SPARK_GRAFT_SF_DIR",
                           Path.home() / "testdata" / "sf0.1"))
CORES = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 170

# etl_ingest: a 2,000-record backfill, then 6 API batches of 250 records
# (under the reference's 1000-record cap) with compaction + vacuum after
# every 3rd; 20% of stream MRNs repeat an earlier one (an assumption with
# no source); 4 point reads. The warm pass streams the first batch.
ETL = dict(backfill=2000, batches=6, batch_size=250, repeat_frac=0.2,
           points=4, maintain_every=3, warm_batches=1)


def _digest(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
    return h.hexdigest()[:16]


def _write_json(path, obj):
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj))
    tmp.rename(path)


def _code_digest():
    return _digest((HERE / "gen.py").read_bytes(),
                   (HERE / "oracle.py").read_bytes())


def inputs(workload, seed, classes):
    """(data dir, expected-output file) for the workload and seed."""
    d = BUILD / "inputs"
    d.mkdir(parents=True, exist_ok=True)
    if workload == "relational_sweep":
        if not (BASE / "lineitem.parquet").is_file():
            sys.exit(f"perfbench: base tables not found under {BASE}")
        # fixed tables: the seed only permutes the op order of each pass
        ops = json.loads((classes / "oracle_ops.json").read_text())[workload]
        exp = d / f"relational-{_digest(json.dumps(ops), _code_digest())}.json"
        if not exp.is_file():
            _write_json(exp, oracle.query_expectations(BASE, ops, CORES))
        return BASE, exp
    data = d / f"{workload}-{seed}-{_digest(seed, _code_digest(), sorted(ETL.items()))}"
    exp = data / "expected.json"
    if not exp.is_file():
        shutil.rmtree(data, ignore_errors=True)
        _write_json(exp, gen.patients(data, seed, **ETL))
    return data, exp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["relational_sweep", "etl_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    data, expected = inputs(a.workload, a.seed, classes)

    work = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = ["java", *build.ADD_OPENS, "-Xmx3g", "-Xss4m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", build.classpath(classes), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(CORES), "--data", str(data),
           "--expected", str(expected), "--work", str(work),
           "--out", str(out)]
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; see {work}/jvm.log")
    for d in ("tmp", "store", "spark-local"):
        shutil.rmtree(work / d, ignore_errors=True)
    if rc != 0 or not out.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        sys.exit(f"perfbench: JVM exited {rc}\n{tail}")

    result = json.loads(out.read_text())
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(names):
        sys.exit("perfbench: metrics differ from BENCHMARK.json: "
                 f"{sorted(set(result['metrics']) ^ set(names))}")
    report = json.loads((work / "report.json").read_text())
    for f in report["failures"]:
        print(f"perfbench: FAILED {f['op']}: {f['class']}: {f['message']}",
              file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
