#!/usr/bin/env python3
"""Repo benchmark: CDC sync latency per micro-batch, and cold/warm passes
over memo-sharing and relational registry queries. See perfbench/README.md.

Usage (from the repo root):
  python3 perfbench/run.py --workload cdc_burst|batch_passes \
      --seed N --seconds S --trace 0|1

Builds the program and the harness (perfbench/build.py), runs the workload
in one JVM at local[nproc], checks the outputs (for the batch workload
against each query's DuckDB oracle, perfbench/oracle.py) and prints
every metric with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. The full record of the
run (per-query and per-batch detail) is written under
.bench_build/perfbench/artifacts/.
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

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
DATA = build.BENCH / "data"
WORKLOADS = ("cdc_burst", "batch_passes")
DEFAULT_SEED = 1
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 60
# Spark on JDK 17 outside spark-submit (the repo's build.sbt sets the same)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(classes, work, args):
    """Run the harness; returns its result record, or exits nonzero."""
    cp = f"{classes}:{build.spark_jars() / '*'}"
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           *ADD_OPENS, "-cp", cp, "graftbench.Main", *args, "--out", str(work / "result.json")]
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"run: harness did not finish within {JVM_TIMEOUT_S} s ({work / 'jvm.log'})")
    if p.returncode != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        sys.exit(f"run: harness failed with exit code {p.returncode}")
    return json.loads((work / "result.json").read_text())


def oracle_compare(res, scale_dir, outputs):
    """Each query's output against its DuckDB oracle; a mismatch is a
    failed operation."""
    verdicts = oracle.compare(scale_dir, outputs, build.OUT / "oracle")
    for q in res["detail"]["order"]:
        diff = verdicts.get(q, "no verdict")
        if diff is not None:
            res["failed"] += 1
        res["checks"].append({"name": f"oracle:{q}", "ok": diff is None,
                              "info": diff or "equal"})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured seconds (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=None,
                    help="fixture scale for every workload, e.g. sf0.001 (self-test)")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    cores = len(os.sched_getaffinity(0))

    classes = build.build()
    work = build.OUT / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
            "--trace", str(a.trace), "--data", str(DATA), "--work", str(work),
            "--cores", str(cores)] + (["--scale", a.scale] if a.scale else [])
    t0 = time.monotonic()
    res = run_jvm(classes, work, args)
    if a.workload != "cdc_burst":
        oracle_compare(res, DATA / res["detail"]["scale"], work / "outputs")
    res["detail"]["run_wall_s"] = time.monotonic() - t0

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = dict(res["layers"]) if a.trace else dict(res["e2e"])
    if a.trace:
        # the traced run's own end-to-end numbers: minus the untraced
        # run's, they are the tracing overhead
        values.update({f"traced.{k}": v for k, v in res["e2e"].items()})
        values["host.cores"] = cores
    missing = [m["name"] for m in wanted if not a.trace and values.get(m["name"]) is None]
    if missing:
        sys.exit(f"run: no value for {', '.join(missing)}")
    # a layer this workload does not run reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"]) or 0.0), "unit": m["unit"]}
               for m in wanted}
    failed_checks = [c for c in res["checks"] if not c["ok"]]
    correct = not failed_checks and res["failed"] == 0

    art = build.OUT / "artifacts"
    art.mkdir(parents=True, exist_ok=True)
    path = art / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    res.update(workload=a.workload, seed=a.seed, seconds=seconds, trace=a.trace,
               cores=cores, metrics=metrics, correct=correct)
    path.write_text(json.dumps(res, indent=1))

    print(f"# {a.workload} seed={a.seed} trace={a.trace} cores={cores} "
          f"(local[{cores}]) artifact={path.relative_to(ROOT)}")
    for c in res["checks"]:
        print(f"# check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['info']}")
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']} [{cores} cores]")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
