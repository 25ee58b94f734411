#!/usr/bin/env python3
"""kraken_spark benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload bulk_pageseg --seed 1 --seconds 6 --trace 0

Workloads (each a closed loop: one batch job at a time from one Spark driver
process at local[<cores>]):

  bulk_pageseg  fused plan_extraction, pageseg + built-in recognizer,
                64 image pages a pass (1 oversized), check columns
                collected by the Spark driver
  loaded_skew   plan_extraction_line_parallel, blla + the trained
                recognizer, 1 oversized + 5 normal pages a pass (line and
                character totals held fixed across seeds)
  web_ice       512 boilerplate HTML pages in 16 WARC shards ->
                explode_warc -> fused plan (HTML route) -> run_extraction
                into a fresh icetable data + metrics table pair a pass

Set-up (setup_s) runs from the start of the Spark process through session
up and two untimed passes over the input (Python workers started, model
loaded, JIT warm). The timed window then runs whole passes until
--seconds have been measured (at least two); each end-to-end metric is
the median over passes, except peak_rss_mb, the window's peak.

--workload all runs the three in turn. --trace 0 prints the end-to-end
metrics (docs_per_s, setup_s, cpu_s_per_doc, peak_rss_mb, and
failed_frac = failed/attempted). --trace 1 prints the per-layer metrics
instead. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}; the exit code is 0
only when every output row passed its check. A record of the run (host
context, per-pass samples, and spans for traced runs) is written under
perfbench/.work/records/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("bulk_pageseg", "loaded_skew", "web_ice")
END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "cpu_s_per_doc": "s",
              "peak_rss_mb": "MB"}
CHILD_TIMEOUT_S = 150


def run_child(work: str, trace: int, seconds: float) -> dict:
    import hostproc

    out = os.path.join(work, "result.json")
    log = os.path.join(work, "child.log")
    env = dict(os.environ)
    # Python workers started by the JVM must resolve kraken_spark from the
    # checkout, whatever the caller's working directory
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # keep Spark's scratch files inside the run's work directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--root", ROOT,
           "--work", work, "--trace", str(trace),
           "--seconds", str(seconds), "--out", out]
    with open(log, "w") as logf:
        # the child's session holds the JVM, the PySpark daemon and its
        # workers; all of them are stopped before this returns
        code = hostproc.run_in_session(
            cmd + ["--t0", repr(time.time())], CHILD_TIMEOUT_S, cwd=work,
            env=env, stdout=logf, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"Spark process failed (exit {code}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def run_workload(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Generate the inputs, run the Spark process, print the metrics
    block; returns the result object."""
    import child
    import hostproc
    import inputs

    records = os.path.join(HERE, ".work", "records")
    name = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(HERE, ".work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(records, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    canary = hostproc.fresh_write_mbs()
    t = time.time()
    meta = inputs.prepare(ROOT, work, workload, seed, procs=cores)
    gen_s = time.time() - t
    host0 = hostproc.cpu_times()
    try:
        res = run_child(work, trace, seconds)
    finally:
        for src, dst in (("spans.jsonl", f"{name}-spans.jsonl"),
                         ("child.log", f"{name}.log")):
            if os.path.exists(os.path.join(work, src)):
                shutil.copy(os.path.join(work, src), os.path.join(records, dst))
        shutil.rmtree(work, ignore_errors=True)
    steal = hostproc.steal_share(host0, hostproc.cpu_times())
    metrics = res["metrics"]
    if trace:
        units = child.PER_LAYER
    else:
        metrics["setup_s"] = res["setup"]["setup_s"]
        units = END_TO_END
    attempted, failed = res["attempted"], res["failed"]
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "cores": cores, "docs_per_pass": meta["docs"], "input_gen_s": gen_s,
        "setup": res["setup"], "host_fresh_write_mbs": canary,
        "expected_guard_trips_per_pass": res["expected_guard_trips_per_pass"],
        "steal_share": steal, "passes": res.get("passes"), "metrics": metrics,
        "attempted": attempted, "failed": failed, "problems": res["problems"],
    }
    with open(os.path.join(records, f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {workload}  seed {seed}  docs/pass {meta['docs']}  "
          f"cores {cores}  host_fresh_write_mbs {canary:.0f}  "
          f"steal_share {steal:.3f}  (context, not gated)")
    for k, v in metrics.items():
        print(f"  {k:48s} {v:14.4f} {units[k]}")
    print(f"  {'failed_frac':48s} {failed / attempted:14.4f} ratio")
    if res["expected_guard_trips_per_pass"]:
        print(f"  ({res['expected_guard_trips_per_pass']} oversized page(s) a pass "
              "guard-tripped by pageseg's admission cap, as checked)")
    for p in res["problems"]:
        print(f"  CHECK FAILED: {p}")
    return {
        "correct": failed == 0 and not res["problems"],
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kraken_spark")):
        print(f"kraken_spark not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if a.workload != "all":
        result = run_workload(a.workload, a.seed, a.seconds, a.trace)
    else:  # every workload in turn; metric names prefixed by workload
        parts = {w: run_workload(w, a.seed, a.seconds, a.trace) for w in WORKLOADS}
        result = {
            "correct": all(p["correct"] for p in parts.values()),
            "attempted": sum(p["attempted"] for p in parts.values()),
            "failed": sum(p["failed"] for p in parts.values()),
            "metrics": {f"{w}.{k}": v for w, p in parts.items()
                        for k, v in p["metrics"].items()},
        }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
