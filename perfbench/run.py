"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload federated_point --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed
under .perfbench/work/, then starts a fresh engine process (worker.py)
with a pinned heap and core count, its own Spark local dirs, warehouse and
copy-on-write workdir. After the engine process has exited it computes the
expected result of every op it ran (DuckDB over the parquet files, a
Python model of the documents and of every write) and checks each one. It
prints a readable report, then as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics; --trace 1 reports the per-layer metrics and
writes the spans to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Engine process settings: a heap that fits a 15 GB, 4-core machine next
# to other tenants, and fewer Spark cores than the machine has, so the
# Python engine process and the DataSource workers are not starved.
HEAP = "2g"
SPARK_CPUS = "2"
CLIENTS = 1  # closed loop: the next op is sent when the previous one returned
RUN_LIMIT_S = 170  # the whole run, inputs and teardown included
ORACLE_RESERVE_S = 30  # left of RUN_LIMIT_S for the oracle check and teardown


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv=None):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Stop every process the engine process left (the JVM, Python
    DataSource workers) and wait until they are gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def engine_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update({
        # DataSource workers are Python processes the JVM starts; they
        # import the source modules, so the repo must be importable there
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        # initial heap = maximum heap, every page touched at start: G1
        # otherwise grows the heap and sizes its young generation on
        # timing-dependent decisions, and the JVM's peak RSS varies up to
        # ~30% between identical runs (most on a host that steals CPU).
        # JIT thresholds at a tenth of their default: the engine's latencies
        # fall over its first few hundred statements while the JIT compiles
        # Spark's planner, and a run can afford only one warm-up pass
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Xms{HEAP} -XX:+AlwaysPreTouch "
                               "-XX:CompileThresholdScaling=0.1' pyspark-shell",
        # no perf-data file and every temporary file under the run's work
        # dir, for the launcher JVM of spark-submit too: the run writes
        # nothing outside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": SPARK_CPUS,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
    })
    return env


def run(args) -> dict:
    import workloads

    t_start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "dataux_spark")):
        raise SystemExit("perfbench: dataux_spark/ not found next to perfbench/; "
                         "run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(ROOT, ".perfbench", "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    proc = None
    try:
        sizes = workloads.make_inputs(workloads.WORKLOADS[args.workload], work, args.seed)
        t_inputs = time.monotonic()
        for d in ("local", "warehouse", "cow", "tmp"):
            os.makedirs(os.path.join(work, d))
        os.makedirs(traces, exist_ok=True)
        trace_path = os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")
        budget = RUN_LIMIT_S - (time.monotonic() - t_start) - ORACLE_RESERVE_S
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "work": work, "sizes": sizes,
            "first_statement_rows": workloads.first_statement_rows(work),
            "trace_path": trace_path,
        }
        cfg_path = os.path.join(work, "config.json")
        log_path = os.path.join(work, "engine.log")
        with open(log_path, "w") as log:
            t_spawn = time.monotonic()
            with open(cfg_path, "w") as fh:
                json.dump(dict(cfg, spawn_time=time.time()), fh)
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=work, env=engine_env(work), stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=max(10.0, budget))
            except subprocess.TimeoutExpired:
                code = None
        t_exit = time.monotonic()
        stop_group(proc.pid)
        proc.wait()
        t_stopped = time.monotonic()
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise SystemExit(f"perfbench: engine process failed (exit {code}):\n{tail}")
        with open(result_path) as fh:
            result = json.load(fh)
        check(args, result, sizes, work)
        result["sizes"] = sizes
        result["phase_s"] = {"inputs": t_inputs - t_start, "spawn_to_exit": t_exit - t_spawn,
                             **result["phase_s"], "stop": t_stopped - t_exit,
                             "oracle": time.monotonic() - t_stopped}
        result["trace_path"] = os.path.relpath(trace_path, ROOT) if args.trace else None
        return result
    finally:
        if proc is not None and proc.poll() is None:
            stop_group(proc.pid)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def check(args, result: dict, sizes: dict, work: str) -> None:
    """Compare every op the engine ran with the oracle's expectation
    (computed now, outside the timed window, for exactly the passes that
    ran) and add the failures and ok_ratio to `result`."""
    import oracle
    import workloads

    ops = result.pop("ops")
    expected = workloads.expectations(args.workload, args.seed, sizes, work,
                                      passes=max(r["pass"] for r in ops) + 1)
    failures = []
    for r in ops:
        why = r["error"] or oracle.check(r["result"], expected[r["pass"]][r["idx"]])
        if why is not None:
            failures.append(f"pass {r['pass']} {r['template']}: {why}")
    failures += ["setup: first statement returned a wrong result"] * result["setup"]["first_wrong"]
    attempted = len(ops) + result["setup_reps"]  # the timed ops and each setup's first statement
    result.update(attempted=attempted, failed=len(failures), failures=failures[:20])
    result["end_to_end"]["ok_ratio"] = ((attempted - len(failures)) / attempted, "ratio", attempted)


def report(args, result: dict) -> dict:
    """Print the readable report; return the final JSON object."""
    from stats import highest_supported_percentile, samples_beyond

    warm = result["warmup"]
    print(f"workload {args.workload} seed {args.seed}: {result['passes']} timed passes "
          f"in {result['window_s']:.2f} s after {len(warm['history'])} warm-up passes, "
          f"{CLIENTS} closed-loop client, heap {HEAP}, local[{SPARK_CPUS}]")
    print(f"inputs: {json.dumps(result['sizes'])}")
    print(f"phases (s): {json.dumps({k: round(v, 2) for k, v in result['phase_s'].items()})}")
    print(f"setup builds (s): {[round(b, 2) for b in result['setup']['builds_s']]}, "
          f"peak RSS Python/JVM (MB): {[round(x) for x in result['rss_mb']]}")
    for i, h in enumerate(warm["history"]):
        print(f"warm-up pass {i} p50 (ms): " + ", ".join(f"{k}={v:.0f}" for k, v in h.items()))
    print("still falling >10% after warm-up: " + (", ".join(warm["still_falling"]) or "none"))
    for f in result["failures"]:
        print(f"FAILED {f}")
    print("template p50 (ms): " + ", ".join(
        f"{k}={v:.0f}" for k, v in sorted(result["template_p50_ms"].items(), key=lambda kv: kv[1])))
    for p, r in result["ranks"].items():
        first, last, n = r["template_ranks"]
        print(f"{p} rank {r['rank']}/{r['of']} in {r['template']} ({n} samples, ranks "
              f"{first}-{last}); neighbours: "
              + ", ".join(f"{t}:{ms}" for t, ms in zip(r["templates"], r["ms"])))
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["per_layer"].items()}
        for k, m in metrics.items():
            print(f"{k:40s} {m['value']:12.4f} {m['unit']}")
        print(f"spans: {result['trace_path']}")
    else:
        metrics = {}
        for k, (v, u, n) in result["end_to_end"].items():
            metrics[k] = {"value": v, "unit": u}
            note = ""
            if k.startswith(("latency_", "write_")):
                p = float(k.split("_p")[1].split("_")[0])
                top = highest_supported_percentile(n)
                note = (f" ({samples_beyond(n, p)} samples beyond p{p:g}; highest percentile "
                        f"with 10 beyond: {'p%g' % top if top else 'none'})")
            print(f"{k:18s} {v:12.4f} {u:6s} n={n}{note}")
    declared = {m["name"] for m in load_spec()["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != declared:
        raise SystemExit(f"perfbench: metrics {sorted(set(metrics) ^ declared)} differ "
                         "between the run and BENCHMARK.json")
    return {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def main(argv=None) -> int:
    # a terminated run still stops its engine process group (finally in run())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    out = report(args, run(args))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
