"""One benchmark run inside a fresh process: set up the engine, warm every
template, time whole passes, write every op's latency and normalised
result to a result file (run.py checks them against the oracle).

Started by run.py with the path of a JSON config; never run by hand.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

import oracle
import procmem
import workloads
from stats import harrell_davis

SETUP_REPS = 3  # setups per run; setup_s is their median
SETTLE_S = 1.0  # pause after the pre-window collection
STILL_FALLING = 0.90  # timed p50 below this share of the last warm-up pass's


def _median_by_template(samples: list[tuple[str, float]]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for name, ms in samples:
        by.setdefault(name, []).append(ms)
    return {k: statistics.median(v) for k, v in by.items()}


class Runner:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.tracer = None  # set for the timed window of a --trace 1 run
        self.work = cfg["work"]
        self.sizes = cfg["sizes"]
        self.workload = cfg["workload"]
        self.seed = cfg["seed"]
        self.next_pass = 0
        self.op_seq = 0

    # ------------------------------------------------------------ setup

    def setup(self) -> dict:
        from dataux_spark import Engine, get_spark
        from dataux_spark.queries import queries

        spark = get_spark("perfbench")
        boot_s = time.time() - self.cfg["spawn_time"]
        builds, registers, firsts = [], [], []
        first_wrong = 0
        for rep in range(SETUP_REPS):
            sess = spark if rep == 0 else spark.newSession()
            t0 = time.perf_counter()
            eng = Engine(sess)
            workloads.register_schema(eng, sess, self.work,
                                      os.path.join(self.work, "cow", f"rep{rep}"))
            t1 = time.perf_counter()
            rows = eng.sql(workloads.FIRST_STATEMENT).collect()
            t2 = time.perf_counter()
            first_wrong += oracle.norm_rows(rows) != [[self.cfg["first_statement_rows"]]]
            builds.append(t2 - t0)
            registers.append(t1 - t0)
            firsts.append(t2 - t1)
        self.spark, self.engine, self.queries = sess, eng, queries()
        return {
            "setup_s": statistics.median(boot_s + b for b in builds),
            "cold_s": boot_s + builds[0],
            "session_s": boot_s,
            "register_s": statistics.median(registers),
            "first_stmt_s": statistics.median(firsts),
            "builds_s": builds,
            "first_wrong": first_wrong,
        }

    # ------------------------------------------------------------- ops

    def run_op(self, op: workloads.Op):
        """Execute one op; returns (latency_ms, result, error)."""
        tr = self.tracer
        self.op_seq += 1
        if tr is not None:
            tr.op = self.op_seq
            t_group = time.perf_counter()
            self.spark.sparkContext.setJobGroup(f"op{self.op_seq}", op.template)
            tr.overhead_s += time.perf_counter() - t_group
        t0 = time.perf_counter()
        try:
            if op.kind == "operator":
                fn = self.queries[op.operator]
                df = (fn(self.spark, workloads.paths(self.work)["tpch"]) if tr is None else
                      tr.call(f"operators.{op.operator}", fn, self.spark,
                              workloads.paths(self.work)["tpch"]))
            else:
                df = self.engine.sql(op.sql, op.args)
            if hasattr(df, "collect"):
                result = df.collect() if tr is None else tr.call("spark.action", df.collect)
            elif hasattr(df, "affected"):
                result = df.affected
            else:
                result = df
            error = None
        except Exception as e:  # a failed op is counted, never fatal
            result, error = None, f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        ms = (time.perf_counter() - t0) * 1000
        return ms, result, error

    def run_pass(self, record: list | None) -> list[tuple[str, float]]:
        i = self.next_pass
        self.next_pass += 1
        lat = []
        for j, op in enumerate(workloads.pass_ops(self.workload, self.seed, self.sizes, i)):
            ms, result, error = self.run_op(op)
            lat.append((op.template, ms))
            if record is not None:
                record.append({"pass": i, "idx": j, "op": op, "ms": ms, "result": result,
                               "error": error, "seq": self.op_seq})
                if self.tracer is not None and workloads.is_write(op):
                    record[-1]["layout"] = self.layout()
        return lat

    def layout(self) -> tuple[int, int]:
        """(part files in the head version, retained versions) of the
        versioned table."""
        store = self.engine.store
        wd = store._backing["accounts"]
        head = os.path.join(wd, f"v{store._version['accounts']:06d}")
        files = sum(1 for n in os.listdir(head) if n.startswith("part-") and not n.endswith(".crc"))
        versions = sum(1 for n in os.listdir(wd) if n.startswith("v"))
        return files, versions

    def warm_up(self) -> list[dict[str, float]]:
        """A fixed number of untimed passes, so every run measures at the
        same point of the JVM's warm-up curve; returns each pass's
        per-template median latency."""
        return [_median_by_template(self.run_pass(None))
                for _ in range(workloads.WARMUP_PASSES)]

    def timed(self, seconds: float, record: list) -> float:
        """Whole passes until `seconds` have elapsed (at least one);
        returns the window."""
        t0 = time.perf_counter()
        self.run_pass(record)
        while time.perf_counter() - t0 < seconds:
            self.run_pass(record)
        return time.perf_counter() - t0


def settle(spark) -> None:
    """Start every timed window from the same heap state: collect both
    heaps, then give Spark's context cleaner, which the JVM collection
    wakes, a moment to drop the shuffle files and broadcasts of the
    warm-up before the first timed op."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(SETTLE_S)


# ---------------------------------------------------------------- metrics

def op_results(record: list) -> list[dict]:
    """Every timed op's position in its pass and its normalised result or
    error, for the oracle check in run.py."""
    out = []
    for r in record:
        op, res = r["op"], r["result"]
        if isinstance(res, list):
            res = oracle.norm_rows(res, op.width)
        out.append({"pass": r["pass"], "idx": r["idx"], "template": op.template,
                    "result": res, "error": r["error"]})
    return out


def end_to_end(record: list, window_s: float, setup: dict) -> dict:
    """The end-to-end metrics except ok_ratio, which needs the oracle.
    Percentiles are Harrell-Davis estimates (stats.harrell_davis): the
    nearest-rank p90 of ~50 ops of a dozen templates is one op, and which
    template's op lands on that rank changes from run to run."""
    ok = [r["ms"] for r in record if r["error"] is None]
    writes = [r["ms"] for r in record if r["error"] is None and workloads.is_write(r["op"])]
    return {
        "throughput_sps": (len(record) / window_s, "1/s", len(record)),
        "latency_p50_ms": (harrell_davis(ok, 50), "ms", len(ok)),
        "latency_p90_ms": (harrell_davis(ok, 90), "ms", len(ok)),
        "write_p50_ms": (harrell_davis(writes, 50), "ms", len(writes)),
        "peak_rss_mb": (sum(procmem.python_and_jvm_peak_mb(os.getpid())), "MB", 1),
        "setup_s": (setup["setup_s"], "s", SETUP_REPS),
    }


def rank_neighbourhood(record: list) -> dict:
    """Templates around the p50 and p90 ranks, and the ranks the template
    at each of them spans: a percentile that sits inside one template's
    latency cluster moves little between runs."""
    ordered = sorted((r["ms"], r["op"].template) for r in record if r["error"] is None)
    out = {}
    n = len(ordered)
    for p in (50, 90):
        k = max(0, -(-p * n // 100) - 1)
        lo, hi = max(0, k - 2), min(n, k + 3)
        at = ordered[k][1]
        span = [i + 1 for i, (_, t) in enumerate(ordered) if t == at]
        out[f"p{p}"] = {"rank": k + 1, "of": n, "template": at,
                        "template_ranks": [span[0], span[-1], len(span)],
                        "templates": [t for _, t in ordered[lo:hi]],
                        "ms": [round(ms, 1) for ms, _ in ordered[lo:hi]]}
    return out


def per_layer(tracer, record: list, setup: dict, overhead_pct: float, spark) -> dict:
    import tracing

    spans = tracer.spans
    n_ops = len(record)
    n_stmt = sum(1 for r in record if r["op"].kind != "operator")
    c = tracer.counts
    self_ms = tracing.layer_self_ms(spans)

    def med(name):
        d = tracing.durations_ms(spans, name)
        return statistics.median(d) if d else 0.0

    def med_prefix(prefix):
        d = [(s.end - s.start) * 1000 for s in spans if s.name.startswith(prefix)]
        return statistics.median(d) if d else 0.0

    def count(name):
        return sum(1 for s in spans if s.name == name)

    layouts = [r["layout"] for r in record if "layout" in r]
    tracker = spark.sparkContext.statusTracker()
    jobs = sum(len(tracker.getJobIdsForGroup(f"op{r['seq']}")) for r in record)
    offers = count("sources.execute_agg") + count("sources.execute_topk")
    rewrites = count("dialect.rewrite")
    out = {
        "engine.sql_ms": (med("engine.sql"), "ms"),
        "engine.self_ms_per_op": (self_ms.get("engine", 0.0) / n_ops, "ms"),
        "engine.catalog_lookups_per_stmt": (c["engine.catalog_lookups"] / max(1, c["engine.sql"]), "count"),
        "engine.pushdown_offers_per_stmt": (offers / n_stmt, "count"),
        "engine.pushdown_accept_ratio": (c["engine.pushdown_accepts"] / max(1, c["engine.pushdown_offers"]), "ratio"),
        "dialect.rewrite_ms": (med("dialect.rewrite"), "ms"),
        "dialect.rewrite_calls_per_stmt": (rewrites / n_stmt, "count"),
        "dialect.self_ms_per_op": (self_ms.get("dialect", 0.0) / n_ops, "ms"),
        "sources.load_calls_per_stmt": (count("sources.load") / n_stmt, "count"),
        "sources.load_ms": (med("sources.load"), "ms"),
        "sources.execute_agg_ms": (med("sources.execute_agg"), "ms"),
        "sources.execute_topk_ms": (med("sources.execute_topk"), "ms"),
        "sources.self_ms_per_op": (self_ms.get("sources", 0.0) / n_ops, "ms"),
        "sources.mutator_put_ms": (med("sources.mutator_put"), "ms"),
        "sources.register_s": (setup["register_s"], "s"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.cold_s": (setup["cold_s"], "s"),
        "setup.first_stmt_s": (setup["first_stmt_s"], "s"),
        "dml.execute_ms": (med_prefix("dml.execute_"), "ms"),
        "dml.commit_ms": (med_prefix("dml.commit"), "ms"),
        "dml.optimize_ms": (med("dml.optimize"), "ms"),
        "dml.vacuum_ms": (med("dml.vacuum"), "ms"),
        "dml.self_ms_per_op": (self_ms.get("dml", 0.0) / n_ops, "ms"),
        "dml.files_in_head": (statistics.mean(f for f, _ in layouts), "count"),
        "dml.versions": (statistics.mean(v for _, v in layouts), "count"),
        "operators.call_ms": (med_prefix("operators."), "ms"),
        "operators.self_ms_per_op": (self_ms.get("operators", 0.0) / n_ops, "ms"),
        "spark.action_ms": (med("spark.action"), "ms"),
        "spark.self_ms_per_op": (self_ms.get("spark", 0.0) / n_ops, "ms"),
        "spark.jobs_per_stmt": (jobs / n_ops, "count"),
        "spark.sql_calls_per_stmt": (c["spark.sql_calls"] / max(1, c["engine.sql"]), "count"),
        "trace.overhead_pct": (overhead_pct, "%"),
    }
    return out


# ------------------------------------------------------------------ main

def main(cfg_path: str) -> int:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    run = Runner(cfg)
    setup = run.setup()
    t_setup = time.monotonic()
    setup["elapsed_s"] = time.time() - cfg["spawn_time"]
    warm = run.warm_up()
    t_warm = time.monotonic()

    seconds = cfg["seconds"]
    record: list = []
    overhead_pct = 0.0
    tracer = None
    if cfg["trace"]:
        import tracing

        tracer = run.tracer = tracing.Tracer()
        tracer.install()
    settle(run.spark)
    window_s = run.timed(seconds, record)
    if tracer is not None:
        tracer.uninstall()
        overhead_pct = tracer.overhead_s / (window_s - tracer.overhead_s) * 100

    t_timed = time.monotonic()
    e2e = end_to_end(record, window_s, setup)
    by_template = _median_by_template([(r["op"].template, r["ms"]) for r in record])
    falling = sorted(k for k, v in by_template.items()
                     if warm and v < STILL_FALLING * warm[-1].get(k, v))
    out = {
        "ops": op_results(record),
        "setup_reps": SETUP_REPS,
        "end_to_end": e2e,
        "window_s": window_s,
        "passes": len({r["pass"] for r in record}),
        "warmup": {"history": warm, "still_falling": falling},
        "setup": setup,
        "template_p50_ms": by_template,
        "ranks": rank_neighbourhood(record),
        "phase_s": {"setup": setup["elapsed_s"], "warmup": t_warm - t_setup,
                    "timed": t_timed - t_warm, "report": time.monotonic() - t_timed},
        "rss_mb": procmem.python_and_jvm_peak_mb(os.getpid()),
    }
    if tracer is not None:
        out["per_layer"] = per_layer(tracer, record, setup, overhead_pct, run.spark)
        tracer.dump(cfg["trace_path"])
    with open(os.path.join(cfg["work"], "result.json"), "w") as fh:
        json.dump(out, fh, default=repr)  # an unexpected result type fails the check
    # no spark.stop(): run.py stops the whole process group, JVM included
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
