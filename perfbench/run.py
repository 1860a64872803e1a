"""Closed-loop benchmark of the hourly ELT, analytics and lakehouse paths.

Usage (from the repository root):

    python3 perfbench/run.py --workload elt_hourly --seed 1 --seconds 10 --trace 0

One run = one fresh Python driver and one fresh driver JVM acting as a
single client. The run sets up its fixture three times (a fresh Spark
session and a fresh output root each time), warms up on a throwaway
fixture until every op kind's latency has levelled off, measures ops
for ``--seconds`` on a fixture nobody has touched, then checks every
measured op's output. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROC = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

SETUPS = 3
# A kind counts as levelled off when its last warm-up latency lies
# within LEVEL_TOL of its measured median (reported, not waited for).
LEVEL_TOL = 0.15
DRIVER_MEM = "2g"


def levelled(warm: list[tuple[str, float]], measured: dict[str, list[float]]) -> dict[str, bool]:
    last = {k: vs[-1] for k, vs in stats.by_kind(warm).items()}
    out = {}
    for k, vs in measured.items():
        med = stats.quantile(vs, 0.5)
        out[k] = k in last and abs(last[k] - med) <= LEVEL_TOL * med
    return out


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


class Bench:
    def __init__(self, args):
        self.args = args
        self.repo = os.getcwd()
        if not os.path.isdir(os.path.join(self.repo, "sandbox_data_pipeline_spark")):
            fail("run from the repository root: sandbox_data_pipeline_spark/ not found")
        sys.path.insert(0, self.repo)
        import workloads

        self.wl_mod = workloads
        if args.workload not in workloads.WORKLOADS:
            fail(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
        self.work = os.path.join(
            self.repo, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "spark-local"))
        cpus = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # keep temp files (Python's and the JVM's) and the JVM's perf-data
        # file inside the checkout too
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip()
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        self.wl = workloads.WORKLOADS[args.workload](args.seed)
        self.tracer = None
        self.spark = None

    # -- session ---------------------------------------------------------------

    def new_session(self):
        from sandbox_data_pipeline_spark import session

        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = session.get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s.append(time.perf_counter() - t)
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms_total(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    # -- ops ---------------------------------------------------------------------

    def do_op(self, fx, op) -> None:
        prep = getattr(self.wl, "prepare", None)
        if prep:
            prep(op, fx)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{op.idx}", op.kind)
        if self.tracer is not None:
            self.tracer.op = op.idx
        t = time.perf_counter()
        self.wl.run(self.spark, fx, op)
        op.latency = time.perf_counter() - t
        if self.tracer is not None:
            self.tracer.op = None
        after = getattr(self.wl, "after", None)
        if after:
            after(self.spark, fx, op)

    def op_jobs(self, op) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = list(st.getJobIdsForGroup(f"perfbench-{op.idx}"))
        for g in self.wl.job_groups(op):
            jobs += list(st.getJobIdsForGroup(g))
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numCompletedTasks
        return len(jobs), tasks

    # -- phases ------------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        self.get_spark_s: list[float] = []
        setup_s, fixtures = [], []
        t_setup0 = time.perf_counter()
        for i in range(SETUPS):
            t = time.perf_counter() if i else T_PROC
            spark = self.new_session()
            fixtures.append(self.wl.setup(spark, os.path.join(self.work, f"fixture{i}")))
            setup_s.append(time.perf_counter() - t)

        # warm-up: a fixed op list on the first fixture (rebound to the
        # live session), so every run measures from the same point of
        # the JVM's warm-up curve
        warm: list[tuple[str, float]] = []
        for op in self.wl.warmup_ops():
            self.do_op(fixtures[0], op)
            warm.append((op.kind, op.latency))

        fx = fixtures[-1]
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.wl.patch(self.tracer)
        pid = self.jvm_pid()
        roots = self.wl.output_roots(fx)
        before = {r: stats.file_sizes(r) for r in roots} if args.trace else {}
        created = 0
        first_measured = time.perf_counter() - T_PROC
        stats.reset_hwm(pid)
        stats.reset_hwm(os.getpid())
        cpu0 = stats.tree_cpu_s(pid) + stats.self_cpu_s()
        gc0 = self.gc_ms_total()
        ops = self.wl.ops(4000)
        done = []
        jobs: dict[int, tuple[int, int]] = {}
        cycle = len(self.wl.cycle)
        min_ops = self.wl.min_cycles * cycle
        t0 = time.perf_counter()
        busy = 0.0
        for op in ops:
            self.do_op(fx, op)
            busy += op.latency
            done.append(op)
            if args.trace:
                jobs[op.idx] = self.op_jobs(op)
                if op.idx < cycle:
                    for r in roots:
                        after = stats.file_sizes(r)
                        created += stats.created_bytes(before[r], after)
                        before[r] = after
            elapsed = time.perf_counter() - t0
            if elapsed >= args.seconds and len(done) % cycle == 0 and len(done) >= min_ops:
                break
        wall = time.perf_counter() - t0
        cpu = stats.tree_cpu_s(pid) + stats.self_cpu_s() - cpu0
        gc_s = (self.gc_ms_total() - gc0) / 1000.0
        peak = stats.vm_hwm_mb(pid) + stats.vm_hwm_mb(os.getpid())
        if self.tracer is not None:
            self.tracer.unpatch()

        verdicts = self.wl.check(self.spark, fx, done)
        failed = sum(1 for v in verdicts if not v)
        samples = [(o.kind, o.latency) for o in done]
        groups = stats.by_kind(samples)
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": len(done),
            "ok_ratio": (len(done) - failed) / len(done),
            "setups_s": [round(x, 4) for x in setup_s],
            "time_to_first_measured_op_s": round(first_measured, 3),
            "warmup": {k: [round(v, 3) for v in vs] for k, vs in stats.by_kind(warm).items()},
            "warmup_levelled": levelled(warm, groups),
            "float_tolerance_used": getattr(self.wl, "float_tolerance_used", []),
            "per_kind": {
                k: {
                    "n": len(v),
                    "p50_s": round(stats.quantile(v, 0.5), 4),
                    "p75_s": round(stats.quantile(v, 0.75), 4)
                    if stats.beyond(v, 0.75) >= stats.MIN_BEYOND
                    else None,
                }
                for k, v in groups.items()
            },
            "write_p50_s": stats.kind_quantile(samples, 0.5, self.wl.write_kinds),
            "read_p50_s": stats.kind_quantile(samples, 0.5, self.wl.read_kinds),
            "write_p75_s": stats.kind_quantile(samples, 0.75, self.wl.write_kinds, stats.MIN_BEYOND),
            "read_p75_s": stats.kind_quantile(samples, 0.75, self.wl.read_kinds, stats.MIN_BEYOND),
            "busy_share": round(busy / wall, 4),
            "cpu_s_per_op": round(cpu / len(done), 4),
            "peak_rss_mb": round(peak, 1),
            "run_wall_s": round(time.perf_counter() - t_setup0, 2),
        }
        print("perfbench-summary " + json.dumps(summary), flush=True)

        if args.trace:
            # per-layer figures come from the first measured cycle: a
            # fixed prefix of the seeded stream, so counts repeat exactly
            window = done[:cycle]
            n = len(window)
            submitted = sum(o.input_bytes for o in window)
            m = {
                "spark.jobs_per_op": sum(jobs[o.idx][0] for o in window) / n,
                "spark.tasks_per_op": sum(jobs[o.idx][1] for o in window) / n,
                "session.get_spark_s": stats.quantile(self.get_spark_s, 0.5),
                "jvm.gc_s_per_op": gc_s / len(done),
                "proc.cpu_s_per_op": cpu / len(done),
                "mem.peak_rss_mb": peak,
                "io.write_amp": stats.write_amp(created, submitted),
                "ops.write_p50_s": stats.kind_quantile(samples, 0.5, self.wl.write_kinds) or 0.0,
                "ops.read_p50_s": stats.kind_quantile(samples, 0.5, self.wl.read_kinds) or 0.0,
                "trace.ops_per_s": len(done) / wall,
            }
            # the raw spans, once, on stderr (stdout ends with the result)
            print("perfbench-spans " + json.dumps([
                [s.name, s.start, s.end, s.parent, s.op, s.error] for s in self.tracer.spans
            ]), file=sys.stderr, flush=True)
            for wname in self.wl_mod.WORKLOADS:
                if wname == args.workload:
                    own = self.wl.layer_metrics(self.tracer, self.spark, fx, window)
                    if sorted(own) != sorted(LAYER_METRICS[wname]):
                        raise RuntimeError(f"{wname} reports {sorted(own)}, not LAYER_METRICS")
                    m.update(own)
                else:
                    m.update({k: 0.0 for k in LAYER_METRICS[wname]})
        else:
            m = {
                "ops_per_s": len(done) / wall,
                "op_p50_s": stats.kind_quantile(samples, 0.5, self.wl.kinds),
                "setup_s": stats.quantile(setup_s, 0.5),
            }
        return {"attempted": len(done), "failed": failed, "metrics": m}

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            # the gateway JVM exits when its stdin closes; wait for it so
            # no process outlives the run
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))  # only when no other run uses it
        except OSError:
            pass


# Per-layer metric names of each workload; a traced run reports all of
# them, with 0 for layers its workload does not exercise.
_ELT_LAYERS = [
    "plans.pipeline.run_pipeline.self_s", "functions.core.clean_cocktail_json_s",
    "sources.json_source.docs_to_df_s", "sources.json_source.parse_declared_s",
    "operators.ingest.publish_build_s", "operators.dq.run_checks_s",
    "sinks.writers.publish_run_s", "sinks.writers.publish_run_calls",
    "sinks.writers.skipped_ratio", "sinks.writers.partition_exists_s",
    "streaming.hourly.start_s", "streaming.progress.add_batch_ms",
    "streaming.progress.query_planning_ms", "streaming.progress.wal_commit_ms",
    "streaming.progress.latest_offset_ms", "streaming.state_rows_total",
    "streaming.state_memory_bytes", "streaming.rows_dropped_by_watermark",
]
LAYER_METRICS = {
    "analytics_mix": ["catalog.table_s"]
    + [f"queries.{m}.{p}_s" for m in ("tpch", "dedup", "similarity", "text", "dq", "analytics")
       for p in ("build", "exec")]
    + [f"queries.{q}.p50_s" for q in (
        "q_tpch_q03", "q_dedup_minhash_pairs", "q_similarity_ivf_topk",
        "q_tfidf_top_terms", "q_dq_suite", "q_event_funnel")]
    + ["spark.shuffle_bytes_per_op", "spark.spill_bytes_per_op"],
    "ingest_merge": _ELT_LAYERS + [
        "sinks.txlog.merge_s", "sinks.txlog.snapshot_s", "sinks.txlog.snapshot_calls",
        "sinks.txlog.replay_entries", "sinks.txlog.files_rewritten_per_merge",
        "sinks.txlog.files_added_per_merge", "sinks.txlog.bytes_written_per_merge",
        "sinks.txlog.read_s", "sinks.txlog.files_read_ratio", "sinks.txlog.live_files",
        "sinks.txlog.optimize_s", "sinks.txlog.optimize_bytes_rewritten",
    ],
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bench = Bench(args)
    try:
        res = bench.run()
    finally:
        bench.close()
    out = {"correct": res["failed"] == 0, **res}
    out["metrics"] = {
        k: {"value": v, "unit": unit_of(k)} for k, v in res["metrics"].items()
    }
    print(json.dumps(out), flush=True)
    return 0


def unit_of(name: str) -> str:
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith("_s_per_op"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "write_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
