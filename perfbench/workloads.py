"""The workloads: each drives the program's public entry points as one
closed-loop client and checks every op's output outside the timed
window.

A workload provides
  ``setup(spark, root)``   build a fresh fixture under ``root``
  ``ops(n)``               the first ``n`` ops of its seeded op stream,
                           made of whole ``cycle``s of a fixed kind mix
  ``warmup_ops()``         the ops run on a throwaway fixture first
  ``run(spark, fx, op)``   one timed op; leaves what the check needs in ``op.out``
  ``check(spark, fx, done)``  per-op verdicts, run after timing
  ``patch(tracer)``        wrap the layer functions it exercises
  ``layer_metrics(...)``   per-layer figures for the traced run
and optionally ``prepare(op, fx)`` (make inputs, untimed) and
``after(spark, fx, op)`` (advance the model, untimed).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

import numpy as np

import gen
import stats


@dataclass
class Op:
    idx: int
    kind: str
    arg: Any = None
    # filled in by the harness / workload
    latency: float = 0.0
    out: Any = None
    input_bytes: int = 0
    extra: dict = field(default_factory=dict)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# =============================================================================
# elt_hourly: batch ELT hours and their Structured Streaming twin
# =============================================================================


class EltHourly:
    """Each op is one run-hour of the hourly pipeline: a fresh hour or a
    re-run of an earlier one through ``plans.pipeline.run_pipeline``, or
    one landed event file published by
    ``streaming.hourly.start_hourly_pipeline`` run to termination."""

    kinds = ["hour_fresh", "hour_rerun", "micro_batch"]
    write_kinds = kinds
    read_kinds: list[str] = []
    n_cities = 200

    def __init__(self, seed: int):
        self.seed = seed
        self.cities = gen.cities(seed, self.n_cities)
        self._docs: dict[tuple[str, int], str] = {}
        self._events: dict[int, list[dict]] = {}

    def setup(self, spark, root: str) -> dict:
        os.makedirs(root, exist_ok=True)
        fx = {
            "out": os.path.join(root, "out"),
            "landing": os.path.join(root, "landing"),
        }
        os.makedirs(fx["landing"], exist_ok=True)
        return fx

    def prepare(self, op: Op, fx: dict) -> None:
        """Make the op's input before its timer starts."""
        if op.kind == "micro_batch":
            if op.arg not in self._events:
                self._events[op.arg] = gen.event_batch(self.seed, op.arg)
            op.extra["text"] = "\n".join(json.dumps(e) for e in self._events[op.arg]) + "\n"
            op.input_bytes = len(op.extra["text"])
        else:
            hr = gen.run_hr(op.arg)
            total = 0
            for c in self.cities:
                if (c, hr) not in self._docs:
                    self._docs[(c, hr)] = gen.weather_doc(self.seed, c, hr)
                total += len(self._docs[(c, hr)])
            op.input_bytes = total

    def run(self, spark, fx: dict, op: Op) -> None:
        if op.kind == "micro_batch":
            from sandbox_data_pipeline_spark.streaming import hourly

            with open(os.path.join(fx["landing"], f"events-{op.arg:05d}.json"), "w") as f:
                f.write(op.extra.pop("text"))
            q = hourly.start_hourly_pipeline(
                spark,
                fx["landing"],
                os.path.join(fx["out"], "rollup"),
                os.path.join(fx["out"], "checkpoint"),
                available_now=True,
            )
            q.awaitTermination()
            op.out = {"run_id": str(q.runId), "progress": [p.json for p in q.recentProgress]}
            return
        from sandbox_data_pipeline_spark.plans import pipeline

        cfg = pipeline.PipelineConfig(base_dir=fx["out"], cities=self.cities)
        docs = self._docs
        op.out = pipeline.run_pipeline(spark, cfg, gen.run_hr(op.arg), lambda c, hr: docs[(c, hr)])

    def check(self, spark, fx: dict, done: list[Op]) -> list[bool]:
        hours = [o for o in done if o.kind != "micro_batch"]
        counts: dict[str, dict[int, int]] = {}
        for table in ("weather", "weather_narrow"):
            path = os.path.join(fx["out"], "prod", table)
            counts[table] = (
                {r[0]: r[1] for r in spark.read.parquet(path).groupBy("run_hr").count().collect()}
                if hours
                else {}
            )
        ok = []
        stream_ok = self._check_stream(spark, fx, done)
        for o in done:
            if o.kind == "micro_batch":
                ok.append(stream_ok.get(o.arg, False))
                continue
            hr = gen.run_hr(o.arg)
            good = all(counts[t].get(hr) == self.n_cities for t in counts)
            skipped = set(o.out["skipped"])
            if o.kind == "hour_rerun":
                good = good and {"land_weather_raw", "land_cocktails_raw"} <= skipped
            else:
                good = good and not skipped
            ok.append(good)
        return ok

    def _check_stream(self, spark, fx: dict, done: list[Op]) -> dict[int, bool]:
        """Published rollup == batch recomputation of every landed event
        (dedup on event_id, hourly window by event type)."""
        import pandas as pd

        batches = sorted({o.arg for o in done if o.kind == "micro_batch"})
        if not batches:
            return {}
        ev = pd.DataFrame([e for b in batches for e in self._events[b]])
        ev = ev.drop_duplicates("event_id")
        ev["hour"] = pd.to_datetime(ev["ts"], format="ISO8601").dt.floor("h")
        want = ev.groupby(["hour", "event_type"]).agg(n=("value", "size"), s=("value", "sum")).reset_index()
        got = spark.read.parquet(os.path.join(fx["out"], "rollup")).toPandas()
        got["hour"] = pd.to_datetime(got["hour_start"]).dt.tz_localize(None)
        m = want.merge(got, on=["hour", "event_type"], how="outer", indicator=True)
        bad_hours = set(
            m.loc[
                (m["_merge"] != "both")
                | (m["n"] != m["event_cnt"])
                | ((m["s"].round(4) - m["sum_value"]).abs() > 1e-6),
                "hour",
            ]
        )
        out = {}
        for b in batches:
            hrs = set(pd.to_datetime(pd.Series([e["ts"] for e in self._events[b]]), format="ISO8601").dt.floor("h"))
            out[b] = not (hrs & bad_hours)
        return out

    # -- tracing -----------------------------------------------------------------

    def patch(self, tracer) -> None:
        from sandbox_data_pipeline_spark.functions import core
        from sandbox_data_pipeline_spark.operators import dq, ingest
        from sandbox_data_pipeline_spark.plans import pipeline
        from sandbox_data_pipeline_spark.sinks import writers
        from sandbox_data_pipeline_spark.sources import json_source
        from sandbox_data_pipeline_spark.streaming import hourly

        tracer.patch(pipeline, "run_pipeline", "plans.pipeline.run_pipeline")
        tracer.patch(core, "clean_cocktail_json", "functions.core.clean_cocktail_json")
        tracer.patch(json_source, "docs_to_df", "sources.json_source.docs_to_df")
        tracer.patch(json_source, "parse_declared", "sources.json_source.parse_declared")
        for fn in ("weather_publish", "cocktails_publish", "weather_variant_publish",
                   "weather_variant_publish_native"):
            tracer.patch(ingest, fn, "operators.ingest.publish_build")
        tracer.patch(dq, "run_checks", "operators.dq.run_checks")
        tracer.patch(writers, "publish_run", "sinks.writers.publish_run")
        tracer.patch(writers, "partition_exists", "sinks.writers.partition_exists")
        tracer.patch(hourly, "start_hourly_pipeline", "streaming.hourly.start")

    def layer_metrics(self, tracer, spark, fx: dict, window: list[Op]) -> dict[str, float]:
        ids = {o.idx for o in window}
        self_t, tot, cnt = tracer.self_times(ids), tracer.totals(ids), tracer.counts(ids)
        hours = [o for o in window if o.kind != "micro_batch"]
        batches = [o for o in window if o.kind == "micro_batch"]
        n = max(len(hours), 1)
        calls = cnt.get("sinks.writers.publish_run", 0)
        skipped = tracer.errors("sinks.writers.publish_run", ids).get("SkippedWrite", 0)
        m = {
            "plans.pipeline.run_pipeline.self_s": self_t.get("plans.pipeline.run_pipeline", 0.0) / n,
            "functions.core.clean_cocktail_json_s": tot.get("functions.core.clean_cocktail_json", 0.0) / n,
            "sources.json_source.docs_to_df_s": tot.get("sources.json_source.docs_to_df", 0.0) / n,
            "sources.json_source.parse_declared_s": tot.get("sources.json_source.parse_declared", 0.0) / n,
            "operators.ingest.publish_build_s": tot.get("operators.ingest.publish_build", 0.0) / n,
            "operators.dq.run_checks_s": tot.get("operators.dq.run_checks", 0.0) / n,
            "sinks.writers.publish_run_s": tot.get("sinks.writers.publish_run", 0.0) / n,
            "sinks.writers.publish_run_calls": calls / n,
            "sinks.writers.skipped_ratio": skipped / calls if calls else 0.0,
            "sinks.writers.partition_exists_s": tot.get("sinks.writers.partition_exists", 0.0) / n,
            "streaming.hourly.start_s": tot.get("streaming.hourly.start", 0.0) / max(len(batches), 1),
        }
        prog = [json.loads(p) for o in batches for p in o.out["progress"]]
        for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                          ("walCommit", "wal_commit_ms"), ("latestOffset", "latest_offset_ms")):
            m[f"streaming.progress.{name}"] = sum(p["durationMs"].get(key, 0) for p in prog) / max(len(batches), 1)
        st = [p["stateOperators"] for p in prog if p.get("stateOperators")]
        last = st[-1] if st else []
        m["streaming.state_rows_total"] = float(sum(s["numRowsTotal"] for s in last))
        m["streaming.state_memory_bytes"] = float(sum(s["memoryUsedBytes"] for s in last))
        m["streaming.rows_dropped_by_watermark"] = float(
            sum(s.get("numRowsDroppedByWatermark", 0) for ops_ in st for s in ops_)
        )
        return m

    def job_groups(self, op: Op) -> list[str]:
        return [op.out["run_id"]] if op.kind == "micro_batch" else []

    def output_roots(self, fx: dict) -> list[str]:
        return [fx["out"]]


# =============================================================================
# analytics_mix: registry queries over a generated sf0.1 corpus
# =============================================================================


# Warm-up passes before analytics_mix measures: the first pass in a JVM
# is 1.5-4x slower per query (codegen, JIT, class loading).
WARMUP_PASSES = 1
# The queries round doubles to 4 decimals; Spark and DuckDB compute the
# unrounded value with different libm / summation order, so at a
# rounding boundary they disagree by one unit (seen: cosine 0.34 vs
# 0.3399, tf-idf score 10.7664 vs 10.7663).
FLOAT_TOL = 1.5e-4


class AnalyticsMix:
    name = "analytics_mix"
    # one query per queries module; a pass of these takes ~10 s warm
    queries = [
        "q_tpch_q03", "q_dedup_minhash_pairs", "q_similarity_ivf_topk",
        "q_tfidf_top_terms", "q_dq_suite", "q_event_funnel",
    ]
    kinds = queries
    write_kinds: list[str] = []
    read_kinds = queries
    cycle = queries
    # a run measures at least this many passes, however slow the host
    min_cycles = 2

    def __init__(self, seed: int):
        self.seed = seed
        self.tracer = None
        self._tables = None
        self._fns = None
        self._oracle = None
        self._module = {}

    def ops(self, n: int) -> list[Op]:
        passes = -(-n // len(self.queries))
        names = gen.analytics_passes(self.seed, self.queries, passes, first_pass=1)
        return [Op(i, q) for i, q in enumerate(names[:n])]

    def warmup_ops(self) -> list[Op]:
        return [Op(i, q) for i, q in enumerate(gen.analytics_passes(self.seed, self.queries, WARMUP_PASSES))]

    def setup(self, spark, root: str) -> dict:
        if self._tables is None:
            self._tables = gen.corpus(self.seed)
        sf = os.path.join(root, "sf0.1")
        gen.write_tables(self._tables, sf)
        if self._fns is None:
            from sandbox_data_pipeline_spark.queries import registry

            fns, oracle = registry()
            raw, _ = registry(raw=True)
            self._fns = {q: fns[q] for q in self.queries}
            self._oracle = {q: oracle[q] for q in self.queries}
            self._module = {q: raw[q].__module__.rsplit(".", 1)[-1] for q in self.queries}
        return {"sf": sf}

    def run(self, spark, fx: dict, op: Op) -> None:
        tracer = self.tracer
        mod = self._module[op.kind]
        if tracer is None:
            df = self._fns[op.kind](spark, fx["sf"])
            rows = df.collect()
        else:
            with tracer.span(f"queries.{mod}.build"):
                df = self._fns[op.kind](spark, fx["sf"])
            with tracer.span(f"queries.{mod}.exec"):
                rows = df.collect()
        op.out = {"cols": df.columns, "rows": [tuple(r) for r in rows]}
        if tracer is not None:
            op.extra["plan"] = df._jdf.queryExecution().executedPlan()

    def check(self, spark, fx: dict, done: list[Op]) -> list[bool]:
        """First result of each query vs DuckDB's oracle (exact value
        hash; float values within FLOAT_TOL when the hashes differ, and
        the query is then listed in ``self.float_tolerance_used``);
        every repeat must hash exactly like the first."""
        import duckdb

        from tools._normalize import value_hash

        con = duckdb.connect()
        for t in self._tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx['sf']}/{t}.parquet'")
        first: dict[str, str] = {}
        oracle_ok: dict[str, bool] = {}
        self.float_tolerance_used = []
        ok = []
        for o in done:
            cols, rows = o.out["cols"], o.out["rows"]
            h = value_hash(cols, rows)
            if o.kind not in first:
                first[o.kind] = h
                res = con.execute(self._oracle[o.kind])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                oracle_ok[o.kind] = value_hash(dcols, drows) == h
                if not oracle_ok[o.kind] and stats.rows_match(cols, rows, dcols, drows, FLOAT_TOL):
                    oracle_ok[o.kind] = True
                    self.float_tolerance_used.append(o.kind)
            ok.append(oracle_ok[o.kind] and h == first[o.kind])
            o.out["rows"] = None  # release the result rows
        con.close()
        return ok

    def patch(self, tracer) -> None:
        from sandbox_data_pipeline_spark import catalog

        self.tracer = tracer
        tracer.patch(catalog, "table", "catalog.table")

    def layer_metrics(self, tracer, spark, fx: dict, window: list[Op]) -> dict[str, float]:
        ids = {o.idx for o in window}
        tot = tracer.totals(ids)
        n = len(window)
        m = {"catalog.table_s": tot.get("catalog.table", 0.0) / n}
        for mod in ("tpch", "dedup", "similarity", "text", "dq", "analytics"):
            k = sum(1 for o in window if self._module[o.kind] == mod)
            m[f"queries.{mod}.build_s"] = tot.get(f"queries.{mod}.build", 0.0) / max(k, 1)
            m[f"queries.{mod}.exec_s"] = tot.get(f"queries.{mod}.exec", 0.0) / max(k, 1)
        groups = stats.by_kind([(o.kind, o.latency) for o in window])
        for q in self.queries:
            m[f"queries.{q}.p50_s"] = stats.quantile(groups[q], 0.5) if q in groups else 0.0
        from tools.shuffle_audit import walk_metrics

        acc = {"shuffle_bytes": 0, "spill_bytes": 0, "exchanges": 0}
        for o in window:
            walk_metrics(o.extra.pop("plan"), set(), acc)
        m["spark.shuffle_bytes_per_op"] = acc["shuffle_bytes"] / n
        m["spark.spill_bytes_per_op"] = acc["spill_bytes"] / n
        return m

    def job_groups(self, op: Op) -> list[str]:
        return []

    def output_roots(self, fx: dict) -> list[str]:
        return []


# =============================================================================
# lakehouse_merge: upserts, pruned reads and time travel on a TxTable
# =============================================================================

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
    "o_orderdate timestamp, o_orderpriority string"
)


class LakehouseMerge:
    kinds = ["merge", "range_read", "time_travel_read", "optimize"]
    write_kinds = ["merge", "optimize"]
    read_kinds = ["range_read", "time_travel_read"]
    range_keys = 20_000
    n_files = 8

    def __init__(self, seed: int):
        self.seed = seed
        self._orders = gen.orders_table(seed)

    def setup(self, spark, root: str) -> dict:
        from pyspark.sql import functions as F

        from sandbox_data_pipeline_spark.sinks.txlog import TxTable

        import pyarrow.parquet as pq

        os.makedirs(root, exist_ok=True)
        src = os.path.join(root, "input", "orders.parquet")
        os.makedirs(os.path.dirname(src), exist_ok=True)
        pq.write_table(self._orders, src)
        df = spark.read.parquet(src).repartitionByRange(self.n_files, F.col("o_orderkey"))
        t = TxTable.create(spark, os.path.join(root, "orders"), df)
        o = self._orders
        # in-memory model: dense arrays indexed by order key
        model = {
            "cust": o["o_custkey"].to_numpy().copy(),
            "cents": np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64),
            "status": o["o_orderstatus"].to_numpy(zero_copy_only=False).astype(object),
        }
        fx = {
            "table_path": t.path,
            "model": model,
            # version -> (rows, sum of cents, sum of custkey) of the whole table
            "history": {t.latest_version(): self._agg(model, 0, len(model["cust"]) - 1)},
            "rng": gen.rng(self.seed, "lake_ops"),
        }
        return fx

    @staticmethod
    def _agg(model, lo: int, hi: int) -> tuple[int, int, int]:
        n = len(model["cust"])
        lo, hi = max(lo, 0), min(hi, n - 1)
        if hi < lo:
            return (0, 0, 0)
        return (hi - lo + 1, int(model["cents"][lo:hi + 1].sum()), int(model["cust"][lo:hi + 1].sum()))

    def prepare(self, op: Op, fx: dict) -> None:
        r = fx["rng"]
        max_key = len(fx["model"]["cust"]) - 1
        if op.kind == "merge":
            op.extra["rows"] = gen.merge_rows(r, max_key)
            op.input_bytes = sum(len(json.dumps(x, default=str)) + 1 for x in op.extra["rows"])
        elif op.kind == "range_read":
            lo = int(r.integers(0, max_key - self.range_keys + 2))
            op.arg = (lo, lo + self.range_keys - 1)
        elif op.kind == "time_travel_read":
            op.arg = int(r.integers(1, 11))

    def _sums(self, df):
        from pyspark.sql import functions as F

        r = df.agg(
            F.count(F.lit(1)),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
            F.sum("o_custkey"),
        ).first()
        return (int(r[0]), int(r[1] or 0), int(r[2] or 0))

    def run(self, spark, fx: dict, op: Op) -> None:
        from pyspark.sql import functions as F

        from sandbox_data_pipeline_spark.sinks import txlog

        t = txlog.TxTable(spark, fx["table_path"])
        if op.kind == "merge":
            src = spark.createDataFrame(op.extra["rows"], _ORDERS_SCHEMA)
            op.out = {"version": t.merge(src, "o_orderkey")}
        elif op.kind == "optimize":
            op.out = txlog.optimize(t, num_files=self.n_files)
        elif op.kind == "range_read":
            lo, hi = op.arg
            v = t.latest_version()
            df = t.read(version=v, predicate=("o_orderkey", lo, hi)).where(F.col("o_orderkey").between(lo, hi))
            op.out = {"version": v, "agg": self._sums(df)}
        else:
            latest = t.latest_version()
            v = max(latest - op.arg, 0)
            op.out = {"version": v, "agg": self._sums(t.read(version=v))}

    def after(self, spark, fx: dict, op: Op) -> None:
        """Advance the model past a committed write (untimed)."""
        from sandbox_data_pipeline_spark.sinks.txlog import TxTable

        if op.kind == "merge":
            rows = op.extra.pop("rows")
            model = fx["model"]
            keys = np.array([x[0] for x in rows])
            top = int(keys.max())
            n = len(model["cust"])
            if top >= n:
                grow = top + 1 - n
                model["cust"] = np.concatenate([model["cust"], np.zeros(grow, np.int64)])
                model["cents"] = np.concatenate([model["cents"], np.zeros(grow, np.int64)])
                model["status"] = np.concatenate([model["status"], np.full(grow, None, object)])
            model["cust"][keys] = [x[1] for x in rows]
            model["cents"][keys] = [round(x[3] * 100) for x in rows]
            model["status"][keys] = [x[2] for x in rows]
        if op.kind in ("merge", "optimize"):
            v = TxTable(spark, fx["table_path"]).latest_version()
            fx["history"][v] = self._agg(fx["model"], 0, len(fx["model"]["cust"]) - 1)
        if op.kind == "range_read":
            op.extra["want"] = self._agg(fx["model"], *op.arg)
        elif op.kind == "time_travel_read":
            op.extra["want"] = fx["history"].get(op.out["version"])

    def check(self, spark, fx: dict, done: list[Op]) -> list[bool]:
        from sandbox_data_pipeline_spark.sinks.txlog import TxTable

        t = TxTable(spark, fx["table_path"])
        pdf = t.read().toPandas().sort_values("o_orderkey")
        m = fx["model"]
        final_ok = (
            len(pdf) == len(m["cust"])
            and (pdf["o_orderkey"].to_numpy() == np.arange(len(m["cust"]))).all()
            and (pdf["o_custkey"].to_numpy() == m["cust"]).all()
            and (np.round(pdf["o_totalprice"].to_numpy() * 100).astype(np.int64) == m["cents"]).all()
            and (pdf["o_orderstatus"].to_numpy() == m["status"]).all()
        )
        ok = []
        for o in done:
            if o.kind in ("range_read", "time_travel_read"):
                ok.append(o.out["agg"] == o.extra.get("want"))
            elif o.kind == "optimize":
                rows = sum(f.rows for f in t.snapshot(o.out["version"]).values())
                ok.append(final_ok and rows == fx["history"][o.out["version"]][0])
            else:
                ok.append(bool(final_ok))
        return ok

    def patch(self, tracer) -> None:
        from sandbox_data_pipeline_spark.sinks import txlog

        tracer.patch(txlog.TxTable, "merge", "sinks.txlog.merge")
        tracer.patch(txlog.TxTable, "snapshot", "sinks.txlog.snapshot")
        tracer.patch(txlog.TxTable, "read", "sinks.txlog.read")
        tracer.patch(txlog, "optimize", "sinks.txlog.optimize")

    def layer_metrics(self, tracer, spark, fx: dict, window: list[Op]) -> dict[str, float]:
        from sandbox_data_pipeline_spark.sinks import txlog

        ids = {o.idx for o in window}
        tot, cnt = tracer.totals(ids), tracer.counts(ids)
        n = len(window)
        t = txlog.TxTable(spark, fx["table_path"])
        merges = [o for o in window if o.kind == "merge"]
        opts = [o for o in window if o.kind == "optimize"]
        reads = [o for o in window if o.kind == "range_read"]
        entries = {o.idx: t._read_entry(o.out["version"]) for o in merges + opts}
        ckpt_every = txlog.CHECKPOINT_EVERY

        def replayed(v: int) -> int:
            # log entries a snapshot at v replays after its checkpoint
            return v - (v // ckpt_every) * ckpt_every + (1 if v < ckpt_every else 0)

        read_versions = [o.out["version"] - 1 if o.kind in ("merge", "optimize") else o.out["version"]
                         for o in window]
        live, ratio = [], []
        for o in reads:
            snap = t.snapshot(o.out["version"])
            live.append(len(snap))
            lo, hi = o.arg
            ratio.append(txlog.files_skipped(t, "o_orderkey", lo, hi, o.out["version"])["files_read"] / len(snap))
        return {
            "sinks.txlog.merge_s": tot.get("sinks.txlog.merge", 0.0) / max(len(merges), 1),
            "sinks.txlog.snapshot_s": tot.get("sinks.txlog.snapshot", 0.0) / n,
            "sinks.txlog.snapshot_calls": cnt.get("sinks.txlog.snapshot", 0) / n,
            "sinks.txlog.replay_entries": _mean(replayed(v) for v in read_versions),
            "sinks.txlog.files_rewritten_per_merge": _mean(len(entries[o.idx]["remove"]) for o in merges),
            "sinks.txlog.files_added_per_merge": _mean(len(entries[o.idx]["add"]) for o in merges),
            "sinks.txlog.bytes_written_per_merge": _mean(
                sum(a["bytes"] for a in entries[o.idx]["add"]) for o in merges),
            "sinks.txlog.read_s": tot.get("sinks.txlog.read", 0.0) / max(len(reads), 1),
            "sinks.txlog.files_read_ratio": _mean(ratio),
            "sinks.txlog.live_files": _mean(live),
            "sinks.txlog.optimize_s": tot.get("sinks.txlog.optimize", 0.0) / max(len(opts), 1),
            "sinks.txlog.optimize_bytes_rewritten": _mean(
                sum(a["bytes"] for a in entries[o.idx]["add"]) for o in opts),
        }

    def job_groups(self, op: Op) -> list[str]:
        return []

    def output_roots(self, fx: dict) -> list[str]:
        return [fx["table_path"]]


# =============================================================================
# ingest_merge: the tiny-batch write paths in one closed loop
# =============================================================================


class IngestMerge:
    """Hourly ELT hours, streaming micro-batches and lakehouse
    upserts/reads interleaved in one seeded op stream. All are
    small-data ops whose cost is fixed per-job overhead, the opposite
    regime from analytics_mix; each kind keeps its own latency
    distribution, so mixing them costs no steadiness."""

    name = "ingest_merge"
    # Every measured window holds whole cycles of this fixed mix, so
    # every run samples every kind in the same proportions: fresh hour :
    # re-run : micro-batch 2 : 1 : 2 (a re-run is 1 ELT op in 5), and
    # merge : range read : time-travel read 3 : 2 : 1 with one optimize
    # (compaction) per cycle.
    cycle = [
        "hour_fresh", "hour_fresh", "hour_rerun", "micro_batch", "micro_batch",
        "merge", "merge", "merge", "range_read", "range_read", "time_travel_read", "optimize",
    ]
    # a run measures at least this many cycles, however slow the host
    min_cycles = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.elt = EltHourly(seed)
        self.lake = LakehouseMerge(seed)
        self.kinds = self.elt.kinds + self.lake.kinds
        self.write_kinds = self.elt.write_kinds + self.lake.write_kinds
        self.read_kinds = self.lake.read_kinds
        self._part = {k: self.elt for k in self.elt.kinds} | {k: self.lake for k in self.lake.kinds}

    def _stream(self, cycle: list[str], n: int, stream: int) -> list[Op]:
        """``n`` ops in cycles of ``cycle``'s kinds, each cycle in a seeded
        order; a re-run never precedes the first fresh hour."""
        r = gen.rng(self.seed, "elt_ops", stream)
        out: list[Op] = []
        fresh = batch = 0
        while len(out) < n:
            slots = list(cycle)
            r.shuffle(slots)
            if fresh == 0 and "hour_rerun" in slots:
                i, j = slots.index("hour_rerun"), slots.index("hour_fresh")
                if i < j:
                    slots[i], slots[j] = slots[j], slots[i]
            for k in slots:
                arg = None
                if k == "hour_fresh":
                    arg, fresh = fresh, fresh + 1
                elif k == "hour_rerun":
                    arg = int(r.integers(0, fresh))
                elif k == "micro_batch":
                    arg, batch = batch, batch + 1
                out.append(Op(len(out), k, arg))
        return out[:n]

    def ops(self, n: int) -> list[Op]:
        return self._stream(self.cycle, n, 0)

    def warmup_ops(self) -> list[Op]:
        # every kind twice: a kind's first run in a JVM costs 2-3x its
        # second (class loading, codegen, JIT)
        return self._stream(self.kinds, 2 * len(self.kinds), 1)

    def setup(self, spark, root: str) -> dict:
        return {
            "elt": self.elt.setup(spark, os.path.join(root, "elt")),
            "lake": self.lake.setup(spark, os.path.join(root, "lake")),
        }

    def _sub(self, op: Op):
        part = self._part[op.kind]
        return part, ("elt" if part is self.elt else "lake")

    def prepare(self, op: Op, fx: dict) -> None:
        part, key = self._sub(op)
        part.prepare(op, fx[key])

    def run(self, spark, fx: dict, op: Op) -> None:
        part, key = self._sub(op)
        part.run(spark, fx[key], op)

    def after(self, spark, fx: dict, op: Op) -> None:
        part, key = self._sub(op)
        if part is self.lake:
            part.after(spark, fx[key], op)

    def check(self, spark, fx: dict, done: list[Op]) -> list[bool]:
        verdict: dict[int, bool] = {}
        for part, key in ((self.elt, "elt"), (self.lake, "lake")):
            mine = [o for o in done if self._part[o.kind] is part]
            for o, v in zip(mine, part.check(spark, fx[key], mine)):
                verdict[o.idx] = v
        return [verdict[o.idx] for o in done]

    def patch(self, tracer) -> None:
        self.elt.patch(tracer)
        self.lake.patch(tracer)

    def layer_metrics(self, tracer, spark, fx: dict, window: list[Op]) -> dict[str, float]:
        m = {}
        for part, key in ((self.elt, "elt"), (self.lake, "lake")):
            mine = [o for o in window if self._part[o.kind] is part]
            m.update(part.layer_metrics(tracer, spark, fx[key], mine))
        return m

    def job_groups(self, op: Op) -> list[str]:
        return self._part[op.kind].job_groups(op)

    def output_roots(self, fx: dict) -> list[str]:
        return self.elt.output_roots(fx["elt"]) + self.lake.output_roots(fx["lake"])


WORKLOADS = {w.name: w for w in (IngestMerge, AnalyticsMix)}

