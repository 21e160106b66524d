#!/usr/bin/env python3
"""Benchmark of the shot-analytics engine.

    python3 perfbench/run.py --workload shot_etl --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 5

Run from the repository root.  One process, one client, pinned to
``local[CORES]`` (perfbench/workloads.py).  A run stages seeded inputs,
runs one cold pass in the fresh session, then later passes for
``--seconds``, checks every op's output, and prints one JSON object as
the last line of stdout.  With ``--trace 0`` its metrics are the
end-to-end ones; with ``--trace 1`` later passes alternate traced and
untraced, and the metrics are the per-layer ones read from the traced
passes.  Details, spans and per-layer values are written under
``.perfbench/out/``.  The catalog tables are generated once per
checkout into ``.perfbench/tables-sf<sf>/`` (perfbench/tables.py);
everything else the run writes lives in ``.perfbench/run-<pid>/`` and is
removed at exit.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks, trace  # noqa: E402
from perfbench import workloads as W  # noqa: E402

END_TO_END = ("setup_s", "cold_pass_s", "pass_s")
PER_LAYER = tuple(W.LAYER_MAP)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and traced, one process each, "
                         "and print every metric with its unit")
    args = ap.parse_args(argv)
    if not args.all and args.workload is None:
        ap.error("--workload is required")
    return args


class Bench:
    """One run: set-up, cold pass, later passes, checks, metrics."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = W.WORKLOADS[args.workload]
        self.tracer = trace.Tracer(enabled=False)
        self.setup_parts: dict[str, float] = {}
        self.results: list[tuple[int, str, object]] = []  # (pass, op, result)
        self.failures: list[str] = []
        self.attempted = 0
        self.layer_by_pass: dict[int, dict] = {}  # traced later passes
        self.op_log: list[tuple[int, bool, list]] = []  # (pass, traced, [(op, wall)])
        self.spark = None
        self.counters = None
        self._oracle: dict | None = None
        self._stream_twins: tuple | None = None

    # --- set-up -----------------------------------------------------------

    def _timed(self, name: str, fn, *a, **kw):
        t = time.perf_counter()
        with self.tracer.span(name):
            out = fn(*a, **kw)
        self.setup_parts[name] = time.perf_counter() - t
        return out

    def setup(self) -> float:
        from fotmobdatapipeline_spark import session
        from fotmobdatapipeline_spark.sources import registry

        self.tracer.enabled = bool(self.args.trace)
        self.tracer.op_id = "setup"
        self.data_dir = self._timed("bench.stage_tables", self.stage_tables)
        self.spark = self._timed(
            "session.get_spark", session.get_spark, app_name="perfbench",
            shuffle_partitions=W.CORES, extra_conf=W.session_conf(self.work),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._timed("session.ship_package", session.ship_package, self.spark)
        self.counters = trace.SparkCounters(self.spark)
        self._timed("bench.stage_inputs", self.stage_inputs)
        self._timed(
            "sources.registry.load_tables", registry.load_tables, self.spark, self.data_dir,
            only=self.wl["tables"],
        )
        self._ops = self._timed("bench.resolve_ops", self.ops)
        # The one-time table generation of a fresh checkout is input
        # preparation in a process of its own, not the program's set-up.
        return time.perf_counter() - _T_PROCESS - self.setup_parts.get("bench.generate_tables", 0.0)

    def stage_tables(self) -> str:
        """Directory of the catalog tables; generates them on the first
        run in a checkout."""
        path = os.path.join(ROOT, ".perfbench", f"tables-sf{W.TABLES_SF}")
        ready = os.path.join(path, "_PERFBENCH_READY")
        if not os.path.exists(ready):
            t = time.perf_counter()
            subprocess.run(
                [sys.executable, "-m", "perfbench.tables", os.path.join(self.work, "gen"), path],
                cwd=ROOT, check=True, stdout=sys.stderr,
            )
            open(ready, "w").close()
            self.setup_parts["bench.generate_tables"] = time.perf_counter() - t
        return path

    def stage_inputs(self) -> None:
        from perfbench import datagen

        seed = self.args.seed
        self.lineitem_rows = checks.parquet_rows(os.path.join(self.data_dir, "lineitem.parquet"))
        self.input_bytes = sum(
            checks.tree_bytes(os.path.join(self.data_dir, f"{t}.parquet"))[1]
            for t in self.wl["tables"]
        )
        ops = self.wl["ops"]
        if "shot_load" in ops:
            self.landing = os.path.join(self.work, "landing")
            self.expected = datagen.write_landing_zone(
                self.landing, seed, W.LANDING_SEASONS, W.LANDING_SHARDS
            )
            self.write_base_bytes = self.expected["input_bytes"] + self.input_bytes
        if "stream_load" in ops:
            self.backlog = os.path.join(self.work, "backlog")
            self.backlog_rows = datagen.write_stream_backlog(
                self.backlog, seed, W.STREAM_EVENT_FILES, W.STREAM_EVENTS_PER_FILE,
                W.STREAM_DOC_FILES, W.STREAM_DOCS_PER_FILE,
            )

    # --- ops ----------------------------------------------------------------

    def ops(self) -> list[tuple[str, object]]:
        """The workload's ops in run order: the load ops are methods of
        this class, every other name is a catalog entry."""
        from fotmobdatapipeline_spark.plans.catalog import QUERIES, _load_all

        _load_all()
        names = list(self.wl["ops"])
        if self.wl["op_order"] == "shuffled by seed":
            random.Random(self.args.seed).shuffle(names)
        return [
            (n, getattr(self, f"op_{n}", None) or self._catalog_op(QUERIES[n])) for n in names
        ]

    def op_shot_load(self, k: int, layer: dict):
        from fotmobdatapipeline_spark import fotmob
        from fotmobdatapipeline_spark.sources.sinks import write_parquet

        out = os.path.join(self.work, "out", f"p{k}", "shot")
        span = self.tracer.span
        with span("fotmob.run_pipeline") as s:
            tables = fotmob.run_pipeline(self.spark, self.landing)
        _add(layer, "fotmob.run_pipeline_s", s)
        for t in W.FOTMOB_TABLES:
            with span("sources.sinks.write_parquet", table=t) as s:
                write_parquet(tables[t], os.path.join(out, t))
            _add(layer, f"fotmob.write_s.{t}", s)
            _add(layer, "sources.sinks.write_s", s)
        with span("fotmob.player_xg_leaderboard") as s:
            board = fotmob.player_xg_leaderboard(tables["looker_data"]).collect()
        _add(layer, "fotmob.leaderboard_s", s)
        return out, board

    def op_star_load(self, k: int, layer: dict):
        from fotmobdatapipeline_spark.plans.star_build import run_star_build

        out = os.path.join(self.work, "out", f"p{k}", "star")
        j0 = self.counters.next_job_id()
        with self.tracer.span("plans.star_build.run_star_build") as s:
            run_star_build(self.spark, self.data_dir, out)
        _add(layer, "plans.star_build.run_s", s)
        if s is not None:
            layer["plans.star_build.jobs"] += self.counters.next_job_id() - j0
        return out

    def op_stream_load(self, k: int, layer: dict):
        from fotmobdatapipeline_spark.streaming.documents import neardup_stream
        from fotmobdatapipeline_spark.streaming.events import (
            read_events_stream,
            windowed_event_counts,
        )

        ck = os.path.join(self.work, "checkpoints", f"p{k}")
        span = self.tracer.span
        queries = []
        with span("streaming.events.windowed_event_counts"):
            events = read_events_stream(self.spark, os.path.join(self.backlog, "events"))
            queries.append(self._drain(windowed_event_counts(events), "complete", f"ev_p{k}", ck))
        with span("streaming.documents.neardup_stream"):
            docs = (
                self.spark.readStream.schema(_doc_schema())
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(self.backlog, "documents"))
            )
            queries.append(self._drain(neardup_stream(docs, id_col="doc_id"), "append", f"nd_p{k}", ck))
        return [q.name for q in queries], [q.recentProgress for q in queries]

    def _drain(self, df, mode: str, name: str, ck: str):
        q = (
            df.writeStream.outputMode(mode).format("memory").queryName(name)
            .option("checkpointLocation", os.path.join(ck, name))
            .trigger(availableNow=True).start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        return q

    def _catalog_op(self, spec):
        module = spec.builder.__module__.rsplit(".", 1)[-1]

        def op(k: int, layer: dict):
            j0 = self.counters.next_job_id()
            with self.tracer.span(f"plans.{module}.build", entry=spec.name) as s:
                df = spec.builder(self.spark, self.data_dir)
            _add(layer, f"plans.{module}.build_s", s)
            if s is not None:
                layer[f"plans.{module}.build_jobs"] += self.counters.next_job_id() - j0
                with self.tracer.span("spark.plan") as p:
                    df._jdf.queryExecution().executedPlan()
                _add(layer, "spark.plan_s", p)
            with self.tracer.span(f"plans.{module}.action", entry=spec.name) as s:
                rows = df.collect()
            _add(layer, f"plans.{module}.action_s", s)
            return df.columns, rows

        return op

    # --- passes -------------------------------------------------------------

    def run_pass(self, k: int, traced: bool) -> tuple[float, list[float], dict]:
        """Run every op once; returns the pass wall (sum of op walls), the
        walls of the ops that returned, and the pass's layer values."""
        self.tracer.enabled = traced
        layer: dict[str, float] = defaultdict(float)
        wall, op_walls = 0.0, []
        self.op_log.append((k, traced, []))
        for name, op in self._ops:
            self.tracer.op_id = f"p{k}:{name}"
            self.attempted += 1
            j0 = self.counters.next_job_id()
            t = time.perf_counter()
            try:
                with self.tracer.span(f"op.{name}", op_pass=k):
                    result = op(k, layer)
            except Exception as ex:  # a failing op is counted, never dropped
                dt = time.perf_counter() - t
                wall += dt
                self.failures.append(f"pass {k} {name}: raised {type(ex).__name__}: "
                                     f"{str(ex).splitlines()[0][:300] if str(ex) else ''}")
                traceback.print_exc(file=sys.stderr)
                continue
            dt = time.perf_counter() - t
            wall += dt
            op_walls.append(dt)
            self.op_log[-1][2].append((name, round(dt, 4)))
            self.results.append((k, name, result))
            if traced:
                self._spark_layer(layer, self.counters.window(j0, self.counters.next_job_id()), dt)
        layer["bench.pass_s"] = wall
        self.tracer.enabled = False
        return wall, op_walls, layer

    def _spark_layer(self, layer: dict, c: dict, op_wall: float) -> None:
        for key in ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed", "task_s",
                    "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes"):
            layer[f"spark.{key}"] += c[key]
        layer["bench.op_wall_s"] += op_wall

    # --- checks -------------------------------------------------------------

    def check_all(self) -> None:
        for k, name, result in self.results:
            try:
                reason = self._check(name, result)
            except Exception as ex:  # a check that cannot run is a failed op
                reason = f"check raised {type(ex).__name__}: {ex}"
            if reason:
                self.failures.append(f"pass {k} {name}: {reason}")

    def _check(self, name, result) -> str | None:
        if name == "shot_load":
            out, board = result
            return checks.check_shot_load(out, board, self.expected)
        if name == "star_load":
            return checks.check_star_load(result, self.lineitem_rows)
        if name == "stream_load":
            return self._check_stream(result[0])
        if self._oracle is None:
            self._oracle = self._oracle_answers()
        cols, rows = result
        return checks.compare(checks.canon_rows(rows, cols), self._oracle[name], name)

    def _oracle_answers(self) -> dict:
        """DuckDB oracle rows of every catalog op, on the same files."""
        from fotmobdatapipeline_spark.plans.catalog import QUERIES

        oracle = checks.Oracle(self.data_dir)
        try:
            return {
                n: oracle.canon(QUERIES[n].oracle_text()) for n in self.wl["ops"] if n in QUERIES
            }
        finally:
            oracle.close()

    def _check_stream(self, names) -> str | None:
        """The drained aggregate equals its batch twin, and the drained
        dedup keeps the same signatures as its batch twin."""
        from pyspark.sql import functions as F

        from fotmobdatapipeline_spark.streaming.documents import neardup_stream
        from fotmobdatapipeline_spark.streaming.events import windowed_event_counts

        if self._stream_twins is None:
            ev = self.spark.read.parquet(os.path.join(self.backlog, "events"))
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
            docs = self.spark.read.parquet(os.path.join(self.backlog, "documents"))
            self._stream_twins = (
                _canon_df(windowed_event_counts(ev)),
                sorted(r[0] for r in neardup_stream(docs, id_col="doc_id").select("minhash_sig").collect()),
            )
        ev_name, nd_name = names
        got_ev = _canon_df(self.spark.table(ev_name))
        reason = checks.compare(got_ev, self._stream_twins[0], "windowed_event_counts")
        if reason:
            return reason
        got_nd = sorted(r[0] for r in self.spark.table(nd_name).select("minhash_sig").collect())
        if got_nd != self._stream_twins[1]:
            return f"neardup_stream: {len(got_nd)} kept != batch twin {len(self._stream_twins[1])}"
        return None

    # --- per-layer values from results (outside timing) ----------------------

    def add_result_layers(self) -> None:
        """Sink sizes and streaming progress, for the traced passes."""
        for k, name, result in self.results:
            layer = self.layer_by_pass.get(k)
            if layer is None:
                continue
            if name == "shot_load":
                files, n_bytes = checks.tree_bytes(result[0])
            elif name == "star_load":
                files, n_bytes = checks.tree_bytes(result)
            elif name == "stream_load":
                _stream_layer(layer, result[1], W.STREAM_EVENT_FILES + W.STREAM_DOC_FILES,
                              self.backlog_rows["event_rows"] + self.backlog_rows["doc_rows"])
                continue
            else:
                continue
            layer["sources.sinks.files"] += files
            layer["sources.sinks.bytes"] += n_bytes

    def per_layer(self, untraced_pass_s: float) -> dict[str, float]:
        passes = list(self.layer_by_pass.values())
        mean = {key: sum(p.get(key, 0.0) for p in passes) / len(passes)
                for key in set().union(*passes)}
        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update({k: v for k, v in mean.items() if k in out})
        out["session.get_spark_s"] = self.setup_parts["session.get_spark"]
        out["session.ship_package_s"] = self.setup_parts["session.ship_package"]
        out["sources.registry.footer_s"] = self.setup_parts["sources.registry.load_tables"]
        if "shot_load" in self.wl["ops"]:
            out["sources.sinks.write_amp"] = out["sources.sinks.bytes"] / self.write_base_bytes
            base = self.write_base_bytes
        else:
            base = self.input_bytes
        stages = out["spark.stages"]
        out["spark.reuse_ratio"] = out["spark.stages_skipped"] / stages if stages else 0.0
        out["spark.read_amp"] = out["spark.input_bytes"] / base
        wall = mean.get("bench.op_wall_s", 0.0)
        out["spark.busy_ratio"] = out["spark.task_s"] / (wall * W.CORES) if wall else 0.0
        out["bench.trace_overhead_ratio"] = mean["bench.pass_s"] / untraced_pass_s
        return out


def _canon_df(df):
    return checks.canon_rows([tuple(r) for r in df.collect()], df.columns)


def _add(layer: dict, key: str, span) -> None:
    if span is not None:
        layer[key] += span["end"] - span["start"]


def _doc_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType([
        StructField("doc_id", LongType()), StructField("text", StringType()),
        StructField("lang", StringType()), StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ])


def _stream_layer(layer: dict, progresses, backlog_files: int, backlog_rows: int) -> None:
    """StreamingQueryProgress numbers of one drain (both queries)."""
    triggers = []
    for progress in progresses:
        for p in progress:
            d = p.durationMs
            layer["streaming.batches"] += 1
            triggers.append(d.get("triggerExecution", 0) / 1000.0)
            layer["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            layer["streaming.get_batch_s"] += d.get("getBatch", 0) / 1000.0
            layer["streaming.planning_s"] += d.get("queryPlanning", 0) / 1000.0
            layer["streaming.wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        if progress:
            for op in progress[-1].stateOperators:
                layer["streaming.state_rows"] += op.numRowsTotal
                layer["streaming.state_bytes"] += op.memoryUsedBytes
                layer["streaming.rows_dropped_late"] += op.numRowsDroppedByWatermark
    if triggers:
        layer["streaming.trigger_p50_s"] += statistics.median(triggers)
        layer["streaming.rows_per_s"] += backlog_rows / sum(triggers)
    layer["streaming.backlog_files"] += backlog_files


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    W.pin_environment(work)
    bench = Bench(args, work)
    try:
        setup_s = bench.setup()
        cold_s, _, _ = bench.run_pass(0, traced=bool(args.trace))
        untraced, traced, op_walls = [], [], []
        t_end = time.perf_counter() + args.seconds
        k = 1
        # A traced run alternates traced and untraced later passes, traced
        # first: the JVM still warms up, so the overhead ratio errs high.
        while (time.perf_counter() < t_end or not untraced
               or (args.trace and len(untraced) < len(traced))):
            use_trace = bool(args.trace) and k % 2 == 1
            wall, walls, layer = bench.run_pass(k, traced=use_trace)
            if use_trace:
                traced.append(wall)
                bench.layer_by_pass[k] = layer
            else:
                untraced.append(wall)
                op_walls.extend(walls)
            k += 1
        peak_rss = jvm_peak_rss_mb(bench.spark)
        bench.check_all()
        pass_s = statistics.median(untraced)
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": W.CORES, "setup_parts_s": bench.setup_parts,
            "cold_pass_s": cold_s, "untraced_passes_s": untraced, "traced_passes_s": traced,
            "op_latency_s": trace.summarize(op_walls) if op_walls else None,
            "attempted": bench.attempted, "failed": len(bench.failures),
            "fail_ratio": len(bench.failures) / bench.attempted,
            "failures": bench.failures, "op_log": bench.op_log,
        }
        if args.trace:
            bench.add_result_layers()
            metrics = bench.per_layer(pass_s)
            metrics["bench.op_p50_s"] = statistics.median(op_walls)
            metrics["bench.jvm_peak_rss_mb"] = peak_rss
            units = {k: _unit(k) for k in metrics}
            tag = f"{args.workload}-s{args.seed}"
            bench.tracer.write(os.path.join(out_dir, f"spans-{tag}.json"))
        else:
            metrics = {"setup_s": setup_s, "cold_pass_s": cold_s, "pass_s": pass_s}
            units = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s"}
            detail["jvm_peak_rss_mb"] = peak_rss
        detail["metrics"] = metrics
        with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        for f in bench.failures:
            print(f"FAILED {f}", file=sys.stderr)
        print(json.dumps({k: v for k, v in detail.items() if k != "metrics"}, default=str),
              file=sys.stderr)
        return {
            "correct": not bench.failures,
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)


def _unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_amp")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def run_all(args) -> int:
    """Every workload in its own process: untraced for the end-to-end
    metrics, then traced for the per-layer ones."""
    status = 0
    for name in W.WORKLOADS:
        for traced in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(traced)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{name} trace={traced}: exit {proc.returncode}, no result")
                status = 1
                continue
            res = json.loads(lines[-1])
            ratio = res["failed"] / res["attempted"]
            print(f"{name} trace={traced}: correct={res['correct']} "
                  f"fail_ratio={ratio:.4f} ({res['failed']}/{res['attempted']})")
            shown = res["metrics"] if not traced else {
                k: v for k, v in res["metrics"].items() if k == "bench.trace_overhead_ratio"
            }
            for metric, v in shown.items():
                print(f"  {metric:32s} {v['value']:14.4f} {v['unit']}")
            if not res["correct"]:
                status = 1
    print(f"per-layer metrics and spans: {os.path.join(ROOT, '.perfbench', 'out')}")
    return status


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.all:
        return run_all(args)
    if not os.path.isdir(os.path.join(ROOT, "fotmobdatapipeline_spark")):
        print(f"perfbench: no fotmobdatapipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        import fotmobdatapipeline_spark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the program under test: {ex}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
