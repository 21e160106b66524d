"""The benchmark's fixed configuration and its record: the stated core
count, each workload's frozen op list and input sizes, and which
end-to-end metric each per-layer metric should move.  Why each workload
exists is said once, in BENCHMARK.json.
"""

from __future__ import annotations

import os
import sys
import tempfile

# The run is pinned to this many cores: master local[CORES] and
# spark.sql.shuffle.partitions = CORES.  The driver heap is the
# program's own default.
CORES = 2

# Catalog entries whose builders only assemble a plan (plans.core,
# plans.advanced, plans.analytics, plans.events) ...
SQL_OPS = (
    "agg_pricing_summary", "join_range_banded", "cdc_snapshot_diff",
    "events_tumbling_hour",
)
# ... and entries whose builders do work of their own.  Measured at sf0.01
# on local[2], jobs launched by the builder call (first pass / later pass):
#   pref_rank_centrality   plans.preference  48 / 48 eager jobs
#   multimodal_png_decode  plans.llmdata      1 / 1  (mapInPandas workers)
# A lazy builder launches 1.  These two cost about 10 s and 4.5 s a run.
# Entries with session memos, such as dedup_recall_report (6 s a run) and
# sim_pq_adc_topk (12 s), are left out so that 48 runs of both workloads
# fit in under an hour.
LLM_OPS = ("pref_rank_centrality", "multimodal_png_decode")

# Input sizes.  The catalog tables come from the package's own generator
# (sources.synth.generate_scale_tables) at TABLES_SF and do not depend on
# the seed: 60k lineitems, 10k events, 500 documents, 200 embeddings.
TABLES_SF = 0.01
TABLES_PARTITIONS = CORES
LANDING_SEASONS = 1          # 380 matches, ~9.5k shots, ~3 MB of JSONL
LANDING_SHARDS = 8
STREAM_EVENT_FILES, STREAM_EVENTS_PER_FILE = 1, 10000
STREAM_DOC_FILES, STREAM_DOCS_PER_FILE = 2, 300

WORKLOADS = {
    "shot_etl": {
        "ops": ("shot_load", "star_load"),
        "op_order": "fixed",
        "tables": ("lineitem", "orders", "customer", "part", "supplier"),
        "inputs": {
            "landing_zone": f"{LANDING_SEASONS} season, 380 matches, {LANDING_SHARDS} JSONL shards",
            "tables": f"synth sf{TABLES_SF}; star_load reads the five tables above",
        },
    },
    "catalog": {
        "ops": SQL_OPS + LLM_OPS + ("stream_load",),
        "op_order": "shuffled by seed",
        "tables": ("lineitem", "orders", "events", "documents", "embeddings"),
        "inputs": {
            "tables": f"synth sf{TABLES_SF}; the ops read the five tables above",
            "stream_backlog": (
                f"{STREAM_EVENT_FILES} x {STREAM_EVENTS_PER_FILE} events, "
                f"{STREAM_DOC_FILES} x {STREAM_DOCS_PER_FILE} documents"
            ),
        },
    },
}

PLAN_MODULES = ("core", "analytics", "advanced", "events", "llmdata", "preference")
FOTMOB_TABLES = (
    "match_dim", "team_dim", "player_dim", "shot_type_dim", "event_type_dim",
    "fact_table", "looker_data",
)

# Per-layer metric -> (end-to-end metric it should move, on which workload).
LAYER_MAP = {
    "session.get_spark_s": ("setup_s", "all"),
    "session.ship_package_s": ("setup_s", "all"),
    "sources.registry.footer_s": ("setup_s", "all"),
    "sources.sinks.write_s": ("pass_s", "shot_etl"),
    "sources.sinks.files": ("pass_s", "shot_etl"),
    "sources.sinks.bytes": ("pass_s", "shot_etl"),
    "sources.sinks.write_amp": ("pass_s", "shot_etl"),
    "fotmob.run_pipeline_s": ("pass_s", "shot_etl"),
    **{f"fotmob.write_s.{t}": ("pass_s, cold_pass_s", "shot_etl") for t in FOTMOB_TABLES},
    "fotmob.leaderboard_s": ("pass_s, cold_pass_s", "shot_etl"),
    **{
        f"plans.{m}.{k}": ("pass_s, cold_pass_s, op_p50_s", "catalog")
        for m in PLAN_MODULES for k in ("build_s", "build_jobs", "action_s")
    },
    "plans.star_build.run_s": ("pass_s", "shot_etl"),
    "plans.star_build.jobs": ("pass_s", "shot_etl"),
    **{
        f"spark.{k}": ("op_p50_s", "catalog")
        for k in ("plan_s", "jobs", "stages", "stages_skipped", "reuse_ratio", "tasks",
                  "tasks_failed", "task_s", "gc_s", "busy_ratio")
    },
    **{
        f"spark.{k}": ("pass_s", "shot_etl and catalog")
        for k in ("input_bytes", "read_amp", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes")
    },
    **{
        f"streaming.{k}": ("pass_s, op_p50_s", "catalog")
        for k in ("batches", "trigger_p50_s", "add_batch_s", "get_batch_s", "planning_s",
                  "wal_commit_s", "state_rows", "state_bytes", "rows_dropped_late",
                  "backlog_files", "rows_per_s")
    },
    "bench.trace_overhead_ratio": ("none (traced pass_s / untraced pass_s)", "all"),
    # Reported per layer rather than gated end to end: with one later pass
    # a run has 2 (shot_etl) or 7 (catalog) op samples of unlike ops, and
    # the JVM's peak memory depends on when the collector ran.
    "bench.op_p50_s": ("pass_s", "all"),
    "bench.jvm_peak_rss_mb": ("none (driver JVM VmHWM)", "all"),
}


def pin_environment(work: str) -> None:
    """Everything a run writes goes under ``work``; the core count is
    pinned, and the heap left at the program's default, before the JVM
    starts."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    for knob in ("SPARK_MASTER", "SPARK_DRIVER_MEM"):
        os.environ.pop(knob, None)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file outside the work dir.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
