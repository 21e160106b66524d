"""Generate the catalog tables with the package's own TPC-H-ish generator.

    python3 -m perfbench.tables <work dir> <table dir>

Run from the repository root.  ``sources.synth.generate_scale_tables``
writes the ten tables at ``workloads.TABLES_SF`` under ``<table dir>``.
The tables do not depend on the seed, so ``run.py`` calls this once per
checkout, in a child process of its own, and the measured session's JVM
still starts cold.
"""

from __future__ import annotations

import sys

from perfbench import workloads as W


def main(work: str, path: str) -> None:
    from fotmobdatapipeline_spark import session
    from fotmobdatapipeline_spark.sources import synth
    from perfbench.run import stop_spark

    W.pin_environment(work)
    spark = session.get_spark(
        app_name="perfbench-tables", shuffle_partitions=W.CORES,
        extra_conf=W.session_conf(work),
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        synth.generate_scale_tables(spark, W.TABLES_SF, path, partitions=W.TABLES_PARTITIONS)
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    main(*sys.argv[1:3])
