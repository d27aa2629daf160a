"""SparkSession factory.

The reference creates sessions ad hoc (``SparkContext.getOrCreate()`` at
reference timely_LR.py:25-28, ``SparkSession.builder.appName(...)`` at
timely_SVM.py:29) with stock configuration.  Ours centralizes the
scale-relevant knobs:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — the
  company key in the complaints data is heavily skewed toward a few large
  banks, so skew handling is load-bearing at full scale.
- shuffle partitions sized to the local core count for tests; on a real
  cluster this is overridden (or left to AQE's coalescing).
- Arrow enabled for any pandas interchange (feature-importance extraction,
  plotting sinks).
- UTC session timezone so timestamp rendering is deterministic.
- no console progress bar: its carriage-return ``[Stage N:>`` lines
  would splice into every stderr log line.

Every operator in this package is written to be correct under a *foreign*
session too (the correctness driver constructs its own), so nothing here is
semantically load-bearing — it is performance posture only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "cfpb_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default posture."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
