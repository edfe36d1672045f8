"""SparkSession factory tuned for the archiver workload.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; every scale-dependent
knob is env-parameterised (measured locally in OPTIMIZATION_r11.md §conf,
production values justified there):

- **Shuffle partitions** are sized for the workload, not pinned to the
  core count: task dispatch costs ~5-6 ms on this host class, so a
  32-task stage over a few MB pays ~200 ms of pure scheduling.
  ``max(4, cpus // 4)`` keeps stages parallel enough for the
  compute-heavy Arrow/pandas stages (coalescing to 1 partition measured
  +32 % on the bench subset) while cutting per-stage dispatch ~4x; it
  stays derived from ``$SPARK_GRAFT_CPUS`` so the driver's low-core
  scaling runs keep their shape. At cluster scale set
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` explicitly (data_bytes /
  ~128 MB target, guide §2.2) and let AQE coalesce down.
- **AQE** defaults OFF for env-less local runs, but ON whenever
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` is set explicitly — the
  cluster-scale signal (r11 review: a real deployment must not lose
  skew-join splitting + runtime coalescing to a local-bench default).
  ``SPARK_GRAFT_AQE=1``/``0`` overrides either way. Rationale for the
  local default: AQE's stage-by-stage materialization costs
  ~0.15-0.35 s per action on this host (measured: range(1).count
  186 ms -> 430 ms; 25-query subset 43.9 s -> 52.0 s) and buys nothing
  below ~100 MB shuffles. The known skew cases are ALSO handled
  algorithmically (decimate's ``skew_safe`` range partitioning,
  salted/banded dedup joins), so correctness and worst-case bounds
  never depend on AQE. See README "Configuration at scale".
- Arrow enabled for the Pandas-UDF paths (multimodal, mixed-type corner).
- ``spark.sql.session.timeZone=UTC`` — all archiver timestamps are ns-epoch
  longs; the TZ only affects derived TimestampType *views*, which must be
  stable.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def get_spark(app_name: str = "cassandra-pv-archiver-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    parts_env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    parts = parts_env or str(max(4, int(cpus) // 4))
    # AQE: explicit SPARK_GRAFT_AQE=1/0 wins; otherwise an explicitly
    # data-sized partition count (the cluster-scale signal — nobody sets
    # it for a laptop run) flips AQE ON so a real deployment gets skew
    # splitting + runtime coalescing by default (r11 review), while the
    # env-less local default stays off (stage materialization costs
    # 0.15-0.35 s/action here and buys nothing below ~100 MB shuffles).
    aqe_env = os.environ.get("SPARK_GRAFT_AQE")
    if aqe_env is not None:
        aqe = "true" if aqe_env == "1" else "false"
    elif parts_env:
        aqe = "true"
        log.info(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS=%s turns AQE on; set "
            "SPARK_GRAFT_AQE=0 to keep it off", parts_env,
        )
    else:
        aqe = "false"
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )
