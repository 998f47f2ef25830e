"""SparkSession factory with scale-oriented defaults.

The reference hand-rolls its physical layer (multiprocessing.Pool with
fixed batch sizes, ``data/pubtator.py:357-382``); here Catalyst/Tungsten
+ AQE replace all of it.  These confs are the ones that matter for the
pipeline's plan shape:

* AQE + skew-join: the co-occurrence pair join is hub-skewed
  (SURVEY.md section 4.2).
* Arrow on: the scale-path mention detector is a ``mapInArrow`` stage
  (``mapInPandas`` for multi-token dictionaries) and the scoring kernel
  a pandas UDF; no per-row Python anywhere.
* shuffle.partitions sized to cores for local mode (overridable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kg-construct",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    cores = _master_cores(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(2 * cores, 8))
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Unix domain sockets for the executor<->python-worker Arrow
        # streams (round 6). The JVM->worker channel is machine-local
        # BY CONSTRUCTION (workers are forked on the executor's own
        # host, in any deployment), yet over TCP it inherits the
        # host's congestion control. Measured on this box
        # (tcp_congestion_control=bbr): during mapInArrow stages the
        # loopback streams showed ms-scale smoothed RTTs from
        # scheduler delay, 200 ms RTOs, genuine retransmits and
        # rwnd_limited 60-85%, throttling 1.5 GB of Arrow traffic to
        # ~50 MB/s while the kernel's TCP churn burned 60-95% of all
        # 32 CPUs in system time (ss -tmpi dumps + jstack in
        # OPTIMIZATION_r06.md). UDS has no congestion control, no
        # pacing, no retransmits: the 40-180 s pipeline-rep storms
        # disappear. Overridable for A/B via the env knob.
        .config(
            "spark.python.unix.domain.socket.enabled",
            os.environ.get("SPARK_GRAFT_PY_UDS", "true"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _master_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 8
