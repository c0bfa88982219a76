"""SparkSession factory with scale-aware defaults.

Local-mode testing (``local[N]``) with the same knobs we would set on a
1000-executor cluster: AQE (runtime re-plan + skew-join splitting +
partition coalescing), Arrow for the Python boundary, UTC session time
zone (parity with the DuckDB oracle's naive timestamps), and shuffle
partitions sized to the local core count rather than the 200 default.

PySpark's DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every ``functions``/``Column`` call walks the Python stack and makes
about four py4j round trips to record its file:line for error
messages, and the first call in a process imports IPython when it is
installed. Measured on a 4-cpu host, two runs each: 2,500 calls
(``F.upper(F.col(...))``) took 2.2-2.6 s with the capture on and
1.0-1.3 s with it off, about 0.5 ms per call, and the first call of a
process took 0.82-0.91 s against 0.48-0.64 s. The first builds of
``dedup_clusters``, ``full_curation_pipeline`` and
``dbscan_embedding_clusters`` make 1,009 such calls. With it off, an
error still names the failing operation (``"divide" was called
from ...``) and an expression written as SQL text keeps its fragment;
only the Python file:line of the call that built the Column is lost
(a JVM frame is shown instead). ``extra_conf`` can turn it back on;
PySpark reads the flag once per process, on the first such call made
while a session is active.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "atlassian_confluence_data_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (fallback 4 for tests).
    On a real cluster the master/memory settings come from spark-submit;
    everything set here is master-agnostic except ``local[N]``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Local mode defaults to a 1g heap regardless of machine size,
        # which leaves no headroom for block-manager checkpoints + wide
        # aggregates at 32 threads. 4g measured as the sweet spot: bigger
        # heaps (48g) run this bench ~30% SLOWER across the board (G1
        # young-gen scaling), 1g has no safety margin. Env-overridable;
        # on a cluster driver/executor memory comes from spark-submit.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
        # Shuffle sizing: match parallelism, let AQE coalesce down.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.default.parallelism", str(max(cpus, 4)))
        # AQE: runtime re-planning, skew-join splitting, coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow across the JVM<->Python boundary (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Oracle parity: DuckDB timestamps are naive; pin the session to UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # Quiet the UI for headless runs.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # No Python call-site capture per Column call (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
