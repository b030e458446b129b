"""SparkSession factory tuned for the harvesting engine.

Local-mode settings mirror what we would set cluster-side via
spark-submit --conf: AQE on (skew-join splitting replaces the reference's
recursive batch-splitting, biosample/files/biosample.py:117-130), Arrow on
(the input_hint mandates vectorized pandas UDFs, no per-row Python),
shuffle partitions sized to the test scale (cluster: ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nde-crawlers-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession, or return the live one unchanged.

    ``cores=None`` uses ``local[*]``; tests pass explicit core counts to
    check N-vs-4N determinism (tests/test_crawl_oracle.py runs the same
    crawl at local[16] and local[1]). A live session keeps its settings.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = cores if cores is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else (
        int(cpus) if str(cpus).isdigit() else 32
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalesce + skew-join split — the scale path for
        # hot-host skew (north rule: Zenodo/ImmPort-style domination).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow for all pandas/Arrow UDF exchange. 10k-row batches: the
        # reference batches remote work at 1000 docs (pmid_helper.py:855)
        # because each batch is an RPC; here batches only cross the
        # JVM<->Python boundary, where larger is strictly better until
        # memory pressure.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep timestamps deterministic across engines.
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: lookup tables (robots, corrections, term
        # maps) are small; 64MB covers them at 100TB-scale dims too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/nde-spark-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Cap plan-string rendering (default ~2^31 bytes). AQE renders
        # explainString on every plan update; in ITERATIVE plans (the
        # connected-components loop in dedup) nested InMemoryRelation/AQE
        # nodes render exponentially — the plan OBJECT graph is a shared DAG (linear
        # memory), but tree-string generation expands it — and an
        # uncapped render OOMs the driver at ~30 levels. 1 MB keeps every
        # explain useful and bounds the render.
        .config("spark.sql.maxPlanStringLength", "1048576")
        # PySpark's DataFrame call-site hook costs a conf read plus an
        # origin set and clear (three py4j round-trips) on EVERY F.* and
        # DataFrame call, and imports IPython on first use: it was half
        # of the ~8.5k round-trips that building one hub dump's plan
        # makes. The trade: an analysis or runtime error no longer names
        # the Python line of the lazy DataFrame call that failed (the
        # Python traceback of the action and the JVM message remain).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # lower()/upper() through the JVM's case mapping, not ICU's: the
        # ICU path's first call in a JVM initialises a title-case break
        # iterator, ~1.4 s that every cold crawl round and hub dump paid.
        # lower and upper give the same strings (and match Python's
        # str.lower/upper, the reference's); initcap, which nothing here
        # calls, differs on ligatures. The trade: non-ASCII text follows
        # the JVM's default locale (ASCII never does), so under a tr/az/lt
        # locale its 'I' maps differently.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
