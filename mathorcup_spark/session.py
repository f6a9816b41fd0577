"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32
threads, single JVM); the configs below are chosen so the same plans
scale to a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, join
  strategy re-planning) — the knob that makes one logical plan hold
  from sf0.001 local to 100 TB cluster.
- shuffle partitions sized to local cores; on a real cluster this is
  overridden (or left to AQE's ``advisoryPartitionSizeInBytes``).
- Arrow enabled for every pandas-interop path (Pandas UDFs,
  applyInPandas, toPandas).
- Session timezone pinned to UTC so results hash identically to the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """The driver heap ``get_spark`` asks for when
    ``SPARK_GRAFT_DRIVER_MEM`` is unset: two thirds of physical memory
    in whole GiB, capped at 16g, so the one local JVM cannot grow past
    the machine (10g on a 15 GB host)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys * 2 // 3 // 2**30))}g"


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a small driver-local DataFrame as a ``LocalTableScan``.

    ``createDataFrame(list, schema)`` parallelizes the list into
    ``defaultParallelism`` pickled-RDD slices; measured on local[32]
    (round 11), a 4-row check frame costs ~1.6 s per action — 32
    tasks, each a Python-worker round trip — and that pattern sat in
    the final plan of every self-asserted check query (guide §4: the
    JVM↔Python boundary, here for rows that are already on the
    driver). Routing the same rows through a pandas frame takes the
    Arrow conversion path and plans as a LocalTableScan: no RDD, no
    Python workers at execution (~0.4 s, and the cost is
    plan-construction only). Values and schema are identical — the
    explicit schema drives the Arrow conversion positionally, and
    object dtype hands ints/floats/strings/lists/timestamps/None to
    Arrow unchanged (verified collect()-equal against the list path).

    Assumes ``spark.sql.execution.arrow.pyspark.enabled=true`` (set by
    :func:`get_spark`; an externally-provided session with Arrow off
    silently falls back to the slow row path — performance-only, the
    values are identical either way). Unlike ``createDataFrame(list)``
    this path skips per-row type verification: a value that doesn't
    fit the declared schema surfaces as an Arrow cast error at plan
    construction, not a per-field TypeError — call sites declare their
    schemas honestly.
    """
    import pandas as pd

    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(pd.DataFrame(rows, dtype=object), schema)


def run_concurrently(*thunks) -> list:
    """Run each thunk on its own thread, join them all, re-raise the
    first error in argument order, and return the results in argument
    order.

    The threads are ``InheritableThread``s: under pinned-thread mode
    (the PySpark default) each inherits the caller's JVM thread-locals,
    so the jobs it runs stay in the caller's job group (a bare thread's
    jobs run ungrouped, outside ``bench.run_group``'s totals and any
    cancel-by-group), and it releases its pinned JVM thread on exit.
    """
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list = [None] * len(thunks)

    def run(i: int, thunk) -> None:
        try:
            results[i] = thunk()
        except BaseException as exc:  # re-raised below, after every join
            errors[i] = exc

    threads = [
        InheritableThread(target=run, args=(i, t)) for i, t in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results


def get_spark(
    app_name: str = "mathorcup_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Safe to call repeatedly — Spark returns the active session. If a
    session already exists (e.g. the driver created one and handed it
    to ``entry()``), its configs win; engine code must therefore not
    depend on these settings for correctness, only performance.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
