"""Workload definitions and the timed items they are made of.

A workload is a list of *items* run in a closed loop: one caller,
each item starting after the previous one finished. An item is one
of:

- a registered query (``mathorcup_spark.registry``), timed from the
  call to its function until the complete result exists (a ``noop``
  sink write — never ``count()``, which Catalyst prunes);
- ``stream_windows``: the ``streaming/windows.py`` tumbling-window
  aggregation over the events table, ``readStream`` → ``noop`` sink,
  one ``AvailableNow`` trigger;
- ``ingest_ann``: one micro-batch of new embeddings through
  ``readStream → foreachBatch`` probe-then-append into the persisted
  LSH ANN index (``sources/ann_index.py``). Each pass adds the next
  micro-batch, so the index grows the way a live ingest grows it.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    """A workload; why each was chosen is recorded in BENCHMARK.json."""

    name: str
    queries: tuple[str, ...]
    caches: tuple[str, ...]  # derived-cache families built at set-up: edge, sig
    stream: bool = False
    ingest: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "single_plan",
            queries=(
                "tpch_q1_pricing_summary",
                "tpch_q9_product_type_profit",
                "flagship_revenue_by_priority",
                "d_lsh_rescore_e2e",
            ),
            caches=("sig",),
            stream=True,
        ),
        Workload(
            "driver_loops",
            queries=(
                "g_label_propagation",
                "t_bpe_train_batched",
            ),
            caches=("edge",),
            ingest=True,
        ),
    )
}

N_ARRIVAL_BATCHES = 12  # micro-batches prepared; one is ingested per pass


def proc_cpu_s() -> float:
    """CPU seconds used so far by this process and the Spark JVM it
    started, where driver and executors run in ``local`` mode. Unlike
    wall time, this does not grow while other tenants of a shared
    machine hold the CPUs."""
    from pyspark import SparkContext

    total = time.process_time()
    gateway = SparkContext._gateway
    if gateway is not None:
        with open(f"/proc/{gateway.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


class Clock:
    """Wall and CPU (``proc_cpu_s``) seconds since it was made."""

    def __init__(self):
        self.wall0, self.cpu0 = time.perf_counter(), proc_cpu_s()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, proc_cpu_s() - self.cpu0


@dataclass
class ItemRun:
    """One timed execution of an item."""

    wall_s: float
    groups: list[str]  # job groups holding this execution's jobs
    spans: dict[str, float] = field(default_factory=dict)
    rows: int = 0  # input rows consumed (stream / ingest items)
    in_bytes: int = 0  # arrival file bytes consumed (ingest items)


def _split_points(n: int, parts: int, rng: random.Random) -> list[int]:
    """``parts`` contiguous ranges over ``n`` rows, each within ±20% of
    equal size; the seed decides the exact cuts."""
    size = n / parts
    cuts = [0]
    for i in range(1, parts):
        cuts.append(int(i * size + rng.uniform(-0.2, 0.2) * size))
    return cuts + [n]


def prepare_inputs(data_dir: str, work: str, seed: int) -> dict:
    """Write the stream and ingest sources with pyarrow (no Spark): the
    events table for the stream, and the embeddings past 60% of their
    id range cut into ascending-id micro-batch files; the seed moves
    the cut points."""
    rng = random.Random(seed)
    out = {"events": os.path.join(work, "in", "events")}
    os.makedirs(out["events"])
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    events = events.set_column(
        events.schema.get_field_index("ts"),
        "ts",
        events["ts"].cast(pa.timestamp("us", tz="UTC")),
    )
    pq.write_table(events, os.path.join(out["events"], "part-0.parquet"))
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    cut = (pc.max(t["vec_id"]).as_py() * 3) // 5
    rest = t.filter(pc.greater_equal(t["vec_id"], cut)).sort_by("vec_id")
    batches = os.path.join(work, "in", "embeddings_batches")
    os.makedirs(batches)
    cuts = _split_points(rest.num_rows, N_ARRIVAL_BATCHES, rng)
    files = []
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        path = os.path.join(batches, f"part-{i:03d}.parquet")
        pq.write_table(rest.slice(lo, hi - lo), path)
        files.append((path, hi - lo))
    out["embeddings"] = {"cut": cut, "files": files}
    return out


class Items:
    """Runs items against one session. ``traced`` splits each query
    into build / plan / action phases under ``workload:item:phase``
    job groups; untraced runs label the whole item ``workload:item:run``
    so its executor CPU can still be summed."""

    def __init__(self, spark, workload: Workload, sf_dir: str, work: str, inputs: dict):
        from mathorcup_spark import registry

        self.spark = spark
        self.sc = spark.sparkContext
        self.w = workload
        self.sf_dir = sf_dir
        self.work = work
        self.inputs = inputs
        self.queries = registry.queries()
        self.next_batch = 0
        self._stream_runs = 0

    # --- labelling -----------------------------------------------------
    def _group(self, item: str, phase: str, traced: bool) -> str:
        label = f"{self.w.name}:{item}:{phase if traced else 'run'}"
        self.sc.setJobGroup(label, label)
        return label

    # --- set-up ----------------------------------------------------------
    def build_caches(self) -> dict[str, float]:
        """Build the derived caches the workload's queries read; returns
        seconds per cache family."""
        from mathorcup_spark.functions.dedup import _mh_tables
        from mathorcup_spark.operators.graph import _bipartite_edges

        # the edge family is the bipartite graph the driver-loop queries
        # read; sig is the MinHash shingle + banded-signature pair
        build = {"edge": _bipartite_edges, "sig": _mh_tables}
        out: dict[str, float] = {}
        for fam in self.w.caches:
            self._group("setup", f"{fam}_cache", True)
            t0 = time.perf_counter()
            build[fam](self.spark, self.sf_dir)
            out[fam] = time.perf_counter() - t0
        self.sc._jsc.clearJobGroup()
        return out

    def build_stores(self) -> float:
        """Write the initial ANN index (ids below the 60% cut); returns
        seconds."""
        if not self.w.ingest:
            return 0.0
        from pyspark.sql import functions as F

        from mathorcup_spark.catalog import load
        from mathorcup_spark.sources.ann_index import write_lsh_index

        self.stores = os.path.join(self.work, "stores")
        self._group("setup", "stores", True)
        t0 = time.perf_counter()
        emb = load(self.spark, self.sf_dir, "embeddings")
        write_lsh_index(
            emb.filter(F.col("vec_id") < self.inputs["embeddings"]["cut"]),
            os.path.join(self.stores, "ann"),
        )
        self.sc._jsc.clearJobGroup()
        os.makedirs(os.path.join(self.stores, "ann_src"))
        return time.perf_counter() - t0

    # --- items -------------------------------------------------------------
    def names(self) -> list[str]:
        out = list(self.w.queries)
        if self.w.stream:
            out.append("stream_windows")
        if self.w.ingest:
            out.append("ingest_ann")
        return out

    def batches_left(self) -> int:
        return N_ARRIVAL_BATCHES - self.next_batch if self.w.ingest else 1 << 30

    def run(self, item: str, traced: bool) -> ItemRun:
        if item == "stream_windows":
            return self._stream(traced)
        if item == "ingest_ann":
            return self._ingest(traced)
        return self._query(item, traced)

    def _query(self, name: str, traced: bool) -> ItemRun:
        fn = self.queries[name]
        if not traced:
            g = self._group(name, "run", False)
            t0 = time.perf_counter()
            fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()
            return ItemRun(wall, [g])
        groups, spans = [], {}
        t0 = time.perf_counter()
        groups.append(self._group(name, "build", True))
        df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        groups.append(self._group(name, "plan", True))
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        groups.append(self._group(name, "action", True))
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        self.sc._jsc.clearJobGroup()
        spans.update(build_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2)
        return ItemRun(t3 - t0, groups, spans)

    def _stream_query(self, sink: str, name: str | None = None):
        from pyspark.sql import types as T

        from mathorcup_spark.catalog import SCHEMAS
        from mathorcup_spark.streaming.windows import tumbling_agg

        schema = T.StructType(
            [
                T.StructField(f.name, T.TimestampType()) if f.name == "ts" else f
                for f in SCHEMAS["events"].fields
            ]
        )
        self._stream_runs += 1
        ckpt = os.path.join(self.work, "ckpt", f"stream{self._stream_runs}")
        src = self.spark.readStream.schema(schema).parquet(self.inputs["events"])
        writer = (
            tumbling_agg(src.withWatermark("ts", "30 minutes"))
            .writeStream.outputMode("update")
            .format(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        if name:
            writer = writer.queryName(name)
        return writer.start()

    def _stream(self, traced: bool) -> ItemRun:
        t0 = time.perf_counter()
        q = self._stream_query("noop")
        q.awaitTermination()
        wall = time.perf_counter() - t0
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        spans = {"stream_s": wall} if traced else {}
        return ItemRun(wall, [str(q.runId)], spans, rows)

    def _ingest(self, traced: bool) -> ItemRun:
        """Drop the next arrival file into the stream source and run one
        AvailableNow trigger: exactly one new micro-batch, probed against
        the index and then appended to it."""
        from mathorcup_spark.sources.ann_index import (
            append_to_lsh_index,
            query_lsh_index,
        )

        item = "ingest_ann"
        path, n_rows = self.inputs["embeddings"]["files"][self.next_batch]
        self.next_batch += 1
        src = os.path.join(self.stores, "ann_src")
        shutil.copy(path, src)
        index = os.path.join(self.stores, "ann")
        spans = {"probe_s": 0.0, "append_s": 0.0}
        groups: list[str] = []

        def ingest(batch_df, batch_id):
            batch = batch_df.localCheckpoint(eager=True)
            groups.append(self._group(item, "probe", traced))
            t0 = time.perf_counter()
            query_lsh_index(self.spark, index, batch, k=1 << 30).write.format(
                "noop"
            ).mode("overwrite").save()
            spans["probe_s"] += time.perf_counter() - t0
            groups.append(self._group(item, "append", traced))
            t0 = time.perf_counter()
            append_to_lsh_index(batch, index)
            spans["append_s"] += time.perf_counter() - t0

        schema = self.spark.read.parquet(path).schema
        t0 = time.perf_counter()
        q = (
            self.spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(self.stores, "ann_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        groups = [str(q.runId), *dict.fromkeys(groups)]
        return ItemRun(wall, groups, spans, n_rows, os.path.getsize(path))
