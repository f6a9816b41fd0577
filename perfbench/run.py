"""spark-graft benchmark: full-output query timing per workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload single_plan --seed 1 --seconds 5 --trace 0

One process, ``local[<cores>]``, closed loop (one caller; each item
starts after the previous one finished). A run:

1. generates the fixture tables once per checkout
   (``perfbench/.data``, see ``datagen.py``) and writes the seeded
   stream / ingest sources;
2. sets up three times: session start and the derived-cache builds the
   workload reads; then, for ``driver_loops``, writes the initial ANN
   index once (``stores_s``);
3. runs one pass that takes every item to a full result once, which
   warms it (timed), and checks that result (untimed, ``checks.py``);
   ``setup_s`` is the median set-up plus this warm-up;
4. runs passes for ``--seconds`` (at least two, three when traced),
   each item in a seeded order, every query timed to its complete
   result (``noop`` sink); a pass costs the sum over items of each
   item's cheapest pass.

Every item and set-up is timed twice: wall seconds, and CPU seconds of
this process plus the Spark JVM. ``--trace 0`` prints the end-to-end
metrics, which are CPU seconds (see ``end_to_end``). ``--trace 1``
alternates untraced and traced passes, starting untraced so the
coldest measured pass is never a traced one, and prints per-layer
metrics, wall times among them: each query
is split into build / plan / action phases under
``workload:item:phase`` job groups, and the stage, plan and storage
metrics Spark keeps are read back per pass (``sparkstats.py``). The
full run record (passes, per-item times, failures with culprit rows,
run context and, for ``single_plan``, the ``count()`` re-baseline)
is written to ``perfbench/.out/``. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import re
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
# Run-to-run noise on a shared machine dwarfs pass-to-pass noise, so a
# third pass buys little steadiness for its time.
MIN_PASSES = 2
DEFAULT_SF = 0.01
CALIBRATION_ROWS = 20_000_000


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", type=float, default=DEFAULT_SF, choices=(0.001, 0.01, 0.1),
        help="fixture scale factor (the scales of the testdata)",
    )
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class Run:
    def __init__(self, args, work: Path, data_dir: str, inputs: dict, cpus: int):
        from workloads import WORKLOADS

        self.args = args
        self.w = WORKLOADS[args.workload]
        self.work = str(work)
        self.data_dir = data_dir
        self.inputs = inputs
        self.cpus = cpus
        self.rng = random.Random(args.seed)
        self.failures: list[dict] = []
        self.attempted = 0
        self.warmup: dict[str, tuple[float, float]] = {}  # item: (wall, cpu) s

    # --- session / set-up --------------------------------------------------
    def _session(self):
        from mathorcup_spark.session import get_spark

        return get_spark(
            f"perfbench_{self.w.name}",
            cpus=self.cpus,
            extra_conf={
                # JVM unified logging could write to stdout after the result line
                "spark.driver.extraJavaOptions": "-Xlog:disable "
                f"-Djava.io.tmpdir={self.work}/tmp",
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )

    def setup(self) -> dict:
        """Set up SETUP_REPS times (the session is stopped in between)
        and keep the last session."""
        from workloads import Clock, Items

        spent, caches = [], []
        for rep in range(SETUP_REPS):
            if rep:
                self.spark.stop()
            clock = Clock()
            self.spark = self._session()
            self.items = Items(self.spark, self.w, self.data_dir, self.work, self.inputs)
            caches.append(self.items.build_caches())
            spent.append(clock.read())
        return {
            "setup_s": [wall for wall, _ in spent],
            "setup_cpu_s": [cpu for _, cpu in spent],
            "cache_s": {fam: [c[fam] for c in caches] for fam in caches[0]},
            "stores_s": self.items.build_stores(),
        }

    def calibration_s(self) -> float:
        """Fixed JVM CPU work, recorded as run context (not compared)."""
        t0 = time.perf_counter()
        self.spark.range(0, CALIBRATION_ROWS, 1, 2 * self.cpus).selectExpr(
            "count_if(xxhash64(id) % 1000000 = 0)"
        ).collect()
        return time.perf_counter() - t0

    # --- warm-up + checks -------------------------------------------------
    def check_pass(self) -> None:
        """Each item once to a full result, which warms it (its wall and
        CPU time are kept in ``warmup``), then that result checked against
        its oracle."""
        import checks
        from workloads import Clock

        oracle = checks.Oracle(self.data_dir)
        for item in self.rng.sample(self.items.names(), len(self.items.names())):
            self.attempted += 1
            try:
                if item == "ingest_ann":
                    clock = Clock()
                    self.items.run(item, traced=False)
                    self.warmup[item] = clock.read()
                    failure = checks.check_index(self.items)
                elif item == "stream_windows":
                    self.warmup[item], failure = checks.check_stream(self.items, oracle)
                else:
                    self.warmup[item], failure = checks.check_query(self.items, item, oracle)
            except Exception as exc:  # a failing item is recorded, the run goes on
                failure = {"item": item, "error": repr(exc)[:500]}
            if failure:
                self.failures.append(failure)
        self.spark.sparkContext._jsc.clearJobGroup()
        from sparkstats import SparkStats

        self.stats = SparkStats(self.spark)
        self.seen_jobs = set(self.stats.all_job_ids())  # no pass owns these

    # --- measured passes -----------------------------------------------------
    def _new_jobs(self, groups) -> dict[str, list[int]]:
        """Jobs in each of ``groups`` not yet attributed to an item."""
        out = {}
        for g in groups:
            jobs = set(self.stats.jobs_for([g])) - self.seen_jobs
            self.seen_jobs |= jobs
            out[g] = sorted(jobs)
        return out

    def one_pass(self, traced: bool) -> dict:
        from workloads import Clock

        names = self.items.names()
        order = self.rng.sample(names, len(names))
        store_dir = getattr(self.items, "stores", None)
        before = _dir_usage(store_dir) if store_dir else (0, 0)
        runs, jobs, cpu = {}, {}, {}
        for item in order:
            self.attempted += 1
            clock = Clock()
            try:
                r = self.items.run(item, traced)
            except Exception as exc:
                self.failures.append({"item": item, "error": repr(exc)[:500]})
                continue
            cpu[item] = clock.read()[1]
            runs[item] = r
            jobs.update(self._new_jobs(r.groups))
        all_jobs = sorted(j for js in jobs.values() for j in js)
        rec = {
            "traced": traced,
            "order": order,
            "wall_s": sum(r.wall_s for r in runs.values()),
            "item_s": {k: r.wall_s for k, r in runs.items()},
            "item_cpu_s": cpu,
        }
        rec["held_storage_mb"], rec["cached_blocks"] = self.stats.held_storage()
        if traced:
            after = _dir_usage(store_dir) if store_dir else (0, 0)
            added = (after[0] - before[0], after[1] - before[1])
            rec["layers"] = self._layers(runs, jobs, all_jobs, *added)
        return rec

    def _layers(self, runs, jobs, all_jobs, bytes_added, files_added) -> dict:
        """Per-layer numbers of one traced pass."""

        def phase(name):
            return sorted(j for g, js in jobs.items() if g.endswith(f":{name}") for j in js)

        build = self.stats.stage_totals(phase("build"))
        tot = self.stats.stage_totals(all_jobs, skew=True)
        plan = self.stats.plan_totals(all_jobs)

        def span(k):
            return sum(r.spans.get(k, 0.0) for r in runs.values())

        def rate(rs):
            return sum(r.rows for r in rs) / sum(r.wall_s for r in rs) if rs else 0.0

        ingest = [r for k, r in runs.items() if k == "ingest_ann"]
        stream = [r for k, r in runs.items() if k == "stream_windows"]
        in_bytes = sum(r.in_bytes for r in ingest)
        return {
            "build_s": span("build_s"),
            "build_jobs": build.jobs,
            "build_stages": build.stages,
            "plan_s": span("plan_s"),
            "action_s": span("action_s"),
            "action_jobs": len(phase("action")),
            "stages": tot.stages,
            "tasks": tot.tasks,
            "task_skew": tot.task_max_s / tot.task_med_s if tot.task_med_s else 1.0,
            "exec_cpu_s": tot.exec_cpu_s,
            "shuffle_read_mb": tot.shuffle_read_mb,
            "shuffle_write_mb": tot.shuffle_write_mb,
            "spill_mb": tot.spill_mb,
            "gc_s": tot.gc_s,
            "input_mb": tot.input_mb,
            "derived_scan_mb": plan.derived_scan_mb,
            "py_mb_sent": plan.py_mb_sent,
            "py_mb_received": plan.py_mb_received,
            "py_rows": plan.py_rows,
            "probe_s": span("probe_s"),
            "append_s": span("append_s"),
            "ingest_rows_per_s": rate(ingest),
            "batch_p50_s": _median([r.wall_s for r in ingest]),
            "bytes_written_mb": bytes_added / 2**20,
            "files_written": files_added,
            "write_amp": bytes_added / in_bytes if in_bytes else 0.0,
            "stream_s": span("stream_s"),
            "stream_rows_per_s": rate(stream),
        }

    def passes(self) -> list[dict]:
        out = []
        t0 = time.perf_counter()
        # a traced run needs an untraced pass after its first, coldest one
        min_passes = MIN_PASSES + self.args.trace
        while len(out) < min_passes or time.perf_counter() - t0 < self.args.seconds:
            if self.items.batches_left() <= 0:
                break
            traced = bool(self.args.trace) and len(out) % 2 == 1
            out.append(self.one_pass(traced))
        return out

    # --- count() re-baseline ---------------------------------------------------
    def count_rebaseline(self) -> list[dict]:
        """For each query: does the ``count()`` plan drop operators of the
        full-output plan, and what does each take (warm, once)."""
        out = []
        for name in self.w.queries:
            fn = self.items.queries[name]
            df = fn(self.spark, self.data_dir)
            full = _plan_ops(df._jdf.queryExecution().optimizedPlan().treeString())
            counted = df.groupBy().count()
            cnt = _plan_ops(counted._jdf.queryExecution().optimizedPlan().treeString())
            times = {}  # the first count() compiles its plan; the second is kept
            for action in ("count", "count", "noop"):
                t0 = time.perf_counter()
                d = fn(self.spark, self.data_dir)
                if action == "count":
                    d.count()
                else:
                    d.write.format("noop").mode("overwrite").save()
                times[action] = time.perf_counter() - t0
            dropped = {
                op: n - cnt["ops"].get(op, 0)
                for op, n in full["ops"].items()
                if n > cnt["ops"].get(op, 0)
            }
            out.append(
                {
                    "query": name,
                    "count_s": times["count"],
                    "full_s": times["noop"],
                    "dropped_ops": dropped,
                    "agg_calls": [full["agg_calls"], cnt["agg_calls"] - 1],
                }
            )
        return out


_OP = re.compile(r"^[\s:|+\-]*([A-Z][A-Za-z]+)")
_AGG = re.compile(
    r"\b(sum|avg|count|min|max|first|last|max_by|min_by|stddev\w*|var\w*|"
    r"collect_\w+|approx_\w+|percentile\w*)\("
)


def _plan_ops(tree: str) -> dict:
    """Operator-name multiset and aggregate-call count of a plan tree."""
    ops: dict[str, int] = {}
    aggs = 0
    for line in tree.splitlines():
        m = _OP.match(line)
        if not m:
            continue
        ops[m.group(1)] = ops.get(m.group(1), 0) + 1
        if m.group(1) == "Aggregate":
            aggs += len(_AGG.findall(line))
    return {"ops": ops, "agg_calls": aggs}


def _geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _item_best(passes: list[dict], key: str, items=None) -> list[float]:
    items = sorted({k for p in passes for k in p[key]}) if items is None else items
    return [min(p[key][k] for p in passes if k in p[key]) for k in items]


def _setup_s(setup: dict, kind: int) -> float:
    """Median set-up plus the warm-up of every item; ``kind`` 0 is wall
    seconds, 1 CPU seconds."""
    reps = setup["setup_s" if kind == 0 else "setup_cpu_s"]
    return _median(reps) + sum(spent[kind] for spent in setup["warmup"].values())


def _wall(plain: list[dict]) -> dict:
    wall = _item_best(plain, "item_s")
    return {"wall_s": (sum(wall), "s"), "query_geomean_s": (_geomean(wall), "s")}


def end_to_end(setup: dict, passes: list[dict]) -> dict:
    """CPU seconds of this process and the Spark JVM (``proc_cpu_s``).
    One pass is every item once; its cost is the sum over items of each
    item's cheapest pass in the run. Wall time is not compared: on a
    shared VM whose CPUs the hypervisor lends to other tenants, run-to-run
    wall spreads exceeded every bound the benchmark may set (see
    RUNS.md), while CPU time does not grow while the CPUs are taken."""
    plain = [p for p in passes if not p["traced"]]
    cpu = _item_best(plain, "item_cpu_s")
    return {
        "setup_s": (_setup_s(setup, 1), "s"),
        "proc_cpu_s": (sum(cpu), "s"),
        "query_cpu_geomean_s": (_geomean(cpu), "s"),
    }


PER_LAYER_UNITS = {
    "build_s": "s", "build_jobs": "count", "build_stages": "count",
    "plan_s": "s", "action_s": "s", "action_jobs": "count",
    "stages": "count", "tasks": "count", "task_skew": "ratio",
    "exec_cpu_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "gc_s": "s", "input_mb": "MB", "derived_scan_mb": "MB",
    "py_mb_sent": "MB", "py_mb_received": "MB", "py_rows": "count",
    "probe_s": "s", "append_s": "s", "ingest_rows_per_s": "rows/s",
    "batch_p50_s": "s", "bytes_written_mb": "MB", "files_written": "count",
    "write_amp": "ratio", "stream_s": "s", "stream_rows_per_s": "rows/s",
}


def per_layer(setup: dict, passes: list[dict]) -> dict:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    out = {
        k: (_median([p["layers"][k] for p in traced]), unit)
        for k, unit in PER_LAYER_UNITS.items()
    }
    for fam in ("edge", "sig"):
        out[f"{fam}_cache_s"] = (_median(setup["cache_s"].get(fam, [])), "s")
    out["stores_s"] = (setup["stores_s"], "s")
    out["warmup_s"] = (sum(wall for wall, _ in setup["warmup"].values()), "s")
    out["setup_wall_s"] = (_setup_s(setup, 0), "s")
    out.update(_wall(plain))
    out["held_storage_mb"] = (_median([p["held_storage_mb"] for p in traced]), "MB")
    out["cached_blocks"] = (_median([p["cached_blocks"] for p in traced]), "count")
    # Same estimator as wall_s (per-item fastest pass), without the first,
    # coldest pass and without the ingest, whose passes take different
    # batches into a growing index.
    plain = plain[1:]
    items = sorted(
        k for k in {k for p in traced for k in p["item_s"]}
        if k != "ingest_ann" and any(k in p["item_s"] for p in plain)
    )
    out["trace_overhead"] = (
        sum(_item_best(traced, "item_s", items)) / sum(_item_best(plain, "item_s", items)),
        "ratio",
    )
    return out


def _stop_jvm() -> None:
    """End the Spark JVM and wait for it: it exits once its stdin, a
    pipe from this process, closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None


def _prepare_env(work: Path, cpus: int) -> None:
    for sub in ("tmp", "spark-local", "ckpt"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM would keep its perf-data file under /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ.pop("SPARK_GRAFT_CACHE_DIR", None)
    sys.path.insert(0, str(ROOT))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "mathorcup_spark" / "registry.py").is_file():
        print("perfbench: mathorcup_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    import datagen
    from workloads import WORKLOADS, prepare_inputs

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = HERE / ".work"  # one run at a time; a killed run's leftovers go too
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, cpus)
    data_dir = datagen.ensure(str(HERE / ".data" / f"sf{args.sf:g}"), args.sf)
    inputs = prepare_inputs(data_dir, str(work), args.seed)
    run = Run(args, work, data_dir, inputs, cpus)
    phases = {}
    clock = time.perf_counter()

    def lap(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    try:
        setup = run.setup()
        lap("setup")
        calibration = run.calibration_s()
        lap("calibration")
        run.check_pass()
        setup["warmup"] = run.warmup
        lap("check_pass")
        passes = run.passes()
        lap("passes")
        rebaseline = (
            run.count_rebaseline() if args.trace and run.w.name == "single_plan" else None
        )
        lap("count_rebaseline")
        import pyspark

        metrics = per_layer(setup, passes) if args.trace else end_to_end(setup, passes)
        record = {
            "workload": run.w.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "context": {
                "cores": cpus,
                "spark": pyspark.__version__,
                "sf": args.sf,
                "calibration_s": calibration,
                "shuffle_partitions": run.spark.conf.get("spark.sql.shuffle.partitions"),
            },
            "setup": setup,
            "phases_s": phases,
            "passes": passes,
            "failures": run.failures,
            "attempted": run.attempted,
            "fail_ratio": len(run.failures) / max(run.attempted, 1),
            "count_rebaseline": rebaseline,
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
    finally:
        if hasattr(run, "spark"):
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    out_dir = HERE / ".out"
    out_dir.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(record, indent=1, default=str) + "\n")
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
