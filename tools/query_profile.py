"""Profile named registry queries: per-query wall + executor CPU, a
per-stage breakdown from the Spark status store, and optionally the
formatted physical plan of each query (guide §1: measure first,
capture .explain("formatted"), label jobs).

Usage:
  python tools/query_profile.py q1 [q2 ...] [--sf DIR] [--passes N]
          [--plans DIR] [--details]

Each pass runs the query to its full result (a noop-sink write, as
bench.py times it) under its own job group ``profile:<query>:<pass>``;
the stage rows are the last pass's. --plans DIR writes each query's
formatted plan to DIR/<query>.txt; --details adds the engine call
sites of each stage.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import WARMUP_SF_DIR, full_result, run_group  # noqa: E402
from mathorcup_spark import registry  # noqa: E402
from mathorcup_spark.session import get_spark  # noqa: E402
from perfbench.sparkstats import SparkStats  # noqa: E402


def _stage_rows(stats, stage_ids, details: bool) -> list[dict]:
    """One row per stage that ran, most executor CPU first."""
    rows = []
    for sid in sorted(stage_ids):
        try:
            s = stats.store.lastStageAttempt(sid)
        except Exception:  # py4j wraps NoSuchElementException: never ran
            continue
        if str(s.status()) == "SKIPPED":
            continue
        row = {
            "stage": sid,
            "name": s.name()[:80],
            "cpu_s": round(s.executorCpuTime() / 1e9, 3),
            "run_ms": s.executorRunTime(),
            "tasks": s.numCompleteTasks(),
            "in_rec": s.inputRecords(),
            "sh_r_rec": s.shuffleReadRecords(),
            "sh_w_rec": s.shuffleWriteRecords(),
            "sh_w_b": s.shuffleWriteBytes(),
        }
        if details:
            row["details"] = "\n".join(
                ln for ln in s.details().splitlines() if "mathorcup" in ln
            )[:400]
        rows.append(row)
    return sorted(rows, key=lambda r: -r["cpu_s"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", help="registered query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.1", metavar="DIR")
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--plans", metavar="DIR", help="write formatted plans here")
    ap.add_argument("--details", action="store_true", help="stage call sites")
    args = ap.parse_args()
    if args.passes < 1:
        ap.error("--passes must be at least 1")
    qs = registry.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1
    spark = get_spark("query_profile")
    stats = SparkStats(spark)

    def run(name, sf_dir, group):
        return run_group(spark, stats, group, lambda: full_result(qs[name](spark, sf_dir)))

    for name in args.names:
        # codegen/JIT warmup at tiny scale, matching bench.py
        run(name, WARMUP_SF_DIR, f"profile:{name}:warmup")
        # untimed pre-run at sf_dir: pays the one-time derived-table
        # cache builds (edge/fit/sig lake tables) exactly like
        # bench.py's explicit pre-build, so timed passes measure the
        # steady state the bench reports
        run(name, args.sf, f"profile:{name}:prerun")

    results = {}
    for name in args.names:
        walls, cpus = [], []
        for p in range(1, args.passes + 1):
            _, wall, t = run(name, args.sf, f"profile:{name}:{p}")
            walls.append(round(wall, 3))
            cpus.append(round(t.exec_cpu_s, 3))
        stage_rows = _stage_rows(stats, t.stage_ids, args.details)
        if args.plans:
            plan_dir = Path(args.plans)
            plan_dir.mkdir(parents=True, exist_ok=True)
            plan = qs[name](spark, args.sf)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            (plan_dir / f"{name}.txt").write_text(plan)
        results[name] = {
            "wall": walls,
            "cpu": cpus,
            "n_stages": len(stage_rows),
            "top_stages": stage_rows[:14],
        }
        print(f"\n=== {name}  wall={walls} cpu={cpus} stages={len(stage_rows)}")
        for r in stage_rows[:14]:
            print(
                f"  st{r['stage']:>4} cpu={r['cpu_s']:7.2f}s run={r['run_ms']:>7}ms "
                f"tasks={r['tasks']:>3} in={r['in_rec']:>9} shr={r['sh_r_rec']:>9} "
                f"shw={r['sh_w_rec']:>9} {r['name'][:60]}"
            )
    out = Path("/tmp/query_profile_last.json")
    out.write_text(json.dumps(results, indent=1))
    print(f"\nwritten {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
