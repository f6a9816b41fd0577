"""Per-stage wall + executor-CPU breakdown of corpus_pipeline_v5
(judge r9 item 4): create (initial 3/5 corpus), the two appends, the
read-back + signature verify, and the consume (mixture -> packing).

Run:  python tools/v5_stage_profile.py [sf_dir]
Prints one JSON line; paste the table into SCALING.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from bench import full_result, run_group  # noqa: E402
from mathorcup_spark.catalog import load  # noqa: E402
from mathorcup_spark.session import get_spark  # noqa: E402
from perfbench.sparkstats import SparkStats  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("v5_stage_profile")
    stats = SparkStats(spark)
    from mathorcup_spark.functions.corpus import consume_verdicts
    from mathorcup_spark.sources.verdicts import (
        append_to_verdict_table,
        create_verdict_table,
        read_incremental_verdicts,
        verdict_sig,
    )

    docs = load(spark, sf_dir, "documents")
    ts = docs.agg(
        F.expr("(max(doc_id) * 3) div 5"), F.expr("(max(doc_id) * 4) div 5")
    ).first()
    t, t2 = int(ts[0]), int(ts[1])
    out = tempfile.mkdtemp(prefix="v5_profile_")
    stages: dict[str, dict] = {}

    def timed(name, fn):
        r, wall, t = run_group(spark, stats, f"v5_profile:{name}", fn)
        stages[name] = {"wall_sec": round(wall, 3), "cpu_sec": round(t.exec_cpu_s, 3)}
        return r

    try:
        # warm the JIT/codegen on the tiny SF first
        wout = tempfile.mkdtemp(prefix="v5_warm_")
        wdocs = load(spark, "/root/testdata/sf0.001", "documents")
        create_verdict_table(spark, wdocs.filter(F.col("doc_id") < 100), wout)
        shutil.rmtree(wout, ignore_errors=True)

        n0c0 = timed(
            "create_3of5",
            lambda: create_verdict_table(
                spark, docs.filter(F.col("doc_id") < t), out
            ),
        )
        n1c1 = timed(
            "append_1of5_a",
            lambda: append_to_verdict_table(
                spark, out,
                docs.filter((F.col("doc_id") >= t) & (F.col("doc_id") < t2)),
            ),
        )
        n2c2 = timed(
            "append_1of5_b",
            lambda: append_to_verdict_table(
                spark, out, docs.filter(F.col("doc_id") >= t2)
            ),
        )
        maintained = read_incremental_verdicts(spark, out)
        got = timed("verify_sig", lambda: verdict_sig(maintained))
        assert got == (
            n0c0[0] + n1c1[0] + n2c2[0],
            n0c0[1] + n1c1[1] + n2c2[1],
        ), "roundtrip signature mismatch"
        timed("consume", lambda: full_result(consume_verdicts(spark, maintained)))
    finally:
        shutil.rmtree(out, ignore_errors=True)

    total = round(sum(s["wall_sec"] for s in stages.values()), 3)
    print(json.dumps({"sf_dir": sf_dir, "total_wall_sec": total,
                      "stages": stages}))


if __name__ == "__main__":
    main()
