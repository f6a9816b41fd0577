"""Scale soaks: each family runs its operators at growing scale and
prints a markdown table for SCALING.md.

Usage: python tools/soak.py <family> [dirs...]

  decade  [base_dir] [x10_dir]   (defaults .data/sf1 .data/sf10)
      The second decade of the scale-sensitive graph and heavy
      operators: each op at base_dir and at a key-shifted x10 replica
      of it (built by tools/gen_scaled.py when x10_dir has no
      embeddings.parquet). Each op runs once untimed on each dir right
      before that dir is timed, with the same full-result action, so
      neither column pays first compile or its derived-cache builds
      (edge tables, fits), which are keyed by dir. Fails if any op's
      wall or executor CPU grows more than MAX_FACTOR for 10x input:
      linear with headroom for shuffle and fit constants, where a wedge
      or per-cluster blow-up shows 30-100x. CPU is judged too because
      on few cores wall hides work growth that CPU shows.
  index   [sf_dir ...]   (defaults: whichever of sf0.01, sf0.1 and
      .data/sf1 exist)
      The persisted MinHash index per sf dir: built fresh over the first
      half of the corpus, then the rest in APPENDS appends, then
      compacted. After each state the same fixed batch (the sf0.01
      last-20% slice) is probed. Pruned probes stay flat as the index
      grows 10x per dir; fresh -> appended is the fragmentation tax,
      appended -> compacted what compaction buys back.
  verdict [sf_dir]   (default sf0.1)
      Per-batch cost of the incremental verdict table: an initial 20%,
      then VERDICT_BATCHES equal 10% appends, each beside the
      rebuild-everything counterfactual. Flat appends while the table
      grows several-fold show the cost is a function of the batch.
  recall  [dir ...]   (defaults sf0.1 .data/sf1)
      IVF-PQ recall@5 against exact L2 top-5 (10 fixed queries): raw
      ADC, its exact rescore, the per-query-cells rescore, and the
      learned rerank, which asserts its own floor.

Every timed region runs to its full result under its own job group
(``bench.run_group`` + ``bench.full_result``: a noop-sink write, never
``count()``, which Catalyst prunes), so each row carries wall and
executor-CPU seconds.
"""

from __future__ import annotations

import itertools
import shutil
import statistics
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from bench import WARMUP_SF_DIR, full_result, run_group  # noqa: E402
from mathorcup_spark import registry  # noqa: E402
from mathorcup_spark.catalog import load  # noqa: E402
from mathorcup_spark.functions.similarity import _exact_l2_top5, _raw_vectors  # noqa: E402
from mathorcup_spark.session import get_spark  # noqa: E402
from perfbench.sparkstats import SparkStats  # noqa: E402

TESTDATA = str(Path(WARMUP_SF_DIR).parent)  # the sf0.001 .. sf0.1 fixture dirs
DECADE_OPS = (
    # wedge / iterative graph family (reads lineitem only)
    "g_triangle_count",
    "g_adamic_adar",
    "g_node_jaccard",
    "g_bfs_distance",
    "g_label_propagation",
    # heavy fits and within-cluster pair work
    "d_semantic_dedup_learned",
    "d_semantic_dedup_capped",
    "sim_pq_quantize_learned",
    "ml_als_recommend",
)
MAX_FACTOR = 12.0
BATCH_SF = f"{TESTDATA}/sf0.01"  # the index family's fixed probe batch
APPENDS = 20
PROBE_RUNS = 3
VERDICT_BATCHES = 7


class Soak:
    """One session, one timing path: every timed region gets its own
    job group, so its stages are never mixed with another region's."""

    def __init__(self, family: str):
        self.spark = get_spark(f"soak_{family}")
        self.stats = SparkStats(self.spark)
        self._ids = itertools.count()

    def timed(self, thunk) -> tuple[float, float]:
        """(wall, executor-CPU) seconds of ``thunk()``."""
        _, wall, t = run_group(
            self.spark, self.stats, f"soak:{next(self._ids)}", thunk
        )
        return wall, t.exec_cpu_s

    def query(self, name: str, sf_dir: str) -> tuple[float, float]:
        fn = registry.queries()[name]
        return self.timed(lambda: full_result(fn(self.spark, sf_dir)))


def decade(s: Soak, base: str = ".data/sf1", big: str = ".data/sf10") -> int:
    if not Path(f"{big}/embeddings.parquet").exists():
        from tools.gen_scaled import build

        print(f"building x10 replica at {big} ...", flush=True)
        build(s.spark, base, big, 10)
    print(
        f"| query | {base} wall s | cpu s | {big} wall s | cpu s |"
        " wall factor | cpu factor |\n|---|---|---|---|---|---|---|"
    )
    failures = []
    for name in DECADE_OPS:
        # each dir warmed right before it is timed: compile and the
        # dir's derived caches stay outside the table
        s.query(name, base)
        bw, bc = s.query(name, base)
        s.query(name, big)
        xw, xc = s.query(name, big)
        wall_f = xw / bw
        cpu_f = xc / bc if bc else float("nan")
        flag = ""
        if max(wall_f, cpu_f) > MAX_FACTOR:
            flag = " **SUPERLINEAR**"
            failures.append(f"{name}: wall {wall_f:.1f}x, cpu {cpu_f:.1f}x")
        print(
            f"| `{name}` | {bw:.1f} | {bc:.1f} | {xw:.1f} | {xc:.1f} |"
            f" {wall_f:.1f}x | {cpu_f:.1f}x{flag} |",
            flush=True,
        )
    if failures:
        print(f"\nFAIL superlinear second decade: {failures}")
        return 1
    print(
        f"\nall {len(DECADE_OPS)} ops <= {MAX_FACTOR}x wall and CPU"
        " for 10x input"
    )
    return 0


def index(s: Soak, *sf_dirs: str) -> int:
    from mathorcup_spark.sources.minhash_index import (
        append_to_minhash_index,
        compact_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )

    spark = s.spark
    sf_dirs = sf_dirs or tuple(
        d
        for d in (f"{TESTDATA}/sf0.01", f"{TESTDATA}/sf0.1", ".data/sf1")
        if Path(d).exists()
    )
    docs = load(spark, BATCH_SF, "documents")
    t = int(docs.agg(F.expr("(max(doc_id) * 4) div 5")).first()[0])
    batch = docs.filter(F.col("doc_id") >= t).localCheckpoint(eager=True)
    print(f"fixed batch: {batch.count()} docs (sf0.01 last-20% slice)\n")
    print(
        "| index corpus | index state | band files | step wall s | cpu s |"
        f" probe wall s (median of {PROBE_RUNS}) | probe cpu s |\n"
        "|---|---|---|---|---|---|---|"
    )

    def row(sf_dir, state, idx, step):
        wall, cpu = s.timed(step)
        probes = [
            s.timed(lambda: full_result(probe_minhash_index(spark, idx, batch)))
            for _ in range(PROBE_RUNS)
        ]
        n_files = sum(1 for p in Path(idx, "bands").rglob("*.parquet"))
        print(
            f"| `{sf_dir}` | {state} | {n_files} | {wall:.1f} | {cpu:.1f} |"
            f" {statistics.median(p[0] for p in probes):.2f} |"
            f" {statistics.median(p[1] for p in probes):.2f} |",
            flush=True,
        )

    for sf_dir in sf_dirs:
        # shifted out of the batch's id range so batch and corpus
        # stay disjoint
        corpus = (
            load(spark, sf_dir, "documents")
            .withColumn("doc_id", F.col("doc_id") + 1_000_000)
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )
        mn, mx = corpus.agg(F.min("doc_id"), F.max("doc_id")).first()
        mid = (mn + mx) // 2
        step = (mx - mid) // APPENDS + 1
        doc_id = F.col("doc_id")

        idx = tempfile.mkdtemp(prefix="soak_index_")

        def append_rest():
            for i in range(APPENDS):
                lo = mid + i * step
                piece = corpus.filter((doc_id >= lo) & (doc_id < lo + step))
                append_to_minhash_index(spark, idx, piece)

        try:
            row(sf_dir, "fresh (half corpus)", idx,
                lambda: write_minhash_index(spark, corpus.filter(doc_id < mid), idx))
            row(sf_dir, f"after {APPENDS} appends", idx, append_rest)
            row(sf_dir, "compacted", idx, lambda: compact_minhash_index(spark, idx))
        finally:
            shutil.rmtree(idx, ignore_errors=True)
    return 0


def verdict(s: Soak, sf_dir: str = f"{TESTDATA}/sf0.1") -> int:
    from mathorcup_spark.sources.verdicts import (
        append_to_verdict_table,
        build_verdicts_frozen,
        create_verdict_table,
        read_incremental_verdicts,
    )

    spark = s.spark
    docs = load(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    mx = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    cut0, step = mx * 20 // 100, mx * 10 // 100
    out = tempfile.mkdtemp(prefix="soak_verdict_")
    try:
        wall, cpu = s.timed(
            lambda: create_verdict_table(spark, docs.filter(doc_id < cut0), out)
        )
        print(f"create over initial 20%: {wall:.1f}s wall, {cpu:.1f}s cpu\n")
        print(
            "| batch | table rows before | batch rows | append wall s | cpu s |"
            " rebuild-counterfactual wall s | cpu s |\n"
            "|---|---|---|---|---|---|---|"
        )
        eval_store = spark.read.parquet(f"{out}/eval")
        rows = []
        lo = cut0
        for i in range(1, VERDICT_BATCHES + 1):
            hi = min(lo + step, mx)
            batch = docs.filter((doc_id >= lo) & (doc_id < hi))
            n_before = read_incremental_verdicts(spark, out).count()
            n_batch = batch.count()
            aw, ac = s.timed(lambda: append_to_verdict_table(spark, out, batch))
            # what a rebuild-the-world strategy pays for the same
            # arrival: one build over everything so far
            rw, rc = s.timed(
                lambda: full_result(
                    build_verdicts_frozen(spark, docs.filter(doc_id < hi), eval_store)
                )
            )
            rows.append((n_before, aw, rw))
            print(
                f"| {i} | {n_before} | {n_batch} | {aw:.1f} | {ac:.1f} |"
                f" {rw:.1f} | {rc:.1f} |",
                flush=True,
            )
            lo = hi
        growth = read_incremental_verdicts(spark, out).count() / max(rows[0][0], 1)
        print(
            f"\nappend wall factor batch1 -> batch{len(rows)}: "
            f"{rows[-1][1] / rows[0][1]:.2f}x while the table grew {growth:.1f}x; "
            f"the rebuild counterfactual ends at "
            f"{rows[-1][2] / rows[0][1]:.1f}x a single append"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return 0


def recall(s: Soak, *dirs: str) -> int:
    spark = s.spark
    qs = registry.queries()
    dirs = dirs or (f"{TESTDATA}/sf0.1", ".data/sf1")
    print(
        "| dir | det ADC recall@5 | det rerank recall@5 |"
        " qcells rerank recall@5 | learned rerank (self-asserted >= 0.4) |"
        " learned wall s | cpu s |\n|---|---|---|---|---|---|---|"
    )
    for d in dirs:
        v = _raw_vectors(load(spark, d, "embeddings"))
        truth = _exact_l2_top5(v).localCheckpoint()
        n = truth.count()
        adc, rr, qc = (
            qs[name](spark, d).join(truth, ["q_id", "c_id"]).count() / n
            for name in ("sim_ivf_pq_ann", "sim_ivf_pq_rerank", "sim_ivf_pq_rerank_qcells")
        )
        # the learned face asserts its own floor and dominance: a green
        # run is the recall evidence, and it raises otherwise
        try:
            wall, cpu = s.query("sim_ivf_pq_rerank_learned", d)
            learned, timing = "green", f"{wall:.1f} | {cpu:.1f}"
        except Exception as e:  # pragma: no cover - soak diagnostics
            learned, timing = f"FAIL: {str(e)[:80]}", "- | -"
        print(
            f"| `{d}` | {adc:.2f} | {rr:.2f} | {qc:.2f} | {learned} | {timing} |",
            flush=True,
        )
        assert rr >= adc, "rerank must dominate raw ADC"
    return 0


FAMILIES = {"decade": decade, "index": index, "verdict": verdict, "recall": recall}


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in FAMILIES:
        print(__doc__)
        return 2
    return FAMILIES[argv[0]](Soak(argv[0]), *argv[1:])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
