"""Query registry: the engine's declared surface.

Every operator from SURVEY.md §2 that is SQL-expressible registers a
named query here together with its DuckDB oracle SQL; the driver (and
``tests/test_oracle_parity.py``) runs both on the same parquet tables
and hash-compares results. ``__spark_entry__.py`` is a thin shim over
this module.

Oracle-compatibility discipline (learned rules, applied everywhere):

- **Sum doubles through decimal.** A double sum is order-dependent, so
  Spark (32-way partial agg) and DuckDB would differ in low bits and
  the driver's value hash would flip. Casting each row to
  ``decimal(38,6)`` first makes the sum exact and order-independent
  on both engines; cast the final value back to double. Per-row
  double arithmetic (IEEE 754) is deterministic across engines, so
  derived measures like ``price * (1 - disc)`` are safe to compute in
  double *before* the decimal cast.
- **avg = decimal sum / count in double.** Both engines then perform
  the identical IEEE division.
- **Cast integer window/date extracts.** DuckDB ``year()`` /
  ``row_number()`` return BIGINT, Spark returns INT — cast both sides
  to BIGINT.
- **Integer sums:** DuckDB ``sum(BIGINT)`` is HUGEINT — cast oracle
  side to BIGINT.
- **Alias every computed column identically on both sides** (driver
  sorts columns by name before hashing).
- Timestamps: session TZ pinned UTC (see ``session.py``) so naive
  DuckDB timestamps collect identically.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_rows

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    plan: dict | None = None  # static-plan claims (PLAN_CLAIMS); None: none


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    plan: dict | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a (spark, sf_dir) -> DataFrame query to the surface.
    ``plan`` holds the claims :func:`audit_plan` checks on its static
    plan; ``{}`` claims the defaults alone."""
    if unknown := sorted(set(plan or ()) - PLAN_CLAIMS.keys()):
        raise ValueError(f"{name}: unknown plan claim(s) {unknown}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name, fn, oracle, doc or (fn.__doc__ or ""), tags, plan
        )
        return fn

    return deco


# --- static-plan claims ------------------------------------------------------
#
# The scale posture of a plan, checked on ``explain("formatted")`` of
# the registered frame with AQE off (an unexecuted AdaptiveSparkPlan
# hides codegen spans and final join strategies). Every claimed plan
# must hold the defaults: a whole-stage-codegen span, no cartesian
# product, and neither a nested-loop join nor a single-partition
# exchange unless allowed below.

PLAN_CLAIMS = {
    "pushed": "substring of some scan's PushedFilters",
    "broadcast": "minimum number of BroadcastHashJoin nodes",
    "bnlj_ok": "allow BroadcastNestedLoopJoin (1-row scalar assembly)",
    "single_partition_ok": "allow single-partition exchanges (bounded rows)",
    "bucketed": "prefix of a bucketed catalog table the plan scans",
    "no_exchange_on": "columns no hash exchange partitions on",
    "checkpoint_result_ok": "the plan is the eager checkpoint of the result",
    "nodes": "substrings the plan must contain",
    "no_nodes": "substrings the plan must not contain",
    "min_nodes": "{node: n}: at least n plan nodes whose line names node",
    "pruned": "columns no scan's ReadSchema may include",
}


def formatted_plan(df: DataFrame) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit_plan(plan: str, claims: dict) -> list[str]:
    """The violations of the defaults and of ``claims`` in ``plan``, a
    :func:`formatted_plan` string; each names the claim it breaks."""
    errs = []
    if claims.get("checkpoint_result_ok"):
        # WHOLE-result checkpoints only: the query runs its own plan
        # assertion, then returns an eager localCheckpoint, so the
        # visible plan is the checkpoint scan. Queries that checkpoint
        # only intermediate frames keep their downstream plan visible
        # and must not carry this claim.
        if "Scan ExistingRDD" not in plan:
            errs.append("checkpoint_result_ok: no checkpointed-result scan")
        return errs
    # one block per node, "(n) Name [codegen id : k]" and its details;
    # ids are post-order, so the child of a unary node n is n - 1
    blocks = {
        int(m[1]): m[0] for m in re.finditer(r"^\((\d+)\) .*(?:\n.+)*", plan, re.M)
    }
    heads = [b.split("\n", 1)[0] for b in blocks.values()]
    exchanges = {
        i: re.search(r"^Arguments: (.*)", b, re.M)[1]
        for i, b in blocks.items()
        if b.startswith(f"({i}) Exchange\n")
    }

    def scalar_partial(i: int) -> bool:
        # the partial half of a global aggregate: one row per partition
        b = blocks.get(i, "")
        return bool(re.match(r"\(\d+\) \w*Aggregate", b)) and "\nKeys: []" in b

    if "CartesianProduct" in plan:
        errs.append("cartesian product in plan")
    if "BroadcastNestedLoopJoin" in plan and not claims.get("bnlj_ok"):
        errs.append("bnlj_ok: nested-loop join in plan, not allowed")
    if "codegen id :" not in plan:
        errs.append("no whole-stage-codegen span (no [codegen id] markers)")
    if not claims.get("single_partition_ok") and any(
        a.startswith("SinglePartition") and not scalar_partial(i - 1)
        for i, a in exchanges.items()
    ):
        errs.append("single_partition_ok: single-partition exchange, not allowed")
    if "pushed" in claims and not any(
        claims["pushed"] in ln for ln in plan.splitlines() if "PushedFilters" in ln
    ):
        errs.append(f"pushed: no PushedFilters containing {claims['pushed']!r}")
    n = sum(h.split()[1] == "BroadcastHashJoin" for h in heads)
    if n < (lo := claims.get("broadcast", 0)):
        errs.append(f"broadcast: {n} BroadcastHashJoin, expected >= {lo}")
    if "bucketed" in claims and not re.search(
        rf"Scan parquet spark_catalog\.default\.{claims['bucketed']}", plan
    ):
        errs.append(f"bucketed: no scan of the bucketed table {claims['bucketed']}*")
    for col in claims.get("no_exchange_on", ()):
        if any(a.startswith(f"hashpartitioning({col}#") for a in exchanges.values()):
            errs.append(f"no_exchange_on: hash exchange on {col}")
    for sub in claims.get("nodes", ()):
        if sub not in plan:
            errs.append(f"nodes: {sub!r} absent")
    for sub in claims.get("no_nodes", ()):
        if sub in plan:
            errs.append(f"no_nodes: {sub!r} present")
    for sub, lo in claims.get("min_nodes", {}).items():
        if (n := sum(sub in h for h in heads)) < lo:
            errs.append(f"min_nodes: {n} nodes with {sub!r}, expected >= {lo}")
    for col in claims.get("pruned", ()):
        if any(col in ln for ln in plan.splitlines() if ln.startswith("ReadSchema")):
            errs.append(f"pruned: a ReadSchema reads {col!r}")
    return errs


# --- oracle-stable aggregate helpers (Spark side) ---------------------------
#
# decimal(18,6), NOT decimal(38,6): Spark's whole-stage codegen for
# precision-38 decimal aggregates compiles pathologically slowly
# (~90s cold vs ~1s, measured on 4.1.2); 18 digits keeps per-row
# values Long-backed while the sum accumulator (decimal(28,6)) is
# still exact past 1e21 — comfortably above any 100 TB column total.
# Per-row domain limit: |value| < 1e12.

DEC = "decimal(18,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent double sum: decimal(38,6) accumulate → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent mean: decimal sum / count, divided in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def oracle_dsum(expr: str, alias: str) -> str:
    """DuckDB fragment matching :func:`dsum`."""
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def oracle_davg(expr: str, alias: str) -> str:
    """DuckDB fragment matching :func:`davg`."""
    return (
        f"CAST(sum(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / count({expr}) AS {alias}"
    )


# --- self-asserted check rows (Spark side + matching DuckDB oracle) ----------
#
# A result DuckDB cannot replay (a seeded sampler, an MLlib fit, a
# learned index) is verified as one (check, n_keys, 0, 1) row per
# check: the Spark fn RAISES unless every condition of every check
# holds, and the oracle re-derives each n_keys from the source tables
# and pins n_mismatch=0/ok=1, so a violated condition fails the query
# and a drifted key count flips the driver hash.

CHECK_SCHEMA = "check string, n_keys long, n_mismatch long, ok long"


def oracle_checks(checks: list[tuple[str, str]]) -> str:
    """DuckDB oracle matching :func:`check_rows`: one pinned row per
    ``(check, n_keys_sql)``, ``n_keys_sql`` a scalar SQL expression."""
    return "\nUNION ALL\n".join(
        f"SELECT '{check}' AS \"check\", CAST({n_keys_sql} AS BIGINT) AS n_keys,"
        " CAST(0 AS BIGINT) AS n_mismatch, CAST(1 AS BIGINT) AS ok"
        for check, n_keys_sql in checks
    )


def raise_failures(
    query: str, failures: list | dict, detail: object = None
) -> None:
    """The one raise site of the self-asserted checks: a RuntimeError
    naming ``query``, its failing checks and the observed ``detail``."""
    if failures:
        seen = "" if detail is None else f"; observed: {detail}"
        raise RuntimeError(f"{query} check failures: {failures}{seen}")


def check_rows(
    spark: SparkSession,
    query: str,
    checks: list[tuple[str, int, dict[str, bool]]],
    detail: object = None,
) -> DataFrame:
    """``(check, n_keys, 0, 1)`` rows for ``checks`` — each a
    ``(check, n_keys, {condition: held})`` triple — after raising
    through :func:`raise_failures` if any condition does not hold."""
    failures = {
        check: bad
        for check, _n, conds in checks
        if (bad := [c for c, held in conds.items() if not held])
    }
    raise_failures(query, failures, detail)
    return local_rows(
        spark, [(check, int(n), 0, 1) for check, n, _ in checks], CHECK_SCHEMA
    )


def register_check(
    query: str,
    member: str,
    fn_check: Callable[[SparkSession, str], tuple[int, dict[str, bool]]],
    n_keys_sql: str,
    doc: str,
    tags: tuple[str, ...],
) -> None:
    """Register a single-member check query: ``fn_check`` returns
    ``(n_keys, {condition: held})`` and the query returns its one
    :func:`check_rows` row, pinned by ``oracle_checks([(member,
    n_keys_sql)])``."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        n_keys, conds = fn_check(spark, sf_dir)
        return check_rows(spark, query, [(member, n_keys, conds)])

    fn.__name__ = query
    register(
        query, oracle=oracle_checks([(member, n_keys_sql)]), doc=doc, tags=tags
    )(fn)


# The correctness driver verifies a bounded number of registered
# queries (exactly the first 50 in round 1), so the driver-facing
# surface (__spark_entry__.queries()) is pinned to EXACTLY 50
# queries that collectively cover every SURVEY.md §2 operator:
# composed per-family suites (operators/suites.py — each UNIONs the
# full output rows of its member operators, so one driver row
# hash-verifies every member) plus the flagship, the specialty
# aggregates, the composed LSH→Jaccard dedup pipeline, the sink
# write→read-back roundtrips, and all 22 TPC-H shapes (18 individual
# + the 4 scalar-output shapes composed). Fine-grained member queries stay
# registered as the user-facing API — bench and pytest run the
# full registry — and COVERAGE.md maps §2 operator -> covering
# driver query. Round 5 adds the full-width digest suites
# (operators/digest.py): every member row hashed over ALL its
# columns, so the queries they absorb (d_minhash_lsh, d_simhash,
# d_lsh_rescore_e2e, s_tsv_parse_ragged, a_grouping_sets,
# a_pivot_event_values, g_bidirectional_mrr) are verified MORE
# strongly than by their former individual slots. Since round 7 the
# surface has ZERO rows-only queries: the last three (r_seeded_suite,
# ml_pipeline_suite, ml_kmeans_ivf_ann) return self-asserted check
# rows through the one check-row primitive above (CHECK_SCHEMA,
# oracle_checks, check_rows): key counts the DuckDB oracle re-derives
# independently and ok flags it pins, with the Spark fn RAISING on any
# violated condition (pinned per-SF sample checksums for the seeded
# RNG; metric floors + exact-math/domain invariants for the MLlib
# fits; recall floors and the beats-fair-baseline comparison for the
# learned IVF index). st_stateful_suite keeps its own (check, n_keys,
# n_mismatch, match) rows but raises through the same raise_failures.
DRIVER_SURFACE: tuple[str, ...] = (
    "flagship_revenue_by_priority",
    "rel_projection_suite",
    "rel_join_suite",
    "rel_agg_suite",
    "rel_window_suite",
    "rel_setops_suite",
    "agg_digest_suite",
    "lake_digest_suite",
    "j_specialty_suite",
    "specialty_digest_suite",
    "s_sink_roundtrip_suite",
    "a_approx_count_distinct",
    "r_deterministic_suite",
    "r_seeded_suite",
    "m_regression_suite",
    "m_classification_suite",
    "g_clustering_coefficient",
    "car_pipeline_e2e",
    "st_batch_semantics_suite",
    "st_stateful_suite",
    "corpus_pipeline_v4",
    "d_dedup_suite",
    "sim_ann_suite",
    "mm_multimodal_suite",
    "t_text_suite",
    "f_scalar_suite",
    "e_encode_suite",
    "g_graph_suite",
    "ev_analytics_suite",
    "ml_pipeline_suite",
    "ml_kmeans_ivf_ann",
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_priority_shipping",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_count",
    "tpch_q18_large_orders",
    "tpch_q20_excess_volume_supplier",
    "tpch_q21_waiting_supplier",
    "tpch_q22_global_sales_opportunity",
    "tpch_scalar_suite",
)


def _ordered() -> list[str]:
    missing = [n for n in DRIVER_SURFACE if n not in REGISTRY]
    assert not missing, f"DRIVER_SURFACE names not registered: {missing}"
    rest = [n for n in REGISTRY if n not in set(DRIVER_SURFACE)]
    return list(DRIVER_SURFACE) + rest


def queries() -> dict[str, QueryFn]:
    """Full registered surface (driver-surface names first)."""
    _bootstrap()
    return {name: REGISTRY[name].fn for name in _ordered()}


def oracles() -> dict[str, str]:
    _bootstrap()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered()
        if REGISTRY[name].oracle is not None
    }


def driver_surface() -> dict[str, QueryFn]:
    """Exactly the 50 driver-verified queries (see DRIVER_SURFACE)."""
    _bootstrap()
    return {name: REGISTRY[name].fn for name in DRIVER_SURFACE}


def driver_oracles() -> dict[str, str]:
    _bootstrap()
    return {
        name: REGISTRY[name].oracle
        for name in DRIVER_SURFACE
        if REGISTRY[name].oracle is not None
    }


_booted = False


def _bootstrap() -> None:
    """Import every module that registers queries (idempotent)."""
    global _booted
    if _booted:
        return
    from .plans import queries as _  # noqa: F401  (imports populate REGISTRY)

    _booted = True
