"""Simulate the correctness driver: run queries on Spark and DuckDB and
compare row count, column names, and order-insensitive value hash —
the same three signals CORRECTNESS_r{N}.json records
(``mathorcup_spark.oracle.compare``). A mismatch also prints a sample
of the rows found on only one side.

Usage: python tools/driver_check.py [name ...] [--sf DIR ...] [--all]
                                    [--json PATH]
By default it checks the EXACT driver surface
(__spark_entry__.queries() / oracle_sql()) at sf0.01, the driver's SF.
Named queries are looked up in the full registry, so a new operator can
be checked in seconds; --all checks the full fine-grained registry, a
broader soak that catches scale-factor-dependent logic the sf0.001
pytest suite could hide. --sf may be repeated to check every query at
several scale factors. With --json PATH, additionally writes a
machine-checkable artifact (per-query rows/cols/hash booleans, sf dir,
registry fingerprint) — commit it as SOAK_r{N}.json.
Prints one line per query and a final summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from mathorcup_spark import oracle  # noqa: E402
# perfbench/checks.py imports the normaliser under this name
from mathorcup_spark.oracle import norm_rows as _norm_rows  # noqa: E402,F401
from mathorcup_spark.session import get_spark  # noqa: E402

DEFAULT_SF = "/root/testdata/sf0.01"


def _check(spark, duck, fn, sql, sf_dir) -> dict:
    """One query's record: an ``err``, a rows-only count, or the
    oracle comparison."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # pragma: no cover - diagnostic path
        return {"err": f"spark: {exc!r}"[:200]}
    if sql is None:
        # the real driver's rows-only smoke check requires rows > 0
        return {"rows_only": True, "spark_rows": len(srows)}
    try:
        ocols, orows = oracle.run(duck, sql)
    except Exception as exc:  # pragma: no cover - diagnostic path
        return {"err": f"oracle: {exc!r}"[:200]}
    return oracle.compare(scols, srows, ocols, orows)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="query names (default: driver surface)")
    ap.add_argument(
        "--sf", action="append", dest="sfs", metavar="DIR",
        help=f"testdata dir, repeatable (default {DEFAULT_SF})",
    )
    ap.add_argument("--all", action="store_true", help="check the full registry")
    ap.add_argument("--json", metavar="PATH", help="also write a JSON artifact")
    args = ap.parse_args()
    sfs = args.sfs or [DEFAULT_SF]
    if args.names or args.all:
        from mathorcup_spark import registry

        qs = registry.queries()
        oracles = registry.oracles()
        unknown = [n for n in args.names if n not in qs]
        if unknown:
            print(f"unknown queries: {unknown}")
            return 1
        if args.names:
            qs = {n: qs[n] for n in args.names}
    else:
        import __spark_entry__ as entry

        qs = entry.queries()
        oracles = entry.oracle_sql()
    spark = get_spark()

    failures: list[str] = []
    records: dict[str, dict] = {}
    for sf_dir in sfs:
        duck = oracle.connect(sf_dir)
        for name, fn in qs.items():
            key = name if len(sfs) == 1 else f"{name}@{sf_dir}"
            t0 = time.time()
            rec = _check(spark, duck, fn, oracles.get(name), sf_dir)
            sec = time.time() - t0
            if "err" in rec:
                ok = False
                print(f"FAIL {key}: {rec['err']}")
            elif rec.get("rows_only"):
                ok = rec["spark_rows"] > 0
                print(
                    f"{'ran ' if ok else 'FAIL'} {key}: rows-only,"
                    f" {rec['spark_rows']} rows ({sec:.1f}s)"
                )
            else:
                ok = bool(rec["hash_match"])
                # "skipped" (not False) when cols/rows already differ,
                # so the three signals stay independent in the output
                h = rec["hash_match"]
                print(
                    f"{'pass' if ok else 'FAIL'} {key}:"
                    f" rows {rec['spark_rows']}/{rec['oracle_rows']}"
                    f" cols={rec['cols_match']}"
                    f" hash={'skipped' if h is None else h} ({sec:.1f}s)"
                )
                for side in ("only_spark", "only_oracle"):
                    for row in rec.get(side, []):
                        print(f"    {side}: {row!r}"[:300])
                rec["sec"] = round(sec, 1)
            if not ok:
                failures.append(key)
            records[key] = rec
    n = len(records)
    print(f"\n{n - len(failures)}/{n} pass; failures: {failures}")
    if args.json:
        # registry fingerprint: the sorted query-name list hashed, so
        # a soak artifact is tied to the exact registry it attests
        fp = hashlib.sha256("\n".join(sorted(qs)).encode()).hexdigest()[:16]
        Path(args.json).write_text(
            json.dumps(
                {
                    "sf_dir": sfs[0] if len(sfs) == 1 else sfs,
                    "surface": (
                        "full-registry" if args.all
                        else "named" if args.names else "driver"
                    ),
                    "n_queries": n,
                    "n_pass": n - len(failures),
                    "failures": failures,
                    "registry_fingerprint": fp,
                    "queries": records,
                },
                indent=1,
                default=str,
            )
            + "\n"
        )
        print(f"wrote {args.json}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
