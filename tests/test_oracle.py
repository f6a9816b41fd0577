"""The oracle comparator (``mathorcup_spark.oracle.compare``) on plain
Python rows: what it forgives (column order, float noise below 1e-9,
NaN, list cells) and how a mismatch names its culprit rows."""

from __future__ import annotations

from mathorcup_spark import oracle

NAN = float("nan")


def test_equal_up_to_normalisation_matches():
    cols = ["k", "v", "xs", "n"]
    rows = [(1, 0.1 + 0.2, [1.0, 2.0], NAN), (2, 1.5, [3.0], 0.0)]
    # other column order, other row order, floats off by < 1e-9
    ocols = ["xs", "n", "k", "v"]
    orows = [([3.0], 0.0, 2, 1.5 + 1e-12), ([1.0, 2.0 + 1e-12], NAN, 1, 0.3)]
    rec = oracle.compare(cols, rows, ocols, orows)
    assert rec == {
        "cols_match": True,
        "rows_match": True,
        "hash_match": True,
        "spark_rows": 2,
        "oracle_rows": 2,
    }


def test_changed_row_is_the_only_culprit():
    want = [(i, i / 3, [i]) for i in range(20)]
    got = list(want)
    got[7] = (7, 99.0, [7])
    rec = oracle.compare(["k", "v", "xs"], got, ["k", "v", "xs"], want)
    assert rec["cols_match"] and rec["rows_match"]
    assert rec["hash_match"] is False
    assert rec["columns"] == ["k", "v", "xs"]
    assert rec["only_spark"] == [[7, 99.0, (7,)]]
    assert rec["only_oracle"] == [[7, round(7 / 3, 9), (7,)]]


def test_row_count_mismatch_skips_hash_but_names_rows():
    want = [(1, "a"), (2, "b")]
    got = want + [(2, "b")]  # a duplicated row counts
    rec = oracle.compare(["k", "s"], got, ["k", "s"], want)
    assert rec["rows_match"] is False and rec["hash_match"] is None
    assert rec["only_spark"] == [[2, "b"]] and rec["only_oracle"] == []


def test_column_mismatch_skips_values():
    rec = oracle.compare(["k", "v"], [(1, 2)], ["k", "w"], [(1, 2)])
    assert rec["cols_match"] is False and rec["hash_match"] is None
    assert "only_spark" not in rec


def test_culprit_sample_is_bounded():
    want = [(i,) for i in range(50)]
    got = [(i + 100,) for i in range(50)]
    rec = oracle.compare(["k"], got, ["k"], want)
    assert len(rec["only_spark"]) == len(rec["only_oracle"]) == oracle.SAMPLE
