"""Round-12 packed 64-bit wedge key (graph.py): pack/unpack roundtrip
over the full 32-bit id envelope. The other packed-key tests live in
test_graph.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from mathorcup_spark.operators.graph import _pack_uv, _unpack_uv


def test_pack_uv_roundtrip_including_wrap(spark):
    """pack/unpack is the identity over the full asserted envelope —
    including ids in [2^31, 2^32) where u<<32 wraps the packed long
    NEGATIVE (why the unpack must be shiftrightunsigned, not the
    sign-extending arithmetic shift)."""
    pairs = [
        (0, 0),
        (1, 2),
        (123456, 654321),
        (2**31 - 1, 2**31),
        (2**31, 7),  # packed long is negative here
        (2**32 - 1, 2**32 - 1),
    ]
    df = spark.createDataFrame(pairs, "u LONG, v LONG")
    uq, vq = _unpack_uv()
    out = (
        df.withColumn("uv", _pack_uv(F.col("u"), F.col("v")))
        .select(
            "u", "v", uq.alias("u2"), vq.alias("v2"), "uv"
        )
        .collect()
    )
    for r in out:
        assert (r["u2"], r["v2"]) == (r["u"], r["v"]), r
    # injectivity across the test pairs
    assert len({r["uv"] for r in out}) == len(pairs)
