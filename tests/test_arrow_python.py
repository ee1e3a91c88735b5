"""Arrow-boundary Python surfaces: mapInArrow (RecordBatch-level, no
pandas materialization) and arrow-optimized scalar UDFs
(useArrow=True).  Both must be value-identical to the JVM expression
paths they mirror — Python is a performance choice here, never a
semantics choice."""

import hashlib

from pyspark.sql import functions as F

from lab3_spark.functions.text import hex_to_long
from lab3_spark.operators.similarity import (
    FIXED_SCALE,
    N_PLANES,
    lsh_codes,
    lsh_codes_arrow,
    plane_numerators,
)


def _codes(df):
    return {r["vec_id"]: r["code"] for r in df.collect()}


def _python_codes(rows) -> dict[int, int]:
    """The signature spec, computed driver-side in plain Python:
    bit p set iff the exact integer dot of floor(x·1e6) with plane p
    is positive."""
    import math

    dims = len(rows[0]["embedding"])
    planes = plane_numerators(N_PLANES, dims)
    out = {}
    for r in rows:
        xi = [math.floor(x * float(FIXED_SCALE)) for x in r["embedding"]]
        out[r["vec_id"]] = sum(
            1 << p
            for p, plane in enumerate(planes)
            if sum(a * b for a, b in zip(xi, plane)) > 0
        )
    return out


def test_lsh_codes_three_ways_bit_identical(spark, sf_dir):
    """Catalyst fold, mapInArrow matmul and a pure-Python reference
    agree bit for bit."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    jvm = _codes(lsh_codes(emb))
    arrow = _codes(lsh_codes_arrow(emb))
    python = _python_codes(emb.select("vec_id", "embedding").collect())
    assert jvm == arrow == python
    assert len(jvm) == emb.count()


def test_arrow_udf_matches_codegen_hex_fold(spark):
    # the portable md5 fold: conv(h,16,10) in codegen vs int(h,16) in an
    # arrow-optimized Python UDF — same 15-hex-digit bigint
    @F.udf("long", useArrow=True)
    def hex15_py(h: str) -> int:
        return int(h[:15], 16)

    words = [f"token{i}" for i in range(500)]
    df = spark.createDataFrame([(w,) for w in words], "w string").withColumn(
        "h", F.md5("w")
    )
    got = df.select(
        "w",
        hex_to_long(F.substring("h", 1, 15)).alias("jvm"),
        hex15_py("h").alias("py"),
    ).collect()
    for r in got:
        assert r["jvm"] == r["py"]
        assert r["py"] == int(hashlib.md5(r["w"].encode()).hexdigest()[:15], 16)
