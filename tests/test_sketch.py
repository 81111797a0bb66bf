"""HLL sketch: estimate accuracy vs exact and register-table determinism (the cross-engine gate checks the DuckDB
twin; here numpy-independent properties)."""

import pytest
from pyspark.sql import functions as F

from osm_search_spark.functions import sketch


def _vals(spark, lo, hi, tag=""):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"value-{tag}-"), F.col("id")).alias("v")
    )


def test_hll_estimate_within_error(spark):
    n = 20_000
    regs = sketch.hll_registers(_vals(spark, 0, n), "v", p=10)
    est = sketch.hll_estimate(regs, p=10)
    # 1.04/sqrt(1024) ~ 3.3% std error; allow 4 sigma
    assert abs(est - n) / n < 0.13, est


def test_hll_duplicates_dont_count(spark):
    base = _vals(spark, 0, 500)
    tripled = base.unionAll(base).unionAll(base)
    regs_b = sketch.hll_registers(base, "v", p=8)
    regs_t = sketch.hll_registers(tripled, "v", p=8)
    assert sorted(map(tuple, regs_b.collect())) == sorted(
        map(tuple, regs_t.collect())
    )


def test_hll_p_validated(spark):
    with pytest.raises(ValueError):
        sketch.hll_registers(_vals(spark, 0, 10), "v", p=2)
