"""Coverage for W11 margin pairs and L6 sinkhorn."""

import math

from pyspark.sql import functions as F

from largeea_spark.operators import simops


def test_margin_mutual_pairs(spark):
    rows = [
        (0, 0, 0.9), (0, 1, 0.2),       # clear margin both ways
        (1, 1, 0.6), (1, 2, 0.55),      # src margin ok, dst2 margin small
        (2, 2, 0.8),                    # dst 2 column gap = 0.8-0.55 < th
        (3, 4, 0.9),                    # isolated pair → gaps = 0.9
    ]
    df = spark.createDataFrame(rows, "src long, dst long, sim double")
    got = {(r.src, r.dst) for r in simops.margin_mutual_pairs(df, th=0.3).collect()}
    assert (0, 0) in got
    assert (1, 1) not in got
    assert (2, 2) not in got  # column-2 top2 gap 0.25 < 0.3 (ref semantics)
    assert (3, 4) in got


def test_sinkhorn_rowcol_stochastic(spark):
    df = spark.createDataFrame(
        [(0, 0, 3.0), (0, 1, 1.0), (1, 0, 1.0), (1, 1, 3.0)],
        "src long, dst long, sim double",
    )
    out = simops.sinkhorn(df, n_iter=6)
    rows = out.groupBy("src").agg(F.sum("sim").alias("s")).collect()
    for r in rows:
        assert math.isclose(r.s, 1.0, rel_tol=1e-3)
