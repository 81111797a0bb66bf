"""dissolve at scale + N->4N levels.

Synthetic noded coverage: an n x n lattice of unit squares grouped into
b x b blocks — dissolve must annihilate every interior border (one
groupBy over 4*n^2 directed edges) and chain (n/b)^2 block rings.
Verifies ring count + total surviving edge count, reports wall
(best-of-2 per fresh JVM) and edge throughput.

Usage: python tools/bench_dissolve.py [n] [b] [cpus ...]
  e.g. python tools/bench_dissolve.py 512 32 8 32
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def lattice(spark, n: int, b: int):
    from pyspark.sql import functions as F

    cells = spark.range(0, n * n, 1, 128).select(
        (F.col("id") % n).alias("i"), (F.col("id") / n).cast("long").alias("j")
    )
    i, j = F.col("i").cast("double"), F.col("j").cast("double")
    return cells.select(
        F.concat_ws(
            "_",
            (F.col("i") / b).cast("long"), (F.col("j") / b).cast("long"),
        ).alias("group_key"),
        F.array(j, j, j + 1, j + 1, j).alias("ring_lat"),
        F.array(i, i + 1, i + 1, i, i).alias("ring_lon"),
    )


def run_once(cpus: int, n: int, b: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.dissolve import dissolve, dissolve_edges
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-dissolve", cpus=cpus)
    polys = lattice(spark, n, b).localCheckpoint(eager=True)
    best = None
    stats = None
    for _ in range(2):
        t0 = time.time()
        rings = dissolve(polys)
        stats = rings.agg(
            F.count("*").alias("rings"),
            F.sum(F.size("ring_lat") - 1).alias("edges"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    want_rings = (n // b) ** 2
    assert stats["rings"] == want_rings, stats
    n_surv = dissolve_edges(polys).count()
    print(
        f"cpus={cpus} n={n} block={b} squares={n*n} input_edges={4*n*n} "
        f"surviving_edges={n_surv} rings={stats['rings']} "
        f"best={best:.2f}s edges_per_s={4*n*n/best:.0f}"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 512
    b = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    cpu_levels = [int(a) for a in sys.argv[3:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_DISSOLVE_CHILD"):
        run_once(int(os.environ["_BENCH_DISSOLVE_CHILD"]), n, b)
        return
    for cpus in cpu_levels:
        env = dict(os.environ, _BENCH_DISSOLVE_CHILD=str(cpus))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(n), str(b)],
            env=env,
            check=True,
        )


if __name__ == "__main__":
    main()
