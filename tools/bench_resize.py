"""bucket_resize at scale: decode -> exact resample -> PNG re-encode
throughput + N->4N levels.

Input is the closed-form synthetic images table (sources/images.py) —
materialized to a local parquet ONCE per process so every level reads
identical bytes and the measured window is the resize kernel, not the
synthesis codec. Output checksum (xor of crc) printed per level: must be
identical across parallelism levels (bit-exact resample).

Usage: python tools/bench_resize.py [n_images] [cpus ...]
  e.g. python tools/bench_resize.py 4000 2 8 32
"""

import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(cpus: int, n: int, path: str) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.image_ops import bucket_resize
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-resize", cpus=cpus)
    imgs = spark.read.parquet(path).repartition(4 * cpus).localCheckpoint(
        eager=True
    )
    best, stats = None, None
    for _ in range(2):
        t0 = time.time()
        out = bucket_resize(imgs)
        stats = out.agg(
            F.count("*").alias("rows"),
            # bit_xor not sum: ANSI-safe checksum (round-1 rule)
            F.expr("bit_xor(crc)").alias("chk"),
            F.sum(F.length("thumb")).alias("png_bytes"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(
        f"cpus={cpus} images={n} best={best:.2f}s "
        f"images_per_s={stats['rows'] / best:.0f} "
        f"png_bytes={stats['png_bytes']} checksum={stats['chk']}"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    cpu_levels = [int(a) for a in sys.argv[2:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_RESIZE_CHILD"):
        run_once(
            int(os.environ["_BENCH_RESIZE_CHILD"]), n,
            os.environ["_BENCH_RESIZE_PATH"],
        )
        return
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "imgs")
        from osm_search_spark.session import get_spark
        from osm_search_spark.sources import images as img_src

        spark = get_spark("bench-resize-synth", cpus=os.cpu_count() or 8)
        img_src.images_table(spark, n).write.parquet(path)
        spark.stop()
        for cpus in cpu_levels:
            env = dict(
                os.environ,
                _BENCH_RESIZE_CHILD=str(cpus),
                _BENCH_RESIZE_PATH=path,
            )
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), str(n)],
                env=env,
                check=True,
            )


if __name__ == "__main__":
    main()
