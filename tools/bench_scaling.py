"""Two-parallelism scaling benchmark -> BENCH/BASELINE.md.

Runs tools/scaling_job.py in a FRESH subprocess (fresh JVM) at local[N] and
local[4N] on the same input, asserts identical output checksums, and writes
the throughput table + scaling efficiency required by BASELINE.json
(efficiency = T(4N) / (4 * T(N)), target >= 0.8).

Usage: python tools/bench_scaling.py [N] [sf_dir] [mult]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_level(cpus: int, sf_dir: str, mult: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(
        [sys.executable, f"{REPO}/tools/scaling_job.py", sf_dir, str(mult)],
        env=env, capture_output=True, text=True, timeout=1200,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 24

    lo = run_level(n, sf_dir, mult)
    hi = run_level(4 * n, sf_dir, mult)
    assert lo["checksum"] == hi["checksum"], (
        f"outputs differ between parallelism levels: {lo['checksum']} vs {hi['checksum']}"
    )
    assert lo["rows"] == hi["rows"]
    eff = hi["rows_per_sec"] / (4.0 * lo["rows_per_sec"])

    md = f"""# BENCH/BASELINE — measured scaling evidence

North rule: spatial-join + tile-assignment throughput at two cluster sizes
(N and 4N executors) with scaling efficiency >= 0.8. This sandbox has no
real cluster; per the driver instructions the evidence is the SAME job on
the SAME input at `local[{n}]` vs `local[{4*n}]`, each in a fresh JVM, with
an order-insensitive output checksum proving identical results.

Job: derived points (x{mult} scale-up = {lo['rows']:,} joined output rows) ->
cell-cover hash join vs 15 admin polygons at grid res 12 -> exact
winding-number PIP refine (codegen fold) -> tile id at res 14 ->
full materialization.

| parallelism | rows | wall sec | throughput (rows/sec) |
|---|---|---|---|
| local[{n}] (N) | {lo['rows']:,} | {lo['sec']} | {lo['rows_per_sec']:,} |
| local[{4*n}] (4N) | {hi['rows']:,} | {hi['sec']} | {hi['rows_per_sec']:,} |

**Scaling efficiency (N -> 4N): {eff:.3f}** (target >= 0.8)

Output identity: checksum(local[{n}]) == checksum(local[{4*n}]) ==
`{lo['checksum']}` over xxhash64(point_id, polygon_id, tile_id).

Reference baseline context (single-process Go, BASELINE.md): the reference
serves point queries (~2,777 q/s single-thread full-text search); it has no
bulk spatial-join mode — the comparable bulk figure is its indexing run
(Jabodetabek extract, 1-3 min). Our engine's bulk PIP+tiling throughput at
local[{4*n}] is {hi['rows_per_sec']:,} rows/sec on synthetic data of the
same shape.
"""
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    # preserve everything after the headline section (other workloads'
    # evidence is appended by hand / other tools)
    path = f"{REPO}/BENCH/BASELINE.md"
    tail = ""
    if os.path.exists(path):
        old = open(path).read()
        idx = old.find("\n## ")
        if idx >= 0:
            tail = old[idx:]
    with open(path, "w") as f:
        f.write(md + tail)
    print(json.dumps(dict(n=lo, n4=hi, efficiency=round(eff, 3))))


if __name__ == "__main__":
    main()
