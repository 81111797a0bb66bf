"""Same-epoch counterbalanced A/B of two repo trees on named queries.

Cross-round bench numbers on this VM are not comparable (CLAUDE.md); the
only valid regression evidence is interleaving the two trees within one
epoch. This tool alternates tree order per round (ABBA counterbalancing),
runs each tree in a FRESH subprocess/JVM per round, and reports per-query
medians and the B/A ratio. Include a control query untouched by the diff
to bracket the epoch's noise floor.

Usage:
    python tools/bench_ab.py TREE_A TREE_B [rounds] [q1,q2,...] [sf_dir]

e.g.
    git worktree add /tmp/r4tree 53feb8b
    python tools/bench_ab.py . /tmp/r4tree 4 \
        spatial_tile_join,admin_first_match,minhash_signatures
"""

import json
import os
import statistics
import subprocess
import sys

RUNNER = r"""
import json, sys, time
tree, sf_dir, qnames = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
sys.path.insert(0, tree)
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as e
qs = e.queries()
out = {}
for name in qnames:
    df = qs[name](spark, sf_dir)
    t0 = time.monotonic()
    df.count()
    out[name] = round(time.monotonic() - t0, 3)
print("ABRESULT " + json.dumps(out))
"""


def run_tree(tree: str, sf_dir: str, qnames: list[str]) -> dict:
    # Python workers import the tree's engine by module path
    env = {**os.environ, "PYTHONPATH": os.path.abspath(tree)}
    p = subprocess.run(
        [sys.executable, "-c", RUNNER, tree, sf_dir, ",".join(qnames)],
        capture_output=True, text=True, timeout=1200, env=env,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"tree {tree} produced no result:\n{p.stderr[-2000:]}")


def main() -> None:
    tree_a, tree_b = sys.argv[1], sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    qnames = (
        sys.argv[4].split(",")
        if len(sys.argv) > 4
        else ["spatial_tile_join", "admin_first_match", "minhash_signatures"]
    )
    sf_dir = sys.argv[5] if len(sys.argv) > 5 else "/root/testdata/sf0.1"
    acc: dict[str, dict[str, list[float]]] = {
        q: {"A": [], "B": []} for q in qnames
    }
    for r in range(rounds):
        order = [("A", tree_a), ("B", tree_b)]
        if r % 2 == 1:
            order.reverse()
        for label, tree in order:
            res = run_tree(tree, sf_dir, qnames)
            for q, t in res.items():
                acc[q][label].append(t)
            print(f"round {r} {label}: {res}", flush=True)
    print()
    for q in qnames:
        ma = statistics.median(acc[q]["A"])
        mb = statistics.median(acc[q]["B"])
        print(
            f"{q}: A median {ma:.3f}s  B median {mb:.3f}s  "
            f"B/A {mb / ma:.3f}  (A runs {acc[q]['A']}, B runs {acc[q]['B']})"
        )


if __name__ == "__main__":
    main()
