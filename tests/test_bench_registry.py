"""The bench harness (tools/bench_registry.py): registry names are unique
and distinct from the gate queries, and `time` mode runs a registry entry
and a gate query end to end."""

import ast
import collections
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import bench_registry  # noqa: E402


def test_registry_names_unique_and_apart_from_gate_queries():
    import __spark_entry__

    with open(bench_registry.__file__) as f:
        tree = ast.parse(f.read())
    literal = next(
        n.value for n in tree.body
        if isinstance(n, ast.Assign) and n.targets[0].id == "WORKLOADS"
    )
    keys = [k.value for k in literal.keys]
    assert [k for k, n in collections.Counter(keys).items() if n > 1] == []
    assert not set(keys) & set(__spark_entry__.queries())


def test_time_mode_runs_entry_and_gate_query(spark, monkeypatch):
    import __spark_entry__

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", __spark_entry__.SF001)
    rows = bench_registry.time_workloads(spark, ["cc", "tile_assign"], 50, 1)
    cc, gate = rows
    assert cc["name"] == "cc" and gate["name"] == "tile_assign"
    # 50 five-doc stars + the 4096-node path: one row per node
    assert cc["rows"] == 50 * 5 + 4096 and cc["checksum"] is not None
    assert gate["rows"] > 0 and gate["jobs"] >= 1
    assert all(r["best_s"] > 0 for r in rows)
    # the checksum is order-insensitive: a reshuffled frame hashes the same
    df = bench_registry.resolve("cc")(spark, 50)
    assert bench_registry.checksum(df.repartition(7)) == (cc["rows"], cc["checksum"])
