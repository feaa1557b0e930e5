"""Distributed connected-components scale point (star contraction).

Builds a synthetic graph ABOVE budget.MAX_ROWS edges (so the distributed
large-star/small-star path runs, not the driver union-find): n nodes in
chains of length g — deliberately the WORST shape for the old min-label
propagation (diameter = g, so g=100 would have needed 100 rounds and
silently split under the old max_iter=20; star contraction needs O(log g)).
Verifies the full component-size histogram (every chain must come back as
exactly one component of size g) and reports wall time.

Usage: python bench/cc_bench.py [n_nodes] [chain_len] [cpus]
Writes BENCH/cc_result.json; BENCH/BASELINE.md is curated by hand.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from kgx import budget, canon
    from kgx.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
    g = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    assert n % g == 0

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
                      app_name="kgx-cc-bench")
    ids = spark.range(n)
    nodes = ids.select(F.format_string("n%09d", "id").alias("surface"))
    edges = (
        ids.filter((F.col("id") % g) != g - 1)
        .select(
            F.format_string("n%09d", "id").alias("a"),
            F.format_string("n%09d", F.col("id") + 1).alias("b"),
        )
    )
    n_edges = n - n // g
    assert n_edges > budget.MAX_ROWS, "graph too small to force the distributed path"

    t0 = time.perf_counter()
    comp = canon.connected_components(nodes, edges)
    hist = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_comps"))
        .collect()
    )
    dt = round(time.perf_counter() - t0, 2)

    histogram = {int(r["sz"]): int(r["n_comps"]) for r in hist}
    ok = histogram == {g: n // g}
    out = {
        "n_nodes": n, "n_edges": n_edges, "chain_len": g, "cpus": cpus,
        "sec": dt, "edges_per_sec": round(n_edges / dt, 1),
        "histogram_ok": ok, "histogram": histogram if len(histogram) < 10 else "WRONG",
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/cc_result.json", "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    spark.stop()
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
