"""Distributed PageRank benchmark on the cc_bench synthetic graph shape
(chain blocks + hub star -> hub-skew join pressure, O(iters) shuffle rounds).

Checks alongside the timing: node count preserved, every rank positive, and
total nano mass <= PR_SCALE (the documented dangling-leak bound). The output
hash ``sum(xxhash64(node, r_nano))`` is printed beside the wall time, so two
versions of the operator can be compared for equal output at scale.

Usage: python tools/pr_bench.py [n_nodes] [block] [cpus] [iters]
Defaults: 2_000_000 1000 $SPARK_GRAFT_CPUS (else the host's CPU count) 10.
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    block = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else int(
        os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    )
    iters = int(sys.argv[4]) if len(sys.argv) > 4 else 10

    from pyspark.sql import functions as F

    from rdfcmap_spark.operators.graph import PR_SCALE, pagerank
    from rdfcmap_spark.session import build_session

    spark = build_session(cpus=cpus, app_name="pr_bench")
    ids = spark.range(n).repartition(2 * cpus)
    chain = ids.filter(F.col("id") % block != block - 1).select(
        F.concat(F.lit("n"), F.col("id")).alias("src"),
        F.concat(F.lit("n"), F.col("id") + 1).alias("dst"),
    )
    star = ids.filter((F.col("id") % (2 * block) == 0) & (F.col("id") > 0)).select(
        F.lit("n0").alias("src"), F.concat(F.lit("n"), F.col("id")).alias("dst")
    )
    edges = chain.unionByName(star).localCheckpoint()
    n_edges = edges.count()

    t0 = time.perf_counter()
    pr = pagerank(edges, iters=iters)
    row = pr.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.sum("r_nano").alias("mass"),
        F.min("r_nano").alias("min_nano"),
        # decimal: a BIGINT sum of hashes overflows (an error under ANSI)
        F.sum(F.xxhash64("node", "r_nano").cast("decimal(38,0)")).alias("xxhash"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 1)
    assert row["nodes"] == n, (row["nodes"], n)
    assert 0 < row["mass"] <= PR_SCALE, row["mass"]
    assert row["min_nano"] >= 0
    print(
        json.dumps(
            {
                "mode": "pr_bench",
                "nodes": n,
                "edges": n_edges,
                "iters": iters,
                "cpus": cpus,
                "wall_seconds": wall,
                "edges_x_iters_per_sec": int(n_edges * iters / wall),
                "mass_nano": row["mass"],
                "xxhash": str(row["xxhash"]),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
