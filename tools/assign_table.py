"""Measure centroid-assignment strategies across nlist tiers.

Produces the BASELINE.md table: the literal-expression reference
kernel (O(nlist × dim) Catalyst nodes) vs the Arrow-batched matmul
kernel production uses (one UDF node) — end-to-end assignment time per
tier; nlist 35 is the benchmark KB's tier. The expr path is skipped
above EXPR_CEILING because analysis alone takes minutes there (the
failure mode the matmul path exists to remove).

    python tools/assign_table.py [n_vectors] [dim]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from customkb_spark.session import get_spark

NLISTS = [16, 35, 64, 256, 1024, 4096, 16384]
EXPR_CEILING = 1024  # expr path measured up to here; beyond is the dead zone


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = get_spark("assign-table", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    from customkb_spark.embedding.index import assign_clusters

    rng = np.random.default_rng(42)
    X = rng.standard_normal((n, dim))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "vec_id int, embedding array<double>"
    ).cache()
    df.count()

    print(f"| nlist | expr (s) | matmul (s) | agree |  ({n} vectors × {dim} dims)")
    print("|---|---|---|---|")
    for nlist in NLISTS:
        cents = rng.standard_normal((nlist, dim))
        t0 = time.time()
        mm = dict(
            (r["vec_id"], r["cluster_id"])
            for r in assign_clusters(df, cents, "embedding", method="matmul")
            .select("vec_id", "cluster_id").collect()
        )
        t_mm = time.time() - t0
        if nlist <= EXPR_CEILING:
            t0 = time.time()
            ex = dict(
                (r["vec_id"], r["cluster_id"])
                for r in assign_clusters(df, cents, "embedding", method="expr")
                .select("vec_id", "cluster_id").collect()
            )
            t_ex = time.time() - t0
            agree = "yes" if ex == mm else "NO"
            print(f"| {nlist} | {t_ex:.2f} | {t_mm:.2f} | {agree} |")
        else:
            print(f"| {nlist} | (skipped — plan alone takes minutes) | {t_mm:.2f} | — |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
