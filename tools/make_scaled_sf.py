"""Synthesize an sf1-equivalent (default 10x sf0.1) copy of EVERY registry
table so the registry queries can be run at a scale where data
parallelism, not the per-query driver floor, dominates (VERDICT r12
item 6: at sf0.1 8 cores BEAT 32 cores — geomean c8/c32 0.93 — so
nothing about operator parallelism is measurable there).

    python tools/make_scaled_sf.py [mult] [sf_dir] [out_dir]

Construction: union of ``mult`` id-shifted copies with CONSISTENT
foreign-key shifts (orders.o_orderkey and lineitem.l_orderkey shift by
the same stride, etc.), so per-copy join fan-outs match the base and
cross-copy keys never collide.  Dimension tables (region, nation) stay
1x and keep their keys — every copy's FKs still resolve.  Corpus
tables avoid degenerate duplicate structure: document text is
copy-tagged (near-dups, not exact clones — the scale_spot recipe) and
embedding vectors are deterministically re-mixed per copy (component
rotation + copy-keyed sign flips) so cross-copy cosines are not ~1 and
pair-generating ops scale by data size, not copies^2.

Then check registry queries against their DuckDB oracles at that scale
(``--only`` picks a subset and leaves CORRECTNESS_local.json alone):

    python tools/oracle_sweep.py /tmp/siuba_sf1_synth --only name1,name2
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (table, [key columns to shift], stride) — strides exceed every base
# table's max key at any sweep SF; FK pairs share one stride.
K_ORDER = 10_000_000
K_CUST = 1_000_000
K_PART = 1_000_000
K_SUPP = 1_000_000
K_DOC = 10_000_000
K_VEC = 1_000_000
K_EVENT = 10_000_000
K_USER = 1_000_000

SHIFTS = {
    "customer": {"c_custkey": K_CUST},
    "orders": {"o_orderkey": K_ORDER, "o_custkey": K_CUST},
    "lineitem": {"l_orderkey": K_ORDER, "l_partkey": K_PART,
                 "l_suppkey": K_SUPP},
    "part": {"p_partkey": K_PART},
    "supplier": {"s_suppkey": K_SUPP},
    "events": {"event_id": K_EVENT, "user_id": K_USER},
    "documents": {"doc_id": K_DOC},
    "embeddings": {"vec_id": K_VEC},
}
DIMS = ("region", "nation")


def main():
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/siuba_sf1_synth"
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "48g")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)

    for t in DIMS:
        (spark.read.parquet(f"{sf_dir}/{t}.parquet")
         .write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet"))
        print(f"{t}: dim, copied 1x", flush=True)

    for t, shifts in SHIFTS.items():
        base = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        copies = []
        for i in range(mult):
            c = base
            for col, stride in shifts.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            if t == "documents" and i > 0:
                # near-dups, not exact clones (scale_spot recipe)
                c = c.withColumn(
                    "text", F.concat(F.lit(f"c{i} "), F.col("text")))
            if t == "embeddings" and i > 0:
                # deterministic per-copy re-mix: rotate components by i
                # and flip signs by a copy-keyed parity so cross-copy
                # cosines are not ~1 (clone vectors would make every
                # intra-cell pair query quadratic in `mult`)
                dim = F.size("embedding")
                c = c.withColumn(
                    "embedding",
                    F.transform(
                        F.col("embedding"),
                        lambda x, j: F.element_at(
                            F.col("embedding"),
                            (j + F.lit(i)) % dim + 1)
                        * F.when((j + F.lit(i)) % 3 == i % 3, F.lit(-1.0))
                        .otherwise(F.lit(1.0))))
            copies.append(c)
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        n_files = 64 if t in ("lineitem", "documents", "events") else 16
        big.repartition(n_files).write.mode("overwrite") \
            .parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: {mult}x written", flush=True)

    spark.stop()
    print(f"done -> {out_dir}")


if __name__ == "__main__":
    main()
