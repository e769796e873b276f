"""Ad-hoc same-process A/B timing for bench experiments.

Host load makes cross-run comparisons untrustworthy (±20-30%); this
harness times variants interleaved in ONE session, median of N, so only
the variant differs. Edit VARIANTS below per experiment.

Usage: python tools/ab.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

import bench  # noqa: E402
from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402
from etl_arcgis_spark import tables  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

WC = """
SELECT word, count(1) AS n
FROM (SELECT explode(split(text, ' ')) AS word FROM {t})
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 20
"""


def timeit(fn, n=7):
    bench.materialize(fn())
    bench.materialize(fn())
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        bench.materialize(fn())
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def main():
    spark = get_session("ab", shuffle_partitions=4)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "65536")

    for w in (1, 4, 8, 16, 32):
        df = spark.read.parquet(f"{SF}/documents.parquet").repartition(w).cache()
        df.createOrReplaceTempView(f"d{w}")
        df.count()

    variants = {}
    for w in (1, 4, 8, 16, 32):
        variants[f"wc_d{w}"] = (lambda w=w: spark.sql(WC.format(t=f"d{w}")))

    # sim_cosine_topk_pairs through the registry, flipping the cached
    # embeddings width by pre-seeding the table cache slot
    qs = registry.all_queries()
    app = spark.sparkContext.applicationId
    for w in (1, 8, 16, 32):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(w).cache()
        emb.count()
        tables._CACHED[(app, SF, "embeddings")] = emb
        variants[f"sim_e{w}"] = (
            lambda: qs["sim_cosine_topk_pairs"](spark, SF)
        )
        acc_one = [timeit(variants[f"sim_e{w}"]) for _ in range(2)]
        sys.stdout.write(f"RESULT sim_e{w:<3d} {min(acc_one)*1000:7.1f} ms\n")
        del tables._CACHED[(app, SF, "embeddings")]

    acc = {k: [] for k in variants if k.startswith("wc_")}
    for _ in range(2):
        for k in list(acc):
            acc[k].append(timeit(variants[k]))
    for k, ts in acc.items():
        sys.stdout.write(f"RESULT {k:10s} {min(ts)*1000:7.1f} ms\n")
    spark.stop()


if __name__ == "__main__":
    main()
