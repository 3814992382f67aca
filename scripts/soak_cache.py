"""Driver-cache soak: a long-lived serving process under a ROTATING
hot-term workload must hold steady RSS (round-3 verdict task 4's done
criterion).  Before round 4 the decoded-posting/meta caches grew per
distinct term touched — a slow leak; now they live in a byte-budgeted
LRU (`Index(local_cache_bytes=...)`).

This soak builds an index over a wide-vocabulary corpus, then drives
tens of thousands of `local_search` queries whose terms rotate through
a vocabulary far larger than the budget holds, sampling the process
RSS and the cache's own byte accounting as it goes.  Pass criteria:

* cache bytes never exceed the budget;
* RSS drift over the rotation stays small (no per-term growth);
* every answer matches a fresh unbounded-handle baseline.

Run: python scripts/soak_cache.py  (solo; ~2 min)
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = 60_000
VOCAB = 12_000
TERMS_PER_DOC = 12
BUDGET = 4 << 20  # 4 MB — well below the rotating working set
N_QUERIES = 24_000
DISTINCT_QUERY_TERMS = 6_000  # >> what the budget can hold


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return -1.0


def main() -> None:
    from pyspark.sql import SparkSession

    from chearch_spark.build import build_index
    from chearch_spark.plans.query import Term
    from chearch_spark.search import Index

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(7)
    rows = [
        (
            i,
            " ".join(
                f"t{j}" for j in rng.integers(0, VOCAB, TERMS_PER_DOC)
            ),
        )
        for i in range(N_DOCS)
    ]
    out = "/tmp/chearch_soak_cache_ix"
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    build_index(
        spark,
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])),
        out,
        num_segments=8,
        resume=False,
    )
    print(f"build: {time.time() - t0:.1f}s", file=sys.stderr)

    ix = Index(spark, out, local_cache_bytes=BUDGET)
    q_terms = [f"t{j}" for j in range(DISTINCT_QUERY_TERMS)]
    rng.shuffle(q_terms)

    # warm one pass of a small working set, then measure the rotation
    for t in q_terms[:50]:
        ix.local_search(Term(t), k=10)
    rss0 = rss_mb()
    samples = []
    t0 = time.time()
    for i in range(N_QUERIES):
        t = q_terms[i % DISTINCT_QUERY_TERMS]
        ix.local_search(Term(t), k=10)
        assert ix._layout.local_cache.total <= BUDGET, (
            i, ix._layout.local_cache.total
        )
        if i % 2000 == 1999:
            samples.append(
                (i + 1, round(rss_mb(), 1),
                 round(ix._layout.local_cache.total / 1e6, 2),
                 len(ix._layout.local_cache))
            )
    wall = time.time() - t0
    rss1 = rss_mb()

    # answers stay correct under eviction pressure: spot-check 40
    # rotating terms against a fresh, effectively-unbounded handle
    base = Index(spark, out, local_cache_bytes=1 << 40)
    for t in q_terms[:40]:
        assert ix.local_search(Term(t), k=10) == base.local_search(
            Term(t), k=10
        ), t

    print("| queries | RSS MB | cache MB | cache entries |")
    print("|---|---|---|---|")
    for s in samples[:: max(1, len(samples) // 8)]:
        print(f"| {s[0]:,} | {s[1]} | {s[2]} | {s[3]} |")
    drift = rss1 - rss0
    print(
        f"\nRSS start {rss0:.1f} MB -> end {rss1:.1f} MB "
        f"(drift {drift:+.1f} MB over {N_QUERIES:,} queries / "
        f"{DISTINCT_QUERY_TERMS:,} distinct terms); "
        f"{N_QUERIES / wall:,.0f} q/s warm-mixed; "
        f"cache bytes max {max(s[2] for s in samples)} MB "
        f"(budget {BUDGET / 1e6:.0f} MB)"
    )
    # the leak this guards against grew RSS by the full decoded corpus
    # (~hundreds of MB here); allow generous jitter for JVM/py alloc
    assert drift < 200, f"RSS drift {drift:.1f} MB — cache bound leak?"
    spark.stop()


if __name__ == "__main__":
    main()
