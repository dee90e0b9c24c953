"""ANN index-selection study: recall@10 vs scan cost for the three
families (LSH, IVF, PQ) at production-shaped parameters on sf0.1.

VERDICT r3 next-round item 4: the three recall diagnostics exist as
oracle-gated queries at oracle-tractable toy configs; this tool runs the
same operators at the parameter shapes a production deployment would
pick (multi-table LSH, IVF with a real cell count and an nprobe sweep,
PQ with m=8 x 256-ish codebooks) and prints the measured
recall-vs-cost table that SCALE.md publishes as index-selection
guidance.

Cost metric: mean scanned work per query, normalized to
"float-multiply equivalents" — the unit that survives a 10^7x corpus
scale-up, unlike wall time on a 2000-vector sandbox corpus:

- exact scan:       (N-1) * dim mults
- LSH / IVF:        (mean candidates) * dim mults (full-vector rerank
                    over the candidate set)
- PQ ADC:           (N-1) * m table lookups + dist-table build
                    (k_codes * dim mults); a lookup+add is charged as
                    one mult-equivalent (it is cheaper — DRAM-bound,
                    which is the point of PQ)

Corpus regimes (VERDICT r4 item 3): the default corpus is the testdata
embeddings table — ISOTROPIC random vectors, the documented worst case
for every partition-based index (no cluster structure to exploit, so
recalls are LOWER BOUNDS and the residual-IVFPQ variant loses to shared
codebooks). ``--clustered`` swaps in the deterministic
mixture-of-Gaussians corpus (fixtures_big.clustered_embeddings, matched
N/dim, k=32 clusters) — the regime real embedding corpora live in, where
cell-local structure exists, IVF recalls become production-plausible,
and the published residual-beats-shared inequality (Jégou et al. §V-A)
can show its other side. SCALE.md carries BOTH tables.

Usage: python tools/ann_study.py [sf_dir] [--clustered]
       (default corpus /root/testdata/sf0.1/embeddings.parquet)
"""

from __future__ import annotations

import os
import sys
import time

# import the crawler_spark of the repository this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    clustered = "--clustered" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    from crawler_spark.session import get_spark
    from crawler_spark.pipeline import similarity as S

    spark = get_spark("ann_study")
    if clustered:
        from crawler_spark.fixtures_big import clustered_embeddings

        print("# corpus regime: CLUSTERED (mixture-of-Gaussians, k=32)")
        emb = clustered_embeddings(spark).localCheckpoint()
    else:
        print("# corpus regime: ISOTROPIC (testdata embeddings)")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint()
    n = emb.count()
    dim = len(emb.select("embedding").head()[0])
    queries = [int(x) for x in range(3, n, max(1, n // 32))][:32]
    k = 10
    print(f"# corpus N={n} dim={dim} queries={len(queries)} k={k}")

    exact_cos = (
        S.cosine_topk(emb, queries, k)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    exact_l2 = (
        S.l2_topk(emb, queries, k).select("query_id", "neighbor_id").localCheckpoint()
    )

    def recall_vs(exact, approx) -> float:
        r = (
            exact.join(
                approx.select(
                    "query_id", "neighbor_id", F.lit(1).alias("hit")
                ),
                ["query_id", "neighbor_id"],
                "left",
            )
            .agg(
                F.sum(F.coalesce("hit", F.lit(0))).alias("h"),
                F.count("*").alias("t"),
            )
            .head()
        )
        return 100.0 * r["h"] / r["t"]

    def mean_cand(df_counts):
        # average over ALL sampled queries: a query with zero candidates
        # contributes 0, not absence (groupBy would silently drop it and
        # bias the mean upward)
        got = {r[0]: r[1] for r in df_counts.collect()}
        return sum(got.get(q, 0) for q in queries) / len(queries)

    rows = []

    def add(family, config, recall, cand_per_q, cost_per_q, wall):
        rows.append((family, config, recall, cand_per_q, cost_per_q, wall))
        print(
            f"{family:12s} {config:28s} recall@10 {recall:5.1f}%  "
            f"cand/q {cand_per_q:8.1f}  cost/q {cost_per_q:10.0f}  wall {wall:5.1f}s"
        )

    # exact baseline
    add("exact", "brute-force cosine", 100.0, n - 1, (n - 1) * dim, 0.0)

    # ---- LSH ----
    for planes in (6, 8, 10):
        t0 = time.time()
        approx = S.ann_topk(emb, queries, k, dim, planes)
        rec = recall_vs(exact_cos, approx)
        b = S.lsh_buckets(emb, dim, planes)
        sizes = b.groupBy("bucket").agg(F.count("*").alias("c"))
        cand = (
            b.filter(F.col("vec_id").isin(queries))
            .join(sizes, "bucket")
            .agg(F.avg(F.col("c") - 1))
            .head()[0]
        )
        add("lsh", f"single-table p={planes}", rec, cand, cand * dim,
            time.time() - t0)
    for planes in (6, 8):
        t0 = time.time()
        approx = S.ann_topk_multiprobe(emb, queries, k, dim, planes)
        rec = recall_vs(exact_cos, approx)
        b = S.lsh_buckets(emb, dim, planes)
        sizes = b.groupBy("bucket").agg(F.count("*").alias("c"))
        qb = b.filter(F.col("vec_id").isin(queries)).select(
            F.col("vec_id").alias("query_id"), F.col("bucket").alias("qbucket")
        )
        pr = qb.select(
            "query_id",
            F.explode(
                F.array(
                    F.col("qbucket"),
                    *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(planes)],
                )
            ).alias("bucket"),
        )
        cand = (
            pr.join(sizes, "bucket", "left")
            .groupBy("query_id")
            .agg(F.sum(F.coalesce("c", F.lit(0))).alias("n"))
            .agg(F.avg(F.col("n") - 1))
            .head()[0]
        )
        add("lsh", f"multi-probe p={planes} (+{planes} flips)", rec, cand,
            cand * dim, time.time() - t0)
    for tables in (2, 4, 8):
        t0 = time.time()
        approx = S.ann_topk_multitable(emb, queries, k, dim, 8, tables)
        rec = recall_vs(exact_cos, approx)
        bm = S.lsh_buckets_multitable(emb, dim, 8, tables)
        qb = bm.filter(F.col("vec_id").isin(queries)).select(
            F.col("vec_id").alias("query_id"), "table", "bucket"
        )
        cand = mean_cand(
            bm.join(qb, ["table", "bucket"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id")
            .distinct()
            .groupBy("query_id")
            .count()
        )
        add("lsh", f"multi-table p=8 T={tables}", rec, cand, cand * dim,
            time.time() - t0)

    # ---- IVF ----
    for cents, nprobes in (
        (tuple(7 + 37 * i for i in range(8)), (1, 2, 4)),
        (tuple(5 + (n // 37) * i for i in range(32)), (2, 4, 8)),
    ):
        for nprobe in nprobes:
            t0 = time.time()
            approx = S.ivf_topk(emb, queries, k, nprobe, cents)
            rec = recall_vs(exact_cos, approx)
            # actual probed mass per query: rank with k=N so the top-k
            # window keeps EVERY candidate, then count rows per query
            cand = mean_cand(
                S.ivf_topk(emb, queries, n, nprobe, cents)
                .groupBy("query_id")
                .count()
            )
            add(
                "ivf",
                f"cells={len(cents)} nprobe={nprobe}",
                rec,
                cand,
                cand * dim,
                time.time() - t0,
            )

    # ---- PQ ----
    for m, kc, iters in ((4, 4, 2), (8, 16, 2), (8, 64, 2), (8, 256, 2)):
        t0 = time.time()
        approx = S.pq_topk(emb, queries, m, kc, iters, k)
        rec = recall_vs(exact_l2, approx)
        cost = (n - 1) * m + kc * dim
        add("pq", f"m={m} k_codes={kc} iters={iters}", rec, n - 1, cost,
            time.time() - t0)

    # ---- IVF-PQ composite (shared codebooks + textbook residual) ----
    cents32 = tuple(5 + (n // 37) * i for i in range(32))
    for fam, fn, cents, nprobe, m, kc in (
        ("ivf-pq", S.ivf_pq_topk, tuple(7 + 37 * i for i in range(8)), 2, 8, 64),
        ("ivf-pq", S.ivf_pq_topk, tuple(7 + 37 * i for i in range(8)), 4, 8, 64),
        ("ivf-pq", S.ivf_pq_topk, cents32, 4, 8, 64),
        ("ivf-pq", S.ivf_pq_topk, cents32, 8, 8, 64),
        ("ivf-pq-res", S.ivf_pq_residual_topk,
         tuple(7 + 37 * i for i in range(8)), 2, 8, 64),
        ("ivf-pq-res", S.ivf_pq_residual_topk,
         tuple(7 + 37 * i for i in range(8)), 4, 8, 64),
        # cells=32 composite rows: on the CLUSTERED corpus this is the
        # cells~clusters regime where residual encoding shows its
        # published win (coarse centroids explain the variance, so
        # per-cell residuals are unimodal and the codebooks quantize a
        # far smaller support); on the isotropic corpus the same rows
        # keep losing — the two tables bracket the Jegou §V-A line
        ("ivf-pq-res", S.ivf_pq_residual_topk, cents32, 4, 8, 64),
        ("ivf-pq-res", S.ivf_pq_residual_topk, cents32, 8, 8, 64),
    ):
        t0 = time.time()
        approx = fn(emb, queries, nprobe, cents, m, kc, 2, k)
        rec = recall_vs(exact_l2, approx)
        cand = mean_cand(
            fn(emb, queries, nprobe, cents, m, kc, 2, n)
            .groupBy("query_id")
            .count()
        )
        # residual ADC tables are per (query, probed cell): nprobe x the
        # shared-codebook build cost
        tables = nprobe if fam == "ivf-pq-res" else 1
        cost = cand * m + tables * kc * dim
        add(
            fam,
            f"cells={len(cents)} nprobe={nprobe} m={m} k={kc}",
            rec,
            cand,
            cost,
            time.time() - t0,
        )

    print("\n| family | config | recall@10 | mean cand/query | cost/query (mult-equiv) | vs exact |")
    print("|---|---|---|---|---|---|")
    exact_cost = (n - 1) * dim
    for family, config, recall, cand, cost, wall in rows:
        print(
            f"| {family} | {config} | {recall:.1f}% | {cand:.0f} | {cost:.0f} "
            f"| {100.0 * cost / exact_cost:.1f}% |"
        )


if __name__ == "__main__":
    main()
