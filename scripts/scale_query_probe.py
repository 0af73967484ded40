"""Scale spot-bench over REAL registered queries (VERDICT r6 item 6).

The driver benches at sf0.1, where the suite is overhead-bound (8-core
total == 32-core total in r6) — data-path wins are invisible there. This
probe rebuilds the sf directory at Nx scale by replicating every parquet
table with key-domain-consistent id shifts, materialized to parquet so the
UNMODIFIED registered queries run against it via their normal sf_dir
argument, then times each requested query at 1x and Nx through
``measure.run_pass``.

Reported per query: wall at 1x and Nx (median of --passes warm passes
after one discarded) with the median pass's Spark job count, the Nx/1x
ratio, and the per-row ratio
(ratio / N) — a per-row ratio ≫ 1 means the query's cost grows
super-linearly in data volume and it becomes a next-round target
(quadratic pair cores, unguarded windows); ≪ 1 means the query is still
overhead-bound even at Nx.

Timing-probe caveat: modulo-class predicates inside queries (doc_id % 3
etc.) are not all preserved by the id shifts, so Nx RESULTS are not
oracle-comparable — only the cost shape is. Strides ARE chosen to
preserve the dedup structure (documents stride divisible by 20 keeps the
near/exact-dup classes; event stride divisible by 37000 keeps q227's
chunking and corruption pattern).

Embeddings shift the first ``embedding`` coordinate by ``replica *
EMBEDDING_STRIDE`` as well as ``vec_id``, so each replica lands in its own
region of the coordinate space: q379_dbscan_grid's grid cells keep their
1x density and its ratio measures the operator, not N-fold denser cells.

One query does not scale the way its name suggests:
  * q169_pointer_doubling: ``user_id`` is shifted per replica, so Nx
    adds N times as many chains of the same length; the chain depth, and
    with it the loop's round count, does not grow with N.

Usage:
    python scripts/scale_query_probe.py [--replicas N] [--sf SF_DIR]
        [--out JSON] [--passes N] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from sqlserver2pgsql_spark.measure import run_pass  # noqa: E402
from sqlserver2pgsql_spark.session import get_spark  # noqa: E402

#: per-table (column -> stride) id shifts; strides exceed every sf0.1 key
#: and preserve the %-classes the dedup corpora and q227 depend on
SHIFTS = {
    "lineitem": {"l_orderkey": 100_000_000, "l_partkey": 10_000_000,
                 "l_suppkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "customer": {"c_custkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "nation": {},
    "region": {},
    # divisible by 2/4/5 -> near-dup (%5), exact-dup (%4), half (%2)
    # corpus classes are preserved per replica; text is additionally
    # replica-uniquified (see replicate_dir) so shingle/LSH postings do
    # NOT collide across replicas — otherwise every doc gains replicas-1
    # exact twins and the pair volume grows quadratically in replicas (a
    # replication artifact, not an operator property)
    "documents": {"doc_id": 1_000_000},
    # divisible by 37*1000 -> q227 chunk boundaries and corruption class
    # preserved; user_id shifted so user-keyed state grows with data
    "events": {"event_id": 111_000_000, "user_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}

#: per-replica shift of the first embedding coordinate; the fixture
#: coordinates lie within (-1, 1), so replicas never share a grid cell
EMBEDDING_STRIDE = 10.0


def replicate_dir(spark, sf_dir: str, out_dir: str, replicas: int) -> None:
    for table, shifts in SHIFTS.items():
        src = os.path.join(sf_dir, f"{table}.parquet")
        if not os.path.exists(src):
            continue
        df = spark.read.parquet(src)
        if shifts:
            r = F.explode(
                F.sequence(F.lit(0), F.lit(replicas - 1))
            ).alias("__r")
            rep = df.select("*", r)
            for col, stride in shifts.items():
                rep = rep.withColumn(
                    col, F.col(col) + F.col("__r").cast("long") * stride
                )
            if table == "documents":
                # prefix every token with a replica tag: token-equality
                # structure (and thus the dedup clusters) is preserved
                # WITHIN a replica, while no shingle matches across
                # replicas
                tag = F.concat(F.lit("x"), F.col("__r").cast("string"))
                rep = rep.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda t: F.concat(tag, t),
                        ),
                        " ",
                    ),
                )
            if table == "embeddings":
                first = F.element_at("embedding", 1) + F.col("__r") * EMBEDDING_STRIDE
                rep = rep.withColumn(
                    "embedding",
                    F.concat(
                        F.array(first.cast("float")),
                        F.slice("embedding", 2, F.size("embedding") - 1),
                    ),
                )
            rep = rep.drop("__r")
        else:
            rep = df  # tiny dims join by unshifted keys; keep one copy
        # the table loader (and the real testdata layout) expects ONE
        # parquet FILE per table, not a directory
        tmp = os.path.join(out_dir, f"__w_{table}")
        rep.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        )
        os.replace(
            os.path.join(tmp, part), os.path.join(out_dir, f"{table}.parquet")
        )
        shutil.rmtree(tmp)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    qs = entrymod.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark("scale_query_probe")

    big_dir = tempfile.mkdtemp(prefix="spark_graft_scaleq_")
    results: dict[str, dict] = {}
    try:
        t0 = time.time()
        replicate_dir(spark, args.sf, big_dir, args.replicas)
        print(f"replicated {args.replicas}x -> {big_dir} "
              f"({time.time()-t0:.1f}s)", flush=True)

        for name in args.queries:
            fn = qs[name]
            row: dict = {}
            for label, d in (("1x", args.sf), (f"{args.replicas}x", big_dir)):
                passes = [run_pass(spark, fn, d, name) for _ in range(args.passes + 1)]
                warm = sorted(passes[1:], key=lambda p: p.wall_s)
                med = warm[len(warm) // 2]
                row[label] = round(med.wall_s, 3)
                row[f"{label}_jobs"] = med.jobs
            ratio = row[f"{args.replicas}x"] / max(row["1x"], 1e-9)
            row["ratio"] = round(ratio, 2)
            row["per_row_ratio"] = round(ratio / args.replicas, 3)
            results[name] = row
            print(
                f"{name:38s} 1x={row['1x']:7.2f}s {args.replicas}x="
                f"{row[f'{args.replicas}x']:8.2f}s ratio={row['ratio']:6.2f}"
                f" per-row={row['per_row_ratio']:5.2f}"
                f" jobs={row['1x_jobs']}/{row[f'{args.replicas}x_jobs']}",
                flush=True,
            )
    finally:
        shutil.rmtree(big_dir, ignore_errors=True)

    if args.out:
        payload = {
            "sf": args.sf,
            "replicas": args.replicas,
            "passes": args.passes,
            "queries": results,
        }
        with open(args.out, "w") as fh:
            json.dump(payload, fh, indent=2)
        print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
