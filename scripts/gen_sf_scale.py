"""Synthesize an sf1-scale testdata decade from the driver's sf0.1 tables.

The driver ships sf0.001/0.01/0.1 only; a claimed win is checked at one
more decade to separate per-iteration scheduling overhead from data cost on
the iterative operators (BPE, pagerank, connected components, k-means). We
cannot write to /root/testdata, so sf1 lands in the repo-local (gitignored)
``_scaledata/sf1/``.

Construction: each table is the UNION of ``FACTOR`` key-shifted copies of
its sf0.1 version. Every key column (PK and the FKs referencing it) shifts
by ``replica × (max_key + 1)`` of its owning table, so referential
integrity holds exactly — joins fan out 10× in rows but never in matches
per key — and entity cardinalities (customers, users, docs, vectors) scale
10× alongside fact rows, which is what a real decade does. Dimension-like
tables (region, nation) stay fixed, as TPC-H scaling does. Timestamps and
payloads are reused as-is: the bench measures plan scaling, not entropy.

Usage: python scripts/gen_sf_scale.py [factor]   (default 10 → "sf1")
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from driftdb_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.path.join(REPO, "_scaledata", "sf1")

#: table -> (pk column whose span defines the shift, shifted columns)
#: shifted columns may belong to OTHER tables (FKs) — the shift constant
#: is always derived from the key's OWNING table so references stay valid.
KEYED = {
    "customer": ("c_custkey", {"customer": ["c_custkey"], "orders": ["o_custkey"]}),
    "supplier": ("s_suppkey", {"supplier": ["s_suppkey"], "lineitem": ["l_suppkey"]}),
    "part": ("p_partkey", {"part": ["p_partkey"], "lineitem": ["l_partkey"]}),
    "orders": ("o_orderkey", {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"]}),
    "events": ("event_id", {"events": ["event_id"]}),
    "_users": ("user_id", {"events": ["user_id"]}),  # span from events.user_id
    "documents": ("doc_id", {"documents": ["doc_id"]}),
    "embeddings": ("vec_id", {"embeddings": ["vec_id"]}),
}
COPY_AS_IS = ["region", "nation"]
ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def perturb_replica_text(df, r: int):
    """Perturb a documents replica's text for synthetic scale decades.

    Replica texts must not be verbatim copies: N identical twins per doc
    would make LSH candidate pairs grow QUADRATICALLY as a replication
    artifact (every cross-replica pair is a perfect dup), drowning the
    operator's real scaling. A token-level remap (suffix every word with
    the replica id) keeps the intra-replica near-dup structure
    bit-identical — the same planted dups exist within each replica —
    while making shingle spaces across replicas disjoint, i.e. an Nx
    corpus with the SAME dup rate, which is what a real decade looks
    like. Replica 0 passes through untouched. (n_chars metadata is
    intentionally left at the original value — the decade measures plan
    scaling, not metadata consistency.)"""
    if r == 0:
        return df
    return df.withColumn(
        "text",
        F.expr(
            "array_join(transform(split(text, ' '), "
            f"w -> concat(w, '~r{r}')), ' ')"
        ),
    )


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="gen_sf_scale")
    src = {t: spark.read.parquet(f"{SRC}/{t}.parquet") for t in ALL_TABLES}

    # shift constant per key family = max_key + 1 in the owning table
    shift: dict[str, int] = {}
    col_shifts: dict[str, list[tuple[str, int]]] = {t: [] for t in ALL_TABLES}
    for fam, (pk, targets) in KEYED.items():
        owner = "events" if fam == "_users" else fam
        mx = src[owner].agg(F.max(pk)).collect()[0][0]
        shift[fam] = int(mx) + 1
        for table, cols in targets.items():
            for c in cols:
                col_shifts[table].append((c, shift[fam]))

    os.makedirs(DST, exist_ok=True)
    for t in ALL_TABLES:
        out = os.path.join(DST, f"{t}.parquet")
        if os.path.exists(out):
            shutil.rmtree(out)
        if t in COPY_AS_IS or not col_shifts[t]:
            src[t].write.parquet(out)
            print(f"{t}: copied as-is")
            continue
        replicas = []
        for r in range(factor):
            df = src[t]
            for c, s in col_shifts[t]:
                df = df.withColumn(c, F.col(c) + F.lit(r * s))
            if t == "documents":
                df = perturb_replica_text(df, r)
            replicas.append(df)
        big = replicas[0]
        for df in replicas[1:]:
            big = big.unionByName(df)
        big.write.parquet(out)
        n = spark.read.parquet(out).count()
        print(f"{t}: {n} rows ({factor}x)")


if __name__ == "__main__":
    main()
