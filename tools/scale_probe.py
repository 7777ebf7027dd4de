"""Scale probe: replicate the documents table RxN and measure how each
training-data operator's wall-clock grows — keeping the README's
100 TB claims measured, not asserted.

For each replication factor R the probe builds a temp sf_dir that
symlinks every driver table except ``documents.parquet``, which is
rewritten as R copies with offset doc_ids (text unchanged, so true
duplicate/ngram structure multiplies like a real crawl re-ingest).
Each named query then runs unmodified through the registry, and the
probe reports the fitted exponent log(t_R / t_1) / log(R): ~1.0 is
linear scaling; meaningfully above 1 means a super-linear candidate
structure (or an output that itself grows super-linearly — the probe
prints row counts so the two are distinguishable).

Usage: python tools/scale_probe.py [R] [query ...]
Defaults: R=10; queries = the four round-2 training-data operators.
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_inreach_spark.catalog import TABLES, table_path  # noqa: E402
from etl_inreach_spark.queries import all_queries  # noqa: E402
from etl_inreach_spark.session import get_spark  # noqa: E402
from tools.measure import drop_blocks, measure  # noqa: E402

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_QUERIES = (
    "seq_pack_chunks",
    "seq_pack_bins",
    "contamination_check",
    "repetition_profile",
)


# Entity-key DOMAINS: every (table, column) pair that carries the same
# identifier space. When tables are replicated, a domain's keys are
# offset per copy ONLY if every member table is in the replicated set —
# otherwise the column is an FK into a non-replicated dim and must keep
# its original values (the copies become new facts about EXISTING
# entities: more orders per customer, more lineitems per part). That
# keeps all joins valid and models the natural scale-up where fact
# volume outgrows dimension cardinality; replicating a dim and its
# facts together instead multiplies the entity population.
_KEY_DOMAINS: dict[str, dict[str, str]] = {
    "order": {"lineitem": "l_orderkey", "orders": "o_orderkey"},
    "cust": {"orders": "o_custkey", "customer": "c_custkey"},
    "part": {"lineitem": "l_partkey", "part": "p_partkey"},
    "supp": {"lineitem": "l_suppkey", "supplier": "s_suppkey"},
    "doc": {"documents": "doc_id"},
    "vec": {"embeddings": "vec_id"},
    "user": {"events": "user_id"},
    "event": {"events": "event_id"},
}

# tables that appear in at least one key domain — the only ones
# replication knows how to offset
_REPLICABLE = frozenset(
    t for members in _KEY_DOMAINS.values() for t in members
)


def make_replica_dir(
    spark, base: str, r: int, root: str, tables: tuple[str, ...] = ("documents",)
) -> str:
    """sf_dir with ``tables`` replicated r times (domain keys offset
    per copy where the whole domain is replicated), every other table
    symlinked."""
    out = os.path.join(root, f"x{r}")
    os.makedirs(out, exist_ok=True)
    from functools import reduce

    from pyspark.sql import functions as F

    # domain -> span, for domains fully contained in `tables`
    spans: dict[str, int] = {}
    for dom, members in _KEY_DOMAINS.items():
        if all(t in tables for t in members):
            mx = 0
            for t, col in members.items():
                v = spark.read.parquet(table_path(base, t)).selectExpr(
                    f"max({col})"
                ).first()[0]
                mx = max(mx, (v or 0) + 1)
            spans[dom] = mx

    for t in TABLES:
        src = table_path(base, t)
        dst = table_path(out, t)
        if t in tables:
            df = spark.read.parquet(src)
            offsets = [
                (col, spans[dom])
                for dom, members in _KEY_DOMAINS.items()
                if dom in spans
                for tt, col in members.items()
                if tt == t
            ]
            parts = []
            for i in range(r):
                p = df
                for col, span in offsets:
                    p = p.withColumn(col, F.col(col) + F.lit(i * span))
                parts.append(p)
            reduce(lambda a, b: a.unionByName(b), parts).write.mode(
                "overwrite"
            ).parquet(dst)
        elif not os.path.exists(dst):
            os.symlink(src, dst)
    return out


def main() -> int:
    # usage: scale_probe.py [R] [--tables t1,t2] [query ...]
    argv = sys.argv[1:]
    tables = ("documents",)
    if "--tables" in argv:
        i = argv.index("--tables")
        if i + 1 >= len(argv):
            print("--tables requires a comma-separated table list", file=sys.stderr)
            return 2
        tables = tuple(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    bad_tables = [t for t in tables if t not in TABLES or t not in _REPLICABLE]
    if bad_tables:
        # an unknown table would silently symlink everything (d1 == dr)
        # and print ~0 exponents that read as "flat scaling"
        print(
            f"unknown/unreplicable tables: {bad_tables} "
            f"(replicable: {sorted(_REPLICABLE)})",
            file=sys.stderr,
        )
        return 2
    # R is optional per the usage line: a leading non-integer is a query
    if argv and argv[0].isdigit():
        r = int(argv[0])
        names = argv[1:] or list(DEFAULT_QUERIES)
    else:
        r = 10
        names = argv or list(DEFAULT_QUERIES)
    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("scale-probe")
    results = {}
    with tempfile.TemporaryDirectory(prefix="spark_graft_probe_") as root:
        d1 = make_replica_dir(spark, BASE_SF_DIR, 1, root, tables)
        dr = make_replica_dir(spark, BASE_SF_DIR, r, root, tables)
        for name in names:
            walls, rows = [], []
            for d in (d1, dr):
                walls.append(min(
                    measure(spark, "scale-probe", lambda: qs[name](spark, d))["wall_s"]
                    for _ in range(2)
                ))
                # one untimed count, through an eager checkpoint: a bare
                # count() prunes cogroup pandas inputs away
                rows.append(qs[name](spark, d).localCheckpoint(eager=True).count())
                drop_blocks(spark)
            (t1, tr), (rows1, rowsr) = walls, rows
            exp = math.log(tr / t1) / math.log(r)
            results[name] = {
                "t_1x": round(t1, 2),
                f"t_{r}x": round(tr, 2),
                "exponent": round(exp, 2),
                "rows_1x": rows1,
                f"rows_{r}x": rowsr,
            }
            print(f"{name}: {t1:.2f}s -> {tr:.2f}s at {r}x  "
                  f"(exponent {exp:.2f}; rows {rows1} -> {rowsr})")
    print(
        json.dumps(
            {
                "replication": r,
                "base": BASE_SF_DIR,
                "tables": list(tables),
                "results": results,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
