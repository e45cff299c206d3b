#!/usr/bin/env python
"""Derive a MULT× scaled dataset from a driver-generated SF directory
(VERDICT r11 #4: "run the full oracle harness at sf1, or the largest SF
the sandbox fits" — the sandbox ships sf0.1 as its largest, so the
headroom sweep derives sf≈1 from it).

The derivation replicates the driver's own parquet tables MULT times with
key shifting chosen so every query remains SEMANTICALLY well-posed while
the NUMERIC LOAD scales — the point is to stress the documented exactness
headroom bounds (2^53 casts, DECIMAL(38,0) moments, |value|<4.5e9 grids)
that sf0.1 cannot reach, with Spark and DuckDB reading the identical
derived files so every hash comparison stays a true parity test:

- region/nation: fixed dimensions, copied verbatim.
- customer/supplier/part/orders/lineitem: all *key* columns shifted by
  replica*STRIDE (referential integrity preserved within each replica);
  attributes untouched, so per-group sums/moments grow ~MULT×.
- events: event_id shifted; user_id KEPT (per-user histories grow MULT×,
  stressing fold-replay oracles); ts shifted by replica*31 days so
  replica time-ranges are disjoint — no (user_id, ts) ties exist to make
  order-sensitive folds ambiguous.
- documents: doc_id shifted; for replica>0 every word is prefixed with a
  replica tag, so shingle sets NEVER overlap across replicas — dedup
  keys scale by corpus size without a quadratic cross-replica pair
  explosion (each replica reproduces the original near-dup structure).
- embeddings: vec_id shifted; each replica i>0 is mapped through its own
  ORTHOGONAL transform (per-replica coordinate permutation + sign flips —
  SCALING_r13.md finding 5 / VERDICT r13 #3): orthogonality preserves every
  within-replica inner product and norm EXACTLY (each replica reproduces
  the base corpus's cosine geometry bit-for-bit up to component order),
  while cross-replica cosines of the same base vector decorrelate to
  ~N(0, 1/dim) — nothing survives a 0.95 threshold, so the old epsilon-twin
  scheme's C(mult, 2) cross-replica pair explosion is gone and near-dup
  pair output scales LINEARLY in the multiplier. To keep the rate nonzero
  (the base table has no 0.95-pairs), each replica i>0 plants ~2% near-twins
  WITHIN itself before the transform: vec_id % 50 == 7 copies the previous
  vector with a 0.1% scale + tiny offset (cos ≈ 1), giving mult-1 linear
  growth with deterministic content.

Usage: python tools/make_scaled_sf.py [SRC_SF_DIR] [OUT_DIR] [MULT]
Defaults: /root/testdata/sf0.1  ./testdata_scaled/sf1x  10
The output dir is gitignored — it is a derived artifact, rebuilt on
demand, never committed.
"""

from __future__ import annotations

import os
import sys

import duckdb

STRIDE = 10_000_000  # > every key in the source tables


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "testdata_scaled/sf1x"
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()

    def emit(table: str, select_for_replica) -> None:
        parts = [select_for_replica(i) for i in range(mult)]
        union = " UNION ALL ".join(parts)
        # ≥16 row groups per table (r17, VERDICT r16 #4): the driver's own
        # fixtures are single-row-group (unsplittable scans — the reason
        # the widen-if-narrow guards exist), but the DERIVED sweep data
        # should match a production layout so the 10×/100× scale curves
        # measure the operators, not a layout artifact. DuckDB's default
        # 122 880-row groups already split the big tables at 10×+; the
        # explicit size also splits the small ones (documents, embeddings),
        # capped at that default so large tables keep its splittability.
        n_src = con.execute(
            f"SELECT count(*) FROM read_parquet('{src}/{table}.parquet')"
        ).fetchone()[0]
        rgs = min(122880, max(2048, (n_src * mult) // 16))
        con.execute(
            f"COPY ({union}) TO '{out}/{table}.parquet'"
            f" (FORMAT PARQUET, ROW_GROUP_SIZE {rgs})"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet')"
        ).fetchone()[0]
        print(f"{table}: {n} rows (row_group_size {rgs})")

    def copy(table: str) -> None:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet'))"
            f" TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        print(f"{table}: copied")

    copy("region")
    copy("nation")

    # c_name / s_name get a replica suffix: several queries use entity
    # names as ORDER BY tie-breaks under a LIMIT (q21's (numwait, s_name)),
    # and duplicated names across replicas would make the cut non-total —
    # both engines would return valid but different top-k rows.
    emit(
        "customer",
        lambda i: (
            f"SELECT c_custkey + {i * STRIDE} AS c_custkey,"
            + ("c_name" if i == 0 else f"c_name || '_r{i}' AS c_name")
            + ", c_nationkey, c_acctbal, c_mktsegment"
            f" FROM read_parquet('{src}/customer.parquet')"
        ),
    )
    emit(
        "supplier",
        lambda i: (
            f"SELECT s_suppkey + {i * STRIDE} AS s_suppkey,"
            + ("s_name" if i == 0 else f"s_name || '_r{i}' AS s_name")
            + ", s_nationkey, s_acctbal"
            f" FROM read_parquet('{src}/supplier.parquet')"
        ),
    )
    emit(
        "part",
        lambda i: (
            f"SELECT p_partkey + {i * STRIDE} AS p_partkey,"
            " p_name, p_brand, p_type, p_size, p_retailprice"
            f" FROM read_parquet('{src}/part.parquet')"
        ),
    )
    emit(
        "orders",
        lambda i: (
            f"SELECT o_orderkey + {i * STRIDE} AS o_orderkey,"
            f" o_custkey + {i * STRIDE} AS o_custkey,"
            " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
            f" FROM read_parquet('{src}/orders.parquet')"
        ),
    )
    emit(
        "lineitem",
        lambda i: (
            f"SELECT l_orderkey + {i * STRIDE} AS l_orderkey,"
            f" l_partkey + {i * STRIDE} AS l_partkey,"
            f" l_suppkey + {i * STRIDE} AS l_suppkey,"
            " l_linenumber, l_quantity, l_extendedprice, l_discount,"
            " l_tax, l_returnflag, l_linestatus, l_shipdate"
            f" FROM read_parquet('{src}/lineitem.parquet')"
        ),
    )
    emit(
        "events",
        lambda i: (
            f"SELECT event_id + {i * STRIDE} AS event_id,"
            f" ts + INTERVAL {i * 31} DAY AS ts,"
            " user_id, event_type, value, props"
            f" FROM read_parquet('{src}/events.parquet')"
        ),
    )
    emit(
        "documents",
        lambda i: (
            f"SELECT doc_id + {i * STRIDE} AS doc_id, "
            + (
                "text"
                if i == 0
                else f"regexp_replace(text, '(\\S+)', 'r{i}\\1', 'g') AS text"
            )
            + ", lang, source, n_chars"
            f" FROM read_parquet('{src}/documents.parquet')"
        ),
    )
    dim = con.execute(
        f"SELECT len(embedding) FROM read_parquet('{src}/embeddings.parquet') LIMIT 1"
    ).fetchone()[0]

    def emb_replica(i: int) -> str:
        if i == 0:
            return (
                "SELECT vec_id, embedding, label"
                f" FROM read_parquet('{src}/embeddings.parquet')"
            )
        # per-replica orthogonal transform: signs from a hash, permutation
        # k -> (a*k + b) mod dim with a odd (bijective for dim a power of 2)
        a, b = 2 * i + 3, (i * 17) % dim
        return f"""
SELECT vec_id + {i * STRIDE} AS vec_id,
       [CAST((CASE WHEN hash(k * 97 + {i}) % 2 = 0 THEN 1 ELSE -1 END)
             * v[1 + (({a} * k + {b}) % {dim})] AS FLOAT)
        for k in range({dim})] AS embedding,
       label
FROM (
    SELECT vec_id, label,
           CASE WHEN vec_id % 50 = 7 AND prev IS NOT NULL
                THEN list_transform(prev, x -> x * 1.001 + 0.0001)
                ELSE embedding END AS v
    FROM (
        SELECT vec_id, embedding, label,
               lag(embedding) OVER (ORDER BY vec_id) AS prev
        FROM read_parquet('{src}/embeddings.parquet')
    )
)
"""

    emit("embeddings", emb_replica)
    print(f"done -> {out} (mult={mult})")


if __name__ == "__main__":
    main()
