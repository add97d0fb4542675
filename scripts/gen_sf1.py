"""Generate sf1 fixtures (~6 M lineitem rows) by tiling sf0.1 ten times.

The driver provides sf0.001/0.01/0.1 only (TESTDATA.md, read-only); the
scaling curve in SCALING.md needs one decade more to substantiate the 100×
claim beyond sf0.1 (VERDICT r3 #5).  Each copy i offsets every key column by
i × (that table's sf0.1 key cardinality), so join fan-outs, group
cardinality growth, and value distributions are EXACTLY those of sf0.1 at
10× the volume — the cleanest apples-to-apples scale-up short of the
driver's own generator (whose seed/recipe is not available to the repo).

Dimension tables that a 10× TPC-H scale-up would hold constant (region,
nation) are copied as-is.  Users, documents, and vectors are distinct per
copy (ids offset), so per-entity windows/sessions keep their sf0.1 shape.

Two tables get content perturbation, not plain copies, because exact
duplicates would change the WORKLOAD, not just the volume:
- documents: copies i>0 get a deterministic word shuffle (same words, same
  unigram stats, different shingles), otherwise every doc has 9 exact
  near-dup partners and dedup_minhash_lsh's candidate-pair count grows
  quadratically in the copy count (measured: 34 s vs 4 s) — duplicate
  density, not data volume.
- embeddings: copies i>0 get a circular dimension rotation (norm- and
  distribution-preserving) so sign-LSH buckets scatter instead of holding
  10 identical vectors each.

Usage: python scripts/gen_sf1.py [out_dir]   (default /tmp/sg-sf1)
Then:  SPARK_GRAFT_SF_DIR=/tmp/sg-sf1 python scripts/measure_stages.py
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
COPIES = 10

# table -> {column: cardinality-stride}; every key column is offset by
# copy_i * stride.  Strides are the sf0.1 table sizes (TESTDATA.md).
OFFSETS = {
    "customer": {"c_custkey": 15_000},
    "supplier": {"s_suppkey": 1_000},
    "part": {"p_partkey": 20_000},
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {
        "l_orderkey": 150_000,
        "l_partkey": 20_000,
        "l_suppkey": 1_000,
    },
    "events": {"event_id": 100_000, "user_id": 100_000},
}
COPY_AS_IS = ["region", "nation"]

DOCUMENTS_SQL = f"""
    WITH split AS (
        SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS sp
        FROM read_parquet('{SRC}/documents.parquet')
    ),
    words AS (
        /* parallel unnests zip positionally in DuckDB: (word, position) */
        SELECT s.doc_id, s.lang, s.source, s.n_chars, i.i,
               unnest(s.sp) AS w,
               unnest(range(1, len(s.sp) + 1)) AS pos
        FROM split s
             CROSS JOIN generate_series(0, {COPIES - 1}) i(i)
    )
    SELECT doc_id + i * 5000 AS doc_id,
           string_agg(
               w, ' '
               ORDER BY CASE WHEN i = 0 THEN lpad(CAST(pos AS VARCHAR), 8, '0')
                             ELSE md5(CAST(i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)
                                      || ':' || CAST(pos AS VARCHAR)) END
           ) AS text,
           lang, source, n_chars
    FROM words
    GROUP BY doc_id, i, lang, source, n_chars
"""

EMBEDDINGS_SQL = f"""
    SELECT vec_id + i.i * 2000 AS vec_id,
           CAST(list_transform(range(0, 64),
                               j -> embedding[1 + ((j + i.i * 7) % 64)])
                AS FLOAT[]) AS embedding,
           label
    FROM read_parquet('{SRC}/embeddings.parquet'),
         generate_series(0, {COPIES - 1}) i(i)
"""

PERTURBED = {"documents": DOCUMENTS_SQL, "embeddings": EMBEDDINGS_SQL}


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sg-sf1"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for name in COPY_AS_IS:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{name}.parquet')) "
            f"TO '{out}/{name}.parquet' (FORMAT parquet)"
        )
        print(f"{name}: copied")
    for name, offsets in OFFSETS.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{name}.parquet')"
            ).fetchall()
        ]
        proj = ", ".join(
            f"{c} + i.i * {offsets[c]} AS {c}" if c in offsets else c for c in cols
        )
        con.execute(
            f"COPY (SELECT {proj} "
            f"      FROM read_parquet('{SRC}/{name}.parquet'), "
            f"           generate_series(0, {COPIES - 1}) i(i)) "
            f"TO '{out}/{name}.parquet' (FORMAT parquet)"
        )
        n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out}/{name}.parquet')").fetchone()[0]
        print(f"{name}: {n} rows")
    for name, sql in PERTURBED.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")
        n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out}/{name}.parquet')").fetchone()[0]
        print(f"{name}: {n} rows (perturbed copies)")


if __name__ == "__main__":
    main()
