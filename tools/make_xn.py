"""Build an xN replication probe dataset at /tmp/sfx{N} with DISTINCT
content (replica-tagged words, offset keys, rotated/sign-flipped
embeddings): `python tools/make_xn.py 10` → /tmp/sfx10,
`python tools/make_xn.py 100` → /tmp/sfx100.

Replica 0 keeps the original rows. Embedding replicas use shift
r % 63 + a sign flip for r >= 63, giving 126 distinct directions; the
×100 set therefore has no duplicated embedding direction (note: ANN
probes beyond ×126 would need a different scheme).

``--grow-dims`` builds /tmp/sfx{N}d instead: part/supplier REPLICATE
with offset keys and lineitem's l_partkey/l_suppkey offset per replica
— rows-per-part stays CONSTANT as the corpus grows (more parts, same
depth), which is how a real 100× corpus grows. The default (fixed
dims) multiplies rows-per-part by N, so part-blocked pair queries
(q_bradley_terry) measure the dataset distortion, not the operator —
probe those on the d-variant."""
import sys

import duckdb

args = [a for a in sys.argv[1:] if not a.startswith("--")]
GROW_DIMS = "--grow-dims" in sys.argv
N = int(args[0]) if args else 100
OUT = f"/tmp/sfx{N}d" if GROW_DIMS else f"/tmp/sfx{N}"
SRC = "/root/testdata/sf0.1"

import os

os.makedirs(OUT, exist_ok=True)
con = duckdb.connect()

con.execute(f"""
COPY (
  SELECT d.doc_id + r.r * 10000000 AS doc_id,
         CASE WHEN r.r = 0 THEN d.text
              ELSE array_to_string(
                  list_transform(string_split(d.text, ' '),
                                 w -> w || 'x' || CAST(r.r AS VARCHAR)),
                  ' ')
         END AS text,
         d.lang,
         d.source,
         d.n_chars
  FROM '{SRC}/documents.parquet' d,
       (SELECT UNNEST(range({N})) AS r) r
) TO '{OUT}/documents.parquet' (FORMAT PARQUET)
""")
con.execute(f"""
COPY (
  SELECT e.event_id + r.r * 100000000 AS event_id,
         e.ts,
         e.user_id + r.r * 10000000 AS user_id,
         e.event_type,
         e.value,
         e.props
  FROM '{SRC}/events.parquet' e,
       (SELECT UNNEST(range({N})) AS r) r
) TO '{OUT}/events.parquet' (FORMAT PARQUET)
""")
con.execute(f"""
COPY (
  SELECT e.vec_id + r.r * 10000000 AS vec_id,
         CASE WHEN r.r = 0 THEN e.embedding
              WHEN r.r >= 63 THEN list_transform(
                  list_concat(e.embedding[(r.r % 63) + 1:],
                              e.embedding[1:(r.r % 63)]),
                  v -> -v)
              ELSE list_concat(e.embedding[r.r + 1:],
                               e.embedding[1:r.r])
         END AS embedding,
         e.label
  FROM '{SRC}/embeddings.parquet' e,
       (SELECT UNNEST(range({N})) AS r) r
) TO '{OUT}/embeddings.parquet' (FORMAT PARQUET)
""")
fixed_dims = ["region", "nation", "customer"]
if not GROW_DIMS:
    fixed_dims += ["supplier", "part"]
for t in fixed_dims:
    con.execute(
        f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
        f"TO '{OUT}/{t}.parquet' (FORMAT PARQUET)"
    )
if GROW_DIMS:
    con.execute(f"""
    COPY (
      SELECT p.p_partkey + r.r * 10000000 AS p_partkey,
             p.* EXCLUDE (p_partkey)
      FROM '{SRC}/part.parquet' p, (SELECT UNNEST(range({N})) AS r) r
    ) TO '{OUT}/part.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT s.s_suppkey + r.r * 10000000 AS s_suppkey,
             s.* EXCLUDE (s_suppkey)
      FROM '{SRC}/supplier.parquet' s, (SELECT UNNEST(range({N})) AS r) r
    ) TO '{OUT}/supplier.parquet' (FORMAT PARQUET)
    """)
con.execute(f"""
COPY (
  SELECT o.o_orderkey + r.r * 100000000 AS o_orderkey,
         o.* EXCLUDE (o_orderkey)
  FROM '{SRC}/orders.parquet' o, (SELECT UNNEST(range({N})) AS r) r
) TO '{OUT}/orders.parquet' (FORMAT PARQUET)
""")
lkeys = (
    """l.l_partkey + r.r * 10000000 AS l_partkey,
       l.l_suppkey + r.r * 10000000 AS l_suppkey,
       l.* EXCLUDE (l_orderkey, l_partkey, l_suppkey)"""
    if GROW_DIMS
    else "l.* EXCLUDE (l_orderkey)"
)
con.execute(f"""
COPY (
  SELECT l.l_orderkey + r.r * 100000000 AS l_orderkey,
         {lkeys}
  FROM '{SRC}/lineitem.parquet' l, (SELECT UNNEST(range({N})) AS r) r
) TO '{OUT}/lineitem.parquet' (FORMAT PARQUET)
""")
print("done", OUT)
