#!/usr/bin/env python3
"""Derive a 10x dataset from ANY source SF dir (dev tool only — the
library never reads this output unless pointed at it). Generalizes
make_sf1.py: key shifts are read from the source tables instead of
hardcoded, so the script composes — sf0.1 -> sf1 -> sf10 -> ...

Per-copy perturbation mirrors make_sf1.py with one change: embeddings
use a copy-keyed SIGN-FLIP mask instead of rotation. Rotation does not
compose (rot_i . rot_j = rot_{i+j}, so a second decade would collide
copies into exact duplicates); a sign-flip mask preserves norms and
within-copy cosines while flip-pattern x rotation stays injective
across decades.

Usage: python3 scripts/make_scale.py <srcDir> <dstDir>
"""
import duckdb, os, sys

SRC, DST = sys.argv[1], sys.argv[2]
COPIES = 10

os.makedirs(DST, exist_ok=True)
con = duckdb.connect()
con.execute("SET threads TO 16")


def src(t):
    return f"read_parquet('{SRC}/{t}.parquet')"


def span(table, key):
    """Contiguous-shift base: max key + 1 (source keys start near 0/1)."""
    return con.execute(
        f"SELECT max({key}) + 1 FROM {src(table)}").fetchone()[0]


CUST = span("customer", "c_custkey")
SUPP = span("supplier", "s_suppkey")
PART = span("part", "p_partkey")
ORD = span("orders", "o_orderkey")
EVT = span("events", "event_id")
USR = span("events", "user_id")
DOC = span("documents", "doc_id")
VEC = span("embeddings", "vec_id")
DIM = con.execute(
    f"SELECT len(embedding) FROM {src('embeddings')} LIMIT 1").fetchone()[0]


def gen(table, per_copy):
    union = " UNION ALL ".join(per_copy(i) for i in range(COPIES))
    con.execute(
        f"COPY ({union}) TO '{DST}/{table}.parquet' (FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{DST}/{table}.parquet')"
    ).fetchone()[0]
    print(f"{table}: {n} rows")


for t in ("region", "nation"):
    con.execute(f"COPY (SELECT * FROM {src(t)}) TO '{DST}/{t}.parquet' "
                "(FORMAT PARQUET)")
    print(t, "copied")

gen("customer", lambda i: f"""
  SELECT c_custkey + {i * CUST} AS c_custkey, c_name, c_nationkey,
         c_acctbal, c_mktsegment FROM {src('customer')}""")

gen("supplier", lambda i: f"""
  SELECT s_suppkey + {i * SUPP} AS s_suppkey, s_name, s_nationkey,
         s_acctbal FROM {src('supplier')}""")

gen("part", lambda i: f"""
  SELECT p_partkey + {i * PART} AS p_partkey, p_name, p_brand, p_type,
         p_size, p_retailprice FROM {src('part')}""")

gen("orders", lambda i: f"""
  SELECT o_orderkey + {i * ORD} AS o_orderkey,
         o_custkey + {i * CUST} AS o_custkey,
         o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM {src('orders')}""")

gen("lineitem", lambda i: f"""
  SELECT l_orderkey + {i * ORD} AS l_orderkey,
         l_partkey + {i * PART} AS l_partkey,
         l_suppkey + {i * SUPP} AS l_suppkey,
         l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate FROM {src('lineitem')}""")

gen("events", lambda i: f"""
  SELECT event_id + {i * EVT} AS event_id, ts,
         user_id + {i * USR} AS user_id, event_type, value, props
  FROM {src('events')}""")

BS1 = "\\1"  # RE2 rewrite group ref (f-strings can't hold backslashes)

gen("documents", lambda i: f"""
  SELECT doc_id + {i * DOC} AS doc_id, text, lang, source,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM (SELECT doc_id, lang, source,
          {"text" if i == 0 else
           f"regexp_replace(text, '([A-Za-z0-9]+)', '{BS1}x{i}', 'g')"} AS text
        FROM {src('documents')})""")

# sign-flip mask for copy i: flip dim d (1-based) iff
# hash(d, i, VEC) is even. The decade-unique salt (VEC — the source key
# span, which grows 10x per decade) makes the mask FAMILY different in
# every decade: sign-flips commute (flip_i . flip_j = XOR of masks), so
# an unsalted family applied across two decades would make copy (i,j)
# and (j,i) exact duplicate embeddings under different vec_ids; with
# per-decade pseudo-random masks an (i,j)/(i',j') collision needs
# mask_i XOR mask_i' == mask_j XOR mask_j' across independent ~DIM-bit
# masks — vanishing for DIM >= 64. i=0 keeps the pristine originals.
gen("embeddings", lambda i: f"""
  SELECT vec_id + {i * VEC} AS vec_id,
         {"embedding" if i == 0 else
          f"CAST(list_transform(range(1, {DIM + 1}), d -> "
          f"CASE WHEN hash(d * 1000003 + {i} * 8191 + {VEC}) % 2 = 0 "
          f"THEN -embedding[d] "
          f"ELSE embedding[d] END) AS FLOAT[]) AS embedding"},
         label FROM {src('embeddings')}""")

# re-cast to the source's exact arrow schema (DuckDB normalizes
# timestamps; the driver's testdata may carry [ns]/[ms] units), and
# ALWAYS rewrite with bounded row groups: DuckDB's COPY emits ~123k-row
# groups, which left sf10 documents with FIVE row groups — Spark cannot
# split inside a row group, so every scan of the table was capped at
# 5-way parallelism on a 32-core box (the round-12 PartProbe, since
# removed; SURVEY.md's round-12 status records it: one partition
# held 25% of the corpus). Real lake tables at 100 TB have thousands of
# files x row groups; ~64 groups per table keeps the dev fixture's scan
# parallelism representative of that, not of a single fat COPY.
import pyarrow as pa
import pyarrow.parquet as pq

for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"):
    src_schema = pq.read_schema(f"{SRC}/{t}.parquet")
    dst_path = f"{DST}/{t}.parquet"
    tbl = pq.read_table(dst_path)
    target = pa.schema([src_schema.field(n) for n in tbl.schema.names])
    if tbl.schema != target:
        tbl = tbl.cast(target)
        print(f"{t}: schema re-cast to source types")
    pq.write_table(tbl, dst_path,
                   row_group_size=max(4096, tbl.num_rows // 64))

print("done ->", DST)
