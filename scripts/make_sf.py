#!/usr/bin/env python3
"""Generate an sf1-equivalent fixture directory by replicating
/root/testdata/sf0.1 `copies`x (default 10 -> ~6M lineitem rows), for the
one-off full-gate run at a 10x step beyond the driver's largest fixture
(VERDICT r9 item 4). Replication keeps the data shape ORGANIC rather than
clique-hostile (that regime is tools.Soak's job):

- TPC-H tables use key offsets: copy k adds k*10^9 to every orderkey,
  custkey and suppkey column (lineitem, orders, customer, supplier), so
  keys never collide across copies and join cardinalities scale
  linearly; nation/region/part stay single-copy (small enough to
  broadcast, as in a real scale-up);
- documents get per-copy word suffixes (every token of copy k>0 becomes
  `tok_k`), so NO cross-copy n-gram/shingle overlap exists and the
  pair-quadratic queries (q44/q45/q98/q148...) scale linearly instead of
  growing copies-sized cliques;
- embeddings rotate their vector by `copy` positions (norms and value
  distribution preserved, cross-copy cosine decorrelated - no planted
  cos=1 cliques for q48/q97);
- events shift event_id/user_id (sessions/funnels scale linearly).

Correctness is unaffected by any of this: the gate compares Spark vs
DuckDB on the SAME generated parquet. The sf1 TPC-H bench lane is
graft.Bench over these tables (SPARK_GRAFT_SF_DIR=outDir,
SPARK_GRAFT_BENCH_ONLY=<rows>). Usage:
  python3 scripts/make_sf.py [outDir] [copies]
"""
import sys

import duckdb

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
src = "/root/testdata/sf0.1"

import os
os.makedirs(out, exist_ok=True)
con = duckdb.connect()
K = 10**9
D = 10**7


def gen(table, select_for_copy):
    parts = [select_for_copy(k) for k in range(copies)]
    sql = " UNION ALL ".join(parts)
    con.execute(
        f"COPY ({sql}) TO '{out}/{table}.parquet' (FORMAT PARQUET)")
    n = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{out}/{table}.parquet')"
    ).fetchone()[0]
    print(f"{table}: {n} rows")


def copy_single(table):
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet')) "
        f"TO '{out}/{table}.parquet' (FORMAT PARQUET)")
    print(f"{table}: single copy")


gen("lineitem", lambda k:
    f"SELECT * REPLACE (l_orderkey + {k*K} AS l_orderkey, "
    f"l_suppkey + {k*K} AS l_suppkey) "
    f"FROM read_parquet('{src}/lineitem.parquet')")
gen("orders", lambda k:
    f"SELECT * REPLACE (o_orderkey + {k*K} AS o_orderkey, "
    f"o_custkey + {k*K} AS o_custkey) "
    f"FROM read_parquet('{src}/orders.parquet')")
gen("customer", lambda k:
    f"SELECT * REPLACE (c_custkey + {k*K} AS c_custkey) "
    f"FROM read_parquet('{src}/customer.parquet')")
gen("supplier", lambda k:
    f"SELECT * REPLACE (s_suppkey + {k*K} AS s_suppkey) "
    f"FROM read_parquet('{src}/supplier.parquet')")
for t in ("nation", "region", "part"):
    copy_single(t)

gen("events", lambda k:
    f"SELECT * REPLACE (event_id + {k*K} AS event_id, "
    f"user_id + {k*D} AS user_id) "
    f"FROM read_parquet('{src}/events.parquet')")

gen("documents", lambda k:
    f"SELECT * REPLACE (doc_id + {k*D} AS doc_id"
    + ("" if k == 0 else
       f", array_to_string(list_transform(string_split(text, ' '), "
       f"w -> w || '_{k}'), ' ') AS text")
    + f") FROM read_parquet('{src}/documents.parquet')")

gen("embeddings", lambda k:
    f"SELECT * REPLACE (vec_id + {k*D} AS vec_id"
    + ("" if k == 0 else
       f", list_concat(embedding[{k+1}:], embedding[1:{k}]) AS embedding")
    + f") FROM read_parquet('{src}/embeddings.parquet')")

print("done ->", out)
