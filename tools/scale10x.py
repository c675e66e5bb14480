#!/usr/bin/env python3
"""Build the 10x scale-up corpus used by the round-10 decade drive.

Replicates /root/testdata/sf0.1 into an sf1-equivalent volume with
CONTENT-DIVERSE replicas, so every pipeline's work actually grows:

- documents: replica i>0 suffixes every token with `_r<i>`, making the
  replicas token-disjoint sub-corpora — dup/pair volume scales linearly
  with data instead of quadratically (10 exact copies of every doc would
  make near-dup candidate volume explode 100x and measure nothing).
- embeddings: deterministic value-dependent perturbation
  (x + 0.05*sin(97x + 0.7*vec_id + i)) — cosine structure preserved, no
  exact copies, no RNG (reruns are bit-identical).
- events/orders/lineitem: key-shifted replicas (ids offset by i*1e7) —
  10x users, orders and line items over the SAME dimension tables, the
  fact/dim growth asymmetry a real warehouse has.
- region/nation/customer/supplier/part: copied as-is (dimensions).

Usage:
  python3 tools/scale10x.py [src_sfdir] [dst_dir] [replicas]
  # defaults: /root/testdata/sf0.1 /tmp/sf1x 10

Then drive it like any other SF directory:
  sbt "runMain graft.Verify /tmp/sf1x /tmp/v10x"
  python3 tools/check.py /tmp/sf1x /tmp/v10x          # correctness at 10x

perfbench/run.py builds its `curate_scaled` corpus with this tool
(perfbench/data/sf0.01, 2 replicas) and times the headlines on it.

Caveats (documented in BENCH_LOCAL.md): a replica corpus is not a
bigger world — vocabulary grows linearly (real corpora grow sublinearly)
and perturbed query vectors gain easy neighbors, so RATIOS and
occupancy/cost laws are the measurement, not absolute recall.
"""
import sys, os, shutil
import duckdb

def main():
    src = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.1'
    dst = sys.argv[2] if len(sys.argv) > 2 else '/tmp/sf1x'
    R = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    OFF = 10_000_000
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    con = duckdb.connect()

    for t in ['region', 'nation', 'customer', 'supplier', 'part']:
        con.sql(f"COPY (SELECT * FROM '{src}/{t}.parquet') "
                f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)")

    def rep(table, select_tpl):
        parts = " UNION ALL ".join(select_tpl.format(i=i) for i in range(R))
        con.sql(f"COPY ({parts}) TO '{dst}/{table}.parquet' (FORMAT PARQUET)")

    rep('documents', f"""
      SELECT doc_id + {{i}}*{OFF} AS doc_id,
        CASE WHEN {{i}} = 0 THEN text
             ELSE array_to_string([t || '_r{{i}}' for t in string_split(text, ' ')], ' ') END AS text,
        lang, source,
        CAST(length(CASE WHEN {{i}} = 0 THEN text
             ELSE array_to_string([t || '_r{{i}}' for t in string_split(text, ' ')], ' ') END) AS BIGINT) AS n_chars
      FROM '{src}/documents.parquet'""")

    rep('embeddings', f"""
      SELECT vec_id + {{i}}*{OFF} AS vec_id,
        CASE WHEN {{i}} = 0 THEN embedding
             ELSE list_transform(embedding, x -> CAST(x + 0.05*sin(x*97.0 + vec_id*0.7 + {{i}}) AS FLOAT)) END AS embedding,
        label
      FROM '{src}/embeddings.parquet'""")

    rep('events', f"""
      SELECT event_id + {{i}}*{OFF} AS event_id, ts,
        user_id + {{i}}*{OFF} AS user_id, event_type, value, props
      FROM '{src}/events.parquet'""")

    rep('orders', f"""
      SELECT o_orderkey + {{i}}*{OFF} AS o_orderkey, o_custkey, o_orderstatus,
        o_totalprice, o_orderdate, o_orderpriority
      FROM '{src}/orders.parquet'""")

    rep('lineitem', f"""
      SELECT l_orderkey + {{i}}*{OFF} AS l_orderkey, l_partkey, l_suppkey,
        l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
        l_returnflag, l_linestatus, l_shipdate
      FROM '{src}/lineitem.parquet'""")

    for t in ['documents', 'embeddings', 'events', 'orders', 'lineitem']:
        n = con.sql(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(t, n)

if __name__ == '__main__':
    main()
