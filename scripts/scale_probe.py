#!/usr/bin/env python3
"""10x data-scale stress probe (round 6).

Derives a 10x-row dataset from /root/testdata/sf0.1 into /tmp/sf1x —
fact tables replicated with remapped keys, dims kept fixed — and the
engine is then probed on both dirs with fresh-JVM timing:

    python3 scripts/scale_probe.py                 # generate /tmp/sf1x
    sbt -batch "runMain graft.Dev time /root/testdata/sf0.1 <Qs>"
    sbt -batch "runMain graft.Dev time /tmp/sf1x      <Qs>"

Key remapping keeps referential integrity (l_orderkey offsets match
o_orderkey offsets; o_custkey reuses the fixed customer dim — more
orders per customer, the realistic direction) and keeps doc_id % 10
uniform so the dedup family's 10% corpus sample scales with the
corpus. Document copies get copy-specific suffixes on ~1/3 of tokens:
identical copies would make every LSH bucket quadratic in the copy
factor BY CONSTRUCTION; near-dup copies (pairwise Jaccard ~0.5)
exercise the realistic duplication-dense regime instead. Results in
BASELINE.md ("10x scale probe").
"""
import duckdb

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1x"
COPIES = 10

con = duckdb.connect()

for t in ["region", "nation", "customer", "supplier", "part"]:
    con.execute(f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
                f"TO '{DST}/{t}.parquet' (FORMAT PARQUET)")

mx = con.execute(
    f"SELECT max(o_orderkey) FROM read_parquet('{SRC}/orders.parquet')"
).fetchone()[0]
OK = (mx // 10 + 1) * 10
con.execute(f"""COPY (SELECT o_orderkey + i*{OK} AS o_orderkey, o_custkey,
  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM read_parquet('{SRC}/orders.parquet'), range({COPIES}) t(i))
  TO '{DST}/orders.parquet' (FORMAT PARQUET)""")
con.execute(f"""COPY (SELECT l_orderkey + i*{OK} AS l_orderkey, l_partkey,
  l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
  l_returnflag, l_linestatus, l_shipdate
  FROM read_parquet('{SRC}/lineitem.parquet'), range({COPIES}) t(i))
  TO '{DST}/lineitem.parquet' (FORMAT PARQUET)""")

me = con.execute(
    f"SELECT max(event_id) FROM read_parquet('{SRC}/events.parquet')"
).fetchone()[0]
EK = (me // 10 + 1) * 10
con.execute(f"""COPY (SELECT event_id + i*{EK} AS event_id, ts, user_id,
  event_type, value, props
  FROM read_parquet('{SRC}/events.parquet'), range({COPIES}) t(i))
  TO '{DST}/events.parquet' (FORMAT PARQUET)""")

nd = con.execute(
    f"SELECT max(doc_id) FROM read_parquet('{SRC}/documents.parquet')"
).fetchone()[0]
DK = (nd // 10 + 1) * 10
con.execute(f"""COPY (SELECT doc_id + i*{DK} AS doc_id,
  CASE WHEN i = 0 THEN text ELSE array_to_string(
    [CASE WHEN (p['l2'] + i) % 3 = 0 THEN p['l1'] || 'x' || i::VARCHAR
          ELSE p['l1'] END
     for p in (SELECT list_zip(arr, range(1, len(arr)+1))
               FROM (SELECT string_split(text,' ') AS arr))
              ::STRUCT(l1 VARCHAR, l2 BIGINT)[]], ' ') END AS text,
  lang, source, n_chars
  FROM read_parquet('{SRC}/documents.parquet'), range({COPIES}) t(i))
  TO '{DST}/documents.parquet' (FORMAT PARQUET)""")

nv = con.execute(
    f"SELECT max(vec_id) FROM read_parquet('{SRC}/embeddings.parquet')"
).fetchone()[0]
VK = (nv // 10 + 1) * 10
con.execute(f"""COPY (SELECT vec_id + i*{VK} AS vec_id, embedding, label
  FROM read_parquet('{SRC}/embeddings.parquet'), range({COPIES}) t(i))
  TO '{DST}/embeddings.parquet' (FORMAT PARQUET)""")

for t in ["orders", "lineitem", "events", "documents", "embeddings"]:
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{DST}/{t}.parquet')"
    ).fetchone()[0]
    print(f"{t}: {n}")
