"""Seeded input generator for the benchmark workloads.

Every table is synthesized by DuckDB from the seed alone (hash-based
pseudo-randomness), with the schema and base row counts of the TPC-H-ish
sf0.1 test tables (lineitem 600k, orders 150k, customer 15k, part 20k,
documents 5k, embeddings 2k). The same (workload, seed) always gives
byte-identical inputs. Per workload:

  bag_relational   lineitem/orders/customer/part at a quarter of the base
                   size, replicated REL_COPIES times; copy r shifts every key
                   by r * KEY_SHIFT so joins stay inside a copy and result
                   sizes scale with the copies.
  corpus_curation  documents at half the base size, replicated DOC_COPIES
                   times: each row of copy r > 0 is, with probability
                   DUP_PROB, a near-duplicate of its copy-0 row (each token
                   replaced with probability EDIT_PROB) and otherwise a fresh
                   document; embeddings replicated EMB_COPIES times with
                   seeded jitter.
  state_lifecycle  events at the base size, embeddings at half of it,
                   documents at a quarter, orders and customer at a tenth;
                   no replication.

Each table is a directory with one parquet file per copy. A manifest.json
written last records row
counts, bytes and the documents' duplicate rate; its presence marks the
directory complete, so each seed is generated once.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import shutil
import sys

import duckdb

# (relational, document, embedding) scale of the base tables per workload
SCALES = {"bag_relational": (0.25, 1.0, 1.0), "corpus_curation": (1.0, 0.5, 1.0),
          "state_lifecycle": (0.1, 0.25, 0.5)}
REL_COPIES = 2
DOC_COPIES = 2
EMB_COPIES = 2
DUP_PROB = 0.35
EDIT_PROB = 0.10
KEY_SHIFT = 10_000_000

N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_PART = 20_000
N_DOCS = 5_000
N_EMB = 2_000
N_EVENTS = 20_000
DIM = 64
N_LABELS = 8

VOCAB = ("the a an and or of to in is it spark batch part line column order "
         "small sort fast value scan hash slow group agg filter query big key "
         "window row table stream merge data join customer vector plan shuffle "
         "cache fold bag node edge graph rank index probe token merge state "
         "commit file store write read loop round").split()

WORKLOADS = ("bag_relational", "corpus_curation", "state_lifecycle")


def h(seed: int, *parts, salt: str) -> str:
    """SQL for a pseudo-random non-negative integer keyed on the SQL
    expressions `parts`, a per-use salt and the seed."""
    return f"(hash({', '.join(map(str, parts))}, '{salt}', {seed}) >> 1)::BIGINT"


def u(seed: int, *parts, salt: str) -> str:
    """SQL for a pseudo-uniform double in [0, 1), keyed like `h`."""
    return f"({h(seed, *parts, salt=salt)} % 1000003) / 1000003.0"


def base_tables(con, seed: int, rel_scale: float, doc_scale: float, emb_scale: float):
    """Create the base relations as DuckDB temp tables; the relational ones
    (customer, part, orders, lineitem) at `rel_scale`, the documents at
    `doc_scale` and the embeddings at `emb_scale` times the base size."""
    n_cust, n_part, n_orders = (int(n * rel_scale) for n in (N_CUSTOMER, N_PART, N_ORDERS))
    n_docs = int(N_DOCS * doc_scale)
    n_emb = int(N_EMB * emb_scale)
    con.execute(f"""CREATE TEMP TABLE customer AS
      SELECT i::BIGINT AS c_custkey, printf('Customer#%09d', i) AS c_name,
             ({h(seed, 'i', salt='cn')} % 25)::INTEGER AS c_nationkey,
             round(-999.99 + {u(seed, 'i', salt='cb')} * 10999.98, 2)::DOUBLE AS c_acctbal,
             (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])
               [1 + {h(seed, 'i', salt='cs')} % 5] AS c_mktsegment
      FROM range({n_cust}) t(i)""")
    con.execute(f"""CREATE TEMP TABLE part AS
      SELECT i::BIGINT AS p_partkey,
             (['large','small','hot','cold','shiny'])[1 + {h(seed, 'i', salt='pa')} % 5] || ' ' ||
             (['ring','bolt','gear','pipe','valve'])[1 + {h(seed, 'i', salt='pb')} % 5] AS p_name,
             'Brand#' || (1 + {h(seed, 'i', salt='pr')} % 25) AS p_brand,
             (['LARGE','ECONOMY','STANDARD','PROMO','MEDIUM'])[1 + {h(seed, 'i', salt='pt')} % 5] AS p_type,
             (1 + {h(seed, 'i', salt='ps')} % 50)::INTEGER AS p_size,
             round(900 + (i % 20000) / 10.0, 2)::DOUBLE AS p_retailprice
      FROM range({n_part}) t(i)""")
    con.execute(f"""CREATE TEMP TABLE orders AS
      SELECT i::BIGINT AS o_orderkey,
             ({h(seed, 'i', salt='oc')} % {n_cust})::BIGINT AS o_custkey,
             (['F','O','P'])[1 + {h(seed, 'i', salt='os')} % 3] AS o_orderstatus,
             round(850 + {u(seed, 'i', salt='op')} * 499000, 2)::DOUBLE AS o_totalprice,
             (TIMESTAMP '1992-01-01' + to_days(({h(seed, 'i', salt='od')} % 2400)::INTEGER)) AS o_orderdate,
             (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])
               [1 + {h(seed, 'i', salt='oo')} % 5] AS o_orderpriority
      FROM range({n_orders}) t(i)""")
    # 1-7 lines per order: slot i of 7 per order, kept below the order's count
    con.execute(f"""CREATE TEMP TABLE lineitem AS
      WITH l AS (SELECT i // 7 AS o_orderkey, i % 7 AS ln FROM range({n_orders * 7}) t(i)
                 WHERE i % 7 <= {h(seed, 'i // 7', salt='ln')} % 7)
      SELECT l.o_orderkey::BIGINT AS l_orderkey,
             ({h(seed, 'l.o_orderkey', 'ln', salt='lp')} % {n_part})::BIGINT AS l_partkey,
             ({h(seed, 'l.o_orderkey', 'ln', salt='lsu')} % 1000)::BIGINT AS l_suppkey,
             (ln + 1)::INTEGER AS l_linenumber,
             (1 + {h(seed, 'l.o_orderkey', 'ln', salt='lq')} % 50)::DOUBLE AS l_quantity,
             round((1 + {h(seed, 'l.o_orderkey', 'ln', salt='lq')} % 50) *
                   (900 + ({h(seed, 'l.o_orderkey', 'ln', salt='lp')} % {n_part}) / 10.0), 2)::DOUBLE
               AS l_extendedprice,
             (({h(seed, 'l.o_orderkey', 'ln', salt='ld')} % 11) / 100.0)::DOUBLE AS l_discount,
             (({h(seed, 'l.o_orderkey', 'ln', salt='lt')} % 9) / 100.0)::DOUBLE AS l_tax,
             (['R','A','N'])[1 + {h(seed, 'l.o_orderkey', 'ln', salt='lr')} % 3] AS l_returnflag,
             (['O','F'])[1 + {h(seed, 'l.o_orderkey', 'ln', salt='ls')} % 2] AS l_linestatus,
             o.o_orderdate + to_days((1 + {h(seed, 'l.o_orderkey', 'ln', salt='lsd')} % 121)::INTEGER)
               AS l_shipdate
      FROM l JOIN orders o ON o.o_orderkey = l.o_orderkey""")
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    # documents as flat (base_id, j, word) rows: 12-81 words each, a word
    # now and then carries punctuation so the text signals see some
    con.execute(f"""CREATE TEMP TABLE doc_meta AS
      SELECT i AS base_id, 12 + {h(seed, 'i', salt='dn')} % 70 AS n_words,
             (['en','en','es','de','fr','zh'])[1 + {h(seed, 'i', salt='dl')} % 6] AS lang,
             'src' || ({h(seed, 'i', salt='ds')} % 5) AS source
      FROM range({n_docs}) t(i)""")
    con.execute(f"""CREATE TEMP TABLE doc_words AS
      SELECT base_id, j, {vocab}[1 + {h(seed, 'base_id', 'j', salt='dw')} % {len(VOCAB)}] ||
                         CASE WHEN {h(seed, 'base_id', 'j', salt='dp')} % 23 = 0 THEN '.' ELSE '' END AS w
      FROM doc_meta CROSS JOIN range(82) t(j) WHERE j < n_words""")
    con.execute(f"""CREATE TEMP TABLE embeddings AS
      WITH c AS (SELECT l, list_transform(range({DIM}), d -> ({u(seed, 'l', 'd', salt='ec')} - 0.5) * 0.6)
                          AS center FROM range({N_LABELS}) t(l))
      SELECT i::BIGINT AS vec_id,
             list_transform(center, (x, d) -> (x + ({u(seed, 'i', 'd', salt='en')} - 0.5) * 0.3)::FLOAT)
               AS embedding,
             l::INTEGER AS label
      FROM range({n_emb}) t(i) JOIN c ON c.l = {h(seed, 'i', salt='el')} % {N_LABELS}""")
    con.execute(f"""CREATE TEMP TABLE events AS
      SELECT i::BIGINT AS event_id,
             TIMESTAMP '2024-01-01' + to_microseconds(({h(seed, 'i', salt='et')} % 2592000000000)::BIGINT) AS ts,
             ({h(seed, 'i', salt='eu')} % 1500)::BIGINT AS user_id,
             (['signup','click','error','view','purchase'])[1 + {h(seed, 'i', salt='ey')} % 5] AS event_type,
             round({u(seed, 'i', salt='ev')} * 200, 2)::DOUBLE AS value,
             '{{"k": ' || ({h(seed, 'i', salt='ek')} % 100) || '}}' AS props
      FROM range({N_EVENTS}) t(i)""")


def documents_sql(seed: int, copy: int) -> str:
    """SQL for copy `copy` of the documents (copy 0 is the base corpus)."""
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    if copy == 0:
        words = "SELECT base_id, j, w FROM doc_words"
        dup = "false"
    else:
        dup = f"{u(seed, 'base_id', copy, salt='dd')} < {DUP_PROB}"
        edited = (f"SELECT base_id, j, CASE WHEN {u(seed, 'base_id', 'j', copy, salt='de')} < {EDIT_PROB} "
                  f"THEN {vocab}[1 + {h(seed, 'base_id', 'j', copy, salt='dr')} % {len(VOCAB)}] "
                  f"ELSE w END AS w FROM doc_words JOIN doc_meta USING (base_id) WHERE {dup}")
        fresh = (f"SELECT base_id, j, {vocab}[1 + {h(seed, 'base_id', 'j', copy, salt='fw')} % {len(VOCAB)}] AS w "
                 f"FROM doc_meta CROSS JOIN range(82) t(j) "
                 f"WHERE j < 12 + {h(seed, 'base_id', copy, salt='fn')} % 70 AND NOT ({dup})")
        words = f"{edited} UNION ALL {fresh}"
    return f"""SELECT ({copy} * {KEY_SHIFT} + base_id)::BIGINT AS doc_id, text, lang, source,
                      length(text)::BIGINT AS n_chars, {dup} AS is_dup
               FROM (SELECT base_id, string_agg(w, ' ' ORDER BY j) AS text
                     FROM ({words}) GROUP BY base_id) JOIN doc_meta USING (base_id)"""


def copy_sql(table: str, seed: int, copy: int) -> str:
    """SQL for copy `copy` of a relational or embedding table, keys shifted."""
    s = copy * KEY_SHIFT
    if table == "customer":
        return f"SELECT * REPLACE (c_custkey + {s} AS c_custkey) FROM customer"
    if table == "part":
        return f"SELECT * REPLACE (p_partkey + {s} AS p_partkey) FROM part"
    if table == "orders":
        return (f"SELECT * REPLACE (o_orderkey + {s} AS o_orderkey, "
                f"o_custkey + {s} AS o_custkey) FROM orders")
    if table == "lineitem":
        return (f"SELECT * REPLACE (l_orderkey + {s} AS l_orderkey, "
                f"l_partkey + {s} AS l_partkey) FROM lineitem")
    if table == "embeddings":
        if copy == 0:
            return "SELECT * FROM embeddings"
        return (f"SELECT vec_id + {s} AS vec_id, list_transform(embedding, (x, d) -> "
                f"(x + ({u(seed, 'vec_id', 'd', copy, salt='ej')} - 0.5) * 0.02)::FLOAT) AS embedding, "
                f"label FROM embeddings")
    if table == "events":
        return "SELECT * FROM events"
    raise ValueError(table)


def layout(workload: str):
    """(table, copies) pairs the workload reads."""
    if workload == "bag_relational":
        return [(t, REL_COPIES) for t in ("lineitem", "orders", "customer", "part")]
    if workload == "corpus_curation":
        return [("documents", DOC_COPIES), ("embeddings", EMB_COPIES)]
    if workload == "state_lifecycle":
        return [(t, 1) for t in ("orders", "customer", "documents", "embeddings", "events")]
    raise ValueError(f"unknown workload {workload}")


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs for `seed` under out_dir (once) and return
    the manifest."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET preserve_insertion_order = true")
    base_tables(con, seed, *SCALES[workload])
    tables = {}
    dup_docs = 0
    for table, copies in layout(workload):
        tdir = os.path.join(out_dir, table)
        os.makedirs(tdir)
        rows = 0
        for c in range(copies):
            sql = documents_sql(seed, c) if table == "documents" else copy_sql(table, seed, c)
            if table == "documents":
                dup_docs += con.execute(f"SELECT count(*) FROM ({sql}) WHERE is_dup").fetchone()[0]
                sql = f"SELECT * EXCLUDE (is_dup) FROM ({sql})"
            key = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id",
                   "customer": "c_custkey", "part": "p_partkey", "orders": "o_orderkey",
                   "lineitem": "l_orderkey, l_linenumber"}[table]
            path = os.path.join(tdir, f"part-{c:03d}.parquet")
            con.execute(f"COPY ({sql} ORDER BY {key}) TO '{path}' "
                        f"(FORMAT PARQUET, ROW_GROUP_SIZE 65536)")
            rows += con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        nbytes = sum(os.path.getsize(os.path.join(tdir, f)) for f in os.listdir(tdir))
        tables[table] = {"rows": rows, "bytes": nbytes, "files": copies}
    con.close()
    manifest = {"workload": workload, "seed": seed, "tables": tables}
    if "documents" in tables:
        manifest["documents_dup_rate"] = dup_docs / tables["documents"]["rows"]
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py {{{'|'.join(WORKLOADS)}}} <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
