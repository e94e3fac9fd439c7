"""DuckDB oracles: the expected output of every pipeline, computed from the
same generated inputs by DuckDB (never by the engine under test), and the
comparison with what a run wrote to outputs/<pipeline>.json.

Floating-point results on both sides come from the same IEEE-754 operation
sequence (exact integer or decimal sums, `floor(x * 10^d + 0.5) / 10^d`
rounding), so values are compared exactly; doubles get a 1e-12 relative
tolerance for the last bit of a sum whose order differs."""
import hashlib
import json
import math
import os

import duckdb

# ------------------------------------------------------------ shared CTEs

SHINGLES = (
    "t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), "
    "sh AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2), "
    "i -> array_to_string(toks[i:i+2], ' ')))) AS shingle FROM t WHERE len(toks) >= 3)")

SIG = "sig AS MATERIALIZED (SELECT doc_id, " + ", ".join(
    f"MIN(substr(md5('{h // 4}-' || shingle), {1 + 8 * (h % 4)}, 8)) AS mh{h}" for h in range(8)
) + " FROM sh GROUP BY doc_id)"

BANDROWS = "bandrows AS (" + " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, mh{2 * b} || '|' || mh{2 * b + 1} AS band_key FROM sig"
    for b in range(4)) + ")"


def jaccard_pairs(threshold: float) -> str:
    """`pairs` CTE: candidate pairs in `cand` with their rounded Jaccard."""
    return (
        "cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT id1, id2, COUNT(*) AS c FROM cand "
        "JOIN sh s1 ON id1 = s1.doc_id JOIN sh s2 ON id2 = s2.doc_id AND s1.shingle = s2.shingle "
        "GROUP BY id1, id2), "
        "pairs AS (SELECT id1, id2, jaccard FROM (SELECT id1, id2, "
        "floor(CAST(c AS DOUBLE) / CAST(c1.n + c2.n - c AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 "
        "AS jaccard FROM inter JOIN cnt c1 ON id1 = c1.doc_id JOIN cnt c2 ON id2 = c2.doc_id) x "
        f"WHERE jaccard >= {threshold})")


def cosine_pairs(query_where: str, extra: str = "") -> str:
    """`r` CTE: rounded cosine of every (query, corpus) embedding pair."""
    def dot(a, b):
        return (f"list_sum(list_transform(generate_series(1, len({a})), "
                f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")
    return (
        f"q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings WHERE {query_where}), "
        "c AS (SELECT vec_id AS did, embedding AS dv, label AS cl FROM embeddings), "
        f"p AS (SELECT qid, did, {dot('qv', 'dv')} AS dot, sqrt({dot('qv', 'qv')}) AS nq, "
        f"sqrt({dot('dv', 'dv')}) AS nd FROM q CROSS JOIN c WHERE qid <> did {extra}), "
        "r AS (SELECT qid, did, floor(dot / (nq * nd) * 10000.0 + 0.5) / 10000.0 AS sim FROM p)")


def top_k(k: int) -> str:
    return ("SELECT qid, did, sim, rank FROM (SELECT qid, did, sim, "
            "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, did) AS rank FROM r) x "
            f"WHERE rank <= {k}")


CENTS = "CAST(floor({} * 100 + 0.5) AS BIGINT)"


def pagerank(iterations: int) -> str:
    iters = ", ".join(
        f"r{i} AS (SELECT v.vertex, 150000000 + (85 * COALESCE(s.s, 0)) // 100 AS r "
        f"FROM v LEFT JOIN (SELECT e.dst AS vertex, SUM(r.r // od.odeg) AS s "
        f"FROM e JOIN od ON e.src = od.src JOIN r{i - 1} r ON r.vertex = e.src "
        "GROUP BY 1) s ON v.vertex = s.vertex)" for i in range(1, iterations + 1))
    return (
        "WITH raw AS (SELECT o_custkey % 101 AS src, o_orderkey % 101 AS dst FROM orders "
        "WHERE o_orderkey % 5 = 0), "
        "e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst), "
        "od AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY 1), "
        "v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e), "
        "r0 AS (SELECT vertex, CAST(1000000000 AS BIGINT) AS r FROM v), "
        f"{iters} SELECT vertex, CAST(r AS BIGINT) AS rank_scaled FROM r{iterations}")


def kmeans(k: int, iterations: int) -> str:
    """Lloyd's algorithm as `KMeans.centroids` runs it: the k lowest ids as
    initial centroids, each point to its nearest centroid (ties to the lower
    cluster id), centroids to the mean of their points (an empty cluster
    keeps its centroid); then every point assigned to the final centroids."""
    dist = ("list_sum(list_transform(generate_series(1, len(p.v)), "
            "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))")

    def assign(i):
        return (f"a{i} AS (SELECT id, v, cid FROM (SELECT p.id, p.v, c.cid, row_number() OVER "
                f"(PARTITION BY p.id ORDER BY {dist}, c.cid) AS rn FROM pts p CROSS JOIN c{i - 1} c) "
                "x WHERE rn = 1)")

    steps = [assign(1)]
    for i in range(1, iterations + 1):
        steps.append(
            f"m{i} AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (SELECT cid, pos, avg(x) AS m "
            f"FROM (SELECT cid, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM a{i}) "
            "y GROUP BY cid, pos) z GROUP BY cid), "
            f"c{i} AS MATERIALIZED (SELECT o.cid, COALESCE(m{i}.cv, o.cv) AS cv FROM c{i - 1} o "
            f"LEFT JOIN m{i} ON o.cid = m{i}.cid)")
        steps.append(assign(i + 1))
    return (
        "WITH pts AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings), "
        "c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv FROM "
        f"(SELECT id, v FROM pts ORDER BY id LIMIT {k}) s), "
        + ", ".join(steps) + f" SELECT id AS vec_id, cid AS cluster FROM a{iterations + 1}")


BALANCES = (
    "WITH base AS (SELECT c_custkey AS k, " + CENTS.format("c_acctbal") + " AS cents FROM customer), "
    "msg AS (SELECT o_custkey AS k, " + CENTS.format("o_totalprice") + " AS cents "
    "FROM orders WHERE o_orderkey % 1000 < 40){extra} "
    "SELECT k AS c_custkey, CAST(SUM(cents) AS BIGINT) AS balance_cents FROM "
    "(SELECT * FROM base UNION ALL SELECT * FROM msg{union}) GROUP BY 1{having}")

ORACLES = {
    # ---------------------------------------------------------- bag_relational
    "rel_fold_all":
        "SELECT COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
        "CAST(SUM(" + CENTS.format("l_extendedprice") + ") AS BIGINT) AS price_cents, "
        "MAX(l_quantity) AS max_qty, COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc "
        "FROM lineitem",
    "rel_fold_group":
        "SELECT o_custkey, COUNT(*) AS n_orders, "
        "CAST(SUM(" + CENTS.format("o_totalprice") + ") AS BIGINT) AS total_cents "
        "FROM orders GROUP BY 1",
    "rel_equi_join":
        "SELECT c_mktsegment, COUNT(*) AS n_orders, "
        "CAST(SUM(" + CENTS.format("o_totalprice") + ") AS BIGINT) AS total_cents "
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1",
    "rel_semi_anti":
        "WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000.0) "
        "SELECT COUNT(*) FILTER (WHERE o_custkey IS NOT NULL) AS n_semi, "
        "COUNT(*) FILTER (WHERE o_custkey IS NULL) AS n_anti "
        "FROM customer LEFT JOIN big ON c_custkey = o_custkey",
    "rel_cross":
        "SELECT s AS segment, COUNT(*) AS n FROM (SELECT DISTINCT c_mktsegment AS s FROM customer) "
        "CROSS JOIN part WHERE p_size = 1 GROUP BY 1",
    "rel_set_ops":
        "WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders), "
        "b AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 0.0) "
        "SELECT (SELECT COUNT(*) FROM (SELECT k FROM a INTERSECT SELECT k FROM b)) AS n_intersect, "
        "(SELECT COUNT(*) FROM (SELECT k FROM a EXCEPT SELECT k FROM b)) AS n_except, "
        "(SELECT COUNT(*) FROM (SELECT k FROM a UNION SELECT k FROM b)) AS n_union",
    "rel_sample":
        "SELECT CAST(LEAST(64, COUNT(*)) AS BIGINT) AS n_sampled, true AS all_in_source FROM lineitem",
    "comp_join":
        "SELECT o_orderkey, c_name, CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents "
        "FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_acctbal > 9000.0",
    "comp_fold_group":
        "SELECT c_custkey, "
        "(SELECT COUNT(*) FROM orders o WHERE o.o_custkey = cu.c_custkey "
        "AND o.o_totalprice > 100000.0) AS big_orders, "
        "(SELECT COALESCE(CAST(SUM(" + CENTS.format("o.o_totalprice") + ") AS BIGINT), 0) "
        "FROM orders o WHERE o.o_custkey = cu.c_custkey) AS total_cents "
        "FROM customer cu WHERE c_acctbal > 0.0",
    "comp_depth3":
        "SELECT cu.c_custkey, " + CENTS.format("l.l_quantity") + " + o.o_orderkey AS v "
        "FROM customer cu JOIN orders o ON o.o_custkey = cu.c_custkey "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_totalprice > 450000.0 AND l.l_quantity > 48.0",
    "lib_stats":
        "WITH a AS (SELECT COUNT(l_quantity) AS n, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_x, "
        "CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sumsq, "
        "MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM lineitem), "
        "m AS (SELECT n, sum_x / n AS mean, sumsq, mn, mx FROM a) "
        "SELECT n, mean, (sumsq - ((mean * mean) * n)) / (n - 1) AS variance, "
        "sqrt((sumsq - ((mean * mean) * n)) / (n - 1)) AS stddev, mn, mx FROM m",

    # --------------------------------------------------------- corpus_curation
    "normalize":
        "SELECT doc_id, md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) "
        "AS norm_md5, length(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) "
        "AS norm_len FROM documents",
    "quality":
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len(toks) AS BIGINT) AS n_tokens, "
        "floor((CAST(length(text) AS DOUBLE) - CAST(len(toks) AS DOUBLE) + 1) / CAST(len(toks) AS DOUBLE) "
        "* 10000.0 + 0.5) / 10000.0 AS mean_token_len, "
        "floor(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / "
        "CAST(length(text) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS punct_ratio, "
        "floor(CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) "
        "AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio, "
        "floor(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / "
        "CAST(length(text) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio, "
        "floor(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) "
        "/ 10000.0 AS uniqueness "
        "FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents) t",
    "near_dups":
        f"WITH {SHINGLES}, {SIG}, {BANDROWS}, "
        "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bandrows a "
        "JOIN bandrows b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id), "
        f"{jaccard_pairs(0.2)} SELECT id1, id2, jaccard FROM pairs",
    "bpe_encode":
        "WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents) "
        "SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(length(w)) AS BIGINT) AS n_chars "
        "FROM w WHERE length(w) > 0 GROUP BY 1",
    "cosine_topk": f"WITH {cosine_pairs('vec_id < 24')} {top_k(5)}",
    "hard_negatives": f"WITH {cosine_pairs('vec_id < 16', 'AND ql <> cl')} {top_k(5)}",
    "native_cosine":
        f"WITH {cosine_pairs('vec_id < 16')} SELECT qid, "
        "COUNT(*) FILTER (WHERE sim >= 0.9) AS n_close, COUNT(*) FILTER (WHERE sim >= 0.5) AS n_near "
        "FROM r GROUP BY 1",
    "minhash_sig":
        f"WITH {SHINGLES}, {SIG} SELECT d.doc_id, "
        "COALESCE(" + " || '|' || ".join(f"mh{h}" for h in range(8)) + ", '') AS sig "
        "FROM documents d LEFT JOIN sig USING (doc_id)",
    "topk_per_key":
        "SELECT source, lang, doc_id, n_chars FROM (SELECT source, lang, doc_id, n_chars, "
        "row_number() OVER (PARTITION BY source, lang ORDER BY n_chars DESC, doc_id) AS rn "
        "FROM documents) WHERE rn <= 5",

    # --------------------------------------------------------- state_lifecycle
    "iterate_fixpoint":
        "WITH RECURSIVE ed AS (SELECT DISTINCT o_custkey % 53 AS src, o_orderkey % 53 AS dst "
        "FROM orders WHERE o_orderkey % 5 = 0 AND o_custkey % 53 <> o_orderkey % 53), "
        "und AS (SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed), "
        "r AS (SELECT DISTINCT src AS v, src AS u FROM und UNION "
        "SELECT r.v, und.dst AS u FROM r JOIN und ON r.u = und.src) "
        "SELECT v AS vertex, MIN(u) AS label FROM r GROUP BY v",
    "pagerank": pagerank(5),
    "kmeans": kmeans(4, 5),
    "point_bag": BALANCES.format(
        extra=", ins AS (SELECT o_custkey + 10000000 AS k, " + CENTS.format("o_totalprice") +
              " AS cents FROM orders WHERE o_orderkey % 1000 < 5)",
        union=" UNION ALL SELECT * FROM ins",
        having=" HAVING NOT (k < 10000000 AND k % 97 = 0)"),
    "mutable_bag": BALANCES.format(extra="", union="", having=""),
    "state_store":
        "WITH s0 AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders), "
        "s AS (SELECT k, v FROM s0 WHERE k % 300 <> 0 AND k % 500 <> 0 "
        "UNION ALL SELECT k, v * 2 AS v FROM s0 WHERE k % 500 = 0 AND k % 300 <> 0 "
        "UNION ALL SELECT o_orderkey + 100000000 AS k, CAST(1.0 AS DOUBLE) AS v "
        "FROM orders WHERE o_orderkey % 700 = 0) "
        "SELECT k, v FROM s WHERE k % 997 = 0 AND k < 100000000 "
        "OR (k >= 100000000 AND (k - 100000000) % 7000 = 0)",
    "ann_lifecycle":
        "SELECT CAST(COUNT(*) * 3 AS BIGINT) AS n_results, true AS appended_found, "
        "true AS no_deleted_returned FROM embeddings WHERE vec_id < 8",
    "pq_lifecycle":
        "SELECT CAST(COUNT(*) FILTER (WHERE vec_id < 8) * 10 AS BIGINT) AS n_results, "
        "CAST(COUNT(*) + 16 - COUNT(*) FILTER (WHERE vec_id % 7 = 0 AND vec_id >= 8) AS BIGINT) "
        "AS n_indexed, true AS no_deleted_returned FROM embeddings",
    "tokenizer_persist":
        "WITH w AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents), "
        "c AS (SELECT unnest(string_split(regexp_replace(text, '\\s+', '', 'g'), '')) AS ch "
        "FROM documents) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_words, "
        "CAST((SELECT COUNT(DISTINCT ch) FROM c WHERE length(ch) > 0) + 20 AS BIGINT) AS vocab_size, "
        "true AS merges_eq, true AS vocab_eq FROM w WHERE length(w) > 0",
    "stream_latest_upsert":
        "WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us FROM events), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t_us DESC, event_id DESC) "
        "AS rn FROM e) SELECT user_id, event_type, event_id, t_us FROM r WHERE rn = 1",
}


def _canon_value(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    if hasattr(v, "as_integer_ratio") or hasattr(v, "__float__"):
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2 ** 53 else f
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0) or (math.isnan(a) and math.isnan(b))
    return a == b


def _key(row):
    return tuple((x is None, str(type(x) is str), x if not isinstance(x, float) else round(x, 9))
                 for x in row)


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when the two results hold the same rows (order-insensitive,
    columns by name), else a short description of the first difference."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} vs expected {sorted(exp_cols)}"
    order = [got_cols.index(c) for c in exp_cols]
    got = sorted((tuple(_canon_value(r[i]) for i in order) for r in got_rows), key=_key)
    exp = sorted((tuple(_canon_value(x) for x in r) for r in exp_rows), key=_key)
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)} expected"
    for g, e in zip(got, exp):
        if not all(_same(x, y) for x, y in zip(g, e)):
            return f"row {g} vs expected {e}"
    return None


def expected(inputs_dir: str, names) -> dict:
    """pipeline -> (columns, rows) of its oracle over the inputs in
    inputs_dir. Results are cached next to the inputs, keyed by the SQL."""
    cache = os.path.join(inputs_dir, "expected")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name in names:
        sql = ORACLES[name]
        path = os.path.join(cache, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads = 4")
                con.execute("SET enable_progress_bar = false")
                for t in sorted(os.listdir(inputs_dir)):
                    if os.path.exists(os.path.join(inputs_dir, t, "part-000.parquet")):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{inputs_dir}/{t}/*.parquet')")
            rel = con.sql(sql)
            rows = [[_canon_value(v) for v in r] for r in rel.fetchall()]
            with open(path + ".tmp", "w") as f:
                json.dump({"columns": rel.columns, "rows": rows}, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            e = json.load(f)
        out[name] = (e["columns"], e["rows"])
    if con is not None:
        con.close()
    return out


def check(inputs_dir: str, outputs_dir: str, pipelines) -> dict:
    """pipeline -> None (output matches its oracle) or a mismatch note."""
    exp = expected(inputs_dir, pipelines)
    verdict = {}
    for name in pipelines:
        path = os.path.join(outputs_dir, f"{name}.json")
        if not os.path.exists(path):
            verdict[name] = "no output"
            continue
        with open(path) as f:
            got = json.load(f)
        verdict[name] = compare(got["columns"], got["rows"], *exp[name])
    return verdict
