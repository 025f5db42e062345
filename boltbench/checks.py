"""Independent answer checks, run after the timed window.

Every distinct answer the harness saw for a statement is checked against an
oracle computed here from the inputs: DuckDB over the Northwind relational
twin and the TPC-H parquet, numpy for cosine top-k and PageRank,
a BM25 / RRF recomputation for fulltext and hybrid search, networkx for
weakly connected components. An answer that fails its check counts every
operation that returned it as failed.
"""
import json
import math
import os
from collections import Counter, defaultdict

import duckdb
import networkx as nx
import numpy as np
import pyarrow.parquet as pq

import mixes

TOL = 1e-9

NW_TWIN = """WITH products(pid, pname, price, cid) AS (VALUES
     (1, 'Chai', 18.0, 1), (2, 'Chang', 19.0, 1),
     (3, 'Aniseed Syrup', 10.0, 2), (4, 'NoOrders', 5.0, 1)),
   categories(cid, cname) AS (VALUES (1, 'Beverages'), (2, 'Condiments')),
   suppliers(sid, sname) AS (VALUES (1, 'Exotic Liquids'), (2, 'New Orleans Cajun Delights')),
   supplies(sid, pid) AS (VALUES (1, 1), (1, 3), (2, 2)),
   customers(custid, custname) AS (VALUES
     ('ALFKI', 'Alfreds Futterkiste'), ('ANATR', 'Ana Trujillo Emparedados y helados')),
   orders_nw(oid, custid) AS (VALUES (10643, 'ALFKI'), (10308, 'ALFKI')),
   orderlines(oid, pid, qty) AS (VALUES (10643, 1, 5), (10643, 2, 2), (10308, 3, 3))
"""

NW_SQL = {
    "q_nw_supplier_category": """SELECT sname, cname, count(*) FROM supplies
        JOIN suppliers USING (sid) JOIN products USING (pid) JOIN categories USING (cid) GROUP BY 1, 2 ORDER BY 3 DESC""",
    "q_nw_customer_category": """SELECT custname, cname, count(DISTINCT oid) FROM orders_nw
        JOIN customers USING (custid) JOIN orderlines USING (oid) JOIN products USING (pid)
        JOIN categories USING (cid) GROUP BY 1, 2 ORDER BY 3 DESC""",
    "q_nw_customer_supplier": """SELECT custname, sname, count(DISTINCT oid) FROM orders_nw
        JOIN customers USING (custid) JOIN orderlines USING (oid) JOIN supplies USING (pid)
        JOIN suppliers USING (sid) GROUP BY 1, 2 ORDER BY 3 DESC""",
    "q_nw_products_per_category": """SELECT cname, count(*) FROM products JOIN categories USING (cid)
        GROUP BY 1 ORDER BY 2 DESC""",
    "q_nw_avg_price": """SELECT cname, avg(price), count(*) FROM products JOIN categories USING (cid)
        GROUP BY 1 ORDER BY 2 DESC""",
    "q_nw_qty_per_product": """SELECT pname, sum(qty) FROM orderlines JOIN products USING (pid)
        GROUP BY 1 ORDER BY 2 DESC""",
    "q_nw_orders_per_customer": """SELECT custname, count(*) FROM orders_nw JOIN customers USING (custid)
        GROUP BY 1 ORDER BY 2 DESC""",
    "q_nw_products_per_supplier": """SELECT sname, count(*) FROM supplies JOIN suppliers USING (sid)
        GROUP BY 1 ORDER BY 2 DESC""",
    "q_nw_top_revenue": """SELECT pname, sum(price * qty) FROM orderlines JOIN products USING (pid)
        GROUP BY 1 ORDER BY 2 DESC""",
    "q_nw_point_lookup": "SELECT custname FROM customers WHERE custid = 'ALFKI'",
    "q_nw_no_orders": "SELECT pname FROM products WHERE pid NOT IN (SELECT pid FROM orderlines)",
}

# The Cypher texts with ORDER BY <column> DESC [LIMIT n]: (column index,
# limit). Their twins above carry the same ORDER BY and no LIMIT, so the
# check sees every row that ties at a LIMIT cut.
NW_ORDER = {"q_nw_supplier_category": (2, None), "q_nw_customer_category": (2, 10),
            "q_nw_customer_supplier": (2, 10), "q_nw_products_per_category": (1, None),
            "q_nw_avg_price": (1, None), "q_nw_qty_per_product": (1, 10),
            "q_nw_orders_per_customer": (1, None), "q_nw_products_per_supplier": (1, None),
            "q_nw_top_revenue": (1, 10)}

# a single writer allows exactly two states of each whole-graph count:
# the seed, and the seed plus the one probe a create/delete pair holds
NW_COUNTS = {"q_nw_count_rels": {mixes.NW_SEED_RELS, mixes.NW_SEED_RELS + 1},
             "nw_count_nodes": {mixes.NW_SEED_NODES, mixes.NW_SEED_NODES + 1}}

TPCH_SQL = {
    "match_filter": "SELECT c_custkey, c_name FROM customer WHERE c_acctbal > {minbal} AND c_mktsegment = '{seg}'",
    "expand_agg": """SELECT c_mktsegment, count(*) FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY 1""",
    "chain_sum": """SELECT c_mktsegment, sum(l_quantity) FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
    "optional_match": """SELECT c_custkey, count(o_orderkey) FROM customer
        LEFT JOIN orders ON o_custkey = c_custkey GROUP BY 1""",
    "orderby_limit": """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < {maxprice}
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "with_having": """SELECT c_mktsegment, count(*) FROM (
        SELECT c_custkey, c_mktsegment FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY 1, 2 HAVING count(*) >= {minorders}) GROUP BY 1""",
    "exists": """SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '{prio}')""",
    "collect": """SELECT n_nationkey % 5, array_to_string(list_sort(list(n_name)), ',')
        FROM nation GROUP BY 1""",
}
ORDERED = {"orderby_limit"}


def close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def sort_key(row):
    return [round(v, 6) if isinstance(v, float) else v for v in row]


def same_rows(got, want, ordered):
    got, want = [list(r) for r in got], [list(r) for r in want]
    if len(got) != len(want):
        return False, f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=sort_key), sorted(want, key=sort_key)
    for g, w in zip(got, want):
        if not close(g, w):
            return False, f"row {g} != expected {w}"
    return True, ""


def sorted_desc(got, want, col, limit):
    """`want` is the whole oracle answer in ORDER BY order. The engine's
    rows must carry the same sort keys in the same order, up to the limit;
    rows that tie on the key compare as sets, and at a LIMIT cut the
    engine's tied rows need only be among the oracle's."""
    got, want = [list(r) for r in got], [list(r) for r in want]
    n = len(want) if limit is None else min(limit, len(want))
    if len(got) != n:
        return False, f"{len(got)} rows, expected {n}"
    if not all(close(g[col], w[col]) for g, w in zip(got, want)):
        return False, f"sort keys {[g[col] for g in got]} != expected {[w[col] for w in want[:n]]}"
    i = 0
    while i < n:
        j = i
        while j < n and close(got[j][col], got[i][col]):
            j += 1
        tied = [w for w in want if close(w[col], got[i][col])]
        if j == n and n < len(want):  # the group the LIMIT cuts
            for g in got[i:j]:
                hit = next((w for w in tied if close(g, w)), None)
                if hit is None:
                    return False, f"row {g} is not an oracle row"
                tied.remove(hit)
        else:
            ok, why = same_rows(got[i:j], tied, False)
            if not ok:
                return False, why
        i = j
    return True, ""


def top_k(got, ref, k):
    """`got` = [(id, score)] from the engine, `ref` = {id: score} over every
    candidate. Checks each score, the order, and that no better candidate
    is missing — ties at the cut may go either way."""
    if len(got) != min(k, len(ref)):
        return False, f"{len(got)} hits, expected {min(k, len(ref))}"
    for i, (node, score) in enumerate(got):
        if node not in ref or not close(score, ref[node]):
            return False, f"hit {node} score {score} vs oracle {ref.get(node)}"
        if i and score > got[i - 1][1] + TOL:
            return False, "hits out of score order"
    taken = {n for n, _ in got}
    rest = [s for n, s in ref.items() if n not in taken]
    if rest and max(rest) > got[-1][1] + TOL:
        return False, "a higher-scoring candidate is missing"
    return True, ""


class TpchOracle:
    def __init__(self, data):
        self.data = data
        self.db = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "documents", "embeddings"):
            self.db.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data, t + '.parquet')}')")
        self._graph = self._docs = None

    def sql(self, q):
        return [list(r) for r in self.db.execute(q).fetchall()]

    # ---- graph projection (PropertyGraph.fromTpch), read from parquet ----
    def graph(self):
        if self._graph is None:
            nodes = [r[0] for r in self.sql("""
                SELECT 'Customer:' || c_custkey FROM customer UNION ALL
                SELECT 'Order:' || o_orderkey FROM orders UNION ALL
                SELECT 'Part:' || p_partkey FROM part UNION ALL
                SELECT 'Supplier:' || s_suppkey FROM supplier UNION ALL
                SELECT 'Nation:' || n_nationkey FROM nation UNION ALL
                SELECT 'Region:' || r_regionkey FROM region""")]
            edges = self.sql("""
                SELECT 'Customer:' || o_custkey, 'Order:' || o_orderkey, 'PLACED' FROM orders UNION ALL
                SELECT 'Order:' || l_orderkey, 'Part:' || l_partkey, 'CONTAINS' FROM lineitem UNION ALL
                SELECT DISTINCT 'Supplier:' || l_suppkey, 'Part:' || l_partkey, 'SUPPLIES' FROM lineitem UNION ALL
                SELECT 'Customer:' || c_custkey, 'Nation:' || c_nationkey, 'FROM' FROM customer UNION ALL
                SELECT 'Supplier:' || s_suppkey, 'Nation:' || s_nationkey, 'LOCATED_IN' FROM supplier UNION ALL
                SELECT 'Nation:' || n_nationkey, 'Region:' || n_regionkey, 'IN' FROM nation""")
            g = nx.Graph()
            g.add_nodes_from(nodes)
            g.add_edges_from((a, b) for a, b, _ in edges)
            comp = {}
            for c in nx.connected_components(g):
                root = min(c)
                for n in c:
                    comp[n] = root
            self._graph = (nodes, edges, comp)
        return self._graph

    def pagerank(self, iters):
        nodes, edges, _ = self.graph()
        ix = {n: i for i, n in enumerate(nodes)}
        src = np.array([ix[a] for a, _, _ in edges])
        dst = np.array([ix[b] for _, b, _ in edges])
        outdeg = np.bincount(src, minlength=len(nodes)).astype(float)
        r = np.ones(len(nodes))
        for _ in range(iters):  # r' = 0.15 + 0.85 * sum(r(u) / outdeg(u))
            r = 0.15 + 0.85 * np.bincount(dst, weights=r[src] / outdeg[src],
                                          minlength=len(nodes))
        return {n: r[i] for n, i in ix.items()}

    # ---- search: BM25 (k1 = 1.2, b = 0.75), cosine, RRF (k = 60) ----
    def docs(self):
        if self._docs is None:
            t = pq.read_table(os.path.join(self.data, "documents.parquet"))
            toks = [s.lower().split(" ") for s in t.column("text").to_pylist()]
            emb = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
            vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
            self._docs = (t.column("doc_id").to_pylist(), toks,
                          emb.column("vec_id").to_pylist(), vecs)
        return self._docs

    def bm25(self, query):
        ids, toks, _, _ = self.docs()
        terms = query.split(" ")
        n, avgdl = len(toks), sum(len(t) for t in toks) / len(toks)
        tfs = [Counter(t) for t in toks]
        df = {t: sum(1 for c in tfs if t in c) for t in terms}
        out = {}
        for d, c, tk in zip(ids, tfs, toks):
            parts = [math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5)) * c[t] * 2.2
                     / (c[t] + 1.2 * (0.25 + 0.75 * len(tk) / avgdl))
                     for t in set(terms) if c[t]]
            if parts:
                out[d] = sum(parts)
        return out

    def cosine(self, qv):
        _, _, vids, vecs = self.docs()
        q = np.array(qv, dtype=np.float64)
        sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        return dict(zip(vids, sims.tolist()))

    @staticmethod
    def ranks(scores, n):
        best = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:n]
        return {node: i + 1 for i, (node, _) in enumerate(best)}

    def check(self, s, rows):
        name, p = s["name"], s["params"]
        if name in TPCH_SQL:
            return same_rows(rows, self.sql(TPCH_SQL[name].format(**p)), name in ORDERED)
        if name == "fulltext":
            return top_k([(r[0], r[1]) for r in rows], self.bm25(p["q"]), 20)
        if name == "vector":
            return top_k([(r[0], r[1]) for r in rows], self.cosine(p["qv"]), 10)
        if name == "hybrid":
            rt = self.ranks(self.bm25(p["q"]), 20)
            rv = self.ranks(self.cosine(p["qv"]), 20)
            rrf = {n: (1 / (60 + rt[n]) if n in rt else 0.0) + (1 / (60 + rv[n]) if n in rv else 0.0)
                   for n in set(rt) | set(rv)}
            return top_k([(r[0], r[1]) for r in rows], rrf, 10)
        if name == "wcc":
            _, _, comp = self.graph()
            want = Counter(comp.values())
            got = {r[0]: r[1] for r in rows}
            return (got == dict(want), f"{len(got)} components vs {len(want)}")
        if name == "pagerank":
            want = self.pagerank(3)
            got = {r[0]: r[1] for r in rows}
            if set(got) != set(want):
                return False, f"{len(got)} ranked nodes vs {len(want)}"
            worst = max(abs(got[n] - want[n]) for n in want)
            return worst <= TOL, f"max |rank - oracle| = {worst}"
        if name == "linkpred":
            _, edges, _ = self.graph()
            adj = defaultdict(set)
            for a, b, t in edges:
                if t == "SUPPLIES" and a != b:
                    adj[a].add(b)
                    adj[b].add(a)
            src = p["src"]
            score = defaultdict(float)
            for z in adj[src]:
                for t in adj[z]:
                    if t != src and t not in adj[src]:
                        score[t] += round(1.0 / math.log(len(adj[z])), 9)
            if any(r[0] != src for r in rows):
                return False, "node1 is not the source"
            return top_k([(r[1], r[2]) for r in rows], dict(score), 10)
        return False, f"no oracle for {name}"


def check_nw(s, rows, db):
    name = s["name"]
    if s["write"]:
        return rows == [[1]], f"{name} reported {rows}, expected [[1]]"
    if name in NW_COUNTS:
        ok = len(rows) == 1 and len(rows[0]) == 1 and rows[0][0] in NW_COUNTS[name]
        return ok, f"{rows} not in {sorted(NW_COUNTS[name])}"
    want = [list(r) for r in db.execute(NW_TWIN + NW_SQL[name]).fetchall()]
    if name in NW_ORDER:
        return sorted_desc(rows, want, *NW_ORDER[name])
    return same_rows(rows, want, False)


def verify(mix, out, data):
    problems = [f"warm-up: {f}" for f in out["warmup_failures"]]
    problems += [f"failed: {f}" for f in out["failures"]]
    by_key = {s["key"]: s for s in mix["statements"]}
    oracle = TpchOracle(data) if mix["kind"] == "tpch" else duckdb.connect()
    wrong = 0
    for key, variants in out["answers"].items():
        s = by_key[key]
        for v in variants:
            rows = json.loads(v["rows"])
            ok, why = (oracle.check(s, rows) if mix["kind"] == "tpch"
                       else check_nw(s, rows, oracle))
            if not ok:
                wrong += v["n"]
                problems.append(f"{key}: {why}")
    store_ok = True
    st = out["store"]
    if st:
        seed = (mixes.NW_SEED_NODES, mixes.NW_SEED_RELS)
        if (st["nodes"], st["edges"]) != seed:
            store_ok = False
            problems.append(f"store ended at {st['nodes']}/{st['edges']}, seed is {seed}")
        if (st["replay_nodes"], st["replay_edges"]) != (st["nodes"], st["edges"]):
            store_ok = False
            problems.append(f"WAL replays to {st['replay_nodes']}/{st['replay_edges']}")
    return {"correct": store_ok and not out["warmup_failures"],
            "wrong_ops": wrong, "problems": problems}
