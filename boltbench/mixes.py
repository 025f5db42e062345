"""Workload mixes, generated from the seed.

A mix lists every statement once (`statements`) and gives each Bolt
session its rounds: lists of statement indices run in order, whole rounds
only. `warmup` is the untimed pass run during set-up.
"""
import os

import pyarrow.parquet as pq

TPCH_SF = 0.01
# A run measures a fixed number of whole rounds: one per `round_s` seconds
# asked for, at least one. `round_s` is about one round's length on a
# 4-core box, so a run measures about --seconds.
# rounds of distinct parameter draws per session; a run cycles through them
ROUNDS = 6

E2E_UNITS = {"setup_s": "s", "read_ops_per_s": "ops/s", "read_p50_ms": "ms",
             "peak_rss_mb": "MiB"}

LAYER_UNITS = {
    "bolt.write_ms": "ms",
    "sources.response_kb": "KiB", "sources.wire_ms": "ms", "sources.encode_ms": "ms",
    "cypher.parse_ms": "ms", "cypher.plan_ms": "ms", "cypher.plan_jobs": "count",
    "cypher.write_ms": "ms", "cypher.write_jobs": "count",
    "catalyst.analyze_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.physical_ms": "ms", "catalyst.plan_nodes": "count",
    "exec.collect_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_gc_ms": "ms",
    "exec.driver_idle_ms": "ms", "exec.shuffle_read_mb": "MiB",
    "exec.shuffle_write_mb": "MiB", "exec.spill_mb": "MiB",
    "exec.rows_returned": "rows", "exec.rows_read_per_row_returned": "ratio",
    "graph.snapshot_partitions": "count", "graph.snapshot_plan_leaves": "count",
    "graph.wal_kb_per_write": "KiB", "graph.wal_files_per_write": "files",
    "graph.wal_checkpoints": "count", "graph.persistent_rdds": "count",
    "graph.cached_mb": "MiB", "graph.build_s": "s",
    "algos.warm_s": "s",
    "search.vector_ms": "ms", "search.fulltext_ms": "ms", "search.hybrid_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.heap_after_gc_mb": "MiB",
    "trace.overhead_ms": "ms", "trace.overhead_pct": "%", "trace.statements": "count",
}
for _proc in ("wcc", "pagerank", "linkpred"):
    LAYER_UNITS.update({f"algos.{_proc}_ms": "ms", f"algos.{_proc}_jobs": "count",
                        f"algos.{_proc}_shuffle_mb": "MiB"})
for _layer in ("harness", "cypher", "catalyst", "exec", "sources"):
    LAYER_UNITS[f"trace.self_ms.{_layer}"] = "ms"


class Mix:
    def __init__(self):
        self.statements, self.index = [], {}

    def add(self, key, name, text, params=None, write=False, layer="cypher"):
        if key not in self.index:
            self.index[key] = len(self.statements)
            self.statements.append({"key": key, "name": name, "text": text,
                                    "params": params or {}, "write": write,
                                    "layer": layer})
        return self.index[key]


# ---------------------------------------------------------------- Northwind

# The reference's Northwind seed (northwind_fastpaths_test.go), through the
# engine's own Cypher write path, one autocommit statement each.
NW_SEED = [
    "CREATE (:Category {key: 1, categoryID: 1, categoryName: 'Beverages'})",
    "CREATE (:Category {key: 2, categoryID: 2, categoryName: 'Condiments'})",
    "CREATE (:Supplier {key: 1, supplierID: 1, companyName: 'Exotic Liquids'})",
    "CREATE (:Supplier {key: 2, supplierID: 2, companyName: 'New Orleans Cajun Delights'})",
    "MATCH (c:Category {categoryID: 1}) CREATE (p:Product {key: 1, productID: 1, productName: 'Chai', unitPrice: 18.0})-[:PART_OF]->(c)",
    "MATCH (c:Category {categoryID: 1}) CREATE (p:Product {key: 2, productID: 2, productName: 'Chang', unitPrice: 19.0})-[:PART_OF]->(c)",
    "MATCH (c:Category {categoryID: 2}) CREATE (p:Product {key: 3, productID: 3, productName: 'Aniseed Syrup', unitPrice: 10.0})-[:PART_OF]->(c)",
    "MATCH (c:Category {categoryID: 1}) CREATE (p:Product {key: 4, productID: 4, productName: 'NoOrders', unitPrice: 5.0})-[:PART_OF]->(c)",
    "MATCH (s:Supplier {supplierID: 1}) MATCH (p:Product {productID: 1}) CREATE (s)-[:SUPPLIES]->(p)",
    "MATCH (s:Supplier {supplierID: 1}) MATCH (p:Product {productID: 3}) CREATE (s)-[:SUPPLIES]->(p)",
    "MATCH (s:Supplier {supplierID: 2}) MATCH (p:Product {productID: 2}) CREATE (s)-[:SUPPLIES]->(p)",
    "CREATE (:Customer {key: 901, customerID: 'ALFKI', companyName: 'Alfreds Futterkiste'})",
    "CREATE (:Customer {key: 902, customerID: 'ANATR', companyName: 'Ana Trujillo Emparedados y helados'})",
    "MATCH (c:Customer {customerID: 'ALFKI'}) CREATE (o:Order {key: 10643, orderID: 10643})<-[:PURCHASED]-(c)",
    "MATCH (c:Customer {customerID: 'ALFKI'}) CREATE (o:Order {key: 10308, orderID: 10308})<-[:PURCHASED]-(c)",
    "MATCH (o:Order {orderID: 10643}) MATCH (p:Product {productID: 1}) CREATE (o)-[:ORDERS {quantity: 5}]->(p)",
    "MATCH (o:Order {orderID: 10643}) MATCH (p:Product {productID: 2}) CREATE (o)-[:ORDERS {quantity: 2}]->(p)",
    "MATCH (o:Order {orderID: 10308}) MATCH (p:Product {productID: 3}) CREATE (o)-[:ORDERS {quantity: 3}]->(p)",
]
NW_SEED_NODES, NW_SEED_RELS = 12, 12

# the twelve q_nw_* statements (NorthwindQueries) plus "count all nodes"
NW_READS = {
    "q_nw_supplier_category": """MATCH (s:Supplier)-[:SUPPLIES]->(p:Product)-[:PART_OF]->(c:Category)
        RETURN s.companyName AS supplier, c.categoryName AS category, count(p) AS products
        ORDER BY products DESC""",
    "q_nw_customer_category": """MATCH (c:Customer)-[:PURCHASED]->(o:Order)-[:ORDERS]->(p:Product)-[:PART_OF]->(cat:Category)
        RETURN c.companyName AS customer, cat.categoryName AS category, count(DISTINCT o) AS orders
        ORDER BY orders DESC LIMIT 10""",
    "q_nw_customer_supplier": """MATCH (c:Customer)-[:PURCHASED]->(o:Order)-[:ORDERS]->(p:Product)<-[:SUPPLIES]-(s:Supplier)
        RETURN c.companyName AS customer, s.companyName AS supplier, count(DISTINCT o) AS orders
        ORDER BY orders DESC LIMIT 10""",
    "q_nw_products_per_category": """MATCH (c:Category)<-[:PART_OF]-(p:Product)
        RETURN c.categoryName AS category, count(p) AS productCount ORDER BY productCount DESC""",
    "q_nw_avg_price": """MATCH (c:Category)<-[:PART_OF]-(p:Product)
        RETURN c.categoryName AS category, avg(p.unitPrice) AS avgPrice, count(p) AS products
        ORDER BY avgPrice DESC""",
    "q_nw_qty_per_product": """MATCH (p:Product)<-[r:ORDERS]-(:Order)
        RETURN p.productName AS product, sum(r.quantity) AS totalOrdered
        ORDER BY totalOrdered DESC LIMIT 10""",
    "q_nw_orders_per_customer": """MATCH (c:Customer)-[:PURCHASED]->(o:Order)
        RETURN c.companyName AS customer, count(o) AS orderCount ORDER BY orderCount DESC""",
    "q_nw_products_per_supplier": """MATCH (s:Supplier)-[:SUPPLIES]->(p:Product)
        RETURN s.companyName AS supplier, count(p) AS productCount ORDER BY productCount DESC""",
    "q_nw_top_revenue": """MATCH (p:Product)<-[r:ORDERS]-(:Order)
        WITH p, sum(p.unitPrice * r.quantity) AS revenue
        RETURN p.productName AS product, revenue ORDER BY revenue DESC LIMIT 10""",
    "q_nw_point_lookup": """MATCH (c:Customer {customerID: 'ALFKI'})
        RETURN c.companyName AS customer""",
    "q_nw_no_orders": """MATCH (p:Product) WHERE NOT EXISTS { MATCH (p)<-[:ORDERS]-(:Order) }
        RETURN p.productName AS product""",
    "q_nw_count_rels": "MATCH ()-[r]->() RETURN count(r) AS rels",
    "nw_count_nodes": "MATCH (n) RETURN count(n) AS nodes",
}

# create/delete pairs, each returning the graph to its seed state. The
# engine's DELETE takes node variables only, so the relationship pair
# deletes its edge by DETACH DELETE of the probe node it hangs from. The
# probe label and relationship type match no checked read except the two
# whole-graph counts.
NW_WRITES = {
    "create_node": "CREATE (n:BenchProbe {key: $k, tag: $tag}) RETURN count(n) AS created",
    "delete_node": "MATCH (n:BenchProbe {key: $k}) DELETE n RETURN count(n) AS deleted",
    "create_rel": """MATCH (c:Customer {customerID: $cid})
        CREATE (c)-[:BENCH_LINK]->(n:BenchProbe {key: $k, tag: $tag}) RETURN count(*) AS created""",
    "detach_delete": """MATCH (n:BenchProbe {key: $k}) DETACH DELETE n
        RETURN count(n) AS deleted""",
}
NW_READERS = 3


def nw_bolt_rw(rng, data_dir):
    mix = Mix()
    reads = [mix.add(k, k, t) for k, t in NW_READS.items()]

    def writes(r):
        """Round r of the writer: a node pair, then a relationship pair,
        each with fresh keys."""
        k1, k2 = rng.sample(range(10**6, 10**9), 2)
        node = {"k": k1, "tag": f"probe-{r}"}
        rel = {"k": k2, "tag": f"hub-{r}", "cid": rng.choice(["ALFKI", "ANATR"])}
        return [mix.add(f"{n}#{r}", n, NW_WRITES[n], p, write=True)
                for pair, p in ((("create_node", "delete_node"), node),
                                (("create_rel", "detach_delete"), rel))
                for n in pair]

    write_rounds = [writes(r) for r in range(ROUNDS + 1)]
    # each round, the readers split the reads between them, each reader
    # taking the next third in turn: three rounds cover every read thrice.
    # The split is the same for every seed, so every run puts the same
    # statements side by side; the seed draws the writer's parameters.
    thirds = [reads[j::NW_READERS] for j in range(NW_READERS)]
    sessions = [{"writer": False,
                 "rounds": [thirds[(j + r) % NW_READERS] for r in range(NW_READERS)]}
                for j in range(NW_READERS)]
    sessions.append({"writer": True, "rounds": write_rounds[:ROUNDS]})
    return {"kind": "nw", "statements": mix.statements, "sessions": sessions,
            "warmup": reads + write_rounds[ROUNDS], "setup_reps": 3, "round_s": 5}


# -------------------------------------------------------------------- TPC-H

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("spark table query scan sort join hash group agg filter value key row "
         "column data vector stream window batch merge order part line fast slow").split()


def tpch_templates(rng, embeddings):
    """(name, layer, text, params or None) — texts from CypherQueries; a
    None param draw marks a statement that repeats verbatim every round."""
    n_part = int(200_000 * TPCH_SF)
    qv = lambda: [float(x) for x in embeddings[rng.randrange(len(embeddings))]]
    terms = lambda: " ".join(rng.sample(WORDS, 3))
    return [
        ("match_filter", "cypher", """MATCH (c:Customer) WHERE c.acctbal > $minbal AND c.mktsegment = $seg
            RETURN c.key AS c_custkey, c.name AS c_name""",
         {"minbal": rng.randrange(0, 9000), "seg": rng.choice(SEGMENTS)}),
        ("expand_agg", "cypher", """MATCH (c:Customer)-[:PLACED]->(o:Order)
            RETURN c.mktsegment AS segment, count(o) AS n_orders""", None),
        ("chain_sum", "cypher", """MATCH (c:Customer)-[:PLACED]->(o:Order)-[r:CONTAINS]->(p:Part)
            RETURN c.mktsegment AS segment, sum(r.quantity) AS total_qty""", None),
        ("optional_match", "cypher", """MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
            RETURN c.key AS c_custkey, count(o) AS n_orders""", None),
        ("orderby_limit", "cypher", """MATCH (o:Order) WHERE o.acctbal < $maxprice
            RETURN o.key AS o_orderkey, o.acctbal AS o_totalprice
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
         {"maxprice": rng.randrange(50_000, 500_000)}),
        ("with_having", "cypher", """MATCH (c:Customer)-[:PLACED]->(o:Order)
            WITH c, count(o) AS n WHERE n >= $minorders
            RETURN c.mktsegment AS segment, count(c) AS n_cust""",
         {"minorders": rng.randint(12, 18)}),
        ("exists", "cypher", """MATCH (c:Customer)
            WHERE EXISTS((c)-[:PLACED]->(o:Order {mktsegment: $prio}))
            RETURN c.key AS c_custkey""", {"prio": rng.choice(PRIORITIES)}),
        ("collect", "cypher", """MATCH (n:Nation)
            RETURN n.key % 5 AS grp, apoc.text.join(sort(collect(n.name)), ',') AS names""", None),
        ("fulltext", "search:fulltext", """CALL db.index.fulltext.queryNodes('docs_ft', $q, 20)
            YIELD node, score RETURN node AS doc_id, score""", {"q": terms()}),
        ("vector", "search:vector", """CALL db.index.vector.queryNodes('emb64', 10, $qv)
            YIELD node, score RETURN node AS vec_id, score AS cos_sim""", {"qv": qv()}),
        ("hybrid", "search:hybrid", """CALL db.index.hybrid.queryNodes('emb64', 'docs_ft', 10, $q, $qv)
            YIELD node, score RETURN node, score""", {"q": terms(), "qv": qv()}),
        ("wcc", "algos:wcc", """CALL apoc.algo.wcc() YIELD node, componentId
            RETURN componentId, count(*) AS size""", None),
        ("pagerank", "algos:pagerank", "CALL apoc.algo.pagerank(3) YIELD id, r RETURN id, r", None),
        ("linkpred", "algos:linkpred", """CALL gds.linkPrediction.adamicAdar.stream(
                {sourceNode: $src, topK: 10, relationshipTypes: ['SUPPLIES']})
            YIELD node1, node2, score RETURN node1, node2, score""",
         {"src": f"Part:{rng.randrange(n_part)}"}),
    ]


def tpch_bolt_analytic(rng, data_dir):
    embeddings = pq.read_table(os.path.join(data_dir, "embeddings.parquet"),
                               columns=["embedding"]).column(0).to_pylist()
    mix = Mix()
    rounds = []
    for r in range(ROUNDS + 1):
        order = []
        for name, layer, text, params in tpch_templates(rng, embeddings):
            key = name if params is None else f"{name}#{r}"
            order.append(mix.add(key, name, text, params, layer=layer))
        rng.shuffle(order)
        rounds.append(order)
    return {"kind": "tpch", "statements": mix.statements,
            "sessions": [{"writer": False, "rounds": rounds[:ROUNDS]}],
            "warmup": rounds[ROUNDS], "setup_reps": 2, "round_s": 10}


WORKLOADS = {"nw_bolt_rw": nw_bolt_rw, "tpch_bolt_analytic": tpch_bolt_analytic}
