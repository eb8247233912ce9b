"""The workloads as seeded operation streams over the shipped test
tables: `sparql_mix` and `analytics`. The seed picks the operation
order and the constants; the tables are the same in every run.

Each workload function returns `(plan, warmup)`. The `Plan` holds `ops`
(what the program runs, each with `tix`, its type's fixed index),
`rounds` (the seeded order, as lists of op indices; one round holds
every operation type once), `types` and `expect` (per op, how its
answer is checked; kept on the benchmark's side, never handed to the
program). `warmup` lists one op per type, in type order, run during
set-up.

Expectation kinds:
  ("sql", text)     reference rows from a DuckDB query over the tables
  ("key", name)     the oracle SQL of graft's own `SparkEntry` key
"""
import numpy as np

# value domains of the shipped tables
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _rng(seed, salt):
    return np.random.Generator(np.random.PCG64([seed, salt]))


# --- sparql_mix ----------------------------------------------------------
# Templates follow graft's oracle-checked SPARQL keys; the seed draws
# the constants. Each returns (type, op fields, oracle SQL).

def _seg(r): return str(r.choice(SEGMENTS))
def _nat(r): return int(r.integers(0, 25))
def _reg(r): return int(r.integers(0, 5))
def _prio(r): return str(r.choice(PRIORITIES))
def _bal(r): return round(float(r.uniform(-500, 9500)), 1)


def t_bgp_star(r):
    seg, x = _seg(r), _bal(r)
    return "bgp_star", dict(form="SELECT", numeric=["b"], text=f"""
SELECT ?c ?n ?b WHERE {{
  ?c a :Customer . ?c :name ?n . ?c :mktsegment "{seg}" . ?c :acctbal ?b .
  FILTER(?b > {x}) }}"""), f"""
SELECT 'cust:'||c_custkey AS c, c_name AS n, c_acctbal AS b FROM customer
WHERE c_mktsegment = '{seg}' AND c_acctbal > {x}"""


def t_bgp_chain(r):
    k, x = _nat(r), round(float(r.uniform(1000, 450000)), 2)
    return "bgp_chain_filter", dict(form="SELECT", numeric=["t"], text=f"""
SELECT ?o ?t WHERE {{
  ?o :byCustomer ?c . ?c :hasNation nat:{k} . ?o :totalprice ?t .
  FILTER(?t > {x}) }}"""), f"""
SELECT 'ord:'||o_orderkey AS o, o_totalprice AS t
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey = {k} AND o_totalprice > {x}"""


def t_filter_compare(r):
    lo = int(r.integers(1, 40))
    hi = lo + int(r.integers(3, 12))
    typ, brand = str(r.choice(PTYPES)), int(r.integers(1, 26))
    return "filter_compare", dict(form="SELECT", numeric=["sz", "rp"], text=f"""
SELECT ?p ?sz ?rp WHERE {{
  ?p a :Part . ?p :size ?sz . ?p :brand ?b . ?p :ptype "{typ}" .
  ?p :retailprice ?rp .
  FILTER(?sz >= {lo}) FILTER(?sz <= {hi}) FILTER(?b != "Brand#{brand}") }}"""), f"""
SELECT 'part:'||p_partkey AS p, CAST(p_size AS DOUBLE) AS sz, p_retailprice AS rp
FROM part WHERE p_type = '{typ}' AND p_size >= {lo} AND p_size <= {hi}
  AND p_brand != 'Brand#{brand}'"""


def t_optional_filter(r):
    k, pr = _nat(r), _prio(r)
    return "optional_filter", dict(form="SELECT", text=f"""
SELECT DISTINCT ?c ?pr WHERE {{
  ?c a :Customer . ?c :hasNation nat:{k} .
  OPTIONAL {{ ?o :byCustomer ?c . ?o :orderpriority ?pr . FILTER(?pr = "{pr}") }} }}"""), f"""
SELECT DISTINCT 'cust:'||c_custkey AS c, coalesce(o_orderpriority, 'N/A') AS pr
FROM customer LEFT JOIN orders
  ON o_custkey = c_custkey AND o_orderpriority = '{pr}'
WHERE c_nationkey = {k}"""


def t_exists(r):
    seg, st = _seg(r), str(r.choice(STATUSES))
    return "exists", dict(form="SELECT", text=f"""
SELECT ?c WHERE {{
  ?c a :Customer . ?c :mktsegment "{seg}" .
  FILTER EXISTS {{ ?o :byCustomer ?c . ?o :orderstatus "{st}" }} }}"""), f"""
SELECT 'cust:'||c_custkey AS c FROM customer
WHERE c_mktsegment = '{seg}' AND EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = '{st}')"""


def t_not_exists(r):
    k, pr = _nat(r), _prio(r)
    return "not_exists", dict(form="SELECT", text=f"""
SELECT ?c WHERE {{
  ?c a :Customer . ?c :hasNation nat:{k} .
  FILTER NOT EXISTS {{ ?o :byCustomer ?c . ?o :orderpriority "{pr}" }} }}"""), f"""
SELECT 'cust:'||c_custkey AS c FROM customer
WHERE c_nationkey = {k} AND NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '{pr}')"""


def t_union(r):
    g, k = _reg(r), _nat(r)
    return "union", dict(form="SELECT", text=f"""
SELECT ?x ?nm WHERE {{
  {{ ?x a :Nation . ?x :inRegion reg:{g} . ?x :name ?nm }}
  UNION {{ ?x a :Supplier . ?x :hasNation nat:{k} . ?x :name ?nm }} }}"""), f"""
SELECT 'nat:'||n_nationkey AS x, n_name AS nm FROM nation WHERE n_regionkey = {g}
UNION ALL
SELECT 'supp:'||s_suppkey, s_name FROM supplier WHERE s_nationkey = {k}"""


def t_groupby_count(r):
    k = _nat(r)
    return "groupby_count", dict(form="SELECT", text=f"""
SELECT ?m (COUNT(?c) AS ?cnt) WHERE {{ ?c :mktsegment ?m . ?c :hasNation nat:{k} }}
GROUP BY ?m"""), f"""
SELECT c_mktsegment AS m, count(*) AS cnt FROM customer WHERE c_nationkey = {k}
GROUP BY 1"""


def t_groupby_max(r):
    seg = _seg(r)
    return "groupby_max", dict(form="SELECT", numeric=["mx"], text=f"""
SELECT ?n (MAX(?b) AS ?mx) WHERE {{
  ?c a :Customer . ?c :hasNation ?n . ?c :mktsegment "{seg}" . ?c :acctbal ?b
}} GROUP BY ?n"""), f"""
SELECT 'nat:'||c_nationkey AS n, max(c_acctbal) AS mx FROM customer
WHERE c_mktsegment = '{seg}' GROUP BY 1"""


def t_count_distinct(r):
    a = int(r.integers(1, 45))
    return "count_distinct", dict(form="SELECT", text=f"""
SELECT ?b (COUNT(DISTINCT ?t) AS ?n_types) WHERE {{
  ?p :brand ?b . ?p :ptype ?t . ?p :size ?sz . FILTER(?sz > {a}) }}
GROUP BY ?b"""), f"""
SELECT p_brand AS b, count(DISTINCT p_type) AS n_types FROM part
WHERE p_size > {a} GROUP BY 1"""


def t_orderby_limit(r):
    seg, lim, off = _seg(r), int(r.integers(5, 30)), int(r.integers(0, 20))
    return "orderby_limit", dict(form="SELECT", numeric=["b"], text=f"""
SELECT ?c ?b WHERE {{ ?c a :Customer . ?c :acctbal ?b . ?c :mktsegment "{seg}" }}
ORDER BY DESC(?b) ASC(?c) LIMIT {lim} OFFSET {off}"""), f"""
SELECT 'cust:'||c_custkey AS c, c_acctbal AS b FROM customer
WHERE c_mktsegment = '{seg}' ORDER BY b DESC, c ASC LIMIT {lim} OFFSET {off}"""


def t_subquery(r):
    seg = _seg(r)
    return "subquery", dict(form="SELECT", text=f"""
SELECT ?nm ?cnt WHERE {{
  {{ SELECT ?n (COUNT(?c) AS ?cnt) WHERE {{
      ?c a :Customer . ?c :hasNation ?n . ?c :mktsegment "{seg}" }} GROUP BY ?n }}
  ?n :name ?nm . }}"""), f"""
SELECT n_name AS nm, cnt FROM (
  SELECT c_nationkey AS k, count(*) AS cnt FROM customer
  WHERE c_mktsegment = '{seg}' GROUP BY 1) t
JOIN nation ON n_nationkey = t.k"""


def t_path_plus(r):
    g = _reg(r)
    return "path_plus", dict(form="SELECT", text=f"""
SELECT ?x WHERE {{ ?x (:hasNation|:inRegion)+ reg:{g} }}"""), f"""
WITH n AS (SELECT n_nationkey FROM nation WHERE n_regionkey = {g})
SELECT 'nat:'||n_nationkey AS x FROM n
UNION ALL SELECT 'cust:'||c_custkey FROM customer JOIN n ON c_nationkey = n_nationkey
UNION ALL SELECT 'supp:'||s_suppkey FROM supplier JOIN n ON s_nationkey = n_nationkey"""


def t_ask(r):
    k, x = _nat(r), round(float(r.uniform(5000, 10500)), 1)
    return "ask", dict(form="ASK", text=f"""
ASK {{ ?c a :Customer . ?c :hasNation nat:{k} . ?c :acctbal ?b . FILTER(?b > {x}) }}"""), f"""
SELECT EXISTS(SELECT 1 FROM customer WHERE c_nationkey = {k} AND c_acctbal > {x}) AS ask"""


def t_construct(r):
    k = _nat(r)
    return "construct", dict(form="CONSTRUCT", text=f"""
CONSTRUCT {{ ?c :inSegment ?m }}
WHERE {{ ?c a :Customer ; :mktsegment ?m ; :hasNation nat:{k} . }}"""), f"""
SELECT 'cust:'||c_custkey AS s, ':inSegment' AS p, c_mktsegment AS o
FROM customer WHERE c_nationkey = {k}"""


def t_describe(r):
    g = _reg(r)
    return "describe", dict(form="DESCRIBE", select=["dir", "s", "p", "o"], text=f"""
DESCRIBE ?n WHERE {{ ?n a :Nation ; :inRegion reg:{g} }}"""), f"""
WITH t AS (SELECT n_nationkey AS k, n_name FROM nation WHERE n_regionkey = {g})
SELECT 'out' AS dir, 'nat:'||k AS s, 'rdf:type' AS p, ':Nation' AS o FROM t
UNION ALL SELECT 'out', 'nat:'||k, ':name', n_name FROM t
UNION ALL SELECT 'out', 'nat:'||k, ':comment', n_name||' comment' FROM t
UNION ALL SELECT 'out', 'nat:'||k, ':inRegion', 'reg:{g}' FROM t
UNION ALL SELECT 'in', 'cust:'||c_custkey, ':hasNation', 'nat:'||c_nationkey
  FROM customer JOIN t ON c_nationkey = k
UNION ALL SELECT 'in', 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey
  FROM supplier JOIN t ON s_nationkey = k"""


# rdfs:subClassOf closure of graft's ontology, restricted to the classes
# the store types: label -> SQL of its members
LABEL_MEMBERS = {
    ":Agent": ["customer", "supplier"],
    ":LegalEntity": ["customer", "supplier"],
    ":Customer": ["customer"],
    ":Supplier": ["supplier"],
    ":Place": ["nation", "region"],
    ":Nation": ["nation"],
    ":Region": ["region"],
}
MEMBER_SQL = {
    "customer": "SELECT 'cust:'||c_custkey AS uri FROM customer",
    "supplier": "SELECT 'supp:'||s_suppkey AS uri FROM supplier",
    "nation": "SELECT 'nat:'||n_nationkey AS uri FROM nation",
    "region": "SELECT 'reg:'||r_regionkey AS uri FROM region",
}


def t_nodes_with_label(r):
    label = str(r.choice(sorted(LABEL_MEMBERS)))
    return "nodes_with_label", dict(kind="reasoner", fn="nodesWithLabel", arg=label), \
        "\nUNION ALL\n".join(MEMBER_SQL[m] for m in LABEL_MEMBERS[label])


def t_nodes_in_category(r):
    g = _reg(r)
    return "nodes_in_category", dict(kind="reasoner", fn="nodesInCategory", arg=f"reg:{g}"), f"""
SELECT DISTINCT uri FROM (
  SELECT 'cust:'||c_custkey AS uri, c_nationkey AS k FROM customer
  UNION ALL SELECT 'supp:'||s_suppkey, s_nationkey FROM supplier) m
JOIN nation ON m.k = n_nationkey WHERE n_regionkey = {g}"""


SPARQL_TEMPLATES = [
    t_bgp_star, t_bgp_chain, t_filter_compare, t_optional_filter, t_exists,
    t_not_exists, t_union, t_groupby_count, t_groupby_max, t_count_distinct,
    t_orderby_limit, t_subquery, t_path_plus, t_ask, t_construct, t_describe,
    t_nodes_with_label, t_nodes_in_category,
]


class Plan:
    def __init__(self):
        self.ops, self.types, self.expect, self.rounds = [], [], [], []
        self.tix = {}

    def add(self, typ, fields, expect):
        # the warm-up adds one op per type first, in type order, so a
        # type's index is its position in the workload's type list
        tix = self.tix.setdefault(typ, len(self.tix))
        self.ops.append(dict(fields, type=typ, tix=tix))
        self.types.append(typ)
        self.expect.append(expect)
        return len(self.ops) - 1


def sparql_mix(seed, n_rounds):
    p = Plan()

    def one(t, r):
        typ, fields, sql = t(r)
        fields.setdefault("kind", "sparql")
        fields.setdefault("target", "store")
        fields["text"] = fields.get("text", "").strip()
        return p.add(typ, fields, ("sql", sql.strip()))

    warm = _rng(seed, 1)
    warmup = [one(t, warm) for t in SPARQL_TEMPLATES]
    r = _rng(seed, 2)
    for _ in range(n_rounds):
        order = r.permutation(len(SPARQL_TEMPLATES))
        p.rounds.append([one(SPARQL_TEMPLATES[i], r) for i in order])
    return p, warmup


# --- analytics: graft's own GraphX, reasoning and pipeline keys -------

# Label propagation (a second Pregel job beside connected components)
# and SimHash (a second signature dedup beside MinHash-LSH) are left
# out, to keep a traced run well inside three minutes on a contended
# 4-core box.
ANALYTICS_KEYS = [
    ("graph_connected_components", "graphx"), ("graph_pagerank", "graphx"),
    ("graph_kcore", "graphx"), ("graph_resource_alloc", "graphx"),
    ("infer_sameas_canon", "inference"), ("dedup_minhash_lsh", "pipeline"),
    ("ann_ivf_pq_topk", "pipeline"), ("dedup_embedding_cosine", "pipeline"),
    ("text_quality_score", "pipeline"), ("text_contamination_bloom", "pipeline"),
]


def analytics(seed, n_rounds):
    p = Plan()

    def one(key, layer):
        return p.add(key, dict(kind="key", key=key, layer=layer), ("key", key))

    warmup = [one(k, l) for k, l in ANALYTICS_KEYS]
    r = _rng(seed, 2)
    for _ in range(n_rounds):
        p.rounds.append([one(*ANALYTICS_KEYS[i]) for i in r.permutation(len(ANALYTICS_KEYS))])
    return p, warmup


# workload -> (plan maker, nominal seconds of one round on a 4-core
# box); an untraced run times round(--seconds / nominal) rounds, at
# least one, whatever the rounds then take
WORKLOADS = {
    "sparql_mix": (sparql_mix, 10),
    "analytics": (analytics, 15),
}
