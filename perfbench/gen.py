"""Seeded input generator for the four benchmark workloads.

``make_inputs(workload, seed, out_dir)`` writes the workload's tables as
parquet under ``out_dir`` and returns a JSON-serialisable manifest: the
table paths plus the query stream (template name and bind parameters of
every query, in order).  The engine only ever sees these generated
files and parameters; the same seed gives byte-identical files and the
same stream.

The query stream is a sequence of *cycles*.  Each cycle is a seeded
permutation of every query shape of the workload, so a run that stops at
a cycle boundary always executes the same shape mix whatever the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CYCLES = 64  # enough for runs of several minutes (a run uses round(seconds / cycle))

# ---------------------------------------------------------------------------
# gql_read / gql_write: a TPC-H-shaped star schema at sf0.1 row counts
# ---------------------------------------------------------------------------

TPCH_ROWS = {"nation": 25, "supplier": 1_000, "customer": 15_000, "orders": 150_000,
             "part": 20_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1URGENT", "2HIGH", "3MEDIUM", "4NOT SPECIFIED", "5LOW"]

# miniGQL read programs; ``$name`` placeholders go through ``bind_params``
GQL_READ = {
    "label_scan": "match (n: Nation) return n",
    "rel_where": (
        "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
        "where n.name = $nation\n"
        "return c, n"
    ),
    "two_hop": (
        "match (c: Customer) -[:in_nation]-> (n: Nation) -[:in_region]-> (r: Region)\n"
        "where r.name = $region\n"
        "return c, n, r"
    ),
    "where_arith": (
        "match (c: Customer)\n"
        "where c.custkey mod $m = $r and c.custkey / 7 < $lim or c.custkey * 2 = 4\n"
        "return c"
    ),
    "optional": (
        "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
        "where n.name = $nation\n"
        "optional match (o: Order) -[:placed_by]-> (c)\n"
        "return c, o"
    ),
    "not_exists": (
        "match (c: Customer)\n"
        "where c.custkey mod $m = $r\n"
        "where not exists (:Order) -[:placed_by]-> (c)\n"
        "return c"
    ),
    "count_agg": (
        "match (o: Order) -[:placed_by]-> (c: Customer)\n"
        "where c.custkey < $k\n"
        "return c, count(o), min(o.orderkey), max(o.orderkey)"
    ),
    "having": (
        "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
        "return n, count(c)\n"
        "where count_c >= $min"
    ),
    "distinct": (
        "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
        "where c.mktsegment = $seg\n"
        "return distinct n"
    ),
    "order_limit": (
        "match (c: Customer)\n"
        "where c.mktsegment = $seg\n"
        "order by c.custkey desc limit $n\n"
        "return c"
    ),
    "union": (
        "match (s: Supplier) -[:in_nation]-> (n: Nation) where n.name = $nation return s\n"
        "union\n"
        "match (s: Customer) -[:in_nation]-> (n: Nation) where n.name = $nation return s"
    ),
    "except": (
        "match (c: Customer) where c.custkey mod $m = $r return c\n"
        "except\n"
        "match (c: Customer) -[:in_nation]-> (n: Nation) where n.name = $nation return c"
    ),
    "attr_proj": (
        "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
        "where n.name = $nation\n"
        "return c, n.name, c.mktsegment"
    ),
}

# miniGQL update programs, each followed by a readback of what it changed
GQL_WRITE = {
    "create_rel": (
        "match (s: Supplier) -[:in_nation]-> (n: Nation), (c: Customer) -[:in_nation]-> (n)\n"
        "where n.name = $nation and c.custkey mod $m = $r\n"
        "create (s) -[:serves]-> (c)"
    ),
    "create_node": (
        "match (r: Region)\n"
        "where r.name <> $region\n"
        "create (h: Hub)\n"
        "create (h) -[:routes]-> (r)"
    ),
    "delete_node": (
        "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
        "where n.nationkey mod $m = $r\n"
        "delete c"
    ),
    "delete_rel": (
        "match (o: Order) -[:placed_by]-> (c: Customer)\n"
        "where c.custkey mod $m = $r\n"
        "delete o -[:placed_by]-> c"
    ),
    "set_first_row": (
        "match (c: Customer) -[:in_nation]-> (n: Nation)\n"
        "where n.name = $nation\n"
        "set c.custkey = n.nationkey + $d"
    ),
    "set_per_row": (
        "match (n: Nation)\n"
        "where n.nationkey mod $m = $r\n"
        "set n.nationkey = n.nationkey + $d\n"
        "return n, n.nationkey"
    ),
    "merge": (
        "merge (j: Nation {name = $existing})\n"
        "merge (a: Nation {name = $fresh})\n"
        "merge (b: Nation {name = $fresh})\n"
        "return j, a, b"
    ),
    # the literal create script is generated per instance (chain shape
    # varies); its text is stored in the stream under "src"
    "literal_script": None,
}


def _write(table: dict, path: str) -> str:
    pq.write_table(pa.table(table), path)
    return path


def gen_tpch(rng: np.random.Generator, out_dir: str) -> dict:
    """TPC-H-shaped region/nation/supplier/customer/orders/part tables."""
    n_nat, n_sup = TPCH_ROWS["nation"], TPCH_ROWS["supplier"]
    n_cust, n_ord, n_part = TPCH_ROWS["customer"], TPCH_ROWS["orders"], TPCH_ROWS["part"]
    # every region holds at least one nation
    nat_region = np.concatenate([np.arange(5), rng.integers(0, 5, n_nat - 5)])
    rng.shuffle(nat_region)
    cust_nation = rng.integers(0, n_nat, n_cust)
    # a third of the customers place no order (as in TPC-H), so optional
    # match and not exists have both arms populated
    buyers = np.sort(rng.choice(np.arange(1, n_cust + 1), size=(2 * n_cust) // 3, replace=False))
    paths = {
        "region": _write(
            {"r_regionkey": np.arange(5, dtype=np.int64), "r_name": REGIONS},
            os.path.join(out_dir, "region.parquet"),
        ),
        "nation": _write(
            {
                "n_nationkey": np.arange(n_nat, dtype=np.int64),
                "n_name": [f"NATION{k}" for k in range(n_nat)],
                "n_regionkey": nat_region.astype(np.int64),
            },
            os.path.join(out_dir, "nation.parquet"),
        ),
        "supplier": _write(
            {
                "s_suppkey": np.arange(1, n_sup + 1, dtype=np.int64),
                "s_name": [f"Supplier{k}" for k in range(1, n_sup + 1)],
                "s_nationkey": rng.integers(0, n_nat, n_sup).astype(np.int64),
            },
            os.path.join(out_dir, "supplier.parquet"),
        ),
        "customer": _write(
            {
                "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
                "c_name": [f"Customer{k}" for k in range(1, n_cust + 1)],
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
                "c_nationkey": cust_nation.astype(np.int64),
            },
            os.path.join(out_dir, "customer.parquet"),
        ),
        "orders": _write(
            {
                "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
                "o_custkey": buyers[rng.integers(0, len(buyers), n_ord)].astype(np.int64),
            },
            os.path.join(out_dir, "orders.parquet"),
        ),
        "part": _write(
            {
                "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
                "p_name": [f"Part{k}" for k in range(1, n_part + 1)],
                "p_brand": [f"Brand{i}" for i in rng.integers(10, 56, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int64),
            },
            os.path.join(out_dir, "part.parquet"),
        ),
    }
    return paths


def _nation(rng) -> str:
    return f"NATION{int(rng.integers(0, TPCH_ROWS['nation']))}"


def gql_read_params(shape: str, rng: np.random.Generator) -> dict:
    if shape in ("rel_where", "optional", "union", "attr_proj"):
        return {"nation": _nation(rng)}
    if shape == "two_hop":
        return {"region": REGIONS[int(rng.integers(0, 5))]}
    if shape == "where_arith":
        return {"m": int(rng.integers(7, 14)), "r": int(rng.integers(0, 7)),
                "lim": int(rng.integers(500, 2000))}
    if shape == "not_exists":
        return {"m": int(rng.integers(20, 40)), "r": int(rng.integers(0, 20))}
    if shape == "count_agg":
        return {"k": int(rng.integers(300, 700))}
    if shape == "having":
        return {"min": int(rng.integers(560, 640))}
    if shape in ("distinct", "order_limit"):
        p = {"seg": SEGMENTS[int(rng.integers(0, 5))]}
        if shape == "order_limit":
            p["n"] = int(rng.integers(3, 20))
        return p
    if shape == "except":
        return {"m": int(rng.integers(2, 5)), "r": int(rng.integers(0, 2)),
                "nation": _nation(rng)}
    return {}


def literal_script(rng: np.random.Generator) -> tuple[str, dict]:
    """A literal create script — a chain plus a few shortcut edges, every
    node's ``v`` set to its creation index — followed by a transitive
    ``-[:next*]->`` match.  Node ids are creation-ordered (0, 1, ...)."""
    n = int(rng.integers(5, 9))
    lines = ["(:N {v int})", "(:N) -[:next]-> (:N)", "create (a0: N) -[:next]-> (a1: N)"]
    edges = [(0, 1)]
    for i in range(1, n - 1):
        lines.append(f"create (a{i}) -[:next]-> (a{i + 1}: N)")
        edges.append((i, i + 1))
    for _ in range(2):
        a, b = sorted(int(x) for x in rng.choice(n, size=2, replace=False))
        if (a, b) not in edges:
            lines.append(f"create (a{a}) -[:next]-> (a{b})")
            edges.append((a, b))
    lines.append("set " + ", ".join(f"a{i}.v = {i}" for i in range(n)))
    lines.append("match (x: N) -[:next*]-> (y: N) where x.v >= $lo return x, y")
    return "\n".join(lines), {"lo": int(rng.integers(0, 3)), "edges": edges}


def gql_write_params(shape: str, rng: np.random.Generator) -> dict:
    if shape == "create_rel":
        return {"nation": _nation(rng), "m": 10, "r": int(rng.integers(0, 10))}
    if shape == "create_node":
        return {"region": REGIONS[int(rng.integers(0, 5))]}
    if shape == "delete_node":
        return {"m": 5, "r": int(rng.integers(0, 5))}
    if shape == "delete_rel":
        return {"m": int(rng.integers(2, 5)), "r": int(rng.integers(0, 2))}
    if shape == "set_first_row":
        return {"nation": _nation(rng), "d": int(rng.integers(100, 1000))}
    if shape == "set_per_row":
        return {"m": int(rng.integers(2, 5)), "r": int(rng.integers(0, 2)),
                "d": int(rng.integers(100, 1000))}
    if shape == "merge":
        return {"existing": _nation(rng), "fresh": f"ATLANTIS{int(rng.integers(0, 100))}"}
    return {}


def _stream(shapes: list, rng: np.random.Generator, params_of) -> list:
    out = []
    for _ in range(N_CYCLES):
        for i in rng.permutation(len(shapes)):
            shape = shapes[int(i)]
            out.append({"shape": shape, "params": params_of(shape, rng)})
    return out


def _write_query(shape: str, rng: np.random.Generator) -> dict:
    if shape == "literal_script":
        src, info = literal_script(rng)
        return {"src": src, "lo": info["lo"], "edges": info["edges"]}
    return gql_write_params(shape, rng)


# ---------------------------------------------------------------------------
# graph_iter: power-law components, a long chain, cliques and a cycle
# ---------------------------------------------------------------------------

GRAPH_SHAPE = {"ba_big": 240, "ba_small": 80, "chain": 12, "cliques": 3, "cycle": 3}
# one algorithm per superstep pattern: fixpoint witness (components),
# fixed rounds (pagerank), frontier (bfs), peeling (kcore), peel with a
# probe job per round (topo), path doubling inside the engine
# (var_length).  personalized_pagerank, sssp and label_propagation repeat
# the pagerank/bfs patterns and triangle_count has no superstep; they are
# left out to keep a run within its time budget.
GRAPH_ALGOS = [
    "connected_components", "pagerank", "bfs_levels", "kcore", "topo_layers", "var_length",
]
# fixed round caps keep each algorithm to a few supersteps (the per-
# superstep job cost is what this workload measures); the checker
# replays the same caps
GRAPH_ARGS = {
    "pagerank": {"num_iter": 3},
    "bfs_levels": {"max_iter": 4},
    "kcore": {"k": 3, "max_rounds": 3},
    "topo_layers": {"max_iter": 4},
}


def _preferential(rng: np.random.Generator, n: int, m: int = 2) -> list:
    """Barabási–Albert growth: each new node links to ``m`` existing
    nodes chosen proportionally to degree; edges point new -> old."""
    edges = [(1, 0)]
    targets = [0, 1]
    for v in range(2, n):
        chosen = set()
        while len(chosen) < min(m, v):
            chosen.add(int(targets[int(rng.integers(0, len(targets)))]))
        for u in sorted(chosen):
            edges.append((v, u))
            targets += [u, v]
    return edges


def gen_graph(rng: np.random.Generator, out_dir: str, shape: dict) -> dict:
    """Directed edge list with integer weights over a seeded id permutation.

    The structure (component sizes, chain length, clique count) is the
    same for every seed, so the number of supersteps the algorithms need
    stays comparable between seeds; the wiring and the ids vary."""
    edges, base = [], 0
    for key in ("ba_big", "ba_small"):
        edges += [(a + base, b + base) for a, b in _preferential(rng, shape[key])]
        base += shape[key]
    chain_head = base
    edges += [(base + i, base + i + 1) for i in range(shape["chain"] - 1)]
    base += shape["chain"]
    for _ in range(shape["cliques"]):
        edges += [(base + i, base + j) for i in range(4) for j in range(i + 1, 4)]
        base += 4
    k = shape["cycle"]
    edges += [(base + i, base + (i + 1) % k) for i in range(k)]
    base += k
    perm = rng.permutation(base)
    src = perm[np.array([a for a, _ in edges])].astype(np.int64)
    dst = perm[np.array([b for _, b in edges])].astype(np.int64)
    weight = rng.integers(1, 6, len(edges)).astype(np.float64)
    path = _write({"src": src, "dst": dst, "weight": weight},
                  os.path.join(out_dir, "edges.parquet"))
    return {"edges": path, "n_nodes": int(base), "chain_head": int(perm[chain_head])}


def graph_params(algo: str, rng: np.random.Generator, meta: dict) -> dict:
    p = dict(GRAPH_ARGS.get(algo, {}))
    if algo == "bfs_levels":
        # the chain head makes the frontier walk the long chain
        p["sources"] = [meta["chain_head"], int(rng.integers(0, meta["n_nodes"]))]
    elif algo == "var_length":
        p.update(m=int(rng.integers(3, 6)), r=int(rng.integers(0, 3)))
    return p


# ---------------------------------------------------------------------------
# vector_dedup: 64-dim embeddings and documents with planted near-duplicates
# ---------------------------------------------------------------------------

# Operator settings of the s/d-family queries: s2's label-blocked exact
# pairs at 0.2, threshold 0.4 for the approximate pair operators (s9,
# s22), s9's pinned 8 x 6 SRP bands, s22's pinned 8-cell / 2-probe /
# 2-iteration IVF, s1's 5 queries x k=5 for the kNN, and the d-family
# MinHash threshold 0.2.  The corpus is random 64-dim float32 vectors in
# 10 label blocks, like the sf0.1 fixture (pairwise cosine about 0 with
# sd 1/8, so a few hundred random pairs clear 0.4), at 1,200 rows instead
# of its 2,000 so that a run fits its time budget; at this size the IVF
# candidate verify still runs multi-task stages.
VEC_DIM, VEC_LABELS = 64, 10
VEC_SHAPE = {"rows": 1_200, "groups": 40, "docs": 1_000, "doc_groups": 60}
EXACT_THRESHOLD, VEC_THRESHOLD = 0.2, 0.4
SRP_BANDS = {"n_bands": 8, "bits": 6, "dim": VEC_DIM, "seed": 43}
IVF_ARGS = {"n_centroids": 8, "nprobe": 2, "num_iter": 2}
KNN_QUERIES, KNN_K = 5, 5
MINHASH_THRESHOLD = 0.2
# embedding_dup_clusters (LSH pairs + connected components, both covered
# here and in graph_iter) is left out to keep a run within its budget
VECTOR_OPS = [
    "embedding_cosine_dups", "lsh_cosine_dups", "ivf_cosine_dups", "knn_bruteforce",
    "minhash_lsh_pairs",
]
_WORDS = [f"w{i}" for i in range(400)]


def gen_vectors(rng: np.random.Generator, out_dir: str, shape: dict) -> dict:
    """Random embeddings plus planted groups of near-copies (cosine above
    0.99 to their source, where random pairs stay below 0.7), and random
    documents plus planted one-word edits (shingle Jaccard above 0.85,
    where random pairs share almost no shingle)."""
    rows = shape["rows"]
    vecs = rng.standard_normal((rows, VEC_DIM))
    group_of = -np.ones(rows, dtype=np.int64)
    ids = rng.permutation(rows)
    pos = 0
    for g in range(shape["groups"]):
        size = int(rng.integers(2, 5))
        members = ids[pos:pos + size]
        pos += size
        for m in members[1:]:
            vecs[m] = vecs[members[0]] + 0.03 * rng.standard_normal(VEC_DIM)
        group_of[members] = g
    labels = rng.integers(0, VEC_LABELS, rows)
    # near-copies share the block of their source, so the blocked exact
    # operator can find them
    for g in range(shape["groups"]):
        members = np.nonzero(group_of == g)[0]
        labels[members] = labels[members[0]]
    emb_path = _write(
        {
            "vec_id": np.arange(rows, dtype=np.int64),
            "label": labels.astype(np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        },
        os.path.join(out_dir, "embeddings.parquet"),
    )
    texts = []
    for _ in range(shape["docs"]):
        n = int(rng.integers(60, 100))
        texts.append([_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), n)])
    doc_ids = rng.permutation(shape["docs"])
    for g in range(shape["doc_groups"]):
        a, b = int(doc_ids[2 * g]), int(doc_ids[2 * g + 1])
        copy = list(texts[a])
        copy[int(rng.integers(0, len(copy)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        texts[b] = copy
    doc_path = _write(
        {"doc_id": np.arange(shape["docs"], dtype=np.int64),
         "text": [" ".join(t) for t in texts]},
        os.path.join(out_dir, "documents.parquet"),
    )
    return {"embeddings": emb_path, "documents": doc_path, "rows": rows}


def vector_params(op: str, rng: np.random.Generator, meta: dict) -> dict:
    if op == "knn_bruteforce":
        ids = rng.choice(meta["rows"], KNN_QUERIES, replace=False)
        return {"query_ids": sorted(int(i) for i in ids), "k": KNN_K}
    if op == "minhash_lsh_pairs":
        return {"threshold": MINHASH_THRESHOLD}
    if op == "embedding_cosine_dups":
        return {"threshold": EXACT_THRESHOLD}
    return {"threshold": VEC_THRESHOLD}


# ---------------------------------------------------------------------------

WORKLOADS = ("gql_read", "gql_write", "graph_iter", "vector_dedup")


GQL_STREAMS = {"gql_read": (list(GQL_READ), gql_read_params),
               "gql_write": (list(GQL_WRITE), _write_query)}


def make_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Generate ``workload``'s inputs for ``seed`` under ``out_dir``."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    if workload in GQL_STREAMS:
        shapes, params_of = GQL_STREAMS[workload]
        tables = gen_tpch(rng, out_dir)
        stream = _stream(shapes, rng, params_of)
    elif workload == "graph_iter":
        tables = gen_graph(rng, out_dir, GRAPH_SHAPE)
        stream = _stream(GRAPH_ALGOS, rng, lambda a, r: graph_params(a, r, tables))
    else:
        tables = gen_vectors(rng, out_dir, VEC_SHAPE)
        stream = _stream(VECTOR_OPS, rng, lambda o, r: vector_params(o, r, tables))
    return {"workload": workload, "seed": seed, "dir": out_dir, "tables": tables,
            "stream": stream}
