"""Output checks, run outside the timed region.

Every query result is compared with an independent reference computed
from the same generated inputs:

* gql_read / gql_write: a DuckDB replay of the template instance over
  the same parquet files (node ids are the loader's ``key + offset``);
* graph_iter: networkx for components and BFS levels; a
  NumPy/Python replay of the round-capped algorithms (pagerank, k-core
  peeling, Kahn layering, bounded reachability);
* vector_dedup: NumPy brute force — exact operators must match exactly;
  the approximate ones (SRP-LSH, IVF, MinHash) must return no false
  positive and at least ``RECALL_FLOOR`` of the brute-force pairs, and
  the cosine ones every planted near-copy pair.

``Checker(manifest).check(query, result)`` returns ``(ok, info)``; ``info``
carries the recall counts the traced run reports.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

OFFSET = {"Region": 0, "Nation": 100, "Supplier": 10_000, "Customer": 1_000_000,
          "Order": 10_000_000}
NEXT_ID_BASE = 1_000_000_000
# Planted near-copy embeddings sit above this cosine, random pairs below
# 0.7 (gen.gen_vectors); the SRP-LSH and IVF operators must find them
# all.  (MinHash misses a planted pair now and then: one band of four
# hashes matches with probability J^4, so it gets a recall floor only.)
PLANTED_COS = 0.97
# Recall floors over all brute-force pairs, about 0.1 below the lowest
# recall measured over seeds 1-12 (IVF 0.83, LSH 0.56, MinHash 0.97): a
# collapse fails the query, the seed-to-seed variation does not.
RECALL_FLOOR = {"lsh_cosine_dups": 0.45, "ivf_cosine_dups": 0.7, "minhash_lsh_pairs": 0.85}

_C = f"c_custkey + {OFFSET['Customer']}"
_N = f"n_nationkey + {OFFSET['Nation']}"
_S = f"s_suppkey + {OFFSET['Supplier']}"
_O = f"o_orderkey + {OFFSET['Order']}"
_CN = "customer JOIN nation ON c_nationkey = n_nationkey"

READ_SQL = {
    "label_scan": f"SELECT {_N} AS n FROM nation",
    "rel_where": f"SELECT {_C} AS c, {_N} AS n FROM {_CN} WHERE n_name = $nation",
    "two_hop": (
        f"SELECT {_C} AS c, {_N} AS n, r_regionkey AS r FROM {_CN} "
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = $region"
    ),
    "where_arith": (
        f"SELECT {_C} AS c FROM customer WHERE (c_custkey % $m = $r AND "
        "c_custkey // 7 < $lim) OR c_custkey * 2 = 4"
    ),
    "optional": (
        f"SELECT {_C} AS c, {_O} AS o FROM {_CN} "
        "LEFT JOIN orders ON o_custkey = c_custkey WHERE n_name = $nation"
    ),
    "not_exists": (
        f"SELECT {_C} AS c FROM customer WHERE c_custkey % $m = $r AND NOT EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    ),
    "count_agg": (
        f"SELECT {_C} AS c, count(*) AS count_o, min(o_orderkey) AS min_o_orderkey, "
        "max(o_orderkey) AS max_o_orderkey FROM orders JOIN customer "
        "ON o_custkey = c_custkey WHERE c_custkey < $k GROUP BY c_custkey"
    ),
    "having": (
        f"SELECT {_N} AS n, count(*) AS count_c FROM {_CN} GROUP BY n_nationkey "
        "HAVING count(*) >= $min"
    ),
    "distinct": f"SELECT DISTINCT {_N} AS n FROM {_CN} WHERE c_mktsegment = $seg",
    "order_limit": (
        f"SELECT {_C} AS c FROM customer WHERE c_mktsegment = $seg "
        "ORDER BY c_custkey DESC LIMIT $n"
    ),
    "union": (
        f"SELECT {_S} AS s FROM supplier JOIN nation ON s_nationkey = n_nationkey "
        f"WHERE n_name = $nation UNION SELECT {_C} FROM {_CN} WHERE n_name = $nation"
    ),
    "except": (
        f"SELECT {_C} AS c FROM customer WHERE c_custkey % $m = $r "
        f"EXCEPT SELECT {_C} FROM {_CN} WHERE n_name = $nation"
    ),
    "attr_proj": (
        f"SELECT {_C} AS c, n_name, c_mktsegment FROM {_CN} WHERE n_name = $nation"
    ),
}


def _edges_sql(placed_by_where: str = "TRUE", customer_where: str = "TRUE") -> str:
    """All loaded edges (src, dst) after deletions, as one UNION ALL."""
    return (
        f"SELECT {_C} AS src, {_N} AS dst FROM {_CN} WHERE {customer_where} "
        f"UNION ALL SELECT {_S}, s_nationkey + {OFFSET['Nation']} FROM supplier "
        f"UNION ALL SELECT {_N}, n_regionkey FROM nation "
        f"UNION ALL SELECT {_O}, o_custkey + {OFFSET['Customer']} FROM orders "
        f"JOIN customer ON o_custkey = c_custkey WHERE {placed_by_where}"
    )


WRITE_SQL = {
    "create_rel": (
        f"SELECT DISTINCT {_S} AS src, {_C} AS dst FROM supplier JOIN nation "
        "ON s_nationkey = n_nationkey JOIN customer ON c_nationkey = n_nationkey "
        "WHERE n_name = $nation AND c_custkey % $m = $r"
    ),
    "create_node": "SELECT r_regionkey AS r FROM region WHERE r_name <> $region",
    "delete_node": (
        f"SELECT (SELECT count(*) FROM {_CN} WHERE n_nationkey % $m <> $r), "
        f"(SELECT sum({_C}) FROM {_CN} WHERE n_nationkey % $m <> $r), "
        "count(*), sum(src), sum(dst) FROM ("
        + _edges_sql(
            "c_nationkey % $m <> $r", "n_nationkey % $m <> $r"
        )
        + ")"
    ),
    "delete_rel": (
        f"SELECT count(*), sum({_O}), sum(o_custkey + {OFFSET['Customer']}) FROM orders "
        "WHERE NOT (o_custkey % $m = $r)"
    ),
    "set_first_row": (
        "SELECT count(*), sum(CASE WHEN n_name = $nation THEN n_nationkey + $d "
        f"ELSE c_custkey END) FROM {_CN}"
    ),
    "set_per_row": (
        f"SELECT {_N} AS n, n_nationkey + $d AS n_nationkey FROM nation "
        "WHERE n_nationkey % $m = $r"
    ),
    "merge": (
        f"SELECT {_N} AS j, {NEXT_ID_BASE} AS a, {NEXT_ID_BASE} AS b FROM nation "
        "WHERE n_name = $existing"
    ),
}


def _key(row) -> tuple:
    """Sort key that orders NULLs after values of any type."""
    return tuple((v is None, v) for v in row)


def canon(rows) -> list:
    """Rows (tuples) sorted, with NumPy and integral float values as int."""
    out = []
    for r in rows:
        t = []
        for v in r:
            if isinstance(v, (np.integer,)):
                v = int(v)
            elif isinstance(v, float) and not math.isnan(v) and v == int(v) and abs(v) < 2**53:
                v = int(v)
            t.append(v)
        out.append(tuple(t))
    return sorted(out, key=_key)


class TpchReplay:
    """DuckDB over the generated star-schema parquet."""

    def __init__(self, tables: dict):
        import duckdb

        self.con = duckdb.connect()
        for name, path in tables.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str, params: dict) -> list:
        used = {k: v for k, v in params.items() if f"${k}" in sql}
        return self.con.execute(sql, used).fetchall()

    def columns(self, sql: str, params: dict) -> list:
        used = {k: v for k, v in params.items() if f"${k}" in sql}
        return [d[0] for d in self.con.execute(sql, used).description]


def closure_pairs(edges, lo: int) -> list:
    """Reachability pairs (x, y) over >= 1 hop with x >= lo (ids = values)."""
    succ = defaultdict(set)
    for a, b in edges:
        succ[a].add(b)
    nodes = {a for e in edges for a in e}
    out = set()
    for x in nodes:
        if x < lo:
            continue
        seen, todo = set(), list(succ[x])
        while todo:
            y = todo.pop()
            if y not in seen:
                seen.add(y)
                todo.extend(succ[y])
        out |= {(x, y) for y in seen}
    return sorted(out)


class Checker:
    def __init__(self, manifest: dict):
        self.workload = manifest["workload"]
        self._cache: dict = {}
        tables = manifest["tables"]
        if self.workload in ("gql_read", "gql_write"):
            self.db = TpchReplay(tables)
        elif self.workload == "graph_iter":
            import pyarrow.parquet as pq

            t = pq.read_table(tables["edges"]).to_pydict()
            self.edges = list(zip(t["src"], t["dst"], t["weight"]))
        else:
            import pyarrow.parquet as pq

            e = pq.read_table(tables["embeddings"]).sort_by("vec_id").to_pydict()
            self.vec_ids = np.asarray(e["vec_id"])
            self.labels = np.asarray(e["label"])
            v = np.asarray(e["embedding"], dtype=np.float64)
            norms = np.linalg.norm(v, axis=1)
            self.cos = (v @ v.T) / np.outer(norms, norms)
            self.vecs = v
            d = pq.read_table(tables["documents"]).to_pydict()
            self.docs = dict(zip(d["doc_id"], d["text"]))

    def check(self, q: dict, result) -> tuple[bool, dict]:
        fn = getattr(self, f"_check_{self.workload}")
        return fn(q, result)

    # -- gql --------------------------------------------------------------

    def _check_gql_read(self, q, result):
        sql = READ_SQL[q["shape"]]
        cols = self.db.columns(sql, q["params"])
        got = canon(tuple(r.get(c) for c in cols) for r in result)
        want = canon(self.db.rows(sql, q["params"]))
        return got == want, {}

    def _check_gql_write(self, q, result):
        shape, p = q["shape"], q["params"]
        if shape == "literal_script":
            return canon(result) == canon(closure_pairs(p["edges"], p["lo"])), {}
        want = canon(self.db.rows(WRITE_SQL[shape], p))
        if shape == "create_node":
            hubs = {h for h, _ in result}
            ok = (
                sorted(r for _, r in result) == [r for (r,) in want]
                and hubs == set(range(NEXT_ID_BASE, NEXT_ID_BASE + len(want)))
            )
            return ok, {}
        return canon(result) == want, {}

    # -- graph_iter -------------------------------------------------------

    def _graph(self, directed: bool):
        import networkx as nx

        g = nx.DiGraph() if directed else nx.Graph()
        for a, b, w in self.edges:
            g.add_edge(int(a), int(b), weight=float(w))
        return g

    def _check_graph_iter(self, q, result):
        algo, p = q["shape"], q["params"]
        key = (algo, repr(p))
        if key not in self._cache:
            self._cache[key] = getattr(self, f"_ref_{algo}")(**p)
        want = self._cache[key]
        if algo == "pagerank":
            got = dict(result)
            ok = set(got) == set(want) and all(
                abs(got[k] - want[k]) <= 1e-9 + 1e-7 * abs(want[k]) for k in want
            )
            return ok, {}
        return canon(result) == canon(want), {}

    def _ref_connected_components(self):
        import networkx as nx

        out = []
        for comp in nx.connected_components(self._graph(False)):
            m = min(comp)
            out += [(v, m) for v in comp]
        return out

    def _ref_pagerank(self, num_iter, damping=0.85):
        """Power iteration from the uniform vector, dangling mass spread
        uniformly — the engine's formulation, round for round."""
        nodes = sorted({int(v) for a, b, _ in self.edges for v in (a, b)})
        ix = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        src = np.array([ix[int(a)] for a, _, _ in self.edges])
        dst = np.array([ix[int(b)] for _, b, _ in self.edges])
        outdeg = np.bincount(src, minlength=n).astype(float)
        r = np.full(n, 1.0 / n)
        for _ in range(num_iter):
            inflow = np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
            r = (1 - damping) / n + damping * (inflow + r[outdeg == 0].sum() / n)
        return {v: float(r[ix[v]]) for v in nodes}

    def _ref_bfs_levels(self, sources, max_iter):
        import networkx as nx

        g = self._graph(False)
        g.add_node(-1)
        for s in sources:
            g.add_edge(-1, int(s))
        lv = nx.single_source_shortest_path_length(g, -1, cutoff=max_iter + 1)
        return [(v, d - 1) for v, d in lv.items() if v != -1]

    def _ref_kcore(self, k, max_rounds):
        """Round-capped peeling, as the engine runs it (at the fixpoint
        this is networkx's k-core)."""
        alive = {(int(a), int(b)) for a, b, _ in self.edges if a != b}
        alive |= {(b, a) for a, b in alive}
        prev = None
        for _ in range(max_rounds):
            deg = defaultdict(int)
            for a, _ in alive:
                deg[a] += 1
            keep = {v for v, d in deg.items() if d >= k}
            alive = {(a, b) for a, b in alive if a in keep and b in keep}
            n = len({a for a, _ in alive})
            if n == prev:
                break
            prev = n
        deg = defaultdict(int)
        for a, _ in alive:
            deg[a] += 1
        return [(v, d) for v, d in deg.items() if d >= k]

    def _ref_topo_layers(self, max_iter):
        edges = {(int(a), int(b)) for a, b, _ in self.edges if a != b}
        remaining = {v for e in edges for v in e}
        out = []
        for layer in range(max_iter):
            has_in = {b for a, b in edges}
            peel = remaining - has_in
            if not peel:
                break
            out += [(v, layer, False) for v in peel]
            remaining -= peel
            edges = {(a, b) for a, b in edges if a not in peel}
        return out + [(v, None, True) for v in remaining]

    def _ref_var_length(self, m, r, hops=3):
        succ = defaultdict(set)
        for a, b, _ in self.edges:
            succ[int(a)].add(int(b))
        out = set()
        for x in list(succ):
            if x % m != r:
                continue
            frontier = {x}
            for _ in range(hops):
                frontier = {y for f in frontier for y in succ[f]}
                out |= {(x, y) for y in frontier}
        return sorted(out)

    # -- vector_dedup -----------------------------------------------------

    def _true_pairs(self, threshold: float, same_block: bool = False) -> set:
        key = ("pairs", threshold, same_block)
        if key not in self._cache:
            hit = np.triu(self.cos >= threshold, k=1)
            if same_block:
                hit &= self.labels[:, None] == self.labels[None, :]
            a, b = np.nonzero(hit)
            self._cache[key] = set(zip(self.vec_ids[a].tolist(), self.vec_ids[b].tolist()))
        return self._cache[key]

    def _shingles(self, doc_id: int, n: int = 3) -> set:
        toks = self.docs[doc_id].split()
        return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}

    def _true_doc_pairs(self, threshold: float) -> dict:
        key = ("docs", threshold)
        if key not in self._cache:
            sh = {d: self._shingles(d) for d in self.docs}
            post = defaultdict(list)
            for d, s in sh.items():
                for x in s:
                    post[x].append(d)
            cand = {(a, b) for ds in post.values() for a in ds for b in ds if a < b}
            out = {}
            for a, b in cand:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= threshold:
                    out[(a, b)] = j
            self._cache[key] = out
        return self._cache[key]

    def _sim_ok(self, a: int, b: int, sim: float, tol: float = 1e-6) -> bool:
        return abs(sim - self.cos[a, b]) <= tol

    def _check_vector_dedup(self, q, result):
        op, p = q["shape"], q["params"]
        if op == "knn_bruteforce":
            want = []
            for qid in p["query_ids"]:
                sims = self.cos[qid].copy()
                sims[qid] = -np.inf
                order = sorted(range(len(sims)), key=lambda j: (-sims[j], j))[: p["k"]]
                want += [(qid, j, r + 1) for r, j in enumerate(order)]
            got = [(a, b, r) for a, b, r, _ in result]
            ok = canon(got) == canon(want) and all(
                self._sim_ok(a, b, s, 1e-6) for a, b, _, s in result
            )
            return ok, {}
        got = {(a, b) for a, b, _ in result}
        if op == "minhash_lsh_pairs":
            truth = self._true_doc_pairs(p["threshold"])
            ok = all(
                (a, b) in truth and abs(j - truth[(a, b)]) <= 1e-9 for a, b, j in result
            )
            planted = set()
        else:  # pair operators: (id_a, id_b, sim)
            exact = op == "embedding_cosine_dups"
            truth = self._true_pairs(p["threshold"], same_block=exact)
            ok = all(a < b and self._sim_ok(a, b, s) for a, b, s in result) and got <= truth
            planted = {(a, b) for a, b in truth if self.cos[a, b] >= PLANTED_COS}
            if exact:
                ok = ok and got == truth
        found = len(got & set(truth))
        ok = (
            ok and len(got) == len(result) and planted <= got
            and found >= RECALL_FLOOR.get(op, 1.0) * len(truth)
        )
        return ok, {"found": found, "true": len(truth)}
