"""The four workloads: how each loads its inputs and runs one query.

A workload object is built from a manifest (``gen.make_inputs``).
``load(spark)`` builds the input frames (part of set-up), ``run(spark,
q)`` executes one query of the stream *including its final action* and
returns plain Python rows for the checker.  Module attributes of the
engine are looked up at call time (``executor.run_program``, not a name
bound at import), so the traced run's wrappers see every call.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from projet_graphdb_spark.engine import executor
from projet_graphdb_spark.engine.state import GraphState
from projet_graphdb_spark.frontend import ast as A
from projet_graphdb_spark.functions import dedup, graph_algos, similarity
from projet_graphdb_spark.sources import parquet_graph

from gen import GQL_READ, GQL_WRITE, IVF_ARGS, SRP_BANDS


class Workload:
    """Base: ``action`` runs a query's final action; the tracer's
    ``before_action`` hook sees the frame first, to time Catalyst planning
    and to split eager jobs from the action's."""

    before_action = None

    def __init__(self, manifest: dict):
        self.m = manifest
        self.tables = manifest["tables"]

    def action(self, df) -> list:
        if self.before_action is not None:
            self.before_action(df)
        return [tuple(r) for r in df.collect()]


class _TpchWorkload(Workload):
    def load(self, spark):
        self.sf_dir = self.m["dir"]
        parquet_graph.load_tpch_graph(spark, self.sf_dir)


class GqlRead(_TpchWorkload):
    def run(self, spark, q):
        state = parquet_graph.load_tpch_graph(spark, self.sf_dir)
        _, b = executor.run_program(
            spark, GQL_READ[q["shape"]], initial_state=state, params=q["params"]
        )
        df = executor.binding_table(b)
        cols = df.columns
        return [dict(zip(cols, r)) for r in self.action(df)]


class GqlWrite(_TpchWorkload):
    def run(self, spark, q):
        shape, p = q["shape"], q["params"]
        if shape == "literal_script":
            _, b = executor.run_program(spark, p["src"], params={"lo": p["lo"]})
            return self.action(executor.binding_table(b).select("x", "y"))
        state = parquet_graph.load_tpch_graph(spark, self.sf_dir)
        set_eval = "per_row" if shape == "set_per_row" else "first_row"
        state, b = executor.run_program(
            spark, GQL_WRITE[shape], initial_state=state, params=p, set_eval=set_eval
        )
        edges = state.edges
        if shape == "create_rel":
            return self.action(edges.filter(F.col("rel") == "serves").select("src", "dst"))
        if shape == "create_node":
            return self.action(edges.filter(F.col("rel") == "routes").select("src", "dst"))
        if shape == "delete_node":
            nodes = state.nodes["Customer"].agg(F.count(F.lit(1)), F.sum("_id"))
            return self.action(
                nodes.crossJoin(edges.agg(F.count(F.lit(1)), F.sum("src"), F.sum("dst")))
            )
        if shape == "delete_rel":
            return self.action(
                edges.filter(F.col("rel") == "placed_by").agg(
                    F.count(F.lit(1)), F.sum("src"), F.sum("dst")
                )
            )
        if shape == "set_first_row":
            return self.action(
                state.nodes["Customer"].agg(F.count(F.lit(1)), F.sum("custkey"))
            )
        if shape == "set_per_row":
            return self.action(executor.binding_table(b).select("n", "n_nationkey"))
        return self.action(executor.binding_table(b).select("j", "a", "b"))  # merge


VAR_LENGTH = (
    "match (x: V) -[:e*1..3]-> (y: V)\n"
    "where x.vid mod $m = $r\n"
    "return x, y"
)
_V_TYPES = A.TypeGraph(
    nodes=[A.NodeTypeDecl("V", (("vid", A.AttribType.INT),))],
    rels=[A.RelTypeDecl("V", "e", "V")],
)


GRAPH_OUT = {
    "connected_components": ("id", "component"), "pagerank": ("id", "rank"),
    "bfs_levels": ("id", "level"), "kcore": ("id", "core_deg"),
    "topo_layers": ("id", "layer", "cyclic"),
}


class GraphIter(Workload):
    def load(self, spark):
        self.edges = spark.read.parquet(self.tables["edges"])
        ids = self.edges.select(F.col("src").alias("_id")).unionByName(
            self.edges.select(F.col("dst").alias("_id"))
        ).distinct()
        self.v_nodes = ids.select("_id", F.col("_id").alias("vid"))
        self.v_edges = self.edges.select("src", F.lit("e").alias("rel"), "dst")

    def run(self, spark, q):
        algo, p = q["shape"], q["params"]
        if algo == "var_length":  # miniGQL bounded variable-length match
            state = GraphState(spark, _V_TYPES, {"V": self.v_nodes}, self.v_edges, 1 << 40)
            _, b = executor.run_program(spark, VAR_LENGTH, initial_state=state, params=p)
            return self.action(executor.binding_table(b).select("x", "y"))
        if algo == "bfs_levels":
            p = dict(p, directed=False)
        out = getattr(graph_algos, algo)(self.edges, **p)
        return self.action(out.select(*GRAPH_OUT[algo]))


class VectorDedup(Workload):
    def load(self, spark):
        self.emb = spark.read.parquet(self.tables["embeddings"])
        self.docs = spark.read.parquet(self.tables["documents"])
        self.bands = similarity.srp_bands(**SRP_BANDS)

    def run(self, spark, q):
        op, p = q["shape"], q["params"]
        emb = self.emb
        if op == "embedding_cosine_dups":
            out = similarity.embedding_cosine_dups(emb, block_col="label", **p)
        elif op == "lsh_cosine_dups":
            out = similarity.lsh_cosine_dups(emb, bands=self.bands, **p)
        elif op == "ivf_cosine_dups":
            out = similarity.ivf_cosine_dups(emb, **IVF_ARGS, **p)
        elif op == "knn_bruteforce":
            out = similarity.knn_bruteforce(emb, p["query_ids"], k=p["k"])
            return self.action(out.select("query_id", "neighbour_id", "rank", "sim"))
        else:
            out = dedup.minhash_lsh_pairs(self.docs, threshold=p["threshold"], hash="md5")
            return self.action(out.select("id_a", "id_b", "jaccard"))
        return self.action(out.select("id_a", "id_b", "sim"))


WORKLOADS = {
    "gql_read": GqlRead,
    "gql_write": GqlWrite,
    "graph_iter": GraphIter,
    "vector_dedup": VectorDedup,
}
