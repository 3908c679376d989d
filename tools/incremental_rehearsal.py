"""Incremental-ingest scale rehearsal (round 8): the d26/s26 claim is
"per-shard ingest cost does not re-scale with corpus size" — this tool
measures it instead of asserting it.

Protocol, per corpus multiple n in (1, 10, 30), shard held FIXED:
  documents (d26 path):
    index  — lsh_band_index(corpus_n) written to parquet (amortized cost,
             reported separately)
    ingest — incremental_lsh_dups(corpus_n, shard, index=read-back): the
             per-shard cost the claim is about
    batch  — minhash_lsh_pairs(corpus_n ∪ shard): what a non-incremental
             pipeline would re-pay per shard
  embeddings (s26 path):
    index  — ivf_train on corpus_n (k = N/64, the BLAS-UDF regime past
             512 literal cells) + corpus assignment written to parquet
    ingest — incremental_ivf_dups with frozen codebook + read-back cells
    batch  — ivf_cosine_dups(corpus_n ∪ shard) retrained per run

Corpus copies use make_scaled_sf's decorrelation transforms (per-copy
token suffix / dimension rotation) so cross-copy duplicates don't
inflate candidate volume.  Scaled-embedding ids are re-densified
map-side ((vec_id div N)·cut + vec_id mod N) to keep ivf_train's dense
0..N-1 contract; the fixed shard's ids are shifted past the corpus
domain so the two stay disjoint.

Usage: python tools/incremental_rehearsal.py [src_dir] [out_json] [copies...]
Defaults: /root/testdata/sf0.1 /tmp/incremental_rehearsal.json 1 10 30
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import make_scaled_sf as uniform  # noqa: E402
from projet_graphdb_spark.engine import get_spark  # noqa: E402
from projet_graphdb_spark.functions import clustering, dedup, similarity  # noqa: E402
from projet_graphdb_spark.functions.materialize import materialize  # noqa: E402

COPIES = [1, 10, 30]
THRESH_J = 0.2  # d26's jaccard threshold
THRESH_C = 0.4  # s26's cosine threshold


def _timed(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 2), out


def _scaled_union(base, table, n, sizes):
    out = uniform._copy(base, table, 0, sizes)
    for i in range(1, n):
        out = out.unionByName(uniform._copy(base, table, i, sizes))
    return out


def rehearse_docs(spark, src, tmp, sizes):
    docs = spark.read.parquet(f"{src}/documents.parquet")
    is_new = F.col("source").isin("src0", "src1")
    shard = materialize(docs.where(is_new))
    corpus_base = docs.where(~is_new)
    n_shard = shard.count()
    results = []
    for n in COPIES:
        cdir = f"{tmp}/docs_corpus_{n}"
        _scaled_union(corpus_base, "documents", n, sizes).write.mode(
            "overwrite"
        ).parquet(cdir)
        corpus = spark.read.parquet(cdir)
        n_corpus = corpus.count()
        idx_path = f"{tmp}/docs_index_{n}"
        t_index, _ = _timed(
            lambda: dedup.lsh_band_index(corpus)
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(idx_path)
        )
        index = spark.read.parquet(idx_path)
        t_ingest, n_pairs = _timed(
            lambda: incremental_count_docs(corpus, shard, index)
        )
        t_batch, n_batch = _timed(
            lambda: dedup.minhash_lsh_pairs(
                corpus.unionByName(shard), threshold=THRESH_J
            ).count()
        )
        results.append(
            {
                "copies": n, "n_corpus": n_corpus, "n_shard": n_shard,
                "index_build_s": t_index, "ingest_s": t_ingest,
                "batch_s": t_batch, "ingest_pairs": n_pairs,
                "batch_pairs": n_batch,
            }
        )
        print("docs", results[-1], flush=True)
    return results


def incremental_count_docs(corpus, shard, index):
    return dedup.incremental_lsh_dups(
        corpus, shard, threshold=THRESH_J, index=index
    ).count()


def rehearse_emb(spark, src, tmp, sizes):
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    n_total = emb.count()
    cut = int(n_total * 0.9)
    corpus_base = emb.where(F.col("vec_id") < cut)
    results = []
    for n in COPIES:
        # re-densify: copy i's ids are i*N + (0..cut-1) → i*cut + (0..cut-1)
        cdir = f"{tmp}/emb_corpus_{n}"
        (
            _scaled_union(corpus_base, "embeddings", n, sizes)
            .withColumn(
                "vec_id",
                (F.col("vec_id") / n_total).cast("long") * cut
                + F.col("vec_id") % n_total,
            )
            .write.mode("overwrite")
            .parquet(cdir)
        )
        corpus = spark.read.parquet(cdir)
        n_corpus = n * cut
        # fixed shard, ids shifted past the corpus domain — this shift is
        # also what keeps the BATCH arm's union densely id'd 0..N-1
        # (corpus 0..n_corpus-1 + shard n_corpus..), per ivf_train's
        # id%step / id<k contract
        shard = materialize(emb.where(F.col("vec_id") >= cut).withColumn(
            "vec_id", F.col("vec_id") - cut + F.lit(n_corpus)
        ))
        corp = corpus.select(
            F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v")
        )
        cells_path = f"{tmp}/emb_cells_{n}"

        def build_index():
            cents = similarity.ivf_train(corp, n_corpus, num_iter=2)
            similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.mode(
                "overwrite"
            ).parquet(cells_path)
            return cents

        t_index, cents = _timed(build_index)
        t_ingest, n_pairs = _timed(
            lambda: similarity.incremental_ivf_dups(
                corpus, shard, threshold=THRESH_C, nprobe=2,
                centroids=cents, corpus_cells=spark.read.parquet(cells_path),
            ).count()
        )
        t_batch, n_batch = _timed(
            lambda: similarity.ivf_cosine_dups(
                corpus.unionByName(shard),
                threshold=THRESH_C, nprobe=2, n_rows=n_corpus + (n_total - cut),
            ).count()
        )
        results.append(
            {
                "copies": n, "n_corpus": n_corpus, "n_shard": n_total - cut,
                "k": len(cents), "index_build_s": t_index,
                "ingest_s": t_ingest, "batch_s": t_batch,
                "ingest_pairs": n_pairs, "batch_pairs": n_batch,
            }
        )
        print("emb", results[-1], flush=True)
    return results


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "/tmp/incremental_rehearsal.json"
    if len(sys.argv) > 3:
        COPIES[:] = [int(a) for a in sys.argv[3:]]
    tmp = "/tmp/incr_rehearsal"
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(app_name="incremental-rehearsal")
    sizes = uniform._domain_sizes(spark, src)  # once — both paths share it
    out = {
        "src": src,
        "documents": rehearse_docs(spark, src, tmp, sizes),
        "embeddings": rehearse_emb(spark, src, tmp, sizes),
    }
    with open(out_json, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
