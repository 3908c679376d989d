"""Round-9/11 ingest-tier scale rehearsal: the routed incremental
family's claims, measured instead of asserted.

Round-11 extension (the round-9 "done" condition, finally receipted):
the EXACT guaranteed leg is run at every decade — its pair set IS the
ground truth (every leg exact-verifies candidates, so each leg's pairs
are a SUBSET of exact's and measured recall = leg_pairs/exact_pairs) —
the SIZED SRP artifact (srp_band_index(threshold, target_recall),
cost-optimized at the decade's own measured n_corpus) is built and
ingested per decade, and the router runs with the measured-miss
fallback ON, recording met_target / fallback / measured routed recall
so the receipt SHOWS the chosen route meeting 0.95 at every decade
instead of asserting it.

Per corpus multiple n in (1, 10, 30), shard held FIXED (the
incremental_rehearsal.py protocol, applied to the NEW tier):

  artifacts — srp_band_index (8×6), ivf_train (k = N/64, capped 16384)
              + cell sink, imi_train (k1 = k2 = ⌈√(N/64)⌉) + virtual-
              cell sink; build times reported separately (amortized).
  sized srp — srp_band_index(threshold=0.4, target_recall=0.95,
              sizing_n_corpus=N): recall-feasible by construction;
              build + per-shard ingest timed, measured recall recorded.
  exact     — incremental_exact_dups: the always-priced guaranteed
              leg (recall 1.0 by construction), timed per decade; its
              pair count is the truth denominator for every other leg.
  imi ingest — incremental_imi_dups with the frozen artifacts: the s27
              flat-per-shard claim (candidates ≈ (p1p2)²·S·N/(k1k2)
              with k1k2 ≈ N/64 ⇒ ~constant per shard).
  ivf ingest — incremental_ivf_dups, same protocol (the s26 baseline;
              NOTE its per-shard S·k·dim assignment grows once k caps).
  routed    — incremental_cosine_dups_auto over all three artifacts
              (calibrate on): wall time, chosen strategy, receipt.
              The cost model predicts a FLIP from flat IVF to IMI as
              N grows (ivf per-shard ≈ S·(N/64)·dim + const; imi ≈
              S·2√(N/64)·dim/2 + const — equal around N ≈ 4e5 at these
              constants): the rehearsal checks the router actually
              flips where the arithmetic says it should.
  rebuild   — ivf_index_rebuild on the n-times corpus: the recovery
              cost curve (one retrain + one full re-assignment) that
              per-shard flatness amortizes over.
  compaction — at n = 1 only: a batch_id-partitioned pair sink written
              in 6 slices, compacted with retain_last, the file-count
              receipt recorded (compaction is scale-free maintenance;
              the receipt is what the small-files claim is made of).

Usage: python tools/ingest_tier_rehearsal.py [src] [out_json] [copies…]
Defaults: /root/testdata/sf0.1 /tmp/ingest_tier_rehearsal.json 1 10 30
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import make_scaled_sf as uniform  # noqa: E402
from projet_graphdb_spark.engine import get_spark  # noqa: E402
from projet_graphdb_spark.functions import similarity  # noqa: E402
from projet_graphdb_spark.functions.materialize import materialize  # noqa: E402

COPIES = [1, 10, 30]
THRESH = 0.4


def _timed(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 2), out


def _min_timed(fn, reps=2):
    """min-of-reps timing (the repo's floor discipline, round-13
    advice: a single GC pause or degraded host window must not skew a
    committed constant)."""
    best, out = None, None
    for _ in range(reps):
        t, out = _timed(fn)
        best = t if best is None else min(best, t)
    return best, out


def _scaled_union(base, table, n, sizes):
    out = uniform._copy(base, table, 0, sizes)
    for i in range(1, n):
        out = out.unionByName(uniform._copy(base, table, i, sizes))
    return out


def rehearse(spark, src, tmp, sizes):
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    n_total = emb.count()
    cut = int(n_total * 0.9)
    corpus_base = emb.where(F.col("vec_id") < cut)
    results = []
    for n in COPIES:
        cdir = f"{tmp}/corpus_{n}"
        (
            _scaled_union(corpus_base, "embeddings", n, sizes)
            .withColumn(
                "vec_id",
                (F.col("vec_id") / n_total).cast("long") * cut
                + F.col("vec_id") % n_total,
            )
            # 32 files: a real cluster's corpus scan has (at least) one
            # task per core — the round-11 run caught the union writing
            # 4 fat files, which serialized the exact leg onto 4 of 32
            # threads and quadrupled its recorded wall (a layout
            # artifact of the rehearsal, not a property of the leg)
            .repartition(32)
            .write.mode("overwrite")
            .parquet(cdir)
        )
        corpus = spark.read.parquet(cdir)
        n_corpus = n * cut
        shard = materialize(emb.where(F.col("vec_id") >= cut).withColumn(
            "vec_id", F.col("vec_id") - cut + F.lit(n_corpus)
        ))
        n_shard = n_total - cut
        corp = corpus.select(
            F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v")
        )

        srp_path = f"{tmp}/srp_{n}"
        t_srp, _ = _timed(
            lambda: similarity.srp_band_index(corpus, n_bands=8, bits=6, dim=64)
            .write.mode("overwrite").partitionBy("band").parquet(srp_path)
        )

        # round-11: the EXACT guaranteed leg, timed — and its pair set
        # is the truth denominator (legs verify exactly, so pairs ⊆ truth)
        t_exact, exact_pairs = _timed(
            lambda: similarity.incremental_exact_dups(
                corpus, shard, threshold=THRESH
            ).count()
        )

        # round-11: the SIZED SRP artifact, cost-optimized at THIS
        # decade's measured corpus count; recall ≥ target by construction
        sized_path = f"{tmp}/srp_sized_{n}"
        t_sized_build, _ = _timed(
            lambda: similarity.srp_band_index(
                corpus, dim=64, threshold=THRESH, target_recall=0.95,
                sizing_n_corpus=n_corpus,
            ).write.mode("overwrite").partitionBy("band").parquet(sized_path)
        )
        sized_idx = spark.read.parquet(sized_path)
        sized_cfg = sized_idx.select("_bits", "_n_bands").first()
        t_sized_ing, sized_pairs = _timed(
            lambda: similarity.incremental_srp_dups(
                corpus, shard, threshold=THRESH,
                n_bands=sized_cfg["_n_bands"], bits=sized_cfg["_bits"],
                dim=64, index=sized_idx,
            ).count()
        )

        ivf_path = f"{tmp}/ivf_{n}"

        def build_ivf():
            cents = similarity.ivf_train(corp, n_corpus, num_iter=2)
            similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.mode(
                "overwrite"
            ).parquet(ivf_path)
            return cents

        t_ivf_build, ivf_cents = _timed(build_ivf)

        imi_path = f"{tmp}/imi_{n}"
        k1 = max(2, min(4096, math.ceil(math.sqrt(-(-n_corpus // 64)))))

        def build_imi():
            cents = similarity.imi_train(
                corp, n_corpus, k1=k1, k2=k1, num_iter=1, dim=64
            )
            similarity.imi_cells_frame(corpus, *cents, p1=2, p2=2, dim=64).write.mode(
                "overwrite"
            ).parquet(imi_path)
            return cents

        t_imi_build, imi_cents = _timed(build_imi)

        t_ivf_ing, ivf_pairs = _timed(
            lambda: similarity.incremental_ivf_dups(
                corpus, shard, threshold=THRESH, nprobe=2, centroids=ivf_cents,
                corpus_cells=spark.read.parquet(ivf_path),
            ).count()
        )
        t_imi_ing, imi_pairs = _timed(
            lambda: similarity.incremental_imi_dups(
                corpus, shard, threshold=THRESH, p1=2, p2=2,
                centroids=imi_cents, dim=64,
                corpus_cells=spark.read.parquet(imi_path),
            ).count()
        )
        # round-11: the router sees the artifacts a post-round-10
        # deployment persists — the SIZED (recall-feasible) SRP index —
        # with the measured-miss fallback ON (the default): the chosen
        # route must MEET the target at every decade, by closed form
        # (exact / sized SRP) or by measured recall (blocking legs)
        receipt: dict = {}
        t_routed, routed_pairs = _timed(
            lambda: similarity.incremental_cosine_dups_auto(
                corpus, shard, threshold=THRESH, target_recall=0.95,
                lsh_index=sized_idx,
                ivf_centroids=ivf_cents,
                ivf_cells=spark.read.parquet(ivf_path),
                imi_centroids=imi_cents,
                imi_cells=spark.read.parquet(imi_path),
                dim=64, n_corpus=n_corpus, n_shard=n_shard,
                plan_out=receipt,
            ).count()
        )
        t_rebuild, _ = _timed(
            lambda: similarity.ivf_index_rebuild(
                spark, ivf_path, corpus, nprobe=2, num_iter=2, n_rows=n_corpus
            )
        )
        def _recall(pairs):
            return round(pairs / exact_pairs, 4) if exact_pairs else None

        routed_recall = _recall(routed_pairs)
        results.append(
            {
                "copies": n, "n_corpus": n_corpus, "n_shard": n_shard,
                "k_ivf": len(ivf_cents), "k1_imi": k1,
                "srp_index_s": t_srp, "ivf_index_s": t_ivf_build,
                "imi_index_s": t_imi_build,
                "ivf_ingest_s": t_ivf_ing, "imi_ingest_s": t_imi_ing,
                "routed_s": t_routed, "rebuild_s": t_rebuild,
                "chosen": receipt.get("strategy"),
                "routed_probe": receipt.get("probe"),
                "calibrated_recall": receipt.get("calibrated_recall"),
                "sample_truth_pairs": receipt.get("sample_truth_pairs"),
                "ivf_pairs": ivf_pairs, "imi_pairs": imi_pairs,
                "routed_pairs": routed_pairs,
                # round-11 receipt: the guaranteed legs, priced + measured
                "exact_s": t_exact, "exact_pairs": exact_pairs,
                "sized_bits": sized_cfg["_bits"],
                "sized_bands": sized_cfg["_n_bands"],
                "sized_build_s": t_sized_build,
                "sized_ingest_s": t_sized_ing,
                "sized_pairs": sized_pairs,
                "sized_recall_measured": _recall(sized_pairs),
                "ivf_recall_measured": _recall(ivf_pairs),
                "imi_recall_measured": _recall(imi_pairs),
                "routed_recall_measured": routed_recall,
                "met_target": receipt.get("met_target"),
                "fallback": receipt.get("fallback"),
                # the round-9 done condition, decided by MEASUREMENT:
                # the route the router actually ran delivers ≥ 0.95
                "route_meets_target": (
                    routed_recall is not None and routed_recall >= 0.95
                ),
            }
        )
        print("tier", results[-1], flush=True)
    return results


def _corpus_at(spark, src, tmp, sizes, n):
    """The decade corpus, built exactly like rehearse() (same id map,
    same 32-file layout); reused from disk when already materialized in
    this rehearsal tmp."""
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    n_total = emb.count()
    cut = int(n_total * 0.9)
    cdir = f"{tmp}/corpus_{n}"
    if not os.path.exists(f"{cdir}/_SUCCESS"):
        (
            _scaled_union(emb.where(F.col("vec_id") < cut), "embeddings", n, sizes)
            .withColumn(
                "vec_id",
                (F.col("vec_id") / n_total).cast("long") * cut
                + F.col("vec_id") % n_total,
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(cdir)
        )
    return spark.read.parquet(cdir), n * cut, emb, cut, n_total


def _seeded_shard(spark, corpus, base_shard, id_start, n_seed=300):
    """Append near-dup SEEDS to the shard: perturbed copies of the
    first ``n_seed`` corpus vectors (by id) — the re-ingest scenario a
    high-threshold dedup tier exists for.  Perturbation is exact
    geometry: v' = (v̂ + ε·ŵ)/‖·‖ with ŵ ⊥ v̂ (roll-by-one minus the
    v-projection), so cos(v, v') = 1/√(1+ε²) exactly — half the seeds
    at ε=0.5 (cos 0.894, comfortably dup) and half at ε=0.72
    (cos 0.812, just above the 0.8 threshold, stressing the sized
    construction's S-curve bound).  Deterministic: no RNG anywhere."""
    import numpy as np

    rows = (
        corpus.orderBy("vec_id").limit(n_seed)
        .select("vec_id", "embedding").collect()
    )
    seeds = []
    for i, r in enumerate(rows):
        v = np.asarray(list(r["embedding"]), dtype=np.float64)
        vhat = v / np.linalg.norm(v)
        w = np.roll(vhat, 1)
        w = w - (w @ vhat) * vhat
        w /= np.linalg.norm(w)
        eps = 0.5 if i < n_seed // 2 else 0.72
        out = vhat + eps * w
        out /= np.linalg.norm(out)
        seeds.append((id_start + i, [float(x) for x in out]))
    seed_df = spark.createDataFrame(seeds, "vec_id long, embedding array<float>")
    return materialize(
        base_shard.select("vec_id", "embedding").unionByName(seed_df)
    )


def rehearse_high_threshold(spark, src, tmp, sizes, copies=(10, 100),
                            threshold=0.8, target=0.95):
    """Round-11 verdict item 4: a regime where a BLOCKING leg is both
    CHOSEN and MEETS target.  At threshold 0.8 the S-curve makes a
    sized SRP construction cheap (13 bits × 58 bands ≈ 0.7% of S·N
    collisions vs exact's 100%), so the router should pick lsh_sized
    over exact by plain arithmetic — this leg receipts that, with the
    exact leg run alongside as the measured truth denominator."""
    results = []
    for n in copies:
        corpus, n_corpus, emb, cut, n_total = _corpus_at(spark, src, tmp, sizes, n)
        base_shard = emb.where(F.col("vec_id") >= cut).withColumn(
            "vec_id", F.col("vec_id") - cut + F.lit(n_corpus)
        )
        shard = _seeded_shard(spark, corpus, base_shard, id_start=n_corpus + n_total)
        n_shard = shard.count()

        t_exact, exact_pairs = _timed(
            lambda: similarity.incremental_exact_dups(
                corpus, shard, threshold=threshold
            ).count()
        )
        sized_path = f"{tmp}/srp_sized_ht_{n}"
        t_sized_build, _ = _timed(
            lambda: similarity.srp_band_index(
                corpus, dim=64, threshold=threshold, target_recall=target,
                sizing_n_corpus=n_corpus,
            ).write.mode("overwrite").partitionBy("band").parquet(sized_path)
        )
        sized_idx = spark.read.parquet(sized_path)
        sized_cfg = sized_idx.select("_bits", "_n_bands").first()
        receipt: dict = {}
        t_routed, routed_pairs = _timed(
            lambda: similarity.incremental_cosine_dups_auto(
                corpus, shard, threshold=threshold, target_recall=target,
                lsh_index=sized_idx, dim=64,
                n_corpus=n_corpus, n_shard=n_shard, plan_out=receipt,
            ).count()
        )
        recall = round(routed_pairs / exact_pairs, 4) if exact_pairs else None
        results.append(
            {
                "copies": n, "n_corpus": n_corpus, "n_shard": n_shard,
                "threshold": threshold, "target_recall": target,
                "seeded_pairs_note": "300 perturbed corpus vectors at "
                "cos 0.894/0.812 (deterministic; no natural pairs exist "
                "above 0.6 in this fixture)",
                "sized_bits": sized_cfg["_bits"],
                "sized_bands": sized_cfg["_n_bands"],
                "sized_build_s": t_sized_build,
                "exact_s": t_exact, "exact_pairs": exact_pairs,
                "routed_s": t_routed, "routed_pairs": routed_pairs,
                "chosen": receipt.get("strategy"),
                "fallback": receipt.get("fallback"),
                "met_target": receipt.get("met_target"),
                "plan_flops": {
                    r["method"]: r["est_flops"] for r in receipt.get("rows", [])
                },
                "routed_recall_measured": recall,
                "route_meets_target": recall is not None and recall >= target,
            }
        )
        print("high_threshold", results[-1], flush=True)
    return results


def measure_join_cost_flops(spark, corpus, probe_shard, lsh_index,
                            n_corpus, dim=64):
    """Round-12 verdict item 3's 'measured once per session' leg
    constants: time the exact leg on a small probe shard (→ a =
    sec/flop at this session's rate), time the banded SRP leg on the
    SAME shard, and attribute the wall the flop model doesn't explain
    to the band joins — b = (lsh_wall − a·lsh_flops) / n_joins,
    returned in flop-equivalents (b_sec / a) for
    incremental_plan_rows(join_cost_flops=...).  One small receipt
    dict; the library default JOIN_SETUP_FLOPS_R12 is the documented
    r12-receipt derivation of the same number.

    Each leg is timed min-of-2 (round-13 advice: one GC pause or a
    degraded host window must not inflate a constant that skews every
    routed row in the committed receipt)."""
    s0 = probe_shard.count()
    t_ex, _ = _min_timed(
        lambda: similarity.incremental_exact_dups(
            corpus, probe_shard, threshold=0.8
        ).count()
    )
    a = t_ex / (float(s0) * n_corpus * 2 * dim)
    receipt: dict = {}
    t_lsh, _ = _min_timed(
        lambda: similarity.incremental_cosine_dups_auto(
            corpus, probe_shard, threshold=0.8, lsh_index=lsh_index,
            exact_allowed=False, dim=dim, n_corpus=n_corpus, n_shard=s0,
            calibrate=False, plan_out=receipt,
        ).count()
    )
    row = receipt["plan"]
    b_sec = max(0.0, t_lsh - a * row["est_flops"]) / max(1, row["n_joins"])
    return {
        "probe_shard_rows": s0,
        "exact_probe_sec": t_ex,
        "lsh_probe_sec": t_lsh,
        "lsh_probe_n_joins": row["n_joins"],
        "a_sec_per_flop": a,
        "join_setup_sec": round(b_sec, 4),
        "join_cost_flops": round(b_sec / a, 1) if a > 0 else 0.0,
        "library_default_r12": similarity.JOIN_SETUP_FLOPS_R12,
        "timing_reps": 2,
    }


def rehearse_shard_sweep(spark, src, tmp, sizes, n=100,
                         shard_sizes=(500, 2000, 20000)):
    """Round-11 verdict item 5: the S dimension of the exact leg's S·N
    cost, measured at one decade.  Per shard size S: the exact leg's
    wall (t=0.4 — where exact IS the chosen route) and the t=0.8 pair
    (exact truth + routed sized-SRP), with the router's priced plan
    recorded so the crossover (threshold-driven: both legs are linear
    in S) is visible next to the measured walls.

    Round-13 (r12 verdict item 3): the sweep measures this session's
    per-band-join setup cost once (measure_join_cost_flops) and routes
    with it — the receipt shows the small-S row choosing exact where
    the r12 flop-only model overpaid 3.8×."""
    results = []
    corpus, n_corpus, emb, cut, n_total = _corpus_at(spark, src, tmp, sizes, n)
    base = emb.where(F.col("vec_id") >= cut).withColumn(
        "vec_id", F.col("vec_id") - cut + F.lit(n_corpus)
    )
    base_n = base.count()
    sized = {}
    for thr in (0.4, 0.8):
        path = f"{tmp}/srp_sweep_{str(thr).replace('.', '')}_{n}"
        t_b, _ = _timed(
            lambda: similarity.srp_band_index(
                corpus, dim=64, threshold=thr, target_recall=0.95,
                sizing_n_corpus=n_corpus,
            ).write.mode("overwrite").partitionBy("band").parquet(path)
        )
        sized[thr] = (spark.read.parquet(path), t_b)
    dim = emb.select(F.size("embedding")).first()[0]
    probe = _seeded_shard(
        spark, corpus, base.limit(0),
        id_start=n_corpus + 50 * base_n + n_total, n_seed=200,
    )
    jc = measure_join_cost_flops(
        spark, corpus, probe, sized[0.8][0], n_corpus, dim=dim
    )
    print("join_cost_probe", jc, flush=True)
    # round-13 verdict item 4: PERSIST the measured constant into the
    # artifacts (embedded _join_cost_flops) and route with
    # join_cost_flops=None below — the sweep's routed rows prove the
    # read-back path (plan receipt must say source='embedded'), so a
    # fresh session against these artifacts prices joins with the
    # build-time measurement, not a host-biased library default.
    for thr in (0.4, 0.8):
        path = f"{tmp}/srp_sweep_{str(thr).replace('.', '')}_{n}"
        similarity.srp_index_annotate_join_cost(
            spark, path, jc["join_cost_flops"]
        )
        sized[thr] = (spark.read.parquet(path), sized[thr][1])
    for S in shard_sizes:
        # shard = base (S-linear realism) + dim-rotated decorrelated
        # filler up to S-300 + the 300 seeds; filler ids are dense from
        # n_corpus+base_n, so an id-range filter caps it DETERMINISTICALLY
        filler_n = max(0, S - base_n - 300)
        n_rep = -(-filler_n // base_n) if filler_n else 0
        grown = base
        for i in range(1, n_rep + 1):
            rot = (7 * i) % dim or 1
            grown = grown.unionByName(
                base.withColumn(
                    "embedding",
                    F.concat(
                        F.slice("embedding", rot + 1, 1_000_000),
                        F.slice("embedding", 1, rot),
                    ),
                ).withColumn("vec_id", F.col("vec_id") + F.lit(i * base_n))
            )
        grown = grown.where(
            F.col("vec_id") < n_corpus + base_n + filler_n
        )
        shard = _seeded_shard(
            spark, corpus, grown,
            id_start=n_corpus + (n_rep + 1) * base_n + n_total,
        )
        row = {"S": shard.count(), "n_corpus": n_corpus}
        for thr in (0.4, 0.8):
            receipt: dict = {}
            t_exact, exact_pairs = _timed(
                lambda: similarity.incremental_exact_dups(
                    corpus, shard, threshold=thr
                ).count()
            )
            t_routed, routed_pairs = _timed(
                lambda: similarity.incremental_cosine_dups_auto(
                    corpus, shard, threshold=thr, target_recall=0.95,
                    lsh_index=sized[thr][0], dim=64,
                    n_corpus=n_corpus, n_shard=row["S"], plan_out=receipt,
                    join_cost_flops=None,  # embedded read-back (r13 item 4)
                ).count()
            )
            if receipt.get("join_cost_source") != "embedded" or (
                receipt.get("join_cost_flops") != jc["join_cost_flops"]
            ):
                raise AssertionError(
                    f"shard sweep: router must price joins from the "
                    f"artifact's embedded measurement, got "
                    f"source={receipt.get('join_cost_source')} "
                    f"value={receipt.get('join_cost_flops')} vs measured "
                    f"{jc['join_cost_flops']}"
                )
            recall = (
                round(routed_pairs / exact_pairs, 4) if exact_pairs else None
            )
            row[f"t{str(thr).replace('.', '')}"] = {
                "exact_s": t_exact, "exact_pairs": exact_pairs,
                "routed_s": t_routed, "routed_pairs": routed_pairs,
                "chosen": receipt.get("strategy"),
                "fallback": receipt.get("fallback"),
                "met_target": receipt.get("met_target"),
                "join_cost_source": receipt.get("join_cost_source"),
                "join_cost_flops": receipt.get("join_cost_flops"),
                "plan_flops": {
                    r["method"]: r["est_flops"] for r in receipt.get("rows", [])
                },
                "plan_cost": {
                    r["method"]: r["est_cost"] for r in receipt.get("rows", [])
                },
                "routed_recall_measured": recall,
            }
        results.append(row)
        print("shard_sweep", row, flush=True)
    return {"join_cost_probe": jc, "sweep": results}


def rehearse_compaction(spark, src, tmp):
    """Small-files receipt: a 6-batch pair sink compacted to 2 files
    with retain_last=4 — file and batch counts before/after."""
    from projet_graphdb_spark.streaming import compact_batch_sink

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    pairs = materialize(similarity.incremental_ivf_dups(
        corpus, shard, threshold=THRESH, nprobe=2
    ))
    sink = f"{tmp}/pair_sink"
    for b in range(6):
        pairs.where(F.col("new_id") % 6 == b).repartition(4).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch_id={b}")
    t, receipt = _timed(
        lambda: compact_batch_sink(spark, sink, target_files=2, retain_last=4)
    )
    receipt["compact_s"] = t
    print("compaction", receipt, flush=True)
    return receipt


def main():
    args = sys.argv[1:]
    mode = "tier"
    if args and args[0] in ("tier", "high", "shard", "r12"):
        mode, args = args[0], args[1:]
    src = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    out_json = args[1] if len(args) > 1 else "/tmp/ingest_tier_rehearsal.json"
    if len(args) > 2:
        COPIES[:] = [int(a) for a in args[2:]]
    tmp = "/tmp/ingest_tier_rehearsal"
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(app_name="ingest-tier-rehearsal")
    sizes = uniform._domain_sizes(spark, src)
    out: dict = {"src": src}
    if mode == "tier":
        out["tier"] = rehearse(spark, src, tmp, sizes)
        out["compaction"] = rehearse_compaction(spark, src, tmp)
    if mode in ("high", "r12"):
        out["high_threshold"] = rehearse_high_threshold(spark, src, tmp, sizes)
    if mode in ("shard", "r12"):
        out["shard_sweep"] = rehearse_shard_sweep(spark, src, tmp, sizes)
    with open(out_json, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
