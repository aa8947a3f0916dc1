"""Subprocess bench worker: one parallelism level per process so JIT warmup
is symmetric across levels (a shared JVM would hand the second level a
fully-warmed compiler). Prints one RESULT json line.

Usage: python -m e2e_el_spark.bench_worker CPUS PAGES SIZE_MULT N_ENTITIES TRIALS
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from e2e_el_spark.session import get_spark
from e2e_el_spark.synth import aliases_df, entities_df, pages_df
from e2e_el_spark.pipeline import (
    PipelineConfig,
    build_kb_artifacts,
    detect_mode,
    kb_content_fingerprint,
    run_pipeline,
)


def main() -> None:
    cpus, n_pages, mult, n_ents, trials = (int(a) for a in sys.argv[1:6])
    # EL_BENCH_WORKDIR: per-run isolation for interleaved campaigns (a killed
    # run must not leave state the other arm of an A/B control inherits)
    workdir = os.environ.get("EL_BENCH_WORKDIR") or f"/dev/shm/el_bench_{cpus}"
    # L3 rerank measured by default (EL_BENCH_RERANK=0 disables) so the bench
    # covers the full production pipeline incl. the 04b stage
    rerank = int(os.environ.get("EL_BENCH_RERANK", "5")) or None
    cfg = PipelineConfig(rerank_topk=rerank)
    # shuffle partitions default to the core count (each level emulates a
    # cluster of that size), overridable for partition-sizing campaigns:
    # at 1.92M pages the 2-partition shuffles of the n2 level put ~27M
    # rows in one shuffle partition — R5-m measures that regime directly
    shuffle = int(os.environ.get("EL_BENCH_SHUFFLE_PARTITIONS", "0")) or cpus
    spark = get_spark(app_name=f"el_bench_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=shuffle)
    # warmup: exercise JIT, Python workers, Arrow, shuffle paths. KB capped
    # at 5k entities — warmup is outside every timed window and a 10^6-KB
    # warmup build would dominate the whole campaign for zero signal
    warm_ents = min(n_ents, 5000)
    shutil.rmtree(f"{workdir}_warm", ignore_errors=True)
    wp = pages_df(spark, 400, n_entities=warm_ents, seed=2, partitions=cpus, size_mult=1)
    run_pipeline(
        spark, wp, entities_df(spark, warm_ents, seed=2),
        aliases_df(spark, warm_ents, seed=2),
        f"{workdir}_warm", cfg,
    ).count()

    pages = pages_df(spark, n_pages, n_entities=n_ents, seed=1,
                     partitions=max(cpus * 2, 16), size_mult=mult)
    ents = entities_df(spark, n_ents, seed=1)
    gaz = aliases_df(spark, n_ents, seed=1)
    # KB artifacts are corpus-invariant (content-fingerprinted): build them
    # once OUTSIDE the timed trials, like a production deployment amortizes
    # the KB embed across corpus runs. Same treatment at every level.
    kb_dir = f"{workdir}_kb"
    shutil.rmtree(kb_dir, ignore_errors=True)
    # fingerprint computed once for the frozen bench KB (the production
    # shape): trial runs then launch ZERO KB-side jobs on full resume.
    # The one-off KB build is timed separately (kb_build_s) — the KB-axis
    # campaigns need it as a measured number, not an invisible cost.
    t_kb = time.time()
    kb_fp = kb_content_fingerprint(ents)
    build_kb_artifacts(spark, ents, cfg, kb_dir, kb_fingerprint=kb_fp)
    kb_build_s = round(time.time() - t_kb, 1)
    n_aliases = gaz.count()
    walls = []
    n_clusters = 0
    stage_walls: dict[str, float] = {}
    # EL_CC_CHECKPOINT_DIR: reliable per-round parquet checkpoints for the
    # CC fixpoint instead of localCheckpoint — the measured "executor-loss
    # tolerance tax" campaign knob (clustering.connected_components)
    cc_dir = os.environ.get("EL_CC_CHECKPOINT_DIR") or None
    for _ in range(trials):
        shutil.rmtree(workdir, ignore_errors=True)
        if cc_dir:
            shutil.rmtree(cc_dir, ignore_errors=True)
        t0 = time.time()
        clusters = run_pipeline(spark, pages, ents, gaz, workdir, cfg,
                                kb_workdir=kb_dir, kb_fingerprint=kb_fp,
                                cc_checkpoint_dir=cc_dir)
        n_clusters = clusters.count()
        walls.append(round(time.time() - t0, 2))
        # content hash (outside the timed window): campaign lines assert
        # bit-identical output across parallelism levels / checkpoint modes
        # by comparing this value, not just row counts
        from pyspark.sql import functions as F  # noqa: PLC0415

        clusters_hash = clusters.agg(
            F.coalesce(
                F.expr("bit_xor(xxhash64(mention_id, cluster_id))"), F.lit(0)
            ).alias("h")
        ).collect()[0]["h"]
        # per-stage walls from the lineage table — the scaling-decomposition
        # evidence (corpus-proportional stages vs the KB-bounded pairs stage)
        lin = spark.read.parquet(f"{workdir}/_lineage")
        for r in lin.groupBy("stage").agg({"wall_ms": "max"}).collect():
            w = r["max(wall_ms)"] / 1000.0
            stage_walls[r["stage"]] = round(min(stage_walls.get(r["stage"], w), w), 1)
    # EL_BENCH_F1=1: pairwise-F1 of the LAST trial's clusters against the
    # synthetic gold — outside every timed window. The KB-axis campaigns
    # need quality evidence, not just walls: candidate caps (gen_topk,
    # max_gen_df_abs, per-block entity caps) bound COST per surface and the
    # F1 gate is what shows they do not silently drop gold entities at a
    # 10^5-10^6-entity dictionary.
    f1_metrics = None
    if os.environ.get("EL_BENCH_F1") == "1":
        from e2e_el_spark.pipeline import evaluate_pipeline  # noqa: PLC0415
        from e2e_el_spark.synth import gold_mentions_df  # noqa: PLC0415

        gold = gold_mentions_df(spark, n_pages, n_entities=n_ents, seed=1,
                                partitions=max(cpus * 2, 16), size_mult=mult)
        f1_metrics = {k: (round(v, 6) if isinstance(v, float) else v)
                      for k, v in evaluate_pipeline(clusters, gold, cfg).items()}
    shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(f"{workdir}_warm", ignore_errors=True)
    shutil.rmtree(kb_dir, ignore_errors=True)
    best = min(walls)
    print("RESULT " + json.dumps({
        "pairwise_f1": f1_metrics,
        "cpus": cpus, "shuffle_partitions": shuffle,
        "initial_partitions": int(spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum")),
        "pages": n_pages, "size_mult": mult, "entities": n_ents,
        "n_aliases": n_aliases, "kb_build_s": kb_build_s,
        "detect_mode": detect_mode(n_aliases, cfg),
        "cc_reliable_checkpoint": bool(cc_dir),
        "clusters": n_clusters, "clusters_hash": clusters_hash,
        "walls_s": walls, "best_wall_s": best,
        "pages_per_sec": round(n_pages / best, 1),
        "stage_walls_s": dict(sorted(stage_walls.items())),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
