#!/usr/bin/env python
"""N-vs-4N scaling campaign for the flagship entity-resolution job.

Usage: python bench.py OUT.json PAGES SIZE_MULT ENTITIES TRIALS

The levels come from the host: N = max(1, cores // 4) and 4N, where cores
are the CPUs this process may run on (1 and 4 on a 4-core host). The corpus
is written to parquet once, before any timed window, by
``perfbench/inputs.write_corpus``. Each (trial, level) runs in its own
subprocess pinned to the first N cores, so ``get_spark()`` sizes
``local[N]``, shuffle partitions and heap from that mask. Trials alternate
ABBA across levels, because this host's speed drifts over minutes.

A worker builds the KB and runs one warm-up job untimed, times one
``run_pipeline`` with ``PipelineConfig(rerank_topk=5)``, reads the stage
walls from the stage markers, then hashes the clusters and scores pairwise
F1 against gold. OUT.json keeps per level the walls, stage walls, hashes,
F1 and the stderr tail of each failed trial, and the N → 4N ratios. The
campaign exits non-zero when any two trials' clusters differ. Whole-job
latency and the headline queries are timed by perfbench/run.py.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from perfbench import inputs

REPO = os.path.dirname(os.path.abspath(__file__))

SEED = 1
WORKER = "import bench, sys; bench.worker(*sys.argv[1:])"


def levels(cores: int) -> tuple[int, int]:
    """The (N, 4N) core counts for a host with ``cores`` CPUs."""
    n = max(1, cores // 4)
    return n, 4 * n


def worker(corpus_json: str, work: str) -> None:
    """One timed flagship job in this process; prints one RESULT line."""
    from pyspark.sql import functions as F

    from e2e_el_spark.pipeline import (
        PipelineConfig, build_kb_artifacts, evaluate_pipeline,
        kb_content_fingerprint, run_pipeline,
    )
    from e2e_el_spark.session import get_spark

    corpus = json.loads(corpus_json)
    cfg = PipelineConfig(rerank_topk=5)
    spark = get_spark(app_name="el_bench")
    ents = spark.read.parquet(corpus["entities"])
    aliases = spark.read.parquet(corpus["aliases"])
    fp = kb_content_fingerprint(ents)
    build_kb_artifacts(spark, ents, cfg, f"{work}/kb", kb_fingerprint=fp)

    def job(pages_path: str, workdir: str):
        return run_pipeline(spark, spark.read.parquet(pages_path), ents, aliases, workdir,
                            cfg, kb_workdir=f"{work}/kb", kb_fingerprint=fp)

    # warm-up (JIT, Python workers, Arrow and shuffle paths) on one page file
    job(f"{corpus['pages']}/part-000.parquet", f"{work}/warm")
    t0 = time.monotonic()
    clusters = job(corpus["pages"], f"{work}/job")
    wall = time.monotonic() - t0

    stage_walls = {}
    for marker in glob.glob(f"{work}/job/*/_STAGE_COMPLETE"):
        with open(marker) as f:
            meta = json.load(f)
        stage_walls[meta["stage"]] = round(meta["wall_ms"] / 1000.0, 2)
    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(mention_id, cluster_id))"), F.lit(0)).alias("h"),
    ).collect()[0]
    f1 = evaluate_pipeline(clusters, spark.read.parquet(corpus["gold"]), cfg)["f1"]
    print("RESULT " + json.dumps({
        "master": spark.sparkContext.master,
        "wall_s": round(wall, 2),
        "stage_walls_s": dict(sorted(stage_walls.items())),
        "clusters_hash": f"{row['n']}:{row['h']}",
        "pairwise_f1": round(f1, 6),
    }), flush=True)
    spark.stop()


def result_of(proc: subprocess.CompletedProcess) -> dict:
    """A worker's RESULT, or its exit status and stderr tail."""
    m = re.search(r"^RESULT (\{.*\})$", proc.stdout, re.M)
    if proc.returncode == 0 and m:
        return json.loads(m.group(1))
    return {"error": f"exit {proc.returncode}: {proc.stderr[-2000:]}"}


def run_worker(n: int, corpus: dict, work: str) -> dict:
    """One worker subprocess pinned to the first ``n`` cores."""
    cpus = sorted(os.sched_getaffinity(0))[:n]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/spark-local")
    # the affinity mask sizes the session: drop the engine's env overrides
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(PYTHONPATH=REPO, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    proc = subprocess.run(
        [sys.executable, "-c", WORKER, json.dumps(corpus), work],
        capture_output=True, text=True, env=env, cwd=REPO,
        preexec_fn=lambda: os.sched_setaffinity(0, cpus),
    )
    shutil.rmtree(work, ignore_errors=True)
    return result_of(proc)


def campaign(lv: tuple[int, int], trials: int, run) -> dict[int, list[dict]]:
    """``trials`` rounds over both levels, alternating ABBA."""
    results: dict[int, list[dict]] = {n: [] for n in lv}
    for t in range(trials):
        for n in (lv if t % 2 == 0 else lv[::-1]):
            r = run(n)
            results[n].append(r)
            print(f"bench: trial {t} n{n}: {r.get('wall_s', 'failed')}", file=sys.stderr,
                  flush=True)
    return results


def summarize(pages: int, results: dict[int, list[dict]]) -> dict:
    """Per-level medians and failures, then the N → 4N ratios."""
    out: dict = {}
    hashes = set()
    for n, rs in results.items():
        ok = [r for r in rs if "error" not in r]
        level: dict = {"failed_trials": len(rs) - len(ok),
                       "errors": [r["error"] for r in rs if "error" in r]}
        if ok:
            walls = [r["wall_s"] for r in ok]
            med = statistics.median(walls)
            level.update(
                master=sorted({r["master"] for r in ok}),
                walls_s=walls,
                median_wall_s=round(med, 2),
                pages_per_sec=round(pages / med, 1),
                stage_walls_s={s: round(statistics.median(r["stage_walls_s"][s] for r in ok), 2)
                               for s in ok[0]["stage_walls_s"]},
                clusters_hash=sorted({r["clusters_hash"] for r in ok}),
                pairwise_f1=min(r["pairwise_f1"] for r in ok),
            )
            hashes.update(level["clusters_hash"])
        out[f"n{n}"] = level
    out["clusters_hash_equal"] = len(hashes) <= 1
    n_lo, n_hi = results
    lo, hi = out[f"n{n_lo}"], out[f"n{n_hi}"]
    if "median_wall_s" in lo and "median_wall_s" in hi:
        ratio = lo["median_wall_s"] / hi["median_wall_s"]
        out["throughput_ratio"] = round(ratio, 3)
        out["scaling_efficiency"] = round(ratio / (n_hi / n_lo), 3)
        out["stage_speedup"] = {
            s: round(w / hi["stage_walls_s"][s], 2)
            for s, w in lo["stage_walls_s"].items() if hi["stage_walls_s"].get(s)
        }
    return out


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) != 5:
        raise SystemExit(__doc__)
    out_path = args[0]
    pages, mult, ents, trials = (int(a) for a in args[1:])
    cores = len(os.sched_getaffinity(0))
    lv = levels(cores)
    work = tempfile.mkdtemp(prefix="el_bench_")
    try:
        corpus = inputs.write_corpus(f"{work}/corpus", SEED, pages, mult, ents,
                                     max(16, 2 * lv[1]))
        results = campaign(lv, trials, lambda n: run_worker(n, corpus, f"{work}/n{n}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    summary = {"pages": pages, "size_mult": mult, "entities": ents, "trials": trials,
               "cores": cores, "levels": list(lv), **summarize(pages, results)}
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))
    if not summary["clusters_hash_equal"]:
        print("bench: clusters_hash differs between trials", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
