"""Benchmark for the e2e_el_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload corpus_link --seed 1 --seconds 20 --trace 0

One run, in one process and one closed loop (a single client):

1. writes the workload's inputs from ``--seed`` to parquet (untimed);
2. sets up twice: ``session.get_spark`` on ``local[nproc]`` with a heap
   sized from ``/proc/meminfo``, then ``pipeline.kb_content_fingerprint`` and
   ``pipeline.build_kb_artifacts`` into a fresh directory; ``setup_s`` is the
   median (the first set-up also starts the JVM; a third would not fit the
   per-run time budget);
3. repeats rounds until ``--seconds`` have passed (at least one). A round is
   one ``pipeline.run_pipeline`` job from the pages table to the checkpointed
   clusters, then one pass over the 12 headline queries of
   ``__spark_entry__.queries()``, each collected to the driver as Arrow
   (``query_total_s`` sums the per-query medians over the rounds);
4. checks every output: equal ``clusters_hash`` across trials (and equal to
   ``expected.json`` where the (workload, seed) is recorded there), pairwise
   F1 >= 0.99 against the synthetic gold, and each headline query equal to
   its DuckDB oracle (q30, which has none, by a result hash that must repeat
   across passes and match ``expected.json`` where recorded).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` (batch trials and query executions) and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
turns on Spark's event log and reports the per-layer metrics instead.
Failed operations print their traceback tail on ``perfbench: failure`` lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))

# corpus_link: the most corpus per KB entity, so the corpus-proportional
# stages (01/02/05/06) carry the most rows; kb_link: a 3x larger KB against
# a sixth of the pages, so ~9 candidates per mention in 03/04 and a larger KB
# build in set-up. Sizes are bounded by the per-run time budget: at these
# sizes every stage wall is mostly per-job fixed cost.
WORKLOADS = {
    "corpus_link": {"pages": 600, "size_mult": 2, "entities": 100, "page_files": 4},
    "kb_link": {"pages": 100, "size_mult": 2, "entities": 300, "page_files": 1},
}
QUERY_SF = 0.002
HEADLINE = [
    "q01_pricing_summary", "q02_orders_by_segment", "q03_brand_revenue_broadcast",
    "q07_topk_per_group", "q12_running_revenue", "q16_char_ngram_counts",
    "q17_tfidf_vocab", "q18_langid", "q20_token_budget_audit", "q23_brute_force_ann",
    "q26_doc_segmentation", "q30_minhash_near_dups",
]
QUERY_TABLES = ["customer", "part", "orders", "lineitem", "documents", "embeddings"]
STAGES = ["01_extract", "02_mentions", "03_pairs", "04_scored", "04b_rerank",
          "05_links", "06_clusters"]
SETUPS = 2
MIN_F1 = 0.99
DEADLINE_S = 170


def host_session_conf(work: str, trace_dir: str | None) -> tuple[str, int, dict]:
    """local[nproc], a driver heap of an eighth of MemTotal (1-2 GiB), and
    every scratch path inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mib = max(1024, min(2048, mem_kib // 1024 // 8))
    conf = {
        "spark.driver.memory": f"{heap_mib}m",
        "spark.driver.maxResultSize": f"{heap_mib // 4}m",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{trace_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return f"local[{cpus}]", cpus, conf


T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc every 0.2 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(pid)] = int(fields[1])
            rss[int(pid)] = int(fields[21]) * self._page
        total, todo = 0, [os.getpid()]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def run(self) -> None:
        while not self._stop_event.wait(0.2):
            self.peak = max(self.peak, self._sample())

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return max(self.peak, self._sample()) / float(1 << 20)


class Ledger:
    """Counts attempted and failed operations and keeps failure evidence."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def fail(self, op: str, detail: str) -> None:
        self.failed += 1
        line = json.dumps({"op": op, "evidence": detail[-2000:]})
        print(f"perfbench: failure {line}", flush=True)

    def run(self, op: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed operation is a result, not a crash
            self.fail(op, traceback.format_exc())
            return None


def clusters_hash(clusters) -> str:
    from pyspark.sql import functions as F

    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(mention_id, cluster_id))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def read_marker(trial: str, stage: str) -> dict | None:
    path = os.path.join(trial, stage, "_STAGE_COMPLETE")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def dir_mib(path: str) -> float:
    return sum(os.path.getsize(os.path.join(r, n)) for r, _d, files in os.walk(path)
               for n in files) / float(1 << 20)


def stage_rows(trial: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    lineage = os.path.join(trial, "_lineage")
    if os.path.isdir(lineage):
        t = pq.read_table(lineage, columns=["stage", "rows_out"]).to_pydict()
        for s, n in zip(t["stage"], t["rows_out"]):
            out[s] = out.get(s, 0) + n
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__ as entry
        from e2e_el_spark.pipeline import (
            PipelineConfig, build_kb_artifacts, evaluate_pipeline,
            kb_content_fingerprint, run_pipeline,
        )
        from e2e_el_spark.session import get_spark, stop_spark

        import eventlog
        import inputs
        import oracle
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    # a run that overstays its budget exits without a result
    watchdog = threading.Timer(DEADLINE_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(args.workload, {}).get(str(args.seed), {})

    corpus = inputs.write_corpus(f"{work}/corpus", args.seed, wl["pages"], wl["size_mult"],
                                 wl["entities"], wl["page_files"])
    qdir = inputs.write_query_tables(f"{work}/tables", args.seed, QUERY_SF)

    log("inputs written")
    rss = RssSampler()
    rss.start()
    ledger = Ledger()
    cfg = PipelineConfig(rerank_topk=5)
    trace = bool(args.trace)
    spark = None
    setup_s, kb_s, session_start_s = [], [], None
    kb_window = (0.0, 0.0)
    try:
        for k in range(SETUPS):
            if spark is not None:
                stop_spark()
            master, cpus, conf = host_session_conf(work, f"{work}/events/{k}" if trace else None)
            t0 = time.monotonic()
            spark = get_spark(app_name=f"perfbench_{args.workload}", master=master,
                              shuffle_partitions=cpus, extra_conf=conf)
            t1, e1 = time.monotonic(), time.time()
            ents = spark.read.parquet(corpus["entities"])
            fp = kb_content_fingerprint(ents)
            build_kb_artifacts(spark, ents, cfg, f"{work}/kb{k}", kb_fingerprint=fp)
            t2 = time.monotonic()
            session_start_s = session_start_s if session_start_s is not None else t1 - t0
            setup_s.append(t2 - t0)
            kb_s.append(t2 - t1)
            kb_window = (e1, time.time())
        log(f"set-ups {[round(x, 2) for x in setup_s]}")
        kb_dir = f"{work}/kb{SETUPS - 1}"
        pages = spark.read.parquet(corpus["pages"])
        aliases = spark.read.parquet(corpus["aliases"])
        queries = entry.queries()
        oracles = entry.oracle_sql()

        walls, hashes, windows = [], [], []
        qtimes: dict[str, list[float]] = {q: [] for q in HEADLINE}
        qresults: dict = {}
        clusters = None
        rounds = 0
        t_start = time.monotonic()
        while rounds == 0 or time.monotonic() - t_start < args.seconds:
            trial = f"{work}/trial{rounds}"
            e0, t0 = time.time(), time.monotonic()
            out = ledger.run("batch", lambda: run_pipeline(
                spark, pages, ents, aliases, trial, cfg, kb_workdir=kb_dir, kb_fingerprint=fp))
            if out is not None:
                walls.append(time.monotonic() - t0)
                windows.append((e0, time.time(), trial))
                clusters = out
                hashes.append(clusters_hash(out))
            for name in HEADLINE:
                t0 = time.monotonic()
                tbl = ledger.run(name, lambda: queries[name](spark, qdir).toArrow())
                if tbl is not None:
                    qtimes[name].append(time.monotonic() - t0)
                    qresults.setdefault(name, []).append(tbl)
            rounds += 1
            log(f"round {rounds} done")

        # output checks, outside every timed window
        if len(set(hashes)) > 1:
            ledger.fail("batch", f"clusters_hash differs across trials: {hashes}")
        if hashes and expected.get("clusters_hash") not in (None, hashes[0]):
            ledger.fail("batch", f"clusters_hash {hashes[0]} != recorded"
                                 f" {expected['clusters_hash']}")
        f1 = None
        if clusters is not None:
            gold = spark.read.parquet(corpus["gold"])
            f1 = evaluate_pipeline(clusters, gold, cfg)["f1"]
            if f1 < MIN_F1:
                ledger.fail("batch", f"pairwise F1 {f1} < {MIN_F1}")
        q30_hash = None
        for name, tables in qresults.items():
            if name in oracles:
                for tbl in tables:
                    if not oracle.matches_oracle(tbl, oracles[name], qdir, QUERY_TABLES):
                        ledger.fail(name, "result differs from the DuckDB oracle")
            else:
                digests = {oracle.result_hash(t) for t in tables}
                q30_hash = sorted(digests)[0]
                if len(digests) > 1 or expected.get(name) not in (None, q30_hash):
                    ledger.fail(name, f"result hash {sorted(digests)} != recorded"
                                      f" {expected.get(name)}")
        log("outputs checked")
        print("perfbench: hashes " + json.dumps(
            {"clusters_hash": hashes[0] if hashes else None, "q30_minhash_near_dups": q30_hash}),
            flush=True)

        if not trace:
            job = statistics.median(walls) if walls else 0.0
            metrics = {
                "job_wall_s": (job, "s"),
                "pages_per_s": (corpus["n_pages"] / job if job else 0.0, "1/s"),
                "setup_s": (statistics.median(setup_s), "s"),
                "query_total_s": (sum(statistics.median(v) for v in qtimes.values() if v), "s"),
                "pairwise_f1": (f1 if f1 is not None else 0.0, "ratio"),
            }
        else:
            metrics = {}
    finally:
        if spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            spark.stop()
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
        peak_rss = rss.stop()
        log("session stopped")

    if trace and windows:
        metrics = layer_metrics(eventlog, f"{work}/events/{SETUPS - 1}", windows, walls,
                                kb_window, statistics.median(kb_s), session_start_s,
                                qtimes, ledger)
    else:
        metrics["peak_rss_mib"] = (peak_rss, "MiB")
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run's directory is still there
        pass
    watchdog.cancel()
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(eventlog, log_dir, windows, walls, kb_window, kb_build_s, session_start_s,
                  qtimes, ledger) -> dict:
    """Per-layer metrics of the last batch trial (Spark task totals of the
    jobs submitted inside each stage's marker interval), the KB build of the
    last set-up and the queries, from the event log and the stage markers."""
    jobs = eventlog.load(log_dir)
    e0, e1, trial = windows[-1]
    wall = walls[-1]
    markers = {s: read_marker(trial, s) for s in STAGES}
    intervals = {s: (m["ts"] - m["wall_ms"] / 1e3, m["ts"])
                 for s, m in markers.items() if m is not None}
    in_trial = [j for j in jobs if e0 <= j["submit"] <= e1]
    by_stage = eventlog.assign(in_trial, intervals)
    rows = stage_rows(trial)
    out: dict = {
        "session.start_s": (session_start_s, "s"),
        "kb.build_s": (kb_build_s, "s"),
        "kb.jobs": (len([j for j in jobs if kb_window[0] <= j["submit"] <= kb_window[1]]),
                    "count"),
        "trace.job_wall_s": (wall, "s"),
    }
    staged = 0.0
    for s in STAGES:
        js = by_stage.get(s, [])
        m = markers[s]
        w = m["wall_ms"] / 1e3 if m else 0.0
        staged += w
        out.update({
            f"stage.{s}.wall_s": (w, "s"),
            f"stage.{s}.share": (w / wall, "ratio"),
            f"stage.{s}.cpu_s": (eventlog.total(js, "cpu_s"), "s"),
            f"stage.{s}.shuffle_write_mib": (eventlog.total(js, "shuffle_write_mib"), "MiB"),
            f"stage.{s}.spill_mib": (eventlog.total(js, "spill_mib"), "MiB"),
            f"stage.{s}.rows_out": (rows.get(s, 0), "count"),
            f"stage.{s}.jobs": (len(js), "count"),
            f"stage.{s}.out_mib": (dir_mib(os.path.join(trial, s, "data")), "MiB"),
        })
    # the stage markers' intervals are disjoint, so the rest of the wall is
    # time in no stage; the stages must explain at least 90 % of the wall
    coverage = staged / wall
    if coverage < 0.9:
        ledger.fail("trace", f"stage walls {staged:.3f} s explain {coverage:.1%} of the"
                             f" {wall:.3f} s job wall")
    out.update({
        "stage.other.wall_s": (wall - staged, "s"),
        "stage.other.jobs": (len(by_stage[None]), "count"),
        "stage.coverage": (coverage, "ratio"),
        "gc_s": (eventlog.total(in_trial, "gc_s"), "s"),
        "python.run_s": (eventlog.total(in_trial, "python_run_s"), "s"),
        "python.start_s": (eventlog.total(in_trial, "python_start_s"), "s"),
    })
    for q, v in qtimes.items():
        out[f"query.{q}.s"] = (statistics.median(v) if v else 0.0, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
