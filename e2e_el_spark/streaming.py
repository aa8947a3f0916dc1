"""Structured Streaming surface (SURVEY.md §2.13).

The reference is pure batch — nothing here ports reference behavior. These
are the streaming entry points a production deployment of the same engine
needs: incremental page ingestion (micro-batch mention detection through the
UNCHANGED batch operators via foreachBatch) and watermarked event
sessionization (the streaming twin of the batch q14 lag-gap cumsum, using
Spark's native ``session_window`` so late events merge sessions correctly
up to the watermark).

Design notes (why these shapes):
- ``detect_mentions`` uses window functions, which streaming DataFrames
  don't support — ``foreachBatch`` runs the exact batch operator per
  micro-batch and appends to the sink table. Same code path as batch ⇒ no
  semantic drift between the backfill job and the incremental job.
- sessionization is a NATIVE streaming agg (``session_window`` + watermark):
  state is bounded by the watermark horizon, and out-of-order events within
  the horizon merge/extend sessions — semantics the batch lag-gap form only
  gets after a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = "url string, html binary, text string, lang string"


def stream_pages(spark: SparkSession, path: str, schema: str = PAGES_SCHEMA) -> DataFrame:
    """Incremental pages source: one file per micro-batch unit (parquet).
    An explicit schema is mandatory for streaming reads — no inference job."""
    return spark.readStream.schema(schema).parquet(path)


def stream_mentions_to(
    pages_stream: DataFrame,
    gazetteer: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    max_tokens: int = 4,
):
    """pages stream → EXTRACT → gazetteer mention detection → parquet sink.

    foreachBatch applies the UNCHANGED batch operators per micro-batch
    (window functions aren't streaming-supported, and reusing the batch code
    keeps incremental output byte-compatible with a backfill). Exactly-once
    to the sink via the streaming checkpoint + idempotent batch overwrite
    per epoch is the caller's choice; append is the default here.
    """
    from e2e_el_spark.extract import extract_documents
    from e2e_el_spark.operators.mentions import detect_mentions

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        docs = extract_documents(batch_df)
        # anchor-pruned window form, not span_mode="fused": the fused
        # matcher collects the gazetteer driver-side at plan-build time,
        # which here would mean one extra KB job EVERY micro-batch; the
        # two forms are output-identical (equivalence-tested), so batch
        # parity is unaffected
        mentions = detect_mentions(docs, gazetteer, max_tokens)
        mentions.write.mode("append").parquet(out_path)

    return (
        pages_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def make_links_processor(
    entities: DataFrame,
    gazetteer: DataFrame,
    out_path: str,
    cfg=None,
    kb=None,
    epoch_idempotent: bool = False,
):
    """The foreachBatch processor behind ``stream_links_to`` — factored out
    so a retried epoch can be exercised directly in tests.

    ``epoch_idempotent=True`` writes each micro-batch to
    ``{out_path}/_epoch={id}`` with overwrite: a RETRIED foreachBatch epoch
    (Spark's contract is at-least-once per epoch) rewrites its own partition
    instead of double-appending. Readers see an extra ``_epoch`` partition
    column via parquet partition discovery. The default (False) keeps the
    plain append sink and therefore AT-LEAST-ONCE semantics: a crash between
    the parquet append and the checkpoint commit replays the epoch and
    duplicates its links — dedupe downstream on (mention_id) or use the
    idempotent mode.
    """
    from e2e_el_spark.extract import extract_documents
    from e2e_el_spark.operators.mentions import detect_mentions
    from e2e_el_spark.pipeline import (
        PipelineConfig,
        candidate_pairs,
        kb_frames,
        link_top1,
        mention_links,
        score_candidates,
    )

    cfg = cfg or PipelineConfig()
    kb_art = kb if kb is not None else kb_frames(entities, cfg)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        docs = extract_documents(batch_df)
        # window-form detection, not the batch pipeline's fused form: the
        # fused matcher collects the gazetteer at plan construction, i.e.
        # once per MICRO-BATCH here — same rationale as stream_mentions_to.
        mentions = detect_mentions(docs, gazetteer, cfg.max_mention_tokens)
        cands = candidate_pairs(mentions, entities, cfg, kb=kb_art)
        scored = score_candidates(cands, mentions, entities, cfg, gazetteer)
        links = mention_links(link_top1(scored, cfg.link_threshold), mentions)
        if epoch_idempotent:
            links.write.mode("overwrite").parquet(f"{out_path}/_epoch={epoch_id}")
        else:
            links.write.mode("append").parquet(out_path)

    return _process


def stream_links_to(
    pages_stream: DataFrame,
    entities: DataFrame,
    gazetteer: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    cfg=None,
    kb=None,
    epoch_idempotent: bool = False,
):
    """pages stream → full EXTRACT → MENTIONS → PAIRS → SCORE → LINK per
    micro-batch (the incremental form of the whole linking pipeline, not just
    mention detection).

    Per-micro-batch links are IDENTICAL to a batch backfill over the union of
    the batches: every per-mention signal is a pure function of (surface, KB)
    — the KB-only vocabulary (``pipeline._kb_vocab``) removed the last
    corpus-level dependency (corpus IDF), so scoring cannot see batch
    composition. foreachBatch reuses the unchanged batch operators; pass
    precomputed ``kb`` artifacts (``pipeline.build_kb_artifacts``) so each
    micro-batch plan starts from the parquet artifacts instead of re-deriving
    the KB side per epoch.

    Delivery: the default append sink is AT-LEAST-ONCE — a retried epoch
    double-appends its links (same caveat as ``stream_mentions_to``).
    ``epoch_idempotent=True`` overwrites a per-epoch partition directory
    instead, making epoch retries exactly-once at the cost of an ``_epoch``
    partition column in the sink schema (see ``make_links_processor``).
    """
    return (
        pages_stream.writeStream.foreachBatch(
            make_links_processor(
                entities, gazetteer, out_path, cfg, kb,
                epoch_idempotent=epoch_idempotent,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_exact(
    docs: DataFrame,
    text_col: str = "text",
    shards: int = 32,
    hash_fns=None,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-batch exact dedup as a CUSTOM STATEFUL operator
    (``applyInPandasWithState``): emit a document only the first time its
    text is seen across the whole stream's lifetime.

    State layout: documents shard by ``pmod(xxhash64(text), shards)`` —
    duplicates always land in the same shard — and each shard's state is its
    set of seen COMPOSITE keys packed as 24-byte binaries: (length, hash1,
    hash2) with two independent 64-bit hashes, the same collision-safety
    contract as batch ``dedup._text_group_key`` (a single 64-bit hash
    silently false-drops distinct documents past the ~4·10⁹-doc birthday
    bound; ~128 bits of key pushes that beyond 10¹⁵). Batch rows are
    filtered against the set, newly seen keys are appended, and only
    first-occurrence rows are emitted (streaming twin of
    ``dedup.exact_dedup``'s first-wins semantics).

    ``hash_fns`` is an injectable pair of ``text -> int64`` functions — the
    testing seam that lets a forced-collision test prove two distinct texts
    sharing hash1 both survive. Default: salted blake2b pair.

    State is unbounded by design here (exact lifetime dedup) and, because
    ``applyInPandasWithState`` state has VALUE semantics, ``state.update``
    REWRITES each shard's full sorted seen-set every micro-batch it touches —
    O(|state|) serialization per batch, cumulative O(batches × |state|) over
    a long stream. Acceptable at micro-batch cadence; bound it with
    ``ttl_ms`` (ProcessingTimeTimeout: a shard that receives NO documents for
    ``ttl_ms`` drops its seen-set, so an expired text is re-admitted — dedup
    becomes per-TTL-window instead of lifetime) or rotate the checkpoint.
    Per-batch state size is observable via ``streaming_state_metrics`` (the
    sink-side ``stateOperators`` progress counters).

    Upgrade note: 0.3.0 changed the state schema from ``array<long>`` to
    ``array<binary>`` (composite keys). State-store schemas are NOT
    migrated — resuming a checkpoint written by ≤0.2.x fails/misreads;
    start the upgraded query with a FRESH ``checkpointLocation``.
    """
    import hashlib
    import struct

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = docs.schema
    cols = [f.name for f in docs.schema.fields]
    state_schema = "seen array<binary>"
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def _salted(salt: bytes):
        def h(t: str) -> int:
            d = hashlib.blake2b(salt + (t or "").encode(), digest_size=8).digest()
            return int.from_bytes(d, "big") - (1 << 63)

        return h

    h1, h2 = hash_fns or (_salted(b""), _salted(b"dedup-seed-2"))

    def _key(t: str) -> bytes:
        return struct.pack(">qqq", len(t or ""), h1(t), h2(t))

    def fn(key, pdfs, state):
        if ttl_ms is not None and state.hasTimedOut:
            # the shard saw no documents for ttl_ms: drop its seen-set —
            # an expired text arriving later is re-admitted (emitted again)
            state.remove()
            return
        seen = {bytes(b) for b in state.get[0]} if state.exists else set()
        for pdf in pdfs:
            keep = []
            for t in pdf[text_col]:
                k = _key(t)
                if k in seen:
                    keep.append(False)
                else:
                    seen.add(k)
                    keep.append(True)
            out = pdf.loc[keep, cols]
            if len(out):
                yield out
        state.update((sorted(seen),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    keyed = docs.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(text_col)), F.lit(shards))
    )
    return keyed.groupBy("_shard").applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout_conf
    )


def streaming_state_metrics(query) -> dict | None:
    """Per-batch state-size observability for stateful queries (the
    ``stream_dedup_exact`` full-state-rewrite cost note): Spark's own
    ``stateOperators`` progress counters from the query's last progress —
    {state_rows, state_memory_bytes, rows_updated}. None until the first
    batch with a stateful operator completes."""
    prog = query.lastProgress
    if not prog:
        return None
    ops = prog.get("stateOperators") or []
    if not ops:
        return None
    op = ops[0]
    return {
        "state_rows": op.get("numRowsTotal"),
        "state_memory_bytes": op.get("memoryUsedBytes"),
        "rows_updated": op.get("numRowsUpdated"),
    }


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Watermarked session aggregation: (user, session start/end, n_events).

    Native ``session_window``: sessions close ``gap`` after their last
    event; events later than ``watermark`` are dropped; state is bounded by
    the horizon. The streaming counterpart of the batch q14 sessionizer —
    identical session counts on in-order data."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
