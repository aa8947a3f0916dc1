"""The flagship end-to-end pipeline (SURVEY.md §7.1):

    pages → EXTRACT → documents → MENTIONS → BLOCK → PAIRS → LINKS → CLUSTER

Each stage is a checkpointed table (``lineage.StageRunner``) so a killed run
resumes mid-pipeline. The KB (entities/gazetteer) is a broadcast dimension at
every join site (the reference's loop-invariant "embed the KB once" hoist,
`/root/reference/run_DualEncoder.py:306-322`, becomes ``F.broadcast``).

Link semantics mirror the reference: per-mention argmax candidate above a
threshold (`/root/reference/run_E2E_exhaustive.py:536-544,570-575` — sigmoid-γ
pruning + top-1), then clusters = connected components over the match graph,
which reproduces "two mentions co-cluster iff linked to the same entity"
(SURVEY.md §2.12).
"""

from __future__ import annotations

import hashlib
import json
import logging
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_el_spark.extract import extract_documents
from e2e_el_spark.functions import unique_metric_name
from e2e_el_spark.lineage import StageRunner
from e2e_el_spark.metrics import pairwise_f1_from_counts
from e2e_el_spark.operators.blocking import (
    build_tfidf_vocab,
    lsh_band_keys,
    minhash_signatures,
    tfidf_vectors,
    token_prefix_key,
)
from e2e_el_spark.operators.clustering import cluster_star_links
from e2e_el_spark.operators.mentions import detect_mentions
from e2e_el_spark.operators.scoring import score_pairs
from e2e_el_spark.operators.segmentation import segment_documents


@dataclass
class PipelineConfig:
    tfidf_topk: int = 10
    vocab_size: int = 100_000
    ngram_max: int = 5
    compat_ngrams: bool = True
    prefix_len: int = 4
    lsh_hashes: int = 32
    lsh_bands: int = 16
    lsh_rows_per_band: int = 2
    link_threshold: float = 0.55
    max_mention_tokens: int = 4
    # --- KB-size-aware plan decisions (round-5: the 5k-entity bench KB is
    # NOT the realistic 10^5-10^6-entity dictionary scale; these thresholds
    # switch plans instead of silently betting memory) ------------------
    # Above this entity count the KB frames (entity TF-IDF vectors, block
    # keys, alias names) lose their F.broadcast hints: a 10^6-entity KB's
    # vector frame is tens of millions of rows, and a forced broadcast of
    # that is a driver+executor memory bet. Without the hint the joins
    # shuffle (AQE still picks broadcast when the actual size allows).
    broadcast_kb_max_entities: int = 200_000
    # Above this ALIAS count the detection stage falls back from the fused
    # matcher (plan-time driver-side gazetteer collect,
    # mentions._match_mentions_arrow) to the distributed window-join form
    # (see detect_mode).
    fused_max_aliases: int = 2_000_000
    # prune near-zero tf·idf entries before the gram join (see
    # blocking.tfidf_vectors — the 100 TB hot-gram guard); None = exact
    tfidf_min_weight: float | None = 0.05
    # candidate GENERATION uses only grams whose document frequency is below
    # this fraction of the corpus (inverted-index common-term pruning) —
    # ubiquitous grams still count in the exact rescore, they just don't
    # enumerate pairs
    max_gen_df_ratio: float = 0.02
    # ...AND an ABSOLUTE df cap on candidate-GENERATING grams. The ratio
    # alone scales the "rare" threshold with the KB (0.02·N = df ≤ 2,000 at
    # a 100k-entity KB), so posting lists — and the Σ df_s·df_e pair
    # enumeration — grow super-linearly with the dictionary: measured 65×
    # 03_pairs wall for a 20× KB (round-5 KB-axis campaign, BENCH/
    # SCALING_EVIDENCE.md). Capping df absolutely bounds every posting
    # list independent of KB size; common grams still feed the exact
    # rescore, they just never enumerate. 500 leaves the ≤25k-entity
    # behavior exactly unchanged (ratio threshold < cap there).
    max_gen_df_abs: int = 500
    # prefix filtering: only each vector's gen_prefix_len RAREST grams
    # enumerate candidates (a true near-match must share one of them)
    gen_prefix_len: int = 6
    # per-surface budget for inverted-index GENERATED candidates, ranked by
    # partial dot over the shared rare prefix grams before the exact
    # rescore. Without it the generation join's output — and therefore the
    # rescore's input — grows with the KB (measured cands/surface 116→434
    # for a 20× KB). 100 ≈ 3× the un-bounded per-surface volume at the 5k
    # bench KB, so small-KB behavior is effectively unchanged.
    gen_topk: int = 100
    # per-RARE-GRAM entity posting-list cap in candidate generation (weight
    # desc, entity_id asc). The generation join's output is
    # Σ_gram |surface posting|·|entity posting|; the df cap alone leaves a
    # heavy tail of postings near the cap, profiled at 45M join rows → a
    # 75s partial-dot agg at 20k pages × 100k entities (R5-c). None = off.
    max_gen_posting: int = 64
    # --- two-phase exact rescore (R5-c). Phase 1 scores EVERY candidate by
    # a partial dot over the surface's prescore_grams HEAVIEST tf·idf grams
    # (they carry the cosine mass); only the per-surface top prescore_keep
    # survive to the exact rescore. The exact-rescore join streams
    # |cands| × grams-per-surface rows — profiled at 1.96B rows / 346s for
    # 118k surfaces × 100k entities, 52% of the whole pairs stage — while
    # phase 1 costs |cands| × prescore_grams and phase 2 only
    # prescore_keep × grams-per-surface: ~4× fewer value rows end-to-end.
    # Final output is still the EXACT tf·idf cosine of the survivors;
    # ranking error is confined to candidates outside the partial-dot
    # top-prescore_keep (gated by the campaign pairwise-F1 check).
    # prescore_keep must be ≥ 2·tfidf_topk (the final per-surface cut).
    prescore_grams: int = 8
    prescore_keep: int = 30
    # token-prefix blocks join at most this many entities per key (ordered
    # by entity_id — deterministic); the cap is the mention-entity analogue
    # of same_block_pairs' max_block_size
    max_entities_per_block: int = 20
    # restrict to these page languages (None = all). On a partitioned
    # Iceberg/parquet pages table this predicate prunes partitions at the
    # scan (SURVEY.md §4 "rewrites Catalyst gives us for free")
    langs: tuple[str, ...] | None = None
    # W1: split documents into ≤ this many chars by greedy sentence packing
    # before mention detection (CollectiveEL_data_formatter.py:83-186 — any
    # real web corpus has pages far past the model budget). Mentions are
    # detected per segment and translated back to corpus coordinates, so
    # downstream stages and evaluation are segmentation-transparent.
    # None disables.
    segment_budget_chars: int | None = 2000
    # L3: cross-encoder rerank of the top-N candidates per surface after
    # score_candidates (modeling_FullTransformer.py:62-101). None disables;
    # when set, the blended score is 0.7·retrieval + 0.3·cross.
    rerank_topk: int | None = None
    # P8/P9 document context windows (± this many chars, [Ms]/[Me] markers)
    # as the cross-encoder's text_a — the reference's actual pair input
    # (utils_FullTransformer.py:395-470). None degrades text_a to the bare
    # surface string. Only meaningful when rerank_topk is set.
    rerank_context_budget: int | None = 100
    weights: dict = field(
        default_factory=lambda: {"jw": 0.35, "tfidf_cos": 0.3, "emb_dot": 0.35}
    )

    def fingerprint(self) -> str:
        """Stable hash of every knob AND the engine version — the
        StageRunner resume guard (a rerun with a different config, or
        against checkpoints a previous engine version wrote, must recompute
        rather than serve stale stages)."""
        from e2e_el_spark import __version__

        blob = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(f"{__version__}|{blob}".encode()).hexdigest()[:16]


def mention_block_keys(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(mention_id, block_key): token-prefix key ∪ MinHash-LSH band keys."""
    prefix = mentions.select(
        "mention_id", token_prefix_key("text", cfg.prefix_len).alias("block_key")
    )
    sigs = minhash_signatures(mentions, "mention_id", "text", cfg.lsh_hashes)
    bands = lsh_band_keys(sigs, "mention_id", cfg.lsh_bands, cfg.lsh_rows_per_band)
    return prefix.unionByName(bands)


def entity_block_keys(entities: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(entity_id, block_key) over canonical names — same key functions."""
    prefix = entities.select(
        "entity_id", token_prefix_key("name", cfg.prefix_len).alias("block_key")
    )
    sigs = minhash_signatures(entities, "entity_id", "name", cfg.lsh_hashes)
    bands = lsh_band_keys(sigs, "entity_id", cfg.lsh_bands, cfg.lsh_rows_per_band)
    return prefix.unionByName(bands)


def _kb_vocab(entities: DataFrame, cfg: PipelineConfig, n_entities: int) -> DataFrame:
    """TF-IDF vocabulary over the KB ALONE: (gram, df, idf, is_rare).

    The vocabulary/IDF corpus is the entity-name side only — NOT entity
    names ∪ mention surfaces like the exact-parity path
    (`blocking.tfidf_candidates`, `/root/reference/candidate_selection.py:102-111`).
    Rationale: a KB-only vocabulary is **corpus-invariant**, so the whole
    KB side of the pairs stage (vocab, entity vectors, block keys) is a
    precomputable artifact instead of a per-run job over 10^8 surfaces —
    the reference's own rank-0-once dataset build
    (`/root/reference/run_E2E_exhaustive.py:667-668,712-713`) is the same
    hoist. Surface grams outside the KB vocabulary can never match any
    entity gram, so dots are unchanged; only the surface-side L2 norm
    (and hence absolute cosines) shifts — the pairwise F1 gate holds.

    ``is_rare`` pre-marks grams eligible to ENUMERATE candidates
    (df ≤ max(2, min(max_gen_df_ratio · n_entities, max_gen_df_abs))) so
    downstream needs no
    corpus count job.
    """
    vocab = build_tfidf_vocab(
        entities.select(F.col("entity_id").alias("cid"), F.col("name").alias("ctext")),
        "cid", "ctext", cfg.ngram_max, cfg.vocab_size, cfg.compat_ngrams,
        n_docs=n_entities,
    )
    thr = max(2.0, min(cfg.max_gen_df_ratio * n_entities, cfg.max_gen_df_abs))
    return vocab.withColumn("is_rare", F.col("df") <= F.lit(thr))


def _kb_blocks(entities: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(block_key, entity_id) with the per-block entity cap applied."""
    bw = Window.partitionBy("block_key").orderBy("entity_id")
    return (
        entity_block_keys(entities, cfg)
        .withColumn("_rn", F.row_number().over(bw))
        # surface the cap (not silent): truncated-row count rides along as an
        # observed metric on the job that consumes this frame
        .observe(
            unique_metric_name("entity_block_cap"),
            F.sum((F.col("_rn") > cfg.max_entities_per_block).cast("long")).alias("truncated_rows"),
            F.count(F.lit(1)).alias("input_rows"),
        )
        .filter(F.col("_rn") <= cfg.max_entities_per_block)
        .drop("_rn")
    )


def kb_frames(
    entities: DataFrame, cfg: PipelineConfig, n_entities: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Lazy (vocab, entity_vectors, entity_blocks) — the corpus-invariant KB
    side of the pairs stage. ``build_kb_artifacts`` is the checkpointed form."""
    if n_entities is None:
        n_entities = entities.count()
    vocab = _kb_vocab(entities, cfg, n_entities).cache()
    ev = tfidf_vectors(
        entities, "entity_id", "name", vocab, cfg.ngram_max, cfg.compat_ngrams,
        min_weight=cfg.tfidf_min_weight,
    ).cache()
    return vocab, ev, _kb_blocks(entities, cfg)


def kb_content_fingerprint(entities: DataFrame) -> str:
    """Content hash of the KB: ``"{count}:{bit_xor(xxhash64(id, name))}"``.

    One small agg job. Deployments that run many corpus jobs against one
    frozen KB compute this ONCE and pass it to ``build_kb_artifacts`` /
    ``run_pipeline`` as ``kb_fingerprint`` — a fully-resumed KB build then
    launches ZERO Spark jobs (the fingerprint agg was the last per-run
    KB-side job even on full resume)."""
    row = entities.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(entity_id, name))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def build_kb_artifacts(
    spark: SparkSession, entities: DataFrame, cfg: PipelineConfig, kb_workdir: str,
    kb_fingerprint: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Checkpoint the KB artifacts once per (config, KB-content) fingerprint.

    The KB side of candidate generation (vocabulary + IDF, entity TF-IDF
    vectors, capped entity block keys) depends only on the entities table and
    the config — at 100 TB it is invariant across corpus runs and across
    cluster sizes, so recomputing it per run is pure serial floor. The stage
    fingerprint folds in a content hash of the KB (count + bit_xor of
    xxhash64(entity_id, name)) so a changed KB recomputes rather than serving
    stale vectors. Pass ``kb_fingerprint`` (from ``kb_content_fingerprint``,
    computed once per frozen KB) to skip the per-run hash job — the caller
    asserts the KB is the one the fingerprint was taken from."""
    kb_fp = kb_fingerprint or kb_content_fingerprint(entities)
    n_entities = int(kb_fp.split(":", 1)[0])
    fp = f"{cfg.fingerprint()}|kb:{kb_fp}"
    runner = StageRunner(spark, kb_workdir, fingerprint=fp)
    vocab = runner.run("kb_vocab", lambda: _kb_vocab(entities, cfg, n_entities))
    ev = runner.run(
        "kb_vectors",
        lambda: tfidf_vectors(
            entities, "entity_id", "name", vocab, cfg.ngram_max, cfg.compat_ngrams,
            min_weight=cfg.tfidf_min_weight,
        ),
    )
    eb = runner.run("kb_blocks", lambda: _kb_blocks(entities, cfg))
    return vocab, ev, eb


def generated_candidates(
    sv: DataFrame, ev: DataFrame, rare: DataFrame,
    gen_prefix_len: int, gen_topk: int, keep_score: bool = False,
    max_posting: int | None = None,
) -> DataFrame:
    """Inverted-index candidate generation with prefix filtering and a
    per-surface partial-dot top-k cap (the round-5 KB-axis fix).

    ``sv``/``ev`` are (id, gram, weight) vector frames for surfaces and
    entities; ``rare`` is (gram, df) — the generation-eligible vocabulary
    slice. Prefix filtering keeps each id's ``gen_prefix_len`` rarest grams
    (a matching pair shares its rarest gram with high probability, so the
    inverted index only needs the prefix, not the whole vector). The join
    emits every pair sharing a rare prefix gram — that count grows with
    BOTH the surface universe and the KB (measured 36× for a 20× KB,
    round-5 campaign R5-a), and every emitted pair pays the downstream
    exact-rescore join. So pairs are RANKED by their partial dot
    (Σ w_s·w_e over the shared rare prefix grams — the exact dot restricted
    to the generating grams) and only the per-surface top ``gen_topk``
    survive: candidate volume per surface is bounded at any KB size, while
    the ranking agg runs on cheap (surface, entity, partial-weight) rows,
    not the wide vectors.

    ``keep_score=True`` returns (surface, entity_id, pscore, gen_rank) for
    the value-checking driver query (q50); the pipeline path drops both.

    ``max_posting`` caps each rare gram's ENTITY posting list (top by
    weight desc, entity_id asc — deterministic). The df cap bounds
    posting lists by the KB's own document frequency, but the join output
    is Σ_gram |surface posting|·|entity posting| and the heavy tail near
    the df cap is what blows it up (profiled: 45M join rows → a 75s
    partial-dot agg at 20k pages × 100k entities, BENCH/
    SCALING_EVIDENCE.md R5-c). A weight-ordered per-gram cap bounds the
    join output at |surface prefix rows| × max_posting independent of the
    df-cap tail; a near-duplicate pair keeps its shared rare grams (those
    postings are short by rarity), so recall is gated by the campaign
    pairwise-F1 check, not assumed.
    """
    def _gen_prefix(vecs: DataFrame, id_col: str, w_col: str) -> DataFrame:
        pw = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("gram"))
        return (
            vecs.join(F.broadcast(rare), "gram")
            .withColumn("_pr", F.row_number().over(pw))
            .filter(F.col("_pr") <= gen_prefix_len)
            .select(id_col, "gram", F.col("weight").alias(w_col))
        )

    ep = _gen_prefix(ev, "entity_id", "_we")
    if max_posting is not None:
        gpw = Window.partitionBy("gram").orderBy(F.desc("_we"), F.asc("entity_id"))
        ep = (
            ep.withColumn("_gp", F.row_number().over(gpw))
            .filter(F.col("_gp") <= max_posting)
            .drop("_gp")
        )
    gw = Window.partitionBy("surface").orderBy(F.desc("_pscore"), F.asc("entity_id"))
    gen = (
        _gen_prefix(sv, "surface", "_ws")
        .join(ep, "gram")
        .groupBy("surface", "entity_id")
        .agg(F.sum(F.col("_ws") * F.col("_we")).alias("_pscore"))
        .withColumn("_gr", F.row_number().over(gw))
        .filter(F.col("_gr") <= gen_topk)
    )
    if keep_score:
        return gen.select(
            "surface", "entity_id", F.col("_pscore").alias("pscore"),
            F.col("_gr").alias("gen_rank"),
        )
    return gen.select("surface", "entity_id")


def candidate_pairs(
    mentions: DataFrame, entities: DataFrame, cfg: PipelineConfig,
    kb: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    n_entities: int | None = None,
) -> DataFrame:
    """BLOCK + PAIRS at SURFACE level: (surface, entity_id, tfidf_cos).

    Scoring signals depend only on the mention's surface string, so all
    blocking/scoring runs per DISTINCT surface and joins back to mentions in
    LINKS — the reference's own candidate dictionaries are keyed by mention
    text, not mention instance (C6, `/root/reference/mention_candidates_AIDA.py:14-31`).
    At web scale this collapses ~10^12 mentions to ~10^8 surfaces before the
    expensive pair work.

    Candidates = (token-prefix blocks ∪ LSH-band blocks ∪ rare-gram inverted
    index with prefix filtering), then a two-phase rescore: a cheap partial
    dot over each surface's heaviest grams ranks every candidate, and only
    the per-surface top ``prescore_keep`` get their EXACT TF-IDF cosine
    before the final per-surface top-2k cut (see the ``prescore_*`` config
    rationale — the single-phase exact rescore was 52% of the stage wall at
    a 100k-entity KB).
    The entity side of every block join is broadcast while the KB is the
    small dimension (SURVEY.md §1.3) — past
    ``cfg.broadcast_kb_max_entities`` the KB-proportional frames drop the
    hint and shuffle instead (see the ``kb_small`` note in the body).
    ``kb`` takes precomputed
    (vocab, entity_vectors, entity_blocks) — see ``build_kb_artifacts`` —
    so the per-run plan touches only surface-side work; None builds them
    inline (one count job over the KB).
    """
    surfaces = mentions.select(F.col("text").alias("surface")).distinct().cache()
    vocab, ev, eb = kb if kb is not None else kb_frames(entities, cfg)
    # ``n_entities`` drives the broadcast decision on the KB-PROPORTIONAL
    # frames (entity vectors, entity blocks). Vocabulary-bounded frames
    # (rare grams, distinct gram hashes — capped at cfg.vocab_size) stay
    # broadcast at ANY KB size. None (size unknown: streaming/legacy
    # callers) keeps the historical broadcast-the-KB behavior.
    kb_small = n_entities is None or n_entities <= cfg.broadcast_kb_max_entities
    _kb_side = F.broadcast if kb_small else (lambda df: df)
    sv = tfidf_vectors(
        surfaces, "surface", "surface", vocab, cfg.ngram_max, cfg.compat_ngrams,
        min_weight=cfg.tfidf_min_weight,
    ).cache()

    # --- candidate GENERATION: inverted index over RARE grams only.
    # A gram in >max_gen_df_ratio of the KB enumerates O(df²) pairs —
    # at 10^8 surfaces one common word would emit 10^12 candidates. Rare
    # grams bound every posting list; common grams still contribute to the
    # exact rescore below, they just never enumerate pairs.
    rare = vocab.filter(F.col("is_rare")).select("gram", "df")
    gen = generated_candidates(
        sv, ev, rare, cfg.gen_prefix_len, cfg.gen_topk,
        max_posting=cfg.max_gen_posting,
    )

    sb = mention_block_keys(
        surfaces.select(F.col("surface").alias("mention_id"), F.col("surface").alias("text")), cfg
    ).select(F.col("mention_id").alias("surface"), "block_key")
    blocked = sb.join(_kb_side(eb), "block_key").select("surface", "entity_id")

    # ``cands`` has exactly ONE consumer (the phase-1 left-join chain) since
    # the ranking window moved onto the agg output — no persist needed.
    # ``survivors`` below stays persisted: it feeds phase 2 AND its back-join.
    cands = blocked.unionByName(gen).dropDuplicates(["surface", "entity_id"])

    # --- two-phase exact rescore (R5-c; rationale on the config fields).
    # Vectors join on xxhash64(gram): an 8-byte long through the widest
    # intermediates instead of a 1-5-char string (smaller shuffle rows,
    # cheaper hash/compare). A 64-bit collision between two grams of the
    # ≤100k vocab (P ≈ 3·10⁻¹⁰) would add one spurious cross-term; the dot
    # stays exact for every practical purpose.
    # (A map<gram,weight>-per-row dot was tried and is 2-3× SLOWER: Spark map
    # expressions are array-backed, so element_at is a linear scan — the
    # in-row dot degenerates to O(|grams|²) string compares per pair.)
    # Surface grams that appear in NO entity vector contribute 0 to every
    # dot — a broadcast semi-join drops them map-side BEFORE any wide
    # cands⋈sv intermediate exists; the ev side itself broadcasts while the
    # KB is small, so the only shuffles left are the partial-agg groupBys.
    evh = ev.select("entity_id", F.xxhash64("gram").alias("_gh"), F.col("weight").alias("_ew"))
    svh = sv.select("surface", F.xxhash64("gram").alias("_gh"), "weight")
    sv_r = svh.join(F.broadcast(evh.select("_gh").distinct()), "_gh", "left_semi")

    # phase 1: partial dot over each surface's heaviest prescore_grams
    # grams ranks ALL candidates cheaply. LEFT joins carry EVERY candidate
    # through the agg (zero-overlap candidates sum to a coalesced 0.0, so
    # none silently drops — same (0, entity_id) tie-break the old exact
    # path gave them) and the ranking window runs directly on the agg
    # output: no cands-back sort-merge join. That join (31.5M ⋈ 16.6M on a
    # string key) was 105s of the 357s stage wall at 20k pages × 100k
    # entities (BENCH/SCALING_EVIDENCE.md R5-c) for zero information — the
    # agg can emit the zero rows itself.
    if cfg.prescore_keep < cfg.tfidf_topk * 2:
        raise ValueError(
            f"prescore_keep={cfg.prescore_keep} must be >= 2*tfidf_topk="
            f"{cfg.tfidf_topk * 2}: the phase-1 cut would starve the final "
            "per-surface top-2k"
        )
    tw = Window.partitionBy("surface").orderBy(F.desc("weight"), F.asc("_gh"))
    sv_top = (
        sv_r.withColumn("_tw", F.row_number().over(tw))
        .filter(F.col("_tw") <= cfg.prescore_grams)
        .drop("_tw")
    )
    # On the shuffled-KB path the entity-vector frame is KB-proportional
    # (77M rows at 10^6 entities — BENCH/SCALING_EVIDENCE.md R5-f, where
    # 03_pairs was 81% of the job wall) while the set of grams that can
    # EVER participate in a join is vocab-bounded (<= cfg.vocab_size 8-byte
    # hashes): phase 1 only probes grams in some surface's top-
    # prescore_grams set, phase 2 only grams present in a surface vector at
    # all. Two broadcast semi-joins drop every other entity row map-side
    # BEFORE evh enters the wide shuffles. The win compounds because common
    # (low-IDF) grams are precisely the ones with the LARGEST posting lists
    # and the ones a top-by-weight cut excludes from sv_top. On the
    # broadcast path evh ships whole either way — prune nothing, keep the
    # plan-tested broadcast shape unchanged.
    if kb_small:
        evh_p1 = evh_p2 = evh
    else:
        sv_top = sv_top.persist()  # consumed by the prune AND the join chain
        evh_p1 = evh.join(
            F.broadcast(sv_top.select("_gh").distinct()), "_gh", "left_semi"
        )
        evh_p2 = evh.join(
            F.broadcast(svh.select("_gh").distinct()), "_gh", "left_semi"
        )
    # left-join chain: a candidate whose surface has no sv_top grams (every
    # gram unknown to the KB) keeps a null-_gh row; a candidate whose top
    # grams match no entity row keeps null _ew. Both sum to null → 0.0.
    pre = (
        cands.join(sv_top, "surface", "left")
        .join(_kb_side(evh_p1), ["entity_id", "_gh"], "left")
        .groupBy("surface", "entity_id")
        .agg(F.coalesce(
            F.sum(F.col("weight") * F.col("_ew")), F.lit(0.0)
        ).alias("_pscore"))
    )
    kw = Window.partitionBy("surface").orderBy(F.desc("_pscore"), F.asc("entity_id"))
    survivors = (
        pre.withColumn("_pk", F.row_number().over(kw))
        .filter(F.col("_pk") <= cfg.prescore_keep)
        .select("surface", "entity_id")
        .persist()
    )

    # phase 2: EXACT tf·idf cosine, but only for the prescore_keep
    # survivors — prescore_keep × grams-per-surface value rows instead of
    # |cands| × grams-per-surface.
    rescored = (
        survivors.join(sv_r, "surface")
        .join(_kb_side(evh_p2), ["entity_id", "_gh"])
        .groupBy("surface", "entity_id")
        .agg(F.sum(F.col("weight") * F.col("_ew")).alias("tfidf_cos"))
    )
    out = survivors.join(rescored, ["surface", "entity_id"], "left").select(
        "surface", "entity_id", F.coalesce("tfidf_cos", F.lit(0.0)).alias("tfidf_cos")
    )
    # reference keeps top-k candidates per mention (num_candidates=10,
    # run_E2E_exhaustive.py:880-882); keep a few× that pre-scoring
    w = Window.partitionBy("surface").orderBy(F.desc("tfidf_cos"), F.asc("entity_id"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cfg.tfidf_topk * 2)
        .drop("_rk")
    )


def score_candidates(
    cands: DataFrame, mentions: DataFrame, entities: DataFrame, cfg: PipelineConfig,
    gazetteer: DataFrame | None = None,
    n_entities: int | None = None,
) -> DataFrame:
    """Vectorized scoring UDFs per (surface, entity) pair + weighted combine.

    The surface is compared against EVERY known alias of the candidate
    entity (broadcast gazetteer) and the per-entity max is kept — an exact
    alias hit scores jw = emb_dot = 1 even when the canonical name differs
    (the reference's candidate dictionaries are alias-keyed the same way,
    `/root/reference/mention_candidates_AIDA.py:14-31`). Falls back to
    canonical names when no gazetteer is supplied.
    """
    if gazetteer is not None:
        names = gazetteer.select("entity_id", F.col("alias").alias("text_b"))
    else:
        names = entities.select("entity_id", F.col("name").alias("text_b"))
    # alias table is KB-proportional: broadcast only while the KB is small
    # (see candidate_pairs) — past the threshold the equi-join shuffles
    if n_entities is None or n_entities <= cfg.broadcast_kb_max_entities:
        names = F.broadcast(names)
    pairs = cands.join(names, "entity_id").withColumn(
        "text_a", F.col("surface")
    )
    scored = score_pairs(pairs, "text_a", "text_b", "tfidf_cos", cfg.weights)
    w = dict(cfg.weights)
    return (
        scored.groupBy("surface", "entity_id")
        .agg(
            # constant per group (pair-level signal); max states the
            # invariant and stays correct if a future input breaks it
            F.max("tfidf_cos").alias("tfidf_cos"),
            F.max("jw").alias("jw"),
            F.max("emb_dot").alias("emb_dot"),
        )
        .withColumn(
            "score",
            F.col("jw") * F.lit(w["jw"])
            + F.col("tfidf_cos") * F.lit(w["tfidf_cos"])
            + F.col("emb_dot") * F.lit(w["emb_dot"]),
        )
    )


def surface_context_windows(
    mentions: DataFrame, documents: DataFrame, budget: int = 100
) -> DataFrame:
    """One deterministic representative P8/P9 context window per surface:
    (surface, context) — the reference's actual cross-encoder ``text_a``
    (`/root/reference/utils_FullTransformer.py:395-470` builds
    '[CLS] mention window [SEP] candidate [SEP]' pairs from document
    context, not from the bare surface string).

    Representative = the mention with the MINIMUM mention_id per surface
    (content-hashed ids ⇒ stable across reruns and parallelism). The
    surface-sized frame joins documents once; the window itself is the pure
    column expression ``functions.mention_window_expr`` ([Ms]/[Me] markers,
    ± budget chars)."""
    from e2e_el_spark.functions import mention_window_expr

    rep = mentions.groupBy(F.col("text").alias("surface")).agg(
        F.min_by(
            F.struct("document_id", "start_index", "end_index"), F.col("mention_id")
        ).alias("_m")
    )
    docs = documents.select(
        F.col("document_id").alias("_did"), F.col("text").alias("_doc_text")
    )
    return (
        rep.join(docs, F.col("_m.document_id") == F.col("_did"), "left")
        .select(
            "surface",
            F.coalesce(
                mention_window_expr(
                    "_doc_text", "_m.start_index", "_m.end_index", budget
                ),
                F.col("surface"),
            ).alias("context"),
        )
    )


def rerank_candidates(
    scored: DataFrame, entities: DataFrame, cfg: PipelineConfig,
    context: DataFrame | None = None,
    n_entities: int | None = None,
) -> DataFrame:
    """L3 stage: cross-encode the top-N candidates per surface against the
    candidate's canonical entity text and blend the scores
    (`/root/reference/modeling_FullTransformer.py:62-101` applied to the
    retrieval top-k, `utils_FullTransformer.py:395-470` pair construction).

    ``context`` (surface, context — see ``surface_context_windows``) swaps
    the cross-encoder's ``text_a`` from the bare surface string to the
    reference's marked document window; None keeps the surface (the
    surface-level degenerate window)."""
    from e2e_el_spark.operators.scoring import rerank_cross

    w = Window.partitionBy("surface").orderBy(F.desc("score"), F.asc("entity_id"))
    top = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cfg.rerank_topk)
        .drop("_rk")
    )
    if context is not None:
        top = top.join(context, "surface", "left").withColumn(
            "_ctx", F.coalesce(F.col("context"), F.col("surface"))
        ).drop("context")
        text_a = "_ctx"
    else:
        text_a = "surface"
    cand_names = entities.select("entity_id", F.col("name").alias("_cand_text"))
    if n_entities is None or n_entities <= cfg.broadcast_kb_max_entities:
        cand_names = F.broadcast(cand_names)
    pairs = top.join(cand_names, "entity_id")
    rr = rerank_cross(
        pairs, id_col="surface", cand_col="entity_id",
        text_a=text_a, text_b="_cand_text", k=cfg.rerank_topk,
    )
    out = rr.withColumn(
        "score", F.col("score") * 0.7 + F.col("cross_score") * 0.3
    ).drop("_cand_text", "cross_rank")
    return out.drop("_ctx") if context is not None else out


def link_top1(scored: DataFrame, threshold: float) -> DataFrame:
    """Per-surface argmax entity with score ≥ threshold (P7 + T5): the
    surface-level version of the reference's sigmoid-γ prune + top-1."""
    w = Window.partitionBy("surface").orderBy(F.desc("score"), F.asc("entity_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter((F.col("_rk") == 1) & (F.col("score") >= threshold))
        .select("surface", "entity_id", "score")
    )


def mention_links(links: DataFrame, mentions: DataFrame) -> DataFrame:
    """surface links → mention links (join back on the surface string)."""
    return mentions.select("mention_id", F.col("text").alias("surface")).join(
        links, "surface"
    ).select("mention_id", "entity_id", "score")


def clusters_from_links(links: DataFrame, mentions: DataFrame) -> DataFrame:
    """Connected components over the bipartite mention–entity match graph;
    unlinked mentions become singleton clusters.

    The links are star-shaped by construction (``link_top1`` keeps one
    entity per surface ⇒ one entity per mention), so they are clustered in
    closed form by ``cluster_star_links`` — one aggregation + one join
    instead of the large-star/small-star fixpoint, identical output
    (equivalence-tested against ``cluster_nodes`` at the operator AND this
    function's level). It is a plain shuffle job, so Spark's task retry
    covers executor loss without a checkpoint mode."""
    edges = links.select(
        F.col("mention_id").alias("src_key"),
        F.concat(F.lit("ENT:"), F.col("entity_id")).alias("dst_key"),
    )
    nodes = mentions.select(F.col("mention_id").alias("node_key"))
    return (
        cluster_star_links(edges, all_nodes=nodes).join(
            mentions.select(F.col("mention_id").alias("node_key")), "node_key", "left_semi"
        )
        .select(F.col("node_key").alias("mention_id"), "cluster_id")
    )


def detect_mode(n_aliases: int, cfg: PipelineConfig) -> str:
    """The mention-detection form for a gazetteer of ``n_aliases`` rows:
    ``"fused"`` while it fits the matcher's plan-time driver-side collect
    (at most ``cfg.fused_max_aliases``), else the distributed ``"window"``
    join — past the threshold the collect is a driver-heap bet."""
    return "fused" if n_aliases <= cfg.fused_max_aliases else "window"


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    entities: DataFrame,
    gazetteer: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
    kb_workdir: str | None = None,
    kb_fingerprint: str | None = None,
) -> DataFrame:
    """pages → clusters(mention_id, document_id, start_index, end_index,
    text, cluster_id), with every stage checkpointed under ``workdir``.

    ``kb_workdir`` (default ``{workdir}/_kb``) holds the corpus-invariant KB
    artifacts; point it somewhere persistent to amortize the KB build across
    corpus runs (content-fingerprinted, so a changed KB still recomputes).
    ``kb_fingerprint`` (see ``kb_content_fingerprint``) skips the per-run KB
    hash job when the caller has it cached for a frozen KB."""
    import os

    cfg = cfg or PipelineConfig()
    runner = StageRunner(spark, workdir, fingerprint=cfg.fingerprint())
    # one KB hash job per run (skipped when the caller passes the cached
    # fingerprint of a frozen KB) — it also yields the entity COUNT that
    # drives every KB-size plan decision below
    kb_fp = kb_fingerprint or kb_content_fingerprint(entities)
    n_entities = int(kb_fp.split(":", 1)[0])

    if cfg.langs is not None:
        pages = pages.filter(F.col("lang").isin(*cfg.langs))
    documents = runner.run("01_extract", lambda: extract_documents(pages))

    def _detect(docs_df: DataFrame) -> DataFrame:
        # the alias count job is KB-bounded and only paid when this stage
        # actually computes (resume skips the whole lambda)
        mode = detect_mode(gazetteer.count(), cfg)
        if mode == "window":
            logging.getLogger(__name__).warning(
                "gazetteer exceeds fused_max_aliases=%d: falling back to"
                " span_mode='window' for detection", cfg.fused_max_aliases,
            )
        return detect_mentions(
            docs_df, gazetteer, cfg.max_mention_tokens, span_mode=mode
        )

    def _mentions() -> DataFrame:
        if cfg.segment_budget_chars is None:
            return _detect(documents)
        # W1: detect on budget-bounded segments, then translate spans back to
        # corpus coordinates so the rest of the pipeline (and the evaluation
        # join on (document_id, start, end)) never sees segment ids
        segs = segment_documents(documents, cfg.segment_budget_chars)
        m = _detect(
            segs.select(F.col("segment_id").alias("document_id"), "text")
        )
        back = segs.select(
            F.col("segment_id"), F.col("document_id").alias("_orig"), "seg_start"
        )
        start = (F.col("start_index") + F.col("seg_start")).cast("int")
        end = (F.col("end_index") + F.col("seg_start")).cast("int")
        return m.join(back, m["document_id"] == back["segment_id"]).select(
            F.concat_ws(
                "", F.col("_orig"), F.lit("#"),
                start.cast("string"), F.lit("-"), end.cast("string"),
            ).alias("mention_id"),
            F.col("_orig").alias("document_id"),
            start.alias("start_index"),
            end.alias("end_index"),
            "text",
            "gazetteer_entity_id",
        )

    mentions = runner.run("02_mentions", _mentions)
    kb = build_kb_artifacts(
        spark, entities, cfg, kb_workdir or os.path.join(workdir, "_kb"),
        kb_fingerprint=kb_fp,
    )
    cands = runner.run(
        "03_pairs",
        lambda: candidate_pairs(mentions, entities, cfg, kb=kb, n_entities=n_entities),
    )
    scored = runner.run(
        "04_scored",
        lambda: score_candidates(
            cands, mentions, entities, cfg, gazetteer, n_entities=n_entities
        ),
    )
    if cfg.rerank_topk is not None:
        ctx = (
            surface_context_windows(mentions, documents, cfg.rerank_context_budget)
            if cfg.rerank_context_budget is not None
            else None
        )
        scored = runner.run(
            "04b_rerank",
            lambda: rerank_candidates(
                scored, entities, cfg, context=ctx, n_entities=n_entities
            ),
        )
    links = runner.run(
        "05_links",
        lambda: mention_links(link_top1(scored, cfg.link_threshold), mentions),
    )
    clusters = runner.run(
        "06_clusters",
        lambda: clusters_from_links(links, mentions).join(
            mentions.select("mention_id", "document_id", "start_index", "end_index", "text"),
            "mention_id",
        ).select("mention_id", "document_id", "start_index", "end_index", "text", "cluster_id"),
    )
    return clusters


def evaluate_pipeline(
    clusters: DataFrame, gold_mentions: DataFrame, cfg: PipelineConfig | None = None
) -> dict:
    """Pairwise F1 on labeled same-blocking-key pairs (BASELINE.json metric).

    Blocking key for the labeled-pair oracle = the token-prefix key of the
    gold surface (the pairs a single blocking bucket would compare).
    """
    cfg = cfg or PipelineConfig()
    blocked = gold_mentions.select(
        "mention_id",
        "label_candidate_id",
        "document_id", "start_index", "end_index",
        token_prefix_key("text", cfg.prefix_len).alias("block_key"),
    )
    # gold mention ids differ from detected mention ids; re-key detected
    # clusters by (document_id, start, end) → join to gold mention ids
    keyed = clusters.select(
        F.col("document_id"), F.col("start_index"), F.col("end_index"), F.col("cluster_id")
    )
    remapped = blocked.join(
        keyed, ["document_id", "start_index", "end_index"], "left"
    ).select(
        "mention_id", "block_key", "label_candidate_id",
        F.coalesce(
            "cluster_id", F.concat(F.lit("miss:"), "mention_id")
        ).alias("cluster_id"),
    )
    # counts-based exact pairwise F1 — never materializes the pair table
    # (Σ block² rows would be the bottleneck at web scale)
    return pairwise_f1_from_counts(remapped)
