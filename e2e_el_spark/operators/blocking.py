"""Candidate blocking (SURVEY.md §2.10) — token-prefix keys, char-n-gram
TF-IDF cosine top-k (C1), and MinHash LSH band blocking, all as DataFrame
transforms.

The TF-IDF path replicates the semantics of the reference's
`candidate_selection.py` end-to-end (`/root/reference/candidate_selection.py:102-216`):
lowercased corpus = entity names ∪ mention surfaces, stopword filter before
n-gramming, char n-grams n=1..5 with the reference's loop quirk
(compat=True drops the first-position and tail grams), top-100k vocabulary by
frequency, idf = log(N/df) with **no smoothing** (:161), tf·idf vectors
L2-normalized, cosine via sparse dot, top-k candidates per mention.

Representation is *sparse-relational*: a vector is rows (id, gram, weight) —
never a padded dense matrix (the reference's 100000-wide numpy rows are a
single-node artifact). The cosine is a join on the gram key + hash
aggregation: exactly the shuffle Catalyst handles well, and the hot-gram skew
site where we salt (SURVEY.md §4 custom work #1).

MinHash here is built-ins only: k independent xxhash64 seeds, min() per key —
no UDF, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from e2e_el_spark.functions import (
    STOPWORDS,
    remove_stopwords_expr,
    unique_metric_name,
)

# ---------------------------------------------------------------------------
# token-prefix blocking key (north star: "token-prefix blocking keys")
# ---------------------------------------------------------------------------


def token_prefix_key(text_col: str, k: int = 4):
    """lower(substr(first_token, 1, k)) — the cheap equi-join blocking key."""
    return F.lower(F.substring(F.split(F.col(text_col), " ").getItem(0), 1, k))


def with_block_key(df: DataFrame, text_col: str = "text", k: int = 4) -> DataFrame:
    return df.withColumn("block_key", token_prefix_key(text_col, k))


def salt_block_key(
    df: DataFrame, key_col: str = "block_key", id_col: str = "mention_id",
    max_block_size: int = 1000, salt_buckets: int = 16,
) -> DataFrame:
    """Explicit skew salting (SURVEY.md §4 custom work #1).

    Keys whose frequency exceeds ``max_block_size`` (measured by a
    key-frequency sketch aggregated engine-side) get a deterministic salt
    ``pmod(xxhash64(id), S)`` appended, splitting the hot block into S
    sub-blocks. AQE's skew-join splitting alone does not bound the *pair
    explosion* of a self-join — salting does.
    """
    freq = df.groupBy(key_col).agg(F.count("*").alias("_key_freq"))
    out = df.join(F.broadcast(freq), key_col, "left")
    salted = F.when(
        F.col("_key_freq") > max_block_size,
        F.concat_ws(
            "#",
            F.col(key_col),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)).cast("string"),
        ),
    ).otherwise(F.col(key_col))
    return out.withColumn(key_col, salted).drop("_key_freq")


# ---------------------------------------------------------------------------
# char-n-gram TF-IDF (C1 / A2-A5 / T1)
# ---------------------------------------------------------------------------


def _prepped(df: DataFrame, id_col: str, text_col: str, lowercase: bool,
             stopwords: list[str] | None) -> DataFrame:
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    d = df.select(F.col(id_col).alias("_id"), text.alias("_t"))
    return d.withColumn("_t", F.expr(remove_stopwords_expr("_t", stopwords)))


def ngram_counts(df: DataFrame, id_col: str, text_col: str, n_max: int = 5,
                 compat: bool = True, lowercase: bool = True,
                 stopwords: list[str] | None = None) -> DataFrame:
    """(id, gram, tf) — per-document char-n-gram term frequencies (A2).

    Round-6 form: grams come from a double POSITION explode
    (n ∈ 1..n_max, then the n's start positions) with the substr applied
    per exploded row — every operator in the chain is whole-stage codegen.
    The round-5 form exploded ``concat(transform(sequence, i -> substr))``
    string ARRAYS, paying Catalyst's interpreted higher-order-function
    path plus one materialized string array per (doc, n) — measured
    1.25-1.3× slower like-for-like at equal parallelism on clean-window
    medians (the bulk of the q16/q17 headline win was the scan fan-out,
    not this form; OPTIMIZATION_r06.md has both numbers). The position
    explode also materializes no per-(doc, n) string array, with the
    advantage growing with text length.
    The position bounds replicate ``char_ngrams_expr`` exactly
    (compat=True keeps the reference's loop quirk: starts 2..len-n), so
    the gram multiset — and therefore every downstream tf/df/idf — is
    identical.
    """
    d = _prepped(df, id_col, text_col, lowercase, stopwords)
    lo = 2 if compat else 1
    hi = "length(_t) - _n" if compat else "length(_t) - _n + 1"
    ns = d.select("_id", "_t", F.explode(F.expr(f"sequence(1, {n_max})")).alias("_n"))
    pos = ns.select(
        "_id", "_t", "_n",
        F.explode(
            F.expr(f"CASE WHEN ({hi}) >= {lo} THEN sequence({lo}, {hi}) ELSE array() END")
        ).alias("_i"),
    )
    return (
        pos.select("_id", F.expr("substr(_t, _i, _n)").alias("gram"))
        .groupBy("_id", "gram")
        .agg(F.count("*").alias("tf"))
    )


def build_tfidf_vocab(
    corpus: DataFrame, id_col: str, text_col: str,
    n_max: int = 5, vocab_size: int = 100_000, compat: bool = True,
    stopwords: list[str] | None = None, n_docs: int | None = None,
) -> DataFrame:
    """Vocabulary (gram, df, idf) from a corpus DataFrame.

    Global top-k by total term frequency (ties broken by gram for
    determinism), df = #docs containing the gram, idf = log(N/df).
    Pass ``n_docs`` when the caller already counted the corpus; with
    ``n_docs=None`` the count rides along as a broadcast 1-row scalar
    cross join instead of a separate eager ``corpus.count()`` driver
    round-trip (same double value: count is exact in double, log(N/df)
    identical either way).
    """
    grams = ngram_counts(corpus, id_col, text_col, n_max, compat, True, stopwords)
    # grams is one row per (doc, gram) by construction, so plain count(_id)
    # IS the document frequency — countDistinct would re-plan the aggregate
    # through Spark's distinct-rewrite (an extra internal aggregation) for
    # the same number.
    totals = grams.groupBy("gram").agg(
        F.sum("tf").alias("total_tf"), F.count("_id").alias("df")
    )
    # Distributed top-k: orderBy().limit() compiles to TakeOrderedAndProject
    # (per-partition heaps + a tiny driver merge). A row_number() window with
    # no partitionBy would funnel the ENTIRE gram-totals table through one
    # task — the job at 100× scale.
    topk = totals.orderBy(F.desc("total_tf"), F.asc("gram")).limit(vocab_size)
    if n_docs is None:
        n = corpus.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
        return topk.crossJoin(F.broadcast(n)).select(
            "gram", "df", (F.log(F.col("_n_docs") / F.col("df"))).alias("idf")
        )
    return topk.select(
        "gram", "df", (F.log(F.lit(float(n_docs)) / F.col("df"))).alias("idf")
    )


def tfidf_vectors(
    df: DataFrame, id_col: str, text_col: str, vocab: DataFrame,
    n_max: int = 5, compat: bool = True, lowercase: bool = False,
    stopwords: list[str] | None = None, min_weight: float | None = None,
) -> DataFrame:
    """Sparse L2-normalized tf·idf rows (id, gram, weight) (A5).

    lowercase defaults False for parity: the reference vectorizes the RAW
    entity/mention text while the vocab corpus was lowercased
    (`/root/reference/candidate_selection.py:168,187` vs :106-110).

    ``min_weight`` prunes near-zero entries AFTER normalization — the scale
    knob for the sparse-join cosine. Ubiquitous grams (spaces, single chars)
    have idf ≈ 0 so weight ≈ 0: they change the cosine by O(w²) but multiply
    the gram join by |docs|² — at 100 TB that single hot gram IS the job.
    None (default) keeps exact reference parity.
    """
    grams = ngram_counts(df, id_col, text_col, n_max, compat, lowercase, stopwords)
    # the vocab is a ≤vocab_size-row dictionary — broadcast it explicitly:
    # without the hint a lazily-derived vocab has no size stats and Catalyst
    # sort-merges, shuffling the ENTIRE (id, gram, tf) table (10-100× the
    # corpus bytes) against a 100k-row table
    weighted = grams.join(F.broadcast(vocab.select("gram", "idf")), "gram").select(
        "_id", "gram", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = weighted.groupBy("_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_norm"))
    out = weighted.join(norms, "_id").select(
        F.col("_id").alias(id_col),
        "gram",
        (F.col("w") / F.col("_norm")).alias("weight"),
    )
    if min_weight is not None:
        out = out.filter(F.col("weight") >= min_weight)
    return out


def sparse_pair_scores(
    query_vecs: DataFrame, query_id: str,
    cand_vecs: DataFrame, cand_id: str,
) -> DataFrame:
    """All gram-sharing pair cosines: join on gram + hash-agg dot products.

    Both inputs are L2-normalized sparse rows, so sum(w_q · w_c) IS the
    cosine. One shuffle on the gram key with map-side partial aggregation;
    very frequent grams are naturally damped because low-idf grams carry
    near-zero weight. Pairs sharing no vocabulary gram have cosine 0 and are
    simply absent.
    """
    q = query_vecs.select(F.col(query_id).alias("_qid"), "gram", F.col("weight").alias("_qw"))
    c = cand_vecs.select(F.col(cand_id).alias("_cid"), "gram", F.col("weight").alias("_cw"))
    return (
        q.join(c, "gram")
        .groupBy("_qid", "_cid")
        .agg(F.sum(F.col("_qw") * F.col("_cw")).alias("tfidf_cos"))
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(cand_id),
            "tfidf_cos",
        )
    )


def cosine_topk(
    query_vecs: DataFrame, query_id: str,
    cand_vecs: DataFrame, cand_id: str,
    k: int = 10,
) -> DataFrame:
    """Sparse cosine top-k per query: the pair scores + a window rank ≤ k
    (T1: `/root/reference/candidate_selection.py:197-211`)."""
    scores = sparse_pair_scores(query_vecs, query_id, cand_vecs, cand_id)
    w = Window.partitionBy(query_id).orderBy(F.desc("tfidf_cos"), F.asc(cand_id))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "tfidf_cos", "rank")
    )


def tfidf_candidates(
    mentions: DataFrame, entities: DataFrame, k: int = 10,
    n_max: int = 5, vocab_size: int = 100_000, compat: bool = True,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """End-to-end C1: mentions(mention_id, text) × entities(entity_id, name)
    → (mention_id, entity_id, tfidf_cos, rank≤k).

    Corpus for the vocabulary = entity names ∪ mention surfaces, both
    lowercased (`/root/reference/candidate_selection.py:102-111`).
    """
    sw = STOPWORDS if stopwords is None else stopwords
    corpus = entities.select(F.col("entity_id").alias("cid"), F.col("name").alias("ctext")).unionByName(
        mentions.select(F.col("mention_id").alias("cid"), F.col("text").alias("ctext"))
    )
    vocab = build_tfidf_vocab(corpus, "cid", "ctext", n_max, vocab_size, compat, sw)
    ev = tfidf_vectors(entities, "entity_id", "name", vocab, n_max, compat, False, sw)
    mv = tfidf_vectors(mentions, "mention_id", "text", vocab, n_max, compat, False, sw)
    return cosine_topk(mv, "mention_id", ev, "entity_id", k)


# ---------------------------------------------------------------------------
# MinHash LSH band blocking (north star: "minhash/LSH ... blocking keys")
# ---------------------------------------------------------------------------


def _shingle_window_expr(text_col: str, width: int) -> str:
    """SQL expr: every width-char substring of the lowercased text (standard
    full sliding window, not the compat quirk; a shorter text is its own
    single shingle)."""
    return (
        f"CASE WHEN length(lower({text_col})) >= {width} THEN "
        f"transform(sequence(1, length(lower({text_col})) - {width} + 1), "
        f"i -> substr(lower({text_col}), i, {width})) ELSE array(lower({text_col})) END"
    )


def shingle_array_expr(text_col: str, width: int = 3) -> str:
    """SQL expr: the document's DISTINCT hashed shingle set as
    ARRAY<BIGINT> — computed entirely narrowly (slide → xxhash64 →
    array_distinct inside one projection, no explode, no shuffle)."""
    return f"array_distinct(transform({_shingle_window_expr(text_col, width)}, s -> xxhash64(s)))"


def shingles(
    df: DataFrame, id_col: str, text_col: str, width: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """(id, shingle) distinct shingles of the normalized text.

    ``hashed=True`` (default) emits the shingle as ``xxhash64(substring)``
    BIGINT *before* the distinct/groupBy shuffles: every downstream exchange
    (signature build, Jaccard-verify self-join) then moves 8-byte longs
    instead of w-char strings — the dominant shuffle of the MinHash near-dup
    pipeline shrinks several-fold. Set semantics are unchanged up to 64-bit
    collisions (negligible per document: ~10⁻¹⁹ at 10⁵ shingles/doc).
    ``hashed=False`` keeps the raw substring for debugging/inspection.
    """
    raw = _shingle_window_expr(text_col, width)
    expr = f"transform({raw}, s -> xxhash64(s))" if hashed else raw
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.expr(expr)).alias("shingle"),
        )
        .distinct()
    )


def minhash_from_shingle_arrays(
    hs: DataFrame, id_col: str, num_hashes: int, out_col: str | None = None,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>) from ``hs(id_col, _hs)``, the per-id
    shingle-hash sets of ``shingle_array_expr`` — the one MinHash signature
    builder, shared by blocking and dedup. The id comes out as ``out_col``
    (default ``id_col``).

    h_i(x) = xxhash64(shingle_hash, i); sig[i] = min over the set. Computed
    by exploding the set and taking the ``num_hashes`` minima in ONE
    codegen'd hash aggregate (``min(xxhash64(_h, i))``). min() over a set
    is order-independent, so the output is bit-identical to the round-5
    narrow form (``array_min(transform(_hs, h -> xxhash64(h, i)))`` ×
    num_hashes in a single projection) — but that form evaluated every hash
    in Catalyst's INTERPRETED higher-order-function path (lambda dispatch +
    a fresh array allocation per hash index per row): measured 1.6× slower
    like-for-like at equal parallelism, on both the bench-document and
    pipeline-surface shapes (OPTIMIZATION_r06.md, q30). In the round-5 q30
    plan the interpreted projection additionally ran TWICE (self-join
    subtree duplication) inside a single-partition cached relation — the
    structural half of that query's 8.33 s. The aggregate is whole-stage
    codegen with map-side partial aggregation: each task reduces to one row
    per id BEFORE the exchange, so the shuffle moves signature-sized rows
    (id + num_hashes longs) — the very rows the LSH banding step shuffles
    anyway — never the exploded (id, shingle) rows. Callers whose input is
    already hash-partitioned by ``id_col`` (e.g. after
    ``partitioning.fan_out``) skip even that exchange.
    """
    ex = hs.select(id_col, F.explode("_hs").alias("_h"))
    mins = ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        F.col(id_col) if out_col is None else F.col(id_col).alias(out_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 32, shingle_width: int = 3,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>) — MinHash signature of ``text_col``'s
    shingle set, built-ins only (see ``minhash_from_shingle_arrays``)."""
    hs = df.select(
        F.col(id_col), F.expr(shingle_array_expr(text_col, shingle_width)).alias("_hs")
    )
    return minhash_from_shingle_arrays(hs, id_col, num_hashes)


def lsh_band_keys(
    signatures: DataFrame, id_col: str,
    bands: int = 8, rows_per_band: int = 4,
) -> DataFrame:
    """(id, block_key) — one key per band: hash of the band's signature slice.

    Two items share a block iff some band of their signatures agrees —
    the classic banding scheme; band keys feed the same-block pair join.
    """
    cols = []
    for b in range(bands):
        lo = b * rows_per_band + 1  # slice() is 1-based
        band = F.slice(F.col("sig"), lo, rows_per_band)
        cols.append(
            F.concat_ws(
                ":", F.lit(str(b)), F.xxhash64(F.concat_ws(",", band.cast("array<string>"))).cast("string")
            ).alias(f"bk{b}")
        )
    wide = signatures.select(F.col(id_col), *cols)
    stacked = wide.select(
        id_col,
        F.explode(F.array(*[F.col(f"bk{b}") for b in range(bands)])).alias("block_key"),
    )
    return stacked


def same_block_pairs(
    keyed: DataFrame, id_col: str, key_col: str = "block_key",
    max_block_size: int = 200, observation=None,
) -> DataFrame:
    """Self-join within blocks → unordered candidate pairs (id_a < id_b).

    Blocks larger than ``max_block_size`` are capped with a deterministic
    row_number cutoff; the drop is OBSERVABLE, not silent: pass a
    ``pyspark.sql.Observation`` and after the first action on the result
    ``observation.get["truncated_rows"]`` reports how many (key, id) rows the
    cap removed (collected piggyback on the job — no extra Spark job). With
    observation=None the metric is still registered under the named observe
    ``same_block_pairs_cap`` for listeners/UI (SURVEY.md §7.2 step 7).

    r6 shape: ONE hash aggregate per block (collect_set → sorted id array)
    with the pair enumeration done by an array expression over the capped
    array. The round-5 shape (distinct → row_number window → self-join)
    cost two exchanges, a per-block sort, and — because Catalyst plans
    each self-join side independently — a full duplicate of the entire
    upstream subtree per side (visible as two copies of the signature
    build in q30's round-5 plan). Semantics unchanged: collect_set ≡ the
    old .distinct(), the sorted-array slice keeps the first
    ``max_block_size`` ids in id order ≡ the old row_number cutoff, pairs
    are (id_a < id_b) within a block, and the observed metrics report the
    same numbers (input_rows = Σ pre-cap block sizes, truncated_rows =
    Σ max(size − cap, 0)).
    """
    grouped = keyed.groupBy(key_col).agg(
        F.array_sort(F.collect_set(F.col(id_col))).alias("_ids")
    )
    metrics = [
        F.sum(F.greatest(F.size("_ids") - max_block_size, F.lit(0)))
        .cast("long").alias("truncated_rows"),
        F.sum(F.size("_ids")).cast("long").alias("input_rows"),
    ]
    if observation is not None:
        grouped = grouped.observe(observation, *metrics)
    else:
        grouped = grouped.observe(unique_metric_name("same_block_pairs_cap"), *metrics)
    capped = grouped.select(key_col, F.slice("_ids", 1, max_block_size).alias("_ids"))
    pairs = (
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        capped.select(key_col, F.explode(F.expr(pairs)).alias("_p"))
        .select("_p.id_a", "_p.id_b", key_col)
        .dropDuplicates(["id_a", "id_b"])
    )
