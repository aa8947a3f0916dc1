"""Mention detection as pure DataFrame transforms (SURVEY.md §2.9).

The reference detects mentions with a BIO tagging head / CRF / exhaustive
span enumeration (`/root/reference/modeling_E2E_exhaustive.py:61-133`,
`/root/reference/modeling_crf_ner.py:82-124`). Per the north star, this
engine's detector is a **dictionary/gazetteer matcher expressed as DataFrame
transforms**: tokenize with character offsets (window cumulative sums), build
token n-gram span candidates with ``lead()`` windows, equi-join against the
broadcast alias gazetteer (C6: exact surface-form lookup,
`/root/reference/mention_candidates_AIDA.py:14-31`), then drop spans strictly
contained in a longer match. Zero Python in the loop — every step is
codegen'd Columns; the skew-heavy step (the gazetteer join) broadcasts the
small side.

Span invariant preserved: ``substr(text, start_index+1, end_index-start_index)
== text`` of the mention (`/root/reference/utils_E2E_exhaustive.py:92-94`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: utf8 arrays carry int32 offsets — one chunk's value buffer must stay
#: under 2 GiB or the offset cumsum wraps negative (and
#: ``pa.Array.from_buffers`` does not validate, silently corrupting span
#: texts). Exhaustive 1..4-gram enumeration inflates text ~10×, so large
#: mapInPandas batches of big docs can genuinely cross this.
_UTF8_CHUNK_LIMIT = 2**31 - 1


def _utf8_from_lens(lens, values: bytes):
    """Zero-copy utf8 array from per-element byte lengths + a flat value
    buffer, split at element boundaries into <2 GiB chunks.

    Returns a ``pa.Array`` when one chunk suffices (the common case — the
    hot path is unchanged) else a ``pa.ChunkedArray``; every consumer in
    this module (``pc.utf8_lower`` / ``pc.index_in`` / ``.filter`` /
    ``pd.Series(ArrowDtype)``) accepts both.
    """
    import numpy as np
    import pyarrow as pa

    cum = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=cum[1:])
    if cum[-1] <= _UTF8_CHUNK_LIMIT:  # common case: one int32-safe chunk
        return pa.Array.from_buffers(
            pa.utf8(), len(lens),
            [None, pa.py_buffer(cum.astype(np.int32).tobytes()),
             pa.py_buffer(values)],
        )
    chunks = []
    start = 0
    while start < len(lens):
        base = int(cum[start])
        end = int(np.searchsorted(cum, base + _UTF8_CHUNK_LIMIT, side="right")) - 1
        if end <= start:
            # a single >2GiB element cannot come from a Spark string row
            # (UTF8String is itself int32-bounded) — fail loudly, not wrap
            raise ValueError("single string element exceeds 2 GiB")
        offs = (cum[start : end + 1] - base).astype(np.int32)
        chunks.append(
            pa.Array.from_buffers(
                pa.utf8(), end - start,
                [None, pa.py_buffer(offs.tobytes()),
                 pa.py_buffer(values[base : int(cum[end])])],
            )
        )
        start = end
    return pa.chunked_array(chunks)


def tokenize_with_offsets(documents: DataFrame) -> DataFrame:
    """documents(document_id, text) →
    (document_id, pos, line, lpos, token, start, end).

    Tokens carry their LINE number: newlines are hard boundaries, so span
    windows never join tokens across a '\\n' (a cross-line span's text would
    no longer equal ``substr(text, start+1, end-start)`` — the module's span
    invariant). Character offsets into the ORIGINAL text are exact: line
    starts and within-line token starts are running sums over windows
    partitioned by (document_id) and (document_id, line) — no Python, no UDF
    (S6-style window trick, SURVEY.md §2.1). ``pos`` stays the global token
    index within the document.
    """
    lines = documents.select(
        "document_id", F.posexplode(F.split("text", "\n")).alias("line", "_line_text")
    )
    lw = (
        Window.partitionBy("document_id")
        .orderBy("line")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # both line-level running sums share ONE window pass: char offset of the
    # line, and how many tokens precede it (split on ' ' yields
    # n_spaces + 1 tokens per line) — the global token index then needs no
    # per-token row_number sort, just lpos + the line's token offset
    lines = lines.withColumn(
        "_line_start",
        F.coalesce(F.sum(F.length("_line_text") + F.lit(1)).over(lw), F.lit(0)),
    ).withColumn(
        "_tok_start",
        F.coalesce(F.sum(F.size(F.split("_line_text", " "))).over(lw), F.lit(0)),
    )
    toks = lines.select(
        "document_id", "line", "_line_start", "_tok_start",
        F.posexplode(F.split("_line_text", " ")).alias("lpos", "token"),
    )
    tw = (
        Window.partitionBy("document_id", "line")
        .orderBy("lpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = toks.withColumn(
        "start",
        (
            F.col("_line_start")
            + F.coalesce(F.sum(F.length("token") + F.lit(1)).over(tw), F.lit(0))
        ).cast("int"),
    ).withColumn("end", (F.col("start") + F.length("token")).cast("int"))
    return toks.select(
        "document_id",
        (F.col("_tok_start") + F.col("lpos")).cast("int").alias("pos"),
        "line",
        "lpos",
        "token",
        "start",
        "end",
    )


def candidate_spans(tokens: DataFrame, max_tokens: int = 4) -> DataFrame:
    """Token n-gram span candidates per document via lead() windows.

    Emits (document_id, start_index, end_index, text) for every window of
    1..max_tokens consecutive tokens — the DataFrame analogue of the
    reference's exhaustive span enumeration bounded by max_mention_length
    (N4: `/root/reference/modeling_E2E_exhaustive.py:87-104`). Windows are
    partitioned by (document_id, line): spans never cross a newline, keeping
    the span-text == substring invariant exact.
    """
    return _spans_window(tokens, max_tokens, anchors=None)


def alias_anchor_dim(gazetteer: DataFrame, max_tokens: int = 4) -> DataFrame:
    """(_anchor_first, _anchor_widths) — the necessary-condition dim for
    anchor-pruned gazetteer detection.

    For an exact (case-insensitive) surface match, the span's FIRST token
    must equal the alias's first token and the span's token COUNT must be
    one the alias set actually contains for that first token — both are
    consequences of full-string equality, so pruning on them is
    semantics-preserving for ANY gazetteer/corpus pair. Aliases longer than
    ``max_tokens`` can never match an enumerator bounded by ``max_tokens``
    and are dropped from the dim. Output is KB-sized (≤ one row per
    distinct alias first token) — always broadcastable.
    """
    return (
        gazetteer.select(F.split(F.lower("alias"), " ").alias("_aw"))
        .select(
            F.element_at("_aw", 1).alias("_anchor_first"),
            F.size("_aw").alias("_n"),
        )
        .filter((F.col("_n") >= 1) & (F.col("_n") <= max_tokens))
        .groupBy("_anchor_first")
        .agg(F.collect_set("_n").alias("_anchor_widths"))
    )


def _spans_window(
    tokens: DataFrame, max_tokens: int, anchors: DataFrame | None
) -> DataFrame:
    """lead()-window span enumeration, optionally anchor-pruned.

    With ``anchors`` (from :func:`alias_anchor_dim`), the 1..max_tokens
    explode, the span-text ``concat_ws`` and everything downstream run ONLY
    for tokens that start some alias, and only at widths that alias set
    contains — the lead() pass itself still sees every token (successor
    tokens of an anchor are arbitrary), but the 4× row expansion and the
    per-span string build collapse to the anchor rate (measured ~5-15% on
    web-like text). The anchor join is a broadcast hash join sitting
    between the window exec and the explode: zero extra shuffle.
    """
    w = Window.partitionBy("document_id", "line").orderBy("lpos")
    cols = tokens
    for j in range(1, max_tokens):
        cols = cols.withColumn(f"_tok{j}", F.lead("token", j).over(w)).withColumn(
            f"_end{j}", F.lead("end", j).over(w)
        )
    if anchors is not None:
        cols = cols.join(
            F.broadcast(anchors),
            F.lower(F.col("token")) == F.col("_anchor_first"),
            "inner",
        )
    # ONE window pass + one explode of an array<struct> — not a 4-way union
    # that would re-evaluate the window per branch
    variants = []
    for n in range(1, max_tokens + 1):
        if n == 1:
            struct1 = F.struct(
                F.col("start").alias("start_index"),
                F.col("end").alias("end_index"),
                F.col("token").alias("text"),
            )
            if anchors is not None:
                struct1 = F.when(
                    F.array_contains(F.col("_anchor_widths"), 1), struct1
                )
            variants.append(struct1)
        else:
            parts = [F.col("token")] + [F.col(f"_tok{j}") for j in range(1, n)]
            cond = F.col(f"_tok{n-1}").isNotNull()
            if anchors is not None:
                cond = cond & F.array_contains(F.col("_anchor_widths"), n)
            variants.append(
                F.when(
                    cond,
                    F.struct(
                        F.col("start").alias("start_index"),
                        F.col(f"_end{n-1}").alias("end_index"),
                        F.concat_ws(" ", *parts).alias("text"),
                    ),
                )
            )
    return (
        cols.select("document_id", F.explode(F.array(*variants)).alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(
            "document_id",
            F.col("_s.start_index").alias("start_index"),
            F.col("_s.end_index").alias("end_index"),
            F.col("_s.text").alias("text"),
        )
    )


#: output columns of the two Arrow kernels; the fused matcher adds the
#: gazetteer candidate
_SPAN_COLS = ["document_id", "start_index", "end_index", "text"]
_MATCH_COLS = _SPAN_COLS + ["gazetteer_entity_id"]


def _empty_frame(columns: list) -> "pd.DataFrame":
    """Zero-row pandas frame in the Arrow kernels' output dtypes."""
    import pandas as pd

    return pd.DataFrame(
        {c: pd.Series([], dtype="int32" if c.endswith("_index") else "object")
         for c in columns}
    )


def _python_tokens(t: str):
    """(tok_s, tok_e, line): CHAR offsets and line ids of one document's
    ' '/'\\n'-separated tokens — the non-ASCII fallback's tokenizer (byte
    offsets != char offsets there, so the flat byte buffer cannot serve)."""
    import re

    import numpy as np

    sp, nl = [], []
    for m in re.finditer("[ \n]", t):
        sp.append(m.start())
        nl.append(t[m.start()] == "\n")
    spv = np.asarray(sp, dtype=np.int64)
    tok_s = np.concatenate(([0], spv + 1))
    tok_e = np.concatenate((spv, [len(t)]))
    line = np.concatenate(([0], np.cumsum(np.asarray(nl, dtype=bool))))
    return tok_s, tok_e, line


def _ascii_tokens(doc_bytes: list):
    """Batch-global tokenizer over ONE flat buffer: the ASCII docs joined by
    '\\n' (spans never cross newlines, so doc boundaries are free). Returns
    (arr, doc_off, tok_s, tok_e, line): the uint8 buffer, each doc's start
    offset in it, and per-token byte offsets + line ids."""
    import numpy as np

    arr = np.frombuffer(b"\n".join(doc_bytes), dtype=np.uint8)
    doc_lens = np.asarray([len(b) for b in doc_bytes], dtype=np.int64)
    # doc k occupies [doc_off[k], doc_off[k] + len_k)
    doc_off = np.concatenate(([0], np.cumsum(doc_lens[:-1] + 1)))
    sp = np.flatnonzero((arr == 32) | (arr == 10))
    tok_s = np.concatenate(([0], sp + 1))
    tok_e = np.concatenate((sp, [len(arr)]))
    nl = arr[sp] == 10 if len(sp) else np.zeros(0, dtype=bool)
    line = np.concatenate(([0], np.cumsum(nl)))
    return arr, doc_off, tok_s, tok_e, line


def _gather(arr, starts, lens):
    """Grouped byte gather of ``arr[s : s + L]`` for every (s, L): one
    ``sliding_window_view`` fancy-index per DISTINCT length, no per-value
    Python object. Returns (order, chunks): the stable by-length
    permutation the values come out in, and their byte chunks."""
    import numpy as np

    order = np.argsort(lens, kind="stable")
    s_o, L_o = starts[order], lens[order]
    widths, starts_ix = np.unique(L_o, return_index=True)
    bounds = np.append(starts_ix, len(L_o))
    chunks = []
    for w, lo, hi in zip(widths, bounds[:-1], bounds[1:]):
        if w == 0:
            continue  # empty-token values contribute 0 bytes
        windows = np.lib.stride_tricks.sliding_window_view(arr, int(w))
        chunks.append(windows[s_o[lo:hi]].tobytes())
    return order, chunks


def _ascii_spans(arr, doc_off, tok_s, tok_e, line, max_tokens: int, bits=None):
    """All 1..max_tokens-token spans of the flat buffer that stay on one
    line; with ``bits`` (per-token anchor bitmask, bit n = width n allowed)
    only the anchored ones. Returns (doc index, doc-relative start, end,
    span texts as a utf8 array), or None when no span survives."""
    import numpy as np

    ntok = len(tok_s)
    id_chunks, s_chunks, e_chunks, len_chunks, val_chunks = [], [], [], [], []
    for n in range(1, min(max_tokens, ntok) + 1):
        m_ = ntok - n + 1
        ok = line[:m_] == line[n - 1 :]
        if bits is not None:
            ok &= ((bits[:m_] >> n) & 1) == 1
        s = tok_s[:m_][ok]
        e = tok_e[n - 1 :][ok]
        if not len(s):
            continue
        # doc index + doc-relative offsets (same doc for s and e: spans
        # never cross '\n', and doc boundaries ARE '\n')
        di = np.searchsorted(doc_off, s, side="right") - 1
        base, L = doc_off[di], e - s
        order, chunks = _gather(arr, s, L)
        id_chunks.append(di[order].astype(np.int32))
        s_chunks.append((s - base)[order].astype(np.int32))
        e_chunks.append((e - base)[order].astype(np.int32))
        len_chunks.append(L[order].astype(np.int64))
        val_chunks.extend(chunks)
    if not id_chunks:
        return None
    text_pa = _utf8_from_lens(np.concatenate(len_chunks), b"".join(val_chunks))
    return (np.concatenate(id_chunks), np.concatenate(s_chunks),
            np.concatenate(e_chunks), text_pa)


def _ascii_frame(doc_ids: list, di, s, e, text_pa, ent_pa=None) -> "pd.DataFrame":
    """Kernel output frame from doc indexes into ``doc_ids``, offsets and
    Arrow string columns (zero-copy: ids are a dictionary decode)."""
    import pandas as pd
    import pyarrow as pa

    ids_pa = pa.DictionaryArray.from_arrays(
        pa.array(di, type=pa.int32()), pa.array(doc_ids, type=pa.string())
    ).cast(pa.string())
    cols = {
        "document_id": pd.Series(ids_pa, dtype=pd.ArrowDtype(pa.string())),
        "start_index": pd.Series(s, dtype="int32"),
        "end_index": pd.Series(e, dtype="int32"),
        "text": pd.Series(text_pa, dtype=pd.ArrowDtype(pa.string())),
    }
    if ent_pa is not None:
        cols["gazetteer_entity_id"] = pd.Series(
            ent_pa, dtype=pd.ArrowDtype(pa.string())
        )
    return pd.DataFrame(cols)


def _map_ascii_split(documents: DataFrame, ascii_fn, python_fn, columns: list) -> DataFrame:
    """The ``mapInPandas`` scan both Arrow kernels share. Each batch splits
    into ASCII docs (byte offsets == char offsets), solved as ONE flat numpy
    problem by ``ascii_fn(ids, bytes) -> frame | None``, and the rest, which
    ``python_fn(id, text)`` turns into row tuples with char offsets —
    correctness identical, speed proportional to their share."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            fast_ids, fast_bytes, rows = [], [], []
            for did, text in zip(pdf["document_id"], pdf["text"]):
                t = text or ""
                b = t.encode("utf-8")
                if len(b) == len(t):
                    fast_ids.append(did)
                    fast_bytes.append(b)
                else:
                    rows.extend(python_fn(did, t))
            out = ascii_fn(fast_ids, fast_bytes) if fast_ids else None
            frames = [] if out is None else [out]
            if rows:
                frames.append(
                    pd.DataFrame(rows, columns=columns).astype(
                        {"start_index": "int32", "end_index": "int32"}
                    )
                )
            yield from frames or [_empty_frame(columns)]

    schema = ", ".join(
        f"{c} {'int' if c.endswith('_index') else 'string'}" for c in columns
    )
    return documents.select(
        F.col("document_id").cast("string").alias("document_id"), "text"
    ).mapInPandas(gen, schema)


def candidate_spans_arrow(documents: DataFrame, max_tokens: int = 4) -> DataFrame:
    """Token n-gram span candidates via Arrow-batched numpy — zero token
    shuffle AND C-speed enumeration.

    Same output contract as ``candidate_spans(tokenize_with_offsets(docs))``
    (equivalence-tested). The window form shuffles + sorts EVERY token row
    — the largest exchange of a span enumeration (~10-100× raw document
    bytes over the network on a real cluster); this form is ``mapInPandas``
    over document rows (zero shuffle, like
    ``segmentation.segment_documents``), measured at ~3-10% CPU tax vs the
    codegen'd window form (round 4, 60k pages × mult 8: n2 parity, n8
    best-of 10.1s vs 9.1s).

    Python-boundary discipline: the whole Arrow batch is enumerated as ONE
    flat numpy problem — all (ASCII) docs concatenate into a single byte
    buffer separated by '\\n' (spans never cross newlines, so doc
    boundaries are free), separator positions / token offsets / line ids
    come from vectorized scans, and span TEXTS are built by grouped
    ``sliding_window_view`` gathers straight into a pyarrow string buffer.
    No per-span Python object is ever created (a first cut that sliced one
    Python string per span was memory-allocator-bound: 8 workers churning
    ~10⁸ PyObjects hit the same DRAM ceiling as the shuffle it replaced).
    Non-ASCII docs (byte ≠ char offsets) fall back to a per-doc Python
    slice path.
    """

    def ascii_fn(doc_ids: list, doc_bytes: list):
        spans = _ascii_spans(*_ascii_tokens(doc_bytes), max_tokens)
        return None if spans is None else _ascii_frame(doc_ids, *spans)

    def python_fn(did, t):
        tok_s, tok_e, line = _python_tokens(t)
        ntok = len(tok_s)
        for n in range(1, min(max_tokens, ntok) + 1):
            m_ = ntok - n + 1
            ok = line[:m_] == line[n - 1 :]
            for a, b in zip(tok_s[:m_][ok].tolist(), tok_e[n - 1 :][ok].tolist()):
                yield did, a, b, t[a:b]

    return _map_ascii_split(documents, ascii_fn, python_fn, _SPAN_COLS)


def _match_mentions_arrow(
    documents: DataFrame,
    gazetteer: DataFrame,
    max_tokens: int,
    max_collected_aliases: int = 5_000_000,
) -> DataFrame:
    """Fused gazetteer matcher: anchor-pruned span enumeration AND alias
    lookup inside one zero-shuffle ``mapInPandas`` pass (the "fused arrow
    detect" follow-up recorded in BENCH/SCALING_EVIDENCE.md round 4).

    Only MATCHED spans ever leave the UDF: the token shuffle of the window
    form, the 1..max_tokens span explosion and the spans⋈gazetteer join all
    collapse into per-batch pyarrow C++ kernels — ``utf8_lower`` +
    ``index_in`` against the broadcast-closure alias arrays. Span texts are
    built (via the same grouped gathers as ``candidate_spans_arrow``) only
    at anchor positions whose first token starts some alias at an allowed
    width — measured ~10-50× fewer span constructions than exhaustive
    enumeration on web-like text.

    Laziness note: the gazetteer (KB-bounded, ≪ corpus) is collected
    driver-side at plan-construction time — the Spark broadcast-variable
    pattern, same trade as ``operators.similarity``'s lazy-dim fallback.
    The collect is guarded by ``max_collected_aliases`` (default 5,000,000
    — ~hundreds of MB of driver heap at web-KB alias lengths): past the
    limit the matcher raises instead of silently betting driver memory;
    callers should fall back to ``span_mode="window"`` (broadcast/shuffle
    join picks itself via AQE).

    Case folding: aliases are collected RAW and folded driver-side with
    Python ``str.lower()`` — the SAME function the non-ASCII doc path
    probes with, so alias map and probe can never disagree. The ASCII doc
    path probes with utf8proc (``pc.utf8_lower``), which is byte-identical
    to ``str.lower()`` on the pure-ASCII spans that path matches, so the
    one folding is consistent across both fused sub-paths (round-4 verdict
    carried three divergent foldings here). The window-join path folds
    both sides with JVM ``lower()`` — internally consistent; Python and
    Java 17 both track recent Unicode so fused == window holds on
    non-Latin scripts too (equivalence property-tested incl. Cyrillic /
    Greek final sigma / Turkish dotted-dotless I).
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    # raw-alias dedupe happens JVM-side (bounds the collect to distinct
    # aliases); folding happens DRIVER-side so it uses the match-time
    # function. limit(n+1) bounds the transferred rows even when the guard
    # trips — the error costs one truncated collect, not an OOM. toPandas
    # (Arrow batches) instead of row collect: 2.0s vs 12.7s at 1.2M
    # aliases — the collect was the dominant fused fixed cost at web-KB
    # alias counts (BENCH/SCALING_EVIDENCE.md R5-h).
    gpdf = (
        gazetteer.groupBy(F.col("alias").alias("a"))
        .agg(F.min("entity_id").alias("e"))
        .limit(max_collected_aliases + 1)
        .toPandas()
    )
    if len(gpdf) > max_collected_aliases:
        raise ValueError(
            f"fused gazetteer matcher: >{max_collected_aliases} distinct"
            " aliases — too large to collect driver-side; use"
            ' span_mode="window" (distributed gazetteer join)'
        )
    # min(entity_id) per FOLDED alias: two-level min (per raw alias on the
    # cluster, per folded key here) == global min per folded key —
    # deterministic on colliding cross-entity aliases and identical to the
    # window path's groupBy(lower(alias)).agg(min) for ASCII keys.
    # pandas str.lower IS Python str.lower per element (object dtype), so
    # the match-time folding function is unchanged; lexicographic min per
    # folded key replicates the old dict fold exactly.
    folded = (
        pd.DataFrame({"k": gpdf["a"].fillna("").str.lower(), "e": gpdf["e"]})
        .groupby("k", sort=False)["e"].min()
    )
    alias_norms = folded.index.tolist()
    alias_entities = folded.tolist()
    alias_map = dict(zip(alias_norms, alias_entities))
    # anchor dim: first token -> bitmask of alias token-counts (width w sets
    # bit w); aliases longer than max_tokens can never match
    anchor_bits: dict = {}
    for a in alias_norms:
        parts = a.split(" ")
        if 1 <= len(parts) <= max_tokens:
            anchor_bits[parts[0]] = anchor_bits.get(parts[0], 0) | (1 << len(parts))
    anchor_firsts = list(anchor_bits)
    anchor_widths = np.asarray([anchor_bits[k] for k in anchor_firsts], dtype=np.int32)

    def python_fn(did, t):
        """Non-ASCII fallback: per-doc anchored dict matching (char offsets)."""
        tok_s, tok_e, line = _python_tokens(t)
        ntok = len(tok_s)
        for i in range(ntok):
            bits = anchor_bits.get(t[tok_s[i] : tok_e[i]].lower())
            if not bits:
                continue
            for n in range(1, max_tokens + 1):
                j = i + n - 1
                if j >= ntok or line[j] != line[i]:
                    break
                if not (bits >> n) & 1:
                    continue
                text = t[tok_s[i] : tok_e[j]]
                ent = alias_map.get(text.lower())
                if ent is not None:
                    yield did, int(tok_s[i]), int(tok_e[j]), text, ent

    def ascii_fn(doc_ids: list, doc_bytes: list):
        if not anchor_firsts:  # empty gazetteer ⇒ no anchors ⇒ no matches
            return None
        arr, doc_off, tok_s, tok_e, line = _ascii_tokens(doc_bytes)
        # per-token anchor lookup, batch-global: one utf8 array over all
        # tokens (arrow offsets must be contiguous, so the separator bytes
        # are squeezed out by the same grouped gathers the span build
        # uses), lowered + hash-probed in C++
        tok_len = tok_e - tok_s
        order, chunks = _gather(arr, tok_s, tok_len)
        toks_sorted = _utf8_from_lens(tok_len[order].astype(np.int64), b"".join(chunks))
        aidx_sorted = (
            pc.fill_null(
                pc.index_in(
                    pc.utf8_lower(toks_sorted), value_set=pa.array(anchor_firsts)
                ),
                -1,
            )
            .to_numpy(zero_copy_only=False)
            .astype(np.int64, copy=False)
        )
        aidx = np.empty(len(tok_s), dtype=np.int64)
        aidx[order] = aidx_sorted
        bits = np.where(aidx >= 0, anchor_widths[np.maximum(aidx, 0)], 0).astype(
            np.int32
        )

        spans = _ascii_spans(arr, doc_off, tok_s, tok_e, line, max_tokens, bits)
        if spans is None:
            return None
        di, s, e, span_pa = spans
        midx = pc.index_in(pc.utf8_lower(span_pa), value_set=pa.array(alias_norms))
        keep = pc.is_valid(midx)
        kn = np.flatnonzero(keep.to_numpy(zero_copy_only=False))
        if not len(kn):
            return None
        kept_idx = midx.filter(keep).cast(pa.int32())
        if isinstance(kept_idx, pa.ChunkedArray):
            kept_idx = kept_idx.combine_chunks()  # matched spans: small
        ent_pa = pa.DictionaryArray.from_arrays(
            kept_idx, pa.array(alias_entities)
        ).cast(pa.string())
        return _ascii_frame(doc_ids, di[kn], s[kn], e[kn], span_pa.filter(keep), ent_pa)

    return _map_ascii_split(documents, ascii_fn, python_fn, _MATCH_COLS)


#: detection forms accepted by :func:`detect_mentions`, one per regime
DETECT_MODES = ("window", "fused")


def detect_mentions(
    documents: DataFrame,
    gazetteer: DataFrame,
    max_tokens: int = 4,
    longest_match: bool = True,
    span_mode: str = "window",
    anchor_prune: bool = True,
) -> DataFrame:
    """Gazetteer mention detection (N1-analog + C6).

    gazetteer: (entity_id, alias, ...). Matching is case-insensitive exact
    surface form. Returns
    (mention_id, document_id, start_index, end_index, text,
     gazetteer_entity_id) — gazetteer_entity_id is a *candidate* signal, not
    the final link (scoring + clustering decide downstream).

    mention_id is a content hash (document_id#start-end) — deterministic
    across reruns and parallelism levels (SURVEY.md §7.4: never
    monotonically_increasing_id).

    ``span_mode`` selects one of the two detection forms, one per regime
    (``pipeline.detect_mode`` picks between them by gazetteer size):

    - ``"fused"`` collapses enumeration + alias matching into one
      zero-shuffle scan (:func:`_match_mentions_arrow`) — the flagship form
      while the gazetteer fits a driver-side collect;
    - ``"window"`` enumerates spans with codegen'd lead() windows and
      joins the broadcast gazetteer — the streaming form and the
      large-gazetteer fallback.

    ``anchor_prune`` (default on; window mode) gates span materialization
    on the :func:`alias_anchor_dim` necessary conditions — first token
    starts some alias, span width in that alias set — before the span text
    is ever built or probed. Output-identical for any gazetteer
    (equivalence-tested); ``anchor_prune=False`` is the exhaustive
    reference those tests compare against.
    """
    if span_mode not in DETECT_MODES:
        raise ValueError(f"unknown span mode {span_mode!r}; one of {DETECT_MODES}")
    if span_mode == "fused":
        matches = _match_mentions_arrow(documents, gazetteer, max_tokens)
    else:
        anchors = alias_anchor_dim(gazetteer, max_tokens) if anchor_prune else None
        spans = _spans_window(tokenize_with_offsets(documents), max_tokens, anchors)
        # min(entity_id) per normalized alias — deterministic on colliding
        # cross-entity aliases (dropDuplicates would pick an arbitrary row)
        # and identical to the fused matcher's driver-side dedupe
        gaz = gazetteer.groupBy(
            F.lower(F.col("alias")).alias("_alias_norm")
        ).agg(F.min("entity_id").alias("gazetteer_entity_id"))
        matches = spans.join(
            F.broadcast(gaz), F.lower(spans["text"]) == gaz["_alias_norm"], "inner"
        ).drop("_alias_norm")

    if longest_match:
        # prune spans contained in a longer match of the same doc — a single
        # window pass, not a self-join (which would evaluate the whole
        # spans⋈gazetteer subtree twice): ordering by (start asc, end desc),
        # a span is contained iff some PRECEDING span ends at-or-after it
        # (preceding ⇒ starts at-or-before it; equal spans can't repeat
        # because the gazetteer is deduped per normalized alias).
        w = (
            Window.partitionBy("document_id")
            .orderBy(F.asc("start_index"), F.desc("end_index"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        matches = (
            matches.withColumn("_max_prev_end", F.max("end_index").over(w))
            .filter(
                F.col("_max_prev_end").isNull()
                | (F.col("_max_prev_end") < F.col("end_index"))
            )
            .drop("_max_prev_end")
        )

    return matches.select(
        F.concat_ws(
            "", F.col("document_id"), F.lit("#"),
            F.col("start_index").cast("string"), F.lit("-"),
            F.col("end_index").cast("string"),
        ).alias("mention_id"),
        "document_id",
        "start_index",
        "end_index",
        "text",
        "gazetteer_entity_id",
    ).dropDuplicates(["mention_id"])
