"""Gazetteer mention detection: offsets, longest-match, span invariant."""

from pyspark.sql import functions as F

from e2e_el_spark.operators.mentions import (
    candidate_spans,
    detect_mentions,
    tokenize_with_offsets,
)


def test_tokenize_offsets_exact(spark):
    docs = spark.createDataFrame(
        [("d1", "alpha beta\ngamma")], "document_id string, text string"
    )
    got = sorted(
        (r.pos, r.token, r.start, r.end) for r in tokenize_with_offsets(docs).collect()
    )
    assert got == [(0, "alpha", 0, 5), (1, "beta", 6, 10), (2, "gamma", 11, 16)]


def test_candidate_spans_cover_ngrams(spark):
    docs = spark.createDataFrame([("d1", "a b c")], "document_id string, text string")
    toks = tokenize_with_offsets(docs)
    got = {(r.start_index, r.end_index, r.text) for r in candidate_spans(toks, 2).collect()}
    assert got == {
        (0, 1, "a"), (2, 3, "b"), (4, 5, "c"),
        (0, 3, "a b"), (2, 5, "b c"),
    }


def test_spans_never_cross_line_boundaries(spark):
    """A span joining tokens across '\\n' would break the substring
    invariant (separator was not ' ') and enable spurious cross-sentence
    gazetteer matches."""
    text = "alpha beta\ngamma delta"
    docs = spark.createDataFrame([("d1", text)], "document_id string, text string")
    spans = candidate_spans(tokenize_with_offsets(docs), 3).collect()
    for r in spans:
        assert text[r.start_index : r.end_index] == r.text, r
    assert all("beta gamma" not in r.text for r in spans)
    # multi-word alias split by the newline must not match
    gaz = spark.createDataFrame(
        [("e1", "beta gamma")], "entity_id string, alias string"
    )
    assert detect_mentions(docs, gaz).count() == 0


def test_detect_mentions_span_invariant_and_longest_match(spark):
    docs = spark.createDataFrame(
        [("d1", "visit amber anchor labs today")], "document_id string, text string"
    )
    gaz = spark.createDataFrame(
        [("e1", "amber anchor labs"), ("e2", "amber anchor"), ("e3", "today")],
        "entity_id string, alias string",
    )
    got = detect_mentions(docs, gaz).collect()
    by_ent = {r.gazetteer_entity_id: r for r in got}
    # longest match wins: e2's nested "amber anchor" pruned
    assert set(by_ent) == {"e1", "e3"}
    # span invariant (reference assertion utils_E2E_exhaustive.py:92-94)
    text = "visit amber anchor labs today"
    for r in got:
        assert text[r.start_index : r.end_index] == r.text


def test_detect_mentions_case_insensitive(spark):
    docs = spark.createDataFrame(
        [("d1", "Amber Anchor Labs rocks")], "document_id string, text string"
    )
    gaz = spark.createDataFrame([("e1", "amber anchor labs")], "entity_id string, alias string")
    got = detect_mentions(docs, gaz).collect()
    assert len(got) == 1 and got[0].text == "Amber Anchor Labs"


def test_mention_ids_content_derived(spark):
    docs = spark.createDataFrame([("d1", "alpha beta")], "document_id string, text string")
    gaz = spark.createDataFrame([("e1", "alpha")], "entity_id string, alias string")
    a = detect_mentions(docs, gaz).collect()[0].mention_id
    b = detect_mentions(docs, gaz).collect()[0].mention_id
    assert a == b == "d1#0-5"


def _span_fixture(spark):
    return spark.createDataFrame(
        [
            ("d1", "alpha beta gamma delta epsilon"),
            ("d2", "one\ntwo three\nfour five six seven eight"),
            ("d3", "double  space  here"),
            ("d4", "single"),
            ("d5", ""),
            ("d6", "\nleading newline\n\ntrailing\n"),
            ("d7", "ünïcode chars naïve café piñata"),
        ],
        "document_id string, text string",
    )


def test_candidate_spans_alt_forms_equal_window_form(spark):
    """The zero-shuffle Arrow/numpy enumeration must emit EXACTLY the span
    set of the window form (same offsets, same texts), including
    multi-space / multi-line / unicode quirks."""
    from e2e_el_spark.operators.mentions import candidate_spans_arrow

    docs = _span_fixture(spark)
    for mt in (1, 2, 4):
        want = sorted(
            (r.document_id, r.start_index, r.end_index, r.text)
            for r in candidate_spans(tokenize_with_offsets(docs), mt).collect()
        )
        got = sorted(
            (r.document_id, r.start_index, r.end_index, r.text)
            for r in candidate_spans_arrow(docs, mt).collect()
        )
        assert got == want, (mt, got[:5], want[:5])


def test_candidate_spans_alt_forms_substring_invariant(spark):
    # span invariant: span text == substr(doc text, start+1, end-start)
    from e2e_el_spark.operators.mentions import candidate_spans_arrow

    docs = _span_fixture(spark)
    spans = candidate_spans_arrow(docs, 4).withColumnRenamed("text", "span_text")
    joined = spans.join(docs, "document_id")
    n_bad = joined.filter(
        F.expr("substr(text, start_index + 1, end_index - start_index)")
        != F.col("span_text")
    ).count()
    assert n_bad == 0


def test_detect_mentions_same_result_across_span_modes(spark):
    docs = spark.createDataFrame(
        [("d1", "visit amber anchor labs today\nsee amber anchor now")],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [("e1", "amber anchor labs"), ("e2", "amber anchor"), ("e3", "today")],
        "entity_id string, alias string",
    )
    want = sorted(map(tuple, detect_mentions(docs, gaz, span_mode="window").collect()))
    got = sorted(map(tuple, detect_mentions(docs, gaz, span_mode="fused").collect()))
    assert got == want


def test_detect_mentions_rejects_removed_modes(spark):
    """Only the two detection forms remain; any other mode fails fast,
    naming both."""
    import pytest

    docs = spark.createDataFrame([("d1", "a b")], "document_id string, text string")
    gaz = spark.createDataFrame([("e1", "a")], "entity_id string, alias string")
    with pytest.raises(ValueError) as err:
        detect_mentions(docs, gaz, span_mode="narrow")
    assert "'window'" in str(err.value) and "'fused'" in str(err.value)


def test_detect_mode_falls_back_past_fused_max_aliases():
    """The pipeline's detection-form rule at its boundary: a gazetteer of
    exactly fused_max_aliases aliases still uses the fused matcher, one
    more alias switches to the window join."""
    from e2e_el_spark.pipeline import PipelineConfig, detect_mode

    cfg = PipelineConfig(fused_max_aliases=1000)
    assert detect_mode(1000, cfg) == "fused"
    assert detect_mode(1001, cfg) == "window"
    assert detect_mode(0, cfg) == "fused"


def test_detect_mentions_anchor_prune_equivalence(spark):
    """anchor_prune and the fused matcher are output-identical to the
    unpruned join path — first-token + token-count equality are necessary
    conditions of full-surface equality, so pruning on them drops nothing.
    The gazetteer stresses the prune's edges: a single-token alias, an
    alias longer than max_tokens (never matchable), consecutive spaces
    (empty first token from split), case variants, and a numeric tail."""
    docs = spark.createDataFrame(
        [
            ("d1", "the amber anchor labs 3 report\nAMBER Anchor alone"),
            ("d2", "zz top 9 and a  b and amber"),
            ("d3", ""),
        ],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [
            ("E1", "amber"),
            ("E2", "one two three four five"),
            ("E3", "a  b"),
            ("E4", "AMBER Anchor"),
            ("E5", "zz top 9"),
            ("E6", "amber anchor labs 3"),
        ],
        "entity_id string, alias string",
    )
    want = sorted(
        map(tuple, detect_mentions(docs, gaz, anchor_prune=False).collect())
    )
    assert want  # fixture sanity: the prune must have matches to preserve
    got_pruned = sorted(
        map(tuple, detect_mentions(docs, gaz, anchor_prune=True).collect())
    )
    got_fused = sorted(
        map(tuple, detect_mentions(docs, gaz, span_mode="fused").collect())
    )
    assert got_pruned == want
    assert got_fused == want


def test_detect_mentions_fused_non_ascii_fallback(spark):
    """Non-ASCII documents route through the fused matcher's per-doc Python
    path; results must match the join path exactly (offsets are CHAR
    offsets, not byte offsets)."""
    docs = spark.createDataFrame(
        [
            ("d1", "héllo wörld amber anchor\nzz top 9 amber"),
            ("d2", "amber anchor labs 3 ünd more"),
        ],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [
            ("E1", "amber anchor"),
            ("E2", "zz top 9"),
            ("E3", "wörld"),
            ("E4", "amber anchor labs 3"),
        ],
        "entity_id string, alias string",
    )
    want = sorted(
        map(tuple, detect_mentions(docs, gaz, anchor_prune=False).collect())
    )
    got = sorted(map(tuple, detect_mentions(docs, gaz, span_mode="fused").collect()))
    assert got == want
    # the span invariant holds through the fallback: char-offset substr
    m = detect_mentions(docs, gaz, span_mode="fused").withColumnRenamed(
        "text", "mtext"
    )
    bad = (
        m.join(docs, "document_id")
        .filter(
            F.expr("substr(text, start_index + 1, end_index - start_index)")
            != F.col("mtext")
        )
        .count()
    )
    assert bad == 0


def test_detect_mentions_fused_empty_gazetteer(spark):
    docs = spark.createDataFrame(
        [("d1", "some text here")], "document_id string, text string"
    )
    gaz = spark.createDataFrame([], "entity_id string, alias string")
    assert detect_mentions(docs, gaz, span_mode="fused").count() == 0


def test_detect_mentions_mode_equivalence_property(spark):
    """Property: the anchor-pruned window form and the fused matcher agree
    with the unpruned window reference on random corpora and gazetteers —
    words drawn from a small alphabet so aliases collide with
    document n-grams often, plus unicode words to force the fused matcher's
    fallback, empty tokens (double spaces), newlines, and width-1..5
    aliases (5 > max_tokens exercises the never-matchable prune)."""
    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, settings

    words = st.sampled_from(["ab", "cd", "ef", "AB", "", "über", "x"])
    doc_text = st.lists(
        st.lists(words, min_size=0, max_size=6).map(" ".join),
        min_size=1, max_size=3,
    ).map("\n".join)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(doc_text, min_size=1, max_size=3),
        aliases=st.lists(
            st.lists(words, min_size=1, max_size=5).map(" ".join),
            min_size=1, max_size=6,
        ),
    )
    def run(texts, aliases):
        docs = spark.createDataFrame(
            [(f"d{i}", t) for i, t in enumerate(texts)],
            "document_id string, text string",
        )
        gaz = spark.createDataFrame(
            [(f"E{i}", a) for i, a in enumerate(aliases) if a.strip()],
            "entity_id string, alias string",
        )
        if gaz.isEmpty():
            return
        want = sorted(
            map(tuple, detect_mentions(docs, gaz, anchor_prune=False).collect())
        )
        for kw in ({"anchor_prune": True}, {"span_mode": "fused"}):
            got = sorted(map(tuple, detect_mentions(docs, gaz, **kw).collect()))
            assert got == want, (kw, texts, aliases)

    run()


def test_detect_mentions_mode_equivalence_non_latin(spark):
    """Round-4 verdict #3: the fused matcher used THREE case foldings (JVM
    lower for the alias map, utf8proc for ASCII docs, Python str.lower for
    non-ASCII docs) — divergent on locale-exotic codepoints. Now aliases
    are collected raw and folded with the match-time function, so fused ==
    window must hold on non-Latin scripts where foldings historically
    diverge: Cyrillic case pairs, Greek final sigma (context-sensitive
    lowering), Turkish dotted/dotless I (U+0130 lowers to i + combining
    dot), Kelvin sign K (U+212A lowers to ASCII k)."""
    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, settings

    words = st.sampled_from(
        ["МОСКВА", "москва", "ΟΔΥΣΣΕΥΣ", "οδυσσευς", "İzmir", "izmir",
         "ISPARTA", "ısparta", "K", "k", "ab", "AB", ""]
    )
    doc_text = st.lists(
        st.lists(words, min_size=0, max_size=5).map(" ".join),
        min_size=1, max_size=2,
    ).map("\n".join)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(doc_text, min_size=1, max_size=3),
        aliases=st.lists(
            st.lists(words, min_size=1, max_size=3).map(" ".join),
            min_size=1, max_size=6,
        ),
    )
    def run(texts, aliases):
        docs = spark.createDataFrame(
            [(f"d{i}", t) for i, t in enumerate(texts)],
            "document_id string, text string",
        )
        gaz = spark.createDataFrame(
            [(f"E{i}", a) for i, a in enumerate(aliases) if a.strip()],
            "entity_id string, alias string",
        )
        if gaz.isEmpty():
            return
        want = sorted(
            map(tuple, detect_mentions(docs, gaz, span_mode="window").collect())
        )
        got = sorted(
            map(tuple, detect_mentions(docs, gaz, span_mode="fused").collect())
        )
        assert got == want, (texts, aliases)

    run()


def test_detect_mentions_fused_cross_case_non_ascii(spark):
    """Uppercase Cyrillic alias vs lowercase Cyrillic document text (and
    vice versa) must match through the fused matcher's Python fallback —
    the exact path-pair whose foldings diverged in round 4."""
    docs = spark.createDataFrame(
        [("d0", "в москва сегодня"), ("d1", "В МОСКВА СЕГОДНЯ")],
        "document_id string, text string",
    )
    gaz = spark.createDataFrame(
        [("E1", "МОСКВА"), ("E2", "сегодня")], "entity_id string, alias string"
    )
    for mode in ("fused", "window"):
        got = {
            (r.document_id, r.text, r.gazetteer_entity_id)
            for r in detect_mentions(docs, gaz, span_mode=mode).collect()
        }
        assert got == {
            ("d0", "москва", "E1"), ("d0", "сегодня", "E2"),
            ("d1", "МОСКВА", "E1"), ("d1", "СЕГОДНЯ", "E2"),
        }, mode


def test_detect_mentions_fused_alias_limit(spark):
    """The fused matcher's driver-side gazetteer collect is guarded: past
    max_collected_aliases it raises with the window-join fallback named,
    instead of silently betting driver memory (round-4 verdict #6)."""
    import pytest

    from e2e_el_spark.operators.mentions import _match_mentions_arrow

    docs = spark.createDataFrame(
        [("d0", "a b c")], "document_id string, text string"
    )
    gaz = spark.createDataFrame(
        [(f"E{i}", f"alias{i}") for i in range(10)],
        "entity_id string, alias string",
    )
    with pytest.raises(ValueError, match="span_mode"):
        _match_mentions_arrow(docs, gaz, 4, max_collected_aliases=5).count()
    # at-limit passes
    out = _match_mentions_arrow(docs, gaz, 4, max_collected_aliases=10)
    assert out.count() == 0


def test_detect_mentions_colliding_folded_aliases_min_entity(spark):
    """R5-h: the fused matcher's vectorized driver fold (groupby-min per
    folded key) must keep the window path's semantics — when case-variant
    aliases of DIFFERENT entities fold to one key, the minimum entity_id
    wins, identically in both modes."""
    docs = spark.createDataFrame(
        [("d1", "we met acme yesterday")], "document_id string, text string"
    )
    gaz = spark.createDataFrame(
        [("e9", "Acme"), ("e1", "ACME"), ("e5", "acme")],
        "entity_id string, alias string",
    )
    for mode in ("fused", "window"):
        got = detect_mentions(docs, gaz, span_mode=mode).collect()
        assert len(got) == 1, (mode, got)
        assert got[0].gazetteer_entity_id == "e1", (mode, got)
        assert got[0].text == "acme"
