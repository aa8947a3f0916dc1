"""Round-6 optimization invariants: every rewrite in this round must be
bit-identical to the shape it replaced, and the scale-adaptive fan-out must
be a structural no-op when the input is already parallel."""

import re

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.operators.blocking import (
    minhash_signatures,
    ngram_counts,
    same_block_pairs,
    shingle_array_expr,
)
from e2e_el_spark.functions import char_ngrams_all_expr
from e2e_el_spark.partitioning import fan_out


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),
        (3, "completely unrelated text about spark plans"),
        (4, "a"),  # shorter than any shingle width
        (5, ""),   # empty text
        (6, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_agg_form_matches_interpreted_form(spark, docs):
    """The codegen'd min(xxhash64(h, i)) aggregate must reproduce the round-5
    interpreted array_min(transform(...)) signature bit-for-bit (min over a
    set is order-independent; same hash calls, same literal types)."""
    hs = docs.select(
        "doc_id", F.expr(shingle_array_expr("text", 3)).alias("_hs")
    )
    old = hs.select(
        "doc_id",
        F.array(
            *[
                F.expr(f"array_min(transform(_hs, h -> xxhash64(h, {i})))")
                for i in range(16)
            ]
        ).alias("sig"),
    )
    new = minhash_signatures(docs, "doc_id", "text", num_hashes=16, shingle_width=3)
    a = {r.doc_id: r.sig for r in old.collect()}
    b = {r.doc_id: r.sig for r in new.collect()}
    assert a == b


def test_ngram_position_explode_matches_array_form(spark, docs):
    """The double position-explode must produce the exact gram multiset of
    the round-5 char_ngrams_all_expr explode, for both compat modes."""
    for compat in (True, False):
        old = (
            docs.select(
                F.col("doc_id").alias("_id"),
                F.explode(
                    F.expr(char_ngrams_all_expr("lower(text)", 3, compat))
                ).alias("gram"),
            )
            .groupBy("_id", "gram")
            .agg(F.count("*").alias("tf"))
        )
        new = ngram_counts(
            docs, "doc_id", "text", n_max=3, compat=compat, lowercase=True,
            stopwords=[],
        )
        a = {(r._id, r.gram): r.tf for r in old.collect()}
        b = {(r._id, r.gram): r.tf for r in new.collect()}
        assert a == b, f"compat={compat}"


def test_same_block_pairs_matches_window_form_with_cap_and_dups(spark):
    """The collect_set + sorted-slice + pair-explode form must equal the old
    distinct → row_number → self-join form: duplicated (key, id) rows dedupe,
    the cap keeps the lowest ids, pairs are id_a < id_b."""
    rows = (
        [(i, "hot") for i in range(7)]
        + [(3, "hot"), (0, "hot")]          # duplicates must not double-pair
        + [(100, "cold"), (101, "cold")]
        + [(7, "solo")]                       # singleton block: no pairs
    )
    keyed = spark.createDataFrame(rows, "doc_id long, block_key string")
    got = {
        (r.id_a, r.id_b)
        for r in same_block_pairs(keyed, "doc_id", max_block_size=4).collect()
    }
    # old semantics: hot block capped to ids 0..3 → C(4,2) pairs, cold intact
    want = {(a, b) for a in range(4) for b in range(4) if a < b} | {(100, 101)}
    assert got == want


def test_same_block_pairs_observation_counts_precap_rows(spark):
    from pyspark.sql import Observation

    keyed = spark.createDataFrame(
        [(i, "hot") for i in range(10)] + [(100, "cold"), (101, "cold")],
        "doc_id long, block_key string",
    )
    obs = Observation()
    same_block_pairs(keyed, "doc_id", max_block_size=3, observation=obs).collect()
    assert obs.get["truncated_rows"] == 7
    assert obs.get["input_rows"] == 12


def test_fan_out_noop_when_already_parallel(spark):
    df = spark.range(1000).repartition(64, "id")
    out = fan_out(df, "id", target=32)
    assert out.rdd.getNumPartitions() == 64  # untouched: no extra exchange


def test_fan_out_spreads_narrow_input(spark):
    df = spark.range(1000).coalesce(1)
    out = fan_out(df, "id", target=16)
    assert out.rdd.getNumPartitions() == 16
    assert out.count() == 1000


def test_fan_out_requires_key(spark):
    with pytest.raises(ValueError):
        fan_out(spark.range(10))


def test_q07_sort_runs_above_the_fan_out_exchange(spark):
    """q07's window sort must not run below the exchange (where the
    single-row-group scan would serialize it on one task): fan_out keyed on
    the window partition key leaves ONE exchange with the Sort above it,
    and the WindowGroupLimit appears once (Final) instead of Partial+Final
    around a pre-exchange 1-task sort."""
    import __spark_entry__ as entrymod
    from tests.test_oracle_parity import SF_DIR

    df = entrymod.queries()["q07_topk_per_group"](spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # operator-tree lines are "<tree prefix>NodeName [details] (id)"; keep
    # the whole node name so e.g. SortAggregate never counts as a Sort
    nodes = [
        m.group(1)
        for line in plan.split("(1) Scan")[0].splitlines()
        if (m := re.match(r"^[\s:+-]*([A-Za-z]\w*)\b.*\(\d+\)$", line))
    ]
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("WindowGroupLimit") == 1, nodes
    # the Sort node sits above the Exchange in the operator tree
    assert nodes.index("Sort") < nodes.index("Exchange"), nodes
