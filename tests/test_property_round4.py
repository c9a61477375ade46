"""Property-based checks for round-4 operators: PII redaction against
an independent Python-re oracle, and the bounded-driver union-find
against a BFS reference on random graphs (plus agreement with the
distributed pointer-jump loop)."""

from __future__ import annotations

import re
from collections import deque

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import dedup, text

# --- PII redaction vs Python re ---------------------------------------------

_EMAILISH = st.from_regex(r"[A-Za-z0-9._%+-]{1,8}@[A-Za-z0-9.-]{1,8}\.[A-Za-z]{2,4}", fullmatch=True)
_PHONEISH = st.from_regex(r"\+[0-9]{1,3} \([0-9]{3}\) [0-9]{3}-[0-9]{1,4}", fullmatch=True)
_WORDS = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs"), max_codepoint=0x2FF),
    max_size=30,
)


@st.composite
def documents(draw):
    parts = draw(
        st.lists(st.one_of(_WORDS, _EMAILISH, _PHONEISH), min_size=0, max_size=6)
    )
    return " ".join(parts)


@given(st.lists(documents(), min_size=1, max_size=8))
@settings(max_examples=15, deadline=None)
def test_redact_pii_matches_python_re(spark, docs):
    """Java regex (Spark) and Python re must scrub identical bytes for
    the Java∩RE2∩Python-compatible patterns — the same dialect argument
    the DuckDB oracle relies on, checked against a third engine."""
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i long, text string")
    got = {
        r.i: r.red
        for r in df.select("i", text.redact_pii("text").alias("red")).collect()
    }
    for i, d in enumerate(docs):
        exp = re.sub(text.EMAIL_RE, "<EMAIL>", d)
        exp = re.sub(text.PHONE_RE, "<PHONE>", exp)
        assert got[i] == exp


def test_redact_pii_idempotent(spark):
    """Redacting already-redacted text is a no-op: the placeholder
    tokens contain no '@' and no digits, so they can never re-match."""
    df = spark.createDataFrame(
        [(1, "mail a@b.com and +1 (555) 010-99 twice a@b.com")], "i long, text string"
    )
    once = df.select(text.redact_pii("text").alias("t"))
    twice = once.select(text.redact_pii("t").alias("t"))
    assert once.collect() == twice.collect()


# --- union-find vs BFS reference --------------------------------------------


def _bfs_components(edges):
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in adj:
        if start in label:
            continue
        comp = []
        q = deque([start])
        seen = {start}
        while q:
            x = q.popleft()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    q.append(y)
        m = min(comp)
        for x in comp:
            label[x] = m
    return label


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
def test_union_find_matches_bfs(spark, edge_list):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edge_list], "d1 long, d2 long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert got == _bfs_components(edge_list)


# --- bloom no-false-negatives (round 5) -------------------------------------
# The exact-oracle equality of decontaminate_bloom_8gram rests on one
# property: a gram whose bits were set at build time ALWAYS passes the
# probe.  Pin it on random gram sets and deliberately tiny (saturated)
# blooms, where any hash/shift/word-index bug would surface as a drop.

_GRAMS = st.lists(
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x2FF),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=30,
    unique=True,
)


@settings(max_examples=15, deadline=None)
@given(_GRAMS, st.sampled_from([1 << 8, 1 << 12, 1 << 20]))
def test_bloom_probe_no_false_negatives(grams, bits):
    spark = _bloom_spark()
    df = spark.createDataFrame([(g,) for g in grams], ["gram"])
    import numpy as np

    words_agg = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col("gram"), F.lit(i)), F.lit(bits))
                        for i in range(4)
                    ]
                )
            ).alias("pos")
        )
        .groupBy((F.col("pos") / 64).cast("long").alias("word"))
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
                )
            ).alias("bits")
        )
    )
    words = np.zeros((bits + 63) // 64, dtype="int64")
    for r in words_agg.collect():
        words[r["word"]] = r["bits"]
    kept = {r.gram for r in dedup.bloom_probe_filter(df, words, bloom_bits=bits).collect()}
    assert kept == set(grams)  # every built gram must survive its own probe


def _bloom_spark():
    from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark

    return get_spark(app_name="engine-tests", cpus=8)
