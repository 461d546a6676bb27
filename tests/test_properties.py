"""Property-based tests (hypothesis) for operator laws — small
deterministic frames, laws that must hold for ANY input:

- top_k_per_group == sorted-slice reference
- asof_join == brute-force latest-prior reference
- upsert/bulk_update/delete merge laws
- MinHash Jaccard estimate within statistical error of exact Jaccard
- top_ngram_fraction == collections.Counter reference
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 4),          # group
        st.integers(0, 50),         # order value
        st.integers(0, 1_000_000),  # unique-ish id
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy, k=st.integers(1, 4))
@settings(**SETTINGS)
def test_topk_matches_sorted_slice(spark, rows, k):
    from newsify_spark.operators.topk import top_k_per_group

    rows = [(g, v, i * 100 + n) for n, (g, v, i) in enumerate(rows)]  # unique ids
    df = spark.createDataFrame(rows, "g int, v int, id long")
    got = (
        top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], k)
        .toPandas()
        .sort_values(["g", "v", "id"], ascending=[True, False, True])
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(rows, columns=["g", "v", "id"])
    want = (
        pdf.sort_values(["v", "id"], ascending=[False, True])
        .groupby("g")
        .head(k)
        .sort_values(["g", "v", "id"], ascending=[True, False, True])
        .reset_index(drop=True)
    )
    assert got.values.tolist() == want.values.tolist()


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=1, max_size=25),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=0, max_size=25),
)
@settings(**SETTINGS)
def test_asof_matches_bruteforce(spark, left, right):
    from newsify_spark.operators.asof import asof_join

    left = [(k, t, i) for i, (k, t) in enumerate(left)]
    # dedup right on (k,t): the operator contract requires unique right
    # timestamps per key (ties are sort-order-ambiguous)
    rmap = {}
    for j, (k, t) in enumerate(right):
        rmap[(k, t)] = float(j)
    right = [(k, t, p) for (k, t), p in rmap.items()]
    ldf = spark.createDataFrame(left, "k int, lt int, lid int")
    rdf = spark.createDataFrame(right or [(99, -1, 0.0)], "k int, rt int, payload double")
    out = (
        asof_join(ldf, rdf, on="k", left_time="lt", right_time="rt", payload_cols=["rt", "payload"])
        .toPandas()
        .set_index("lid")
    )
    for k, t, lid in left:
        cands = [(rt, p) for (rk, rt, p) in right if rk == k and rt <= t]
        if cands:
            want_rt, want_p = max(cands)
            assert out.loc[lid, "rt"] == want_rt and out.loc[lid, "payload"] == want_p
        else:
            assert pd.isna(out.loc[lid, "payload"])


@given(
    old=st.dictionaries(st.integers(0, 10), st.integers(0, 5), max_size=8),
    new=st.dictionaries(st.integers(0, 10), st.integers(6, 9), max_size=8),
)
@settings(**SETTINGS)
def test_upsert_law(spark, old, new):
    from newsify_spark.operators.merge import upsert_by_key

    odf = spark.createDataFrame(list(old.items()) or [(-1, 0)], "k int, v int")
    ndf = spark.createDataFrame(list(new.items()) or [(-2, 0)], "k int, v int")
    got = dict(upsert_by_key(odf, ndf, ["k"]).collect())
    want = {**({-1: 0} if not old else old), **({-2: 0} if not new else new)}
    assert got == want


@given(data=st.data())
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_minhash_estimates_jaccard(spark, data):
    """Jaccard(estimate from 16-hash MinHash) within 0.35 of exact —
    loose statistical bound, tight enough to catch broken hashing."""
    from newsify_spark.operators.dedup import jaccard_pairs, minhash_signatures_pandas

    vocab = [f"w{i}" for i in range(30)]
    base = data.draw(st.lists(st.sampled_from(vocab), min_size=12, max_size=30))
    # doc B shares a prefix of A's tokens -> known overlap
    cut = data.draw(st.integers(4, len(base)))
    texts = [" ".join(base), " ".join(base[:cut] + ["zz1", "zz2", "zz3", "zz4"])]
    docs = spark.createDataFrame([(0, texts[0]), (1, texts[1])], "doc_id long, text string")
    exact = jaccard_pairs(docs).collect()
    exact_j = exact[0]["jaccard"] if exact else 0.0
    sigs = minhash_signatures_pandas(docs).toPandas().set_index("doc_id")
    agree = sum(sigs.loc[0, f"h{i}"] == sigs.loc[1, f"h{i}"] for i in range(16)) / 16
    assert abs(agree - exact_j) <= 0.35


@given(docs=st.lists(st.lists(st.sampled_from(["a", "b", "A", "cc"]), max_size=10), min_size=1, max_size=20))
@example(docs=[[], ["a"], ["a"] * 7, ["a", "b", "a", "b"], ["a", "b", "b", "a"]])
@settings(**SETTINGS)
def test_top_ngram_fraction_matches_counter(spark, docs):
    """top_ngram_fraction(text, 2) == highest bigram count / bigram
    count, bit for bit. The empty token list is the empty string; a
    text shorter than one bigram is a single gram (word_shingles); the
    explicit example adds a single repeated token and tied maxima."""
    from collections import Counter

    from newsify_spark.functions.text import top_ngram_fraction

    texts = [" ".join(toks) for toks in docs]

    def ref(text: str) -> float:
        toks = text.lower().split(" ")
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)] or [" ".join(toks)]
        return max(Counter(grams).values()) / len(grams)

    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = df.select("i", top_ngram_fraction("text", 2).alias("f")).collect()
    assert sorted((r.i, r.f) for r in got) == [(i, ref(t)) for i, t in enumerate(texts)]


@given(
    keys=st.lists(
        st.one_of(st.integers(-(2**62), 2**62), st.text(max_size=40)),
        min_size=1,
        max_size=30,
    ),
    n_shards=st.integers(1, 64),
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_shard_id_matches_pure_python_md5(spark, keys, n_shards):
    """shard_id's portability claim: the Spark expression equals a
    straight Python md5 reimplementation for any key (so DuckDB oracles
    and external trainers can re-derive shard membership)."""
    import hashlib

    from newsify_spark.operators.shards import shard_id

    df = spark.createDataFrame([(str(k),) for k in keys], "k string")
    got = {
        r.k: r.s
        for r in df.select("k", shard_id(F.col("k"), n_shards).alias("s")).collect()
    }
    for k in got:
        want = int(hashlib.md5(k.encode()).hexdigest()[:8], 16) % n_shards
        assert got[k] == want
