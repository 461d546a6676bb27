"""Generator determinism: the same seed gives identical inputs, another
seed different ones, and the stream mix holds its stated shares.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import numpy as np  # noqa: E402
import pytest  # noqa: E402


@pytest.mark.parametrize("workload", ["batch_refresh", "stream_ingest"])
def test_same_seed_same_inputs(workload):
    assert gen.digest(workload, 7) == gen.digest(workload, 7)
    assert gen.digest(workload, 7) != gen.digest(workload, 8)


def test_refresh_redeliveries_are_exact_copies_under_new_ids():
    docs = gen.refresh_inputs(3)["documents"]
    re = docs[docs.doc_id >= gen.N_DOCS]
    assert len(re) == int(gen.N_DOCS * gen.REDELIVERED_SHARE)
    assert set(re.text) <= set(docs[docs.doc_id < gen.N_DOCS].text)
    assert docs.doc_id.is_unique


def test_stream_mix_and_ground_truth():
    batches = gen.stream_batches(5, 3)
    ids = [d for b in batches for d in b.rows.doc_id]
    assert len(ids) == len(set(ids))
    texts = {d: t for b in batches for d, t in zip(b.rows.doc_id, b.rows.text)}
    for b in batches:
        assert len(b.rows) == gen.BATCH_SIZE
        counts = {k: list(b.kind.values()).count(k) for k in gen.MIX}
        assert counts == {k: round(gen.BATCH_SIZE * s) for k, s in gen.MIX.items()}
        for d, src in b.origin.items():
            assert src < d and b.kind.get(src, "novel") == "novel"
            same = texts[d] == texts[src]
            assert same == (b.kind[d] == "exact")


def test_serve_burst_has_fixed_counts():
    calls = gen.serve_calls(np.random.default_rng(0))
    for name, k in gen.SERVE_BURST.items():
        assert sum(c == name for c, _ in calls) == k
