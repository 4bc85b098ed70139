"""Tests for the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import gen
from perfbench.trace import Span, covered, describe, self_times, summary


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6)
    assert covered([(-5, 20)], 0, 10) == pytest.approx(10)
    assert covered([(4, 6), (1, 2), (1.5, 4.5)], 0, 10) == pytest.approx(5)


def test_self_time_subtracts_only_direct_children():
    spans = [
        _span(1, 0, 10),
        _span(2, 1, 3, parent=1),
        _span(3, 2, 5, parent=1),  # overlaps its sibling, as concurrent sinks do
        _span(4, 2.5, 4, parent=3),  # grandchild: not subtracted from span 1
        _span(5, 6, 7),  # unrelated root
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(3 - 1.5)
    assert st[4] == pytest.approx(1.5)
    assert st[5] == pytest.approx(1)


def test_summary_states_sample_count_and_median():
    s = summary([3.0, 1.0, 2.0, 10.0])
    assert s["n"] == 4
    assert s["median"] == pytest.approx(2.5)
    assert (s["min"], s["max"]) == (1.0, 10.0)
    assert s["p25"] <= s["median"] <= s["p75"]
    line = describe("jobflow_s", "s", [3.0, 1.0, 2.0])
    assert "median 2 s" in line and "n=3" in line
    assert summary([4.0])["n"] == 1
    with pytest.raises(ValueError):
        summary([])


def _digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_generator_is_byte_identical_per_seed(tmp_path, name):
    make = gen.GENERATORS[name]
    a = make(str(tmp_path / "a"), 7, 0.1)
    b = make(str(tmp_path / "b"), 7, 0.1)
    c = make(str(tmp_path / "c"), 8, 0.1)
    assert _digest(a.root) == _digest(b.root)
    assert _digest(a.root) != _digest(c.root)
    assert (a.rows, a.bytes, a.truth) == (b.rows, b.bytes, b.truth)
    assert a.rows == c.rows  # the seed changes values, not sizes
    assert a.bytes == sum(os.path.getsize(os.path.join(a.root, p)) for p in _digest(a.root))


def test_corpus_plants_clusters_with_known_ids(tmp_path):
    import pyarrow.parquet as pq

    inp = gen.corpus(str(tmp_path), 3, 0.2)
    ids = set(pq.read_table(inp.tables["docs"]).column("doc_id").to_pylist())
    assert inp.truth and all(len(c) >= 2 for c in inp.truth)
    members = [d for c in inp.truth for d in c]
    assert len(members) == len(set(members)) and set(members) <= ids


def test_zipf_keys_are_skewed_and_in_range():
    import numpy as np

    keys = gen._zipf_keys(np.random.default_rng(1), 20_000, 1_000, 1.3)
    assert keys.min() >= 1 and keys.max() <= 1_000
    counts = np.bincount(keys)
    assert counts.max() > 20 * np.median(counts[counts > 0])
