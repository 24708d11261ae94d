"""Tests of the benchmark's own parts: seeded inputs, the tail rule and
span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import datagen, stream
from perfbench.run import tail
from perfbench.trace import Tracer, attribute_jobs

def _log(seed: int) -> dict[int, pd.DataFrame]:
    return datagen.stream_log(seed, stream.BATCHES, stream.KEYS, stream.RECORDS_PER_BATCH)


def test_one_seed_gives_an_identical_log():
    a, b = _log(7), _log(7)
    for side in (0, 1):
        pd.testing.assert_frame_equal(a[side], b[side])
    assert not a[0].equals(_log(8)[0])


@pytest.mark.parametrize("seed", [0, 1, 12345])
def test_log_properties(seed):
    log = _log(seed)
    both = pd.concat(log.values(), ignore_index=True)
    # unique version timestamps, across both sides
    assert both["ts"].is_unique
    # ids are distinct across sides and each keeps one key
    assert not set(log[0]["id"]) & set(log[1]["id"])
    assert (both.groupby("id")["k"].nunique() == 1).all()
    for pdf in log.values():
        per_key = pdf.groupby("k")["id"].nunique()
        assert per_key.between(1, 3).all() and len(per_key) == stream.KEYS
        assert 1.8 < per_key.mean() < 2.2
        # each micro-batch gets the same share of the side's records
        counts = pdf.groupby("batch").size()
        assert len(counts) == stream.BATCHES
        assert (counts == stream.RECORDS_PER_BATCH // 2).all()
        # about two versions per id, some arriving out of order
        versions = pdf.groupby("id").size()
        assert 1.7 < versions.mean() < 2.3 and versions.max() >= 4
        late = pdf.sort_values("ts").groupby("id")["batch"].apply(
            lambda b: bool((np.diff(b.to_numpy()) < 0).any())
        )
        assert late.any()


def test_corpus_is_deterministic_and_sized(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_corpus(str(a), 0.01)
    datagen.write_corpus(str(b), 0.01)
    n_docs, n_vecs = datagen.corpus_sizes(0.01)
    for t, n in (("documents", n_docs), ("embeddings", n_vecs)):
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
        assert len(pd.read_parquet(a / f"{t}.parquet")) == n
    docs = pd.read_parquet(a / "documents.parquet")
    assert docs["doc_id"].is_unique and (docs["n_chars"] == docs["text"].str.len()).all()
    # planted near-duplicates give the dedup queries pairs to find
    assert docs["text"].str.contains(r"\bdup\b").sum() >= 10


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert tail(list(range(10))) == (None, None)
    pct, value = tail(list(range(100)))
    assert pct == 90.0 and value == 89
    assert sum(1 for v in range(100) if v > value) == 10


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    root = tr.add("pass", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, parent=root["id"])
    tr.add("b", 3.0, 5.0, parent=root["id"])  # overlaps a
    tr.add("c", 8.0, 12.0, parent=root["id"])  # runs past the parent
    assert tr.self_time(root) == pytest.approx(10.0 - 4.0 - 2.0)


def test_jobs_go_to_their_group_or_the_innermost_span():
    tr = Tracer()
    outer = tr.add("pass", 0.0, 10.0)
    inner = tr.add("build", 2.0, 4.0, parent=outer["id"], group="g")
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 3000,
         "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 6000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "rdd_5_0", "Memory Size": 100, "Disk Size": 0}},
    ]
    stats = attribute_jobs(events, tr.spans, {"g": inner["id"]})
    assert stats[inner["id"]]["jobs"] == 2
    assert stats[outer["id"]]["jobs"] == 1
    # the block update follows job 2, which ran in the outer span
    assert stats[outer["id"]].rdds == {5}
