"""Self-tests of the benchmark: generators, pair scoring, and the traced
counters against Spark's REST API.

    python3 -m pytest dedupbench -q

The last test starts a Spark session (about a minute).
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from dedupbench import gen
from dedupbench.score import pair_counts, pair_scores

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ----------------------------------------------------------- generators

def test_text_corpus_is_deterministic_per_seed():
    a, ta = gen.text_corpus(5, 2000)
    b, tb = gen.text_corpus(5, 2000)
    c, _ = gen.text_corpus(6, 2000)
    pd.testing.assert_frame_equal(a, b)
    assert ta == tb
    assert not a["text"].equals(c["text"])


def test_table_batches_are_deterministic_per_seed():
    a = gen.table_batches(5, 2, 3000)
    b = gen.table_batches(5, 2, 3000)
    c = gen.table_batches(6, 2, 3000)
    for x, y in zip(a.batches, b.batches):
        pd.testing.assert_frame_equal(x, y)
    assert a.truth == b.truth
    assert not a.batches[0]["email"].equals(c.batches[0]["email"])


def test_image_corpus_is_deterministic_per_seed():
    a, ta = gen.image_corpus(5, 40)
    b, tb = gen.image_corpus(5, 40)
    pd.testing.assert_frame_equal(a, b)
    assert ta == tb


def _shingles(text: str, k: int = 5) -> set[str]:
    t = text.split()
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def test_text_truth_matches_the_rows():
    """Each planted cluster is connected by pairs at Jaccard >= 0.7 (the
    engine's threshold), and no pair across clusters reaches it."""
    pdf, truth = gen.text_corpus(3, 4000)
    sh = {d: _shingles(t) for d, t in zip(pdf["doc_id"], pdf["text"])}
    members = defaultdict(list)
    for d, c in truth.items():
        members[c].append(d)
    sizes = sorted(len(m) for m in members.values())
    assert sizes[-2:] == sorted(gen.HOT_CLIQUES)
    assert sizes.count(1) > len(pdf) // 2          # mostly singletons

    def jac(a, b):
        return len(sh[a] & sh[b]) / len(sh[a] | sh[b])

    for m in members.values():
        # union-find over the cluster's pairs above threshold
        parent = {d: d for d in m}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in enumerate(m):
            for b in m[i + 1:]:
                if find(a) != find(b) and jac(a, b) >= 0.7:
                    parent[find(a)] = find(b)
        assert len({find(d) for d in m}) == 1
    index = defaultdict(set)
    for d, s in sh.items():
        for x in s:
            index[x].add(d)
    for d, s in sh.items():
        near = set().union(*(index[x] for x in s)) - set(members[truth[d]])
        assert all(jac(d, o) < 0.7 for o in near)


def test_table_truth_matches_the_rows():
    """Recompute every expected count from the rows with pandas."""
    series = gen.table_batches(9, 3, 4000)
    seen: set[tuple] = set()
    keys = list(gen.TABLE_KEYS)
    for pdf, want in zip(series.batches, series.truth):
        tuples = [tuple(r) for r in pdf[keys].itertuples(index=False)]
        counts = pd.Series(tuples).value_counts()
        new = [k for k in counts.index if k not in seen]
        assert want.rows == len(pdf)
        assert want.survivors == len(new)
        assert want.dupe_groups == sum(1 for k in new if counts[k] > 1)
        assert want.seen_rows == sum(int(counts[k]) for k in counts.index
                                     if k in seen)
        assert want.ledger_after == len(seen) + len(new)
        fresh = {r: t for r, t in zip(pdf["row_id"], tuples) if t not in seen}
        assert want.new_entity.keys() == fresh.keys()
        # same entity <=> same key tuple
        assert pair_scores(want.new_entity, fresh) == (1.0, 1.0)
        seen.update(new)
    assert 0.2 < 1 - series.truth[0].survivors / 4000 < 0.4


def test_image_truth_matches_the_rows():
    """Every planted pair shares its pixels: identical bytes, or (the
    lossy re-encode) a pHash within the engine's Hamming threshold."""
    pdf, truth = gen.image_corpus(2, 60)
    rows = pdf.set_index("image_id")
    members = defaultdict(list)
    for i, c in truth.items():
        members[c].append(i)
    pairs = [m for m in members.values() if len(m) > 1]
    assert len(pairs) == 24
    for a, b in pairs:
        ra, rb = rows.loc[a], rows.loc[b]
        ham = bin((int(ra["phash"]) ^ int(rb["phash"])) & (2 ** 64 - 1))
        assert ra["bytes"] == rb["bytes"] or ham.count("1") <= 6


# -------------------------------------------------------------- scoring

def test_pair_scores_hand_made():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2}
    # truth pairs ab ac bc; output pairs ab cd; both: ab
    assert pair_counts(truth, {"a": 0, "b": 0, "c": 5, "d": 5}) == (1, 3, 2)
    assert pair_scores(truth, {"a": 0, "b": 0, "c": 5, "d": 5}) == (1 / 3, 1 / 2)
    assert pair_scores(truth, {"a": "x", "b": "x", "c": "x", "d": "y"}) \
        == (1.0, 1.0)
    assert pair_scores(truth, {k: k for k in truth}) == (0.0, 1.0)
    assert pair_scores(truth, {k: 0 for k in truth}) == (1.0, 0.5)
    assert pair_scores({"a": 1}, {"a": 2}) == (1.0, 1.0)
    with pytest.raises(ValueError):
        pair_scores(truth, {"a": 1})


# ---------------------------------------------------- BENCHMARK.json

def test_benchmark_json_names_match_the_harness():
    from dedupbench.harness import LAYER_METRICS
    from dedupbench.workloads import WORKLOADS

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    per_layer = {f"{layer}.{m}" for layer, ms in LAYER_METRICS.items()
                 for m in ms}
    assert {m["name"] for m in spec["per_layer"]} == per_layer
    assert len(per_layer) <= 128
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "first_pass_s", "pass_s", "peak_rss_mb", "recall",
        "precision"}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


# ------------------------------------------- status store versus REST

def test_traced_counters_equal_rest_api_totals():
    """On one traced pass the status-store counters (jobs, stages,
    shuffle bytes, task time, CPU) equal the REST API's, per layer and
    for the whole pass, and they are not trivially empty."""
    from dedupbench.harness import (
        SLOTS, make_workdir, start_session, stop_session)
    from dedupbench.trace import Tracer, rest_mismatches
    from dedupbench.workloads import TabularIncremental

    work = make_workdir("selftest")
    wl = TabularIncremental(work, seed=4, slots=SLOTS)
    wl.rows = 3000
    wl.prepare()
    spark, _, _ = start_session(work, trace=True)
    try:
        untraced = wl.run_pass(spark)
        tracer = Tracer(spark, os.path.join(work, "profile"))
        traced = wl.traced_pass(spark, tracer)
        store, rest = tracer.store_data(), tracer.rest_data()
        root = tracer.spans[0]
        assert root.layer == "pass"
        total = store.totals(root.groups())
        tracker = spark.sparkContext.statusTracker()
        jobs = {j for g in root.groups() for j in tracker.getJobIdsForGroup(g)}
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    assert untraced.problems == [] and traced.problems == []
    assert traced.result == untraced.result
    assert rest_mismatches(tracer.spans, store, rest) == []
    assert total == rest.totals(root.groups())
    assert total["jobs"] == len(jobs)
    assert total["stages"] > 10
    assert total["shuffle_write"] > 0 and total["run_ms"] > 0
    sinks = [s for s in tracer.spans if s.layer == "sinks"]
    assert store.totals({s.group for s in sinks})["output_records"] > 0
    assert np.isclose(root.wall, sum(c.wall for c in root.children)
                      + root.self_s)
