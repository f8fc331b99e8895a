"""Self-tests of the output checks and the seeded generators."""

from __future__ import annotations

import itertools
import random

from perfbench import checks, corpora


def _brute_f1(pred, truth, nodes):
    def same(groups):
        return {
            (a, b) for a, b in itertools.combinations(sorted(nodes), 2)
            if a in groups and b in groups and groups[a] == groups[b]
        }

    p, t = same(pred), same(truth)
    return 1.0 if not p and not t else 2 * len(p & t) / (len(p) + len(t))


def test_pairwise_f1_small_cases():
    nodes = ["a", "b", "c", "d"]
    truth = {"a": "x", "b": "x", "c": "x"}
    assert checks.pairwise_f1(truth, truth, nodes) == 1.0
    # one of the three true pairs predicted, nothing wrong
    assert checks.pairwise_f1({"a": "a", "b": "a"}, truth, nodes) == 0.5
    # everything merged: 3 true of 6 predicted
    everything = {n: "z" for n in nodes}
    assert checks.pairwise_f1(everything, truth, nodes) == 2 * 3 / (6 + 3)
    # only singletons on both sides
    assert checks.pairwise_f1({}, {}, nodes) == 1.0


def test_pairwise_f1_matches_pair_enumeration():
    rng = random.Random(5)
    for _ in range(200):
        nodes = [f"n{i}" for i in range(rng.randint(1, 12))]
        pred = {n: rng.choice("abcd") for n in nodes if rng.random() < 0.8}
        truth = {n: rng.choice("wxyz") for n in nodes if rng.random() < 0.8}
        assert abs(checks.pairwise_f1(pred, truth, nodes) - _brute_f1(pred, truth, nodes)) < 1e-12


def test_labeled_f1_counts_labeled_pairs_only():
    labeled = [("p1", "o1", True), ("p1", "o1b", True), ("p2", "o2", True), ("p1", "p2", False)]
    clusters = {"p1": "o1", "o1": "o1", "o1b": "o1"}
    # p2-o2 missed; the unlabeled o1-o1b pair is not counted
    assert checks.labeled_f1(clusters, labeled) == 2 * 2 / (2 * 2 + 0 + 1)
    merged = {n: "x" for n in ("p1", "o1", "o1b", "p2", "o2")}
    assert checks.labeled_f1(merged, labeled) == 2 * 3 / (2 * 3 + 1 + 0)
    # restricted to the nodes present so far
    assert checks.labeled_f1(clusters, labeled, {"p1", "o1", "o1b"}) == 1.0
    assert checks.labeled_f1({}, [], None) == 1.0


def test_check_f1_gate():
    assert checks.check_f1(0.99) is None
    assert "0.9899" in checks.check_f1(0.9899)


def test_check_decisions_invariants():
    ids = {"d1", "d2", "d3", "d4"}
    assert checks.check_decisions([("d2", "d1"), ("d3", "d1")], ids) is None
    assert checks.check_decisions([], ids) is None
    assert "sort before" in checks.check_decisions([("d1", "d2")], ids)
    assert "itself dropped" in checks.check_decisions([("d2", "d1"), ("d3", "d2")], ids)
    assert "unknown id" in checks.check_decisions([("d9", "d1")], ids)
    assert "unknown id" in checks.check_decisions([("d2", "d0")], ids)
    assert "more than once" in checks.check_decisions([("d3", "d1"), ("d3", "d2")], ids)


def test_decision_groups_include_keepers():
    assert checks.decision_groups([("d2", "d1"), ("d4", "d3")]) == {
        "d1": "d1", "d2": "d1", "d3": "d3", "d4": "d3",
    }


def test_check_clusters_equal():
    a = {("n1", "n1"), ("n2", "n1")}
    assert checks.check_clusters_equal(a, set(a)) is None
    assert "1 rows only" in checks.check_clusters_equal(a, {("n1", "n1")})


def test_near_dup_corpus_is_seeded_and_plants_chains():
    rows, truth = corpora.near_dup_corpus(3, 2000)
    assert (rows, truth) == corpora.near_dup_corpus(3, 2000)
    assert rows != corpora.near_dup_corpus(4, 2000)[0]
    assert len(rows) == 2000 and len({r[0] for r in rows}) == 2000
    # 10% of the docs, in families whose sizes cycle 2, 3, 4, 5
    assert len(truth) == 201
    lengths = [len(t.split()) for _, t in rows]
    assert min(lengths) >= 30 and max(lengths) <= 130
    sizes = {}
    for label in truth.values():
        sizes[label] = sizes.get(label, 0) + 1
    assert sorted(sizes.values()) == sorted([2, 3, 4, 5] * 14 + [2, 3])


def test_split_by_journal_partitions_documents():
    docs = [{"doc_id": d} for d in (
        "pkp:J00000", "oa:S00000", "pkp:J00001", "oa:S00001c1",
        "pkp:J00002", "pkp:J00003", "oa:S00003", "pkp:J00004",
    )]
    base, batches = corpora.split_by_journal(docs, 1, 2, 2)
    assert [d["doc_id"] for d in base] == ["pkp:J00000", "oa:S00000"]
    assert [[d["doc_id"] for d in b] for b in batches] == [
        ["pkp:J00001", "oa:S00001c1", "pkp:J00002"],
        ["pkp:J00003", "oa:S00003", "pkp:J00004"],
    ]
