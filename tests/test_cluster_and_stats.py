"""Unit tests: connected components invariants + stats rollup parity."""

from __future__ import annotations

import random
import statistics

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.cluster import (
    connected_components,
)
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.stats import (
    overall_stats,
    per_doi_stats,
)


def _cc_oracle(edges):
    """Union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # normalize: every node -> min of component
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _run_cc(spark, edges):
    df = spark.createDataFrame(edges, schema="u string, v string")
    return {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}


def test_cc_chain(spark):
    # a long chain stresses the log-round convergence
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    got = _run_cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == 41


def test_cc_round_cap_raises_instead_of_wrong_clusters(spark):
    # a shuffled path needs ~log2(200) star rounds; an unconverged graph
    # must never reach the roll-up (it yields duplicate, conflicting rows)
    ids = [f"p{i:03d}" for i in range(200)]
    random.Random(7).shuffle(ids)
    df = spark.createDataFrame(list(zip(ids, ids[1:])), schema="u string, v string")
    for cap in (3, 0):
        with pytest.raises(RuntimeError, match=f"max_iter={cap}"):
            connected_components(df, max_iter=cap).collect()
    got = connected_components(df).collect()
    assert len(got) == 200
    assert {r["cluster_id"] for r in got} == {min(ids)}


def test_cc_two_components_and_star(spark):
    edges = [("b", "a"), ("c", "a"), ("x", "y"), ("z", "y")]
    got = _run_cc(spark, edges)
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).map(
            lambda t: (f"v{t[0]:02d}", f"v{t[1]:02d}")
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=8, deadline=None)
def test_cc_matches_union_find(spark, edges):
    edges = [e for e in edges if e[0] != e[1]]
    if not edges:
        return
    got = _run_cc(spark, edges)
    want = _cc_oracle(edges)
    assert got == want


def _scored_fixture(spark):
    rows = [
        # DOI, ea, na, a_s, ei, ni, i_s
        ("10.1/a", True, True, 100.0, True, True, 100.0),
        ("10.1/a", False, True, 95.5, False, False, 20.0),
        ("10.1/b", False, False, 40.0, False, True, 91.0),
        ("10.1/b", False, False, 0.0, False, False, 0.0),
        ("10.1/b", True, True, 100.0, False, False, 95.5),
    ]
    return spark.createDataFrame(
        rows,
        schema=(
            "DOI string, exact_author_match boolean, normalized_author_match boolean,"
            " author_similarity_score double, exact_institution_match boolean,"
            " normalized_institution_match boolean, institution_similarity_score double"
        ),
    ), rows


def test_overall_stats_parity(spark):
    df, rows = _scored_fixture(spark)
    got = overall_stats(df).collect()[0].asDict()
    a_scores = [r[3] for r in rows]
    i_scores = [r[6] for r in rows]
    assert got["valid_rows"] == 5
    assert got["exact_author_match_count"] == 2
    assert got["normalized_author_match_count"] == 3
    assert got["exact_both_match_count"] == 1
    assert got["norm_author_not_exact_count"] == 1
    assert got["high_author_score_no_norm_match_count"] == 0
    assert got["high_inst_score_no_norm_match_count"] == 1  # 95.5 > 90, ni False
    assert got["perfect_author_score_count"] == 2
    assert got["exact_author_match_pct"] == 40.0
    assert got["author_score_mean"] == statistics.mean(a_scores)
    assert got["author_score_median"] == statistics.median(a_scores)
    assert got["inst_score_stdev"] == statistics.stdev(i_scores)
    assert got["author_score_min"] == 0.0 and got["author_score_max"] == 100.0


def test_per_doi_stats_parity(spark):
    df, _ = _scored_fixture(spark)
    got = {r["DOI"]: r.asDict() for r in per_doi_stats(df).collect()}
    a = got["10.1/a"]
    assert a["TotalAuthorsInput"] == 2
    assert a["CountExactAuthorMatch"] == 1
    assert a["CountNormAuthorMatch"] == 2
    assert a["CountExactBothMatch"] == 1
    assert a["AvgAuthorScore"] == round(statistics.mean([100.0, 95.5]), 2)
    assert a["MedianAuthorScore"] == round(statistics.median([100.0, 95.5]), 2)
    assert a["AllAuthorsNormMatch"] is True
    assert a["AllAuthorsExactMatch"] is False
    assert a["AnyAuthorExactMatch"] is True
    b = got["10.1/b"]
    assert b["TotalAuthorsInput"] == 3
    assert b["AllInstNormMatch"] is False
    assert b["MinAuthorScore"] == 0.0 and b["MaxAuthorScore"] == 100.0


def test_stats_stdev_single_row_is_zero(spark):
    df = spark.createDataFrame(
        [("10.1/x", True, True, 50.0, True, True, 50.0)],
        schema=(
            "DOI string, exact_author_match boolean, normalized_author_match boolean,"
            " author_similarity_score double, exact_institution_match boolean,"
            " normalized_institution_match boolean, institution_similarity_score double"
        ),
    )
    got = overall_stats(df).collect()[0]
    assert got["author_score_stdev"] == 0.0  # n<=1 -> 0.0 (get_stats.py:133-140)
