"""Output checks for the timed operations (pure Python, no Spark).

A check returns an error string, or ``None`` when the output is correct.
"""

from __future__ import annotations

from collections import Counter

F1_GATE = 0.99


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pairwise_f1(predicted: dict[str, str], truth: dict[str, str], nodes) -> float:
    """F1 of same-group node pairs, ``predicted`` against ``truth``.

    Both map node -> group; a node of ``nodes`` missing from a map is a
    singleton there. Pairs are counted per group, never enumerated.
    """
    pred = Counter()
    true = Counter()
    both = Counter()
    for n in nodes:
        p = predicted.get(n, ("self", n))
        t = truth.get(n, ("self", n))
        pred[p] += 1
        true[t] += 1
        both[(p, t)] += 1
    tp = sum(_pairs(c) for c in both.values())
    denom = sum(_pairs(c) for c in pred.values()) + sum(_pairs(c) for c in true.values())
    return 1.0 if denom == 0 else 2.0 * tp / denom


def labeled_f1(predicted: dict[str, str], labeled, nodes=None) -> float:
    """F1 of the generator's labeled pairs ``(left, right, is_match)``: a pair
    is predicted same-entity when both ends share a ``predicted`` group.
    With ``nodes``, only pairs with both ends in ``nodes`` count."""
    tp = fp = fn = 0
    for a, b, is_match in labeled:
        if nodes is not None and (a not in nodes or b not in nodes):
            continue
        same = a in predicted and predicted.get(a) == predicted.get(b)
        tp += same and is_match
        fp += same and not is_match
        fn += is_match and not same
    return 1.0 if tp + fp + fn == 0 else 2.0 * tp / (2 * tp + fp + fn)


def check_f1(f1: float) -> str | None:
    return None if f1 >= F1_GATE else f"pairwise F1 {f1:.4f} < {F1_GATE}"


def check_clusters_equal(got: set, want: set) -> str | None:
    """(node, cluster_id) sets of an incremental run and a full rebuild."""
    if got == want:
        return None
    return (
        f"clusters differ from the full rebuild: {len(got - want)} rows only "
        f"incremental, {len(want - got)} rows only in the rebuild"
    )


def check_decisions(decisions, ids) -> str | None:
    """Invariants of a ``dedup_decisions`` table, given as (doc_id, keeper)
    rows over a corpus with ids ``ids``: each dropped doc appears once, its
    keeper sorts before it, no keeper is itself dropped, every id exists."""
    dropped = Counter(d for d, _ in decisions)
    dup = [d for d, c in dropped.items() if c > 1]
    if dup:
        return f"{len(dup)} docs dropped more than once, e.g. {dup[0]}"
    for doc, keeper in decisions:
        if doc not in ids or keeper not in ids:
            return f"unknown id in decision ({doc}, {keeper})"
        if not keeper < doc:
            return f"keeper {keeper} does not sort before {doc}"
        if keeper in dropped:
            return f"keeper {keeper} of {doc} is itself dropped"
    return None


def decision_groups(decisions) -> dict[str, str]:
    """node -> keeper for every doc named by a decision (keepers included)."""
    out = {keeper: keeper for _, keeper in decisions}
    out.update({doc: keeper for doc, keeper in decisions})
    return out
