"""Seeded inputs for the workloads. Everything here depends only on the
seed and the sizes passed in."""

from __future__ import annotations

import bisect
import itertools
import random
import re

_JOURNAL = re.compile(r"^(?:pkp:J|oa:S)(\d+)")


def journal_of(doc_id: str) -> int:
    return int(_JOURNAL.match(doc_id).group(1))


def linkage_corpus(seed: int, n_journals: int):
    """``synth.generate`` documents plus the generator's ground truth, its
    labeled pairs as ``(left_id, right_id, is_match)``.

    Two OpenAlex copies per matched journal, so clusters have three members
    and connected components must close a transitive pair.
    """
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import synth

    corpus = synth.generate(seed=seed, n_journals=n_journals, oa_copies=2)
    labeled = [(p["left_id"], p["right_id"], p["is_match"]) for p in corpus.labeled_pairs]
    return corpus.documents, labeled


def split_by_journal(docs, n_base: int, batch_journals: int, n_batches: int):
    """Base documents (journals below ``n_base``) and ``n_batches`` batches of
    the next ``batch_journals`` journals each: a new journal arrives with
    all its documents."""
    base = [d for d in docs if journal_of(d["doc_id"]) < n_base]
    batches = [
        [
            d for d in docs
            if 0 <= journal_of(d["doc_id"]) - n_base - b * batch_journals < batch_journals
        ]
        for b in range(n_batches)
    ]
    return base, batches


VOCAB = 20_000  # words
ZIPF_S = 1.0
FAMILY_SHARE = 0.1  # of the documents
EDIT_EVERY = 20  # words per edit between chain neighbours: Jaccard ~0.7
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zu", "pi", "da", "fe", "go", "hu", "ji"]


def near_dup_corpus(seed: int, n_docs: int):
    """(doc_id, text) rows and the planted near-duplicate families
    (doc_id -> family label).

    Words follow a Zipf law over a synthetic vocabulary; a document has
    30-120 words. ``FAMILY_SHARE`` of the documents sit in families whose
    sizes cycle through 2-5, so every seed plants the same number of
    duplicates. A family is a chain: each member is one edit pass (about
    one word in ``EDIT_EVERY`` replaced, inserted or deleted) away from the
    previous one, so the chain ends can be far apart and only the links are
    near. Ids are shuffled so family members are not adjacent.
    """
    rng = random.Random(seed)
    words: set[str] = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4))))
    lexicon = sorted(words)
    rng.shuffle(lexicon)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(VOCAB)))

    def draw(k):
        return [lexicon[bisect.bisect_left(cum, rng.random() * cum[-1])] for _ in range(k)]

    sizes = []
    while sum(sizes) < FAMILY_SHARE * n_docs:
        sizes.append(2 + len(sizes) % 4)
    texts: list[str] = []
    families: list[list[int]] = []
    for size in sizes:
        doc = draw(rng.randint(30, 120))
        families.append([])
        for k in range(size):
            if k:
                doc = list(doc)
                for _ in range(max(1, len(doc) // EDIT_EVERY)):
                    j, op = rng.randrange(len(doc)), rng.random()
                    if op < 0.5:
                        doc[j] = draw(1)[0]
                    elif op < 0.75 or len(doc) <= 30:
                        doc.insert(j, draw(1)[0])
                    else:
                        del doc[j]
            families[-1].append(len(texts))
            texts.append(" ".join(doc))
    while len(texts) < n_docs:
        texts.append(" ".join(draw(rng.randint(30, 120))))
    order = list(range(len(texts)))
    rng.shuffle(order)
    ids = {old: f"d{new:07d}" for new, old in enumerate(order)}
    rows = [(ids[i], t) for i, t in enumerate(texts)]
    truth = {ids[i]: ids[f[0]] for f in families for i in f}
    return rows, truth
