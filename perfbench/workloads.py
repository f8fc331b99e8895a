"""The three workloads. Each one prepares seeded inputs (cached outside
all timing); the harness then runs untimed warm-up operations and timed
operations that call the program's production entry points, and checks
every timed output.

An operation is split into ``before`` (untimed: fresh output, file
snapshot), ``call`` (the timed call into the program) and ``after``
(untimed: read the output back and check it).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
from dataclasses import dataclass, field

from . import checks, corpora

# tools/bench_scaling.py's caps: the publisher-domain blocks are unbounded
# by default
CAPS = ["--max-block-size", "2000", "--hot-pair-threshold", "100000"]


@dataclass
class OpResult:
    f1: float
    write_mb: float
    error: str | None = None
    counts: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0


def _files(root: str) -> dict[str, tuple]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _created(before: dict, after: dict) -> dict[str, int]:
    """Files of ``after`` that are new or rewritten since ``before``."""
    return {p: v[2] for p, v in after.items() if before.get(p) != v}


def _parquet_rows(paths, column: str | None = None) -> int:
    """Row count of parquet files (footer only), or the count of true values
    in a boolean ``column``."""
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        if column is None:
            total += pq.ParquetFile(p).metadata.num_rows
        else:
            col = pq.read_table(p, columns=[column]).column(column)
            total += sum(1 for v in col.to_pylist() if v)
    return total


def _linkage_counts(created: dict[str, int], out: str) -> dict:
    def table(name):
        prefix = os.path.join(out, name) + os.sep
        return [p for p in created if p.startswith(prefix) and p.endswith(".parquet")]

    return {
        "candidates": _parquet_rows(table("candidate_pairs")),
        "scored": _parquet_rows(table("scored")),
        "matches": _parquet_rows(table("scored"), "is_match_pred"),
    }


def _clusters(spark, out: str) -> dict[str, str]:
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
        Catalog,
    )

    rows = Catalog(out).read_committed(spark, "clusters").collect()
    return {r["node"]: r["cluster_id"] for r in rows}


@contextlib.contextmanager
def _cached(path: str):
    """Yield a staging path to fill; publish it at ``path`` atomically.
    Skips the body when ``path`` already exists."""
    if os.path.exists(path):
        yield None
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    yield tmp
    os.replace(tmp, path)


def _write_docs(spark, docs, path):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import schemas

    with _cached(path) as tmp:
        if tmp:
            spark.createDataFrame(docs, schema=schemas.DOCUMENTS).write.parquet(tmp)


def _write_json(obj, path):
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_json(path):
    with open(path) as f:
        return json.load(f)


class Workload:
    name = ""
    size = 0

    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    def has_next(self) -> bool:
        return True

    def finish(self) -> str | None:
        """Check made once after the last timed operation; an error fails
        that operation."""
        return None


class FullRebuild(Workload):
    """``jobs/reconcile_job.main`` over a seeded corpus: every layer of the
    flagship path does real work and commits through the catalog."""

    name = "full_rebuild"
    size = 400  # journals: 962 docs, ~27k candidate pairs

    def prepare(self):
        c = self.ctx.cache
        if not os.path.exists(f"{c}/truth.json"):
            docs, truth = corpora.linkage_corpus(self.ctx.seed, self.size)
            _write_docs(self.spark, docs, f"{c}/docs.parquet")
            _write_json({"truth": truth, "ids": [d["doc_id"] for d in docs]}, f"{c}/truth.json")
        t = _read_json(f"{c}/truth.json")
        self.truth, self.ids = t["truth"], t["ids"]

    def before(self, i):
        self.out = os.path.join(self.ctx.work, f"full_{i}")

    def call(self):
        from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.jobs import (
            reconcile_job,
        )

        with contextlib.redirect_stdout(sys.stderr):
            reconcile_job.main(
                ["--documents", f"{self.ctx.cache}/docs.parquet", "--output", self.out,
                 "--run-id", "perfbench"] + CAPS
            )

    def after(self, traced: bool) -> OpResult:
        created = _created({}, _files(self.out))
        f1 = checks.labeled_f1(_clusters(self.spark, self.out), self.truth)
        counts = _linkage_counts(created, self.out) if traced else {}
        return OpResult(f1, sum(created.values()) / 1e6, checks.check_f1(f1), counts)


class DailyIncrement(Workload):
    """``jobs/incremental_job.main`` folding batches of ~1% new journals into
    a committed full run: seeded CC, catalog reads, appends and the clusters
    rewrite dominate while extract, blocking and scoring see a few docs.
    Warm-up folds are real folds of the chain: the final check covers them."""

    name = "daily_increment"
    size = 400  # base journals
    batch_journals = 4
    n_batches = 8

    def prepare(self):
        c = self.ctx.cache
        if not os.path.exists(f"{c}/truth.json"):
            docs, truth = corpora.linkage_corpus(
                self.ctx.seed, self.size + self.batch_journals * self.n_batches
            )
            base, batches = corpora.split_by_journal(
                docs, self.size, self.batch_journals, self.n_batches
            )
            _write_docs(self.spark, base, f"{c}/base.parquet")
            for b, batch in enumerate(batches):
                _write_docs(self.spark, batch, f"{c}/batch_{b}.parquet")
            _write_json(
                {
                    "truth": truth,
                    "ids": [[d["doc_id"] for d in part] for part in [base] + batches],
                },
                f"{c}/truth.json",
            )
        t = _read_json(f"{c}/truth.json")
        self.truth, self.ids = t["truth"], t["ids"]
        with _cached(f"{c}/base_catalog") as tmp:
            if tmp:
                from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.jobs import (
                    reconcile_job,
                )

                with contextlib.redirect_stdout(sys.stderr):
                    reconcile_job.main(
                        ["--documents", f"{c}/base.parquet", "--output", tmp,
                         "--run-id", "perfbench"] + CAPS
                    )
        # every run folds into its own copy of the committed base
        self.out = os.path.join(self.ctx.work, "catalog")
        shutil.copytree(f"{c}/base_catalog", self.out)
        self.folded = 0

    def has_next(self):
        return self.folded < self.n_batches

    def before(self, i):
        self.snapshot = _files(self.out)

    def call(self):
        from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.jobs import (
            incremental_job,
        )

        batch = f"{self.ctx.cache}/batch_{self.folded}.parquet"
        self.folded += 1
        with contextlib.redirect_stdout(sys.stderr):
            incremental_job.main(["--new-documents", batch, "--output", self.out] + CAPS)

    def after(self, traced: bool) -> OpResult:
        created = _created(self.snapshot, _files(self.out))
        self.clusters = _clusters(self.spark, self.out)
        nodes = {d for part in self.ids[: self.folded + 1] for d in part}
        f1 = checks.labeled_f1(self.clusters, self.truth, nodes)
        counts = _linkage_counts(created, self.out) if traced else {}
        return OpResult(f1, sum(created.values()) / 1e6, checks.check_f1(f1), counts)

    def finish(self):
        """The folded catalog's clusters equal a full rebuild over the base
        plus every folded batch (cached per seed and batch count)."""
        ref_path = f"{self.ctx.cache}/rebuild_{self.folded}.json"
        if not os.path.exists(ref_path):
            _write_json(sorted(self._rebuild().items()), ref_path)
        want = {tuple(r) for r in _read_json(ref_path)}
        return checks.check_clusters_equal(set(self.clusters.items()), want)

    def _rebuild(self) -> dict[str, str]:
        from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
            reconcile,
        )

        c = self.ctx.cache
        paths = [f"{c}/base.parquet"] + [
            f"{c}/batch_{b}.parquet" for b in range(self.folded)
        ]
        res = reconcile(
            self.spark.read.parquet(*paths), max_block_size=2000,
            hot_pair_threshold=100_000,
        )
        try:
            return {r["node"]: r["cluster_id"] for r in res.clusters.collect()}
        finally:
            res.unpersist()


class NearDup(Workload):
    """``operators/dedup.dedup_decisions`` over a seeded text corpus with
    planted chained near-duplicate families; the decisions are written as
    parquet. MinHash LSH dominates, CC runs on chain-shaped graphs and the
    linkage layers are not called."""

    name = "near_dup"
    size = 10_000  # docs

    def prepare(self):
        c = self.ctx.cache
        if not os.path.exists(f"{c}/truth.json"):
            rows, truth = corpora.near_dup_corpus(self.ctx.seed, self.size)
            with _cached(f"{c}/docs.parquet") as tmp:
                if tmp:
                    self.spark.createDataFrame(rows, "doc_id string, text string").write.parquet(tmp)
            _write_json({"truth": truth, "ids": [r[0] for r in rows]}, f"{c}/truth.json")
        t = _read_json(f"{c}/truth.json")
        self.truth, self.ids = t["truth"], t["ids"]
        self.id_set = set(self.ids)

    def before(self, i):
        self.out = os.path.join(self.ctx.work, f"near_dup_{i}")

    def call(self):
        from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import (
            dedup,
        )

        decisions = dedup.dedup_decisions(self.spark.read.parquet(f"{self.ctx.cache}/docs.parquet"))
        # the decisions table is the operator's deliverable: its write
        # belongs to the dedup layer
        with self.ctx.span("dedup", "write_decisions"):
            decisions.write.parquet(self.out)

    def after(self, traced: bool) -> OpResult:
        created = _created({}, _files(self.out))
        rows = [(r["doc_id"], r["keeper"]) for r in self.spark.read.parquet(self.out).collect()]
        f1 = checks.pairwise_f1(checks.decision_groups(rows), self.truth, self.ids)
        error = checks.check_decisions(rows, self.id_set) or checks.check_f1(f1)
        return OpResult(f1, sum(created.values()) / 1e6, error)


WORKLOADS = {w.name: w for w in (FullRebuild, DailyIncrement, NearDup)}
