"""Spans around the program's layer entry points, and the event-log parser
that turns them into per-layer metrics.

A traced operation is one root span (layer ``op``). Wrappers installed by
:func:`install` open a child span around each public call into a layer and
tag every Spark job submitted meanwhile with the innermost span, through the
Spark local property :data:`SPAN_PROPERTY`. After the session stops, the
event log says which jobs, stages and tasks ran under which span.

Attribution limits:

- Spark plans are lazy. A layer's jobs run where an action forces them, so
  a stage span of ``catalog.run_stage`` includes its own commit, and a
  ``Catalog`` call made inside a stage span opens no span of its own.
- ``Catalog.read_committed`` returns a lazy DataFrame, so
  ``catalog.read_s`` covers file listing and footer reads only. The scan
  of the rows read runs later and is charged to the span that consumes
  them (``cluster`` or ``incremental`` in ``daily_increment``).
- ``dedup.minhash_lsh_pairs`` is checkpointed inside its span when traced,
  so the LSH work is not charged to the connected components that consume
  it. That is one barrier the untraced plan does not have.
- Counts read at a boundary (``cluster.edges_in``, ``dedup.lsh_pairs``) run
  one small job each in a ``probe`` span. Probe time is part of the traced
  operation's wall time and so of the tracing overhead.

Only :func:`install` imports the program; the rest is stdlib so the parser
can be tested without Spark.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

# run_stage stage name -> layer (module) that builds it
STAGE_LAYER = {
    "records": "extract",
    "blocking_keys": "blocking",
    "candidate_pairs": "pairs",
    "scored": "scoring",
    "clusters": "cluster",
}
LAYERS = (
    "extract", "blocking", "pairs", "scoring", "cluster",
    "catalog", "incremental", "dedup", "lineage",
)
LAYER_METRICS = (
    ("wall_s", "s"), ("self_s", "s"), ("task_s", "s"), ("busy", "ratio"),
    ("jobs", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("rows_out", "count"),
)
MB = 1e6


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span tree for one benchmark process.

    ``set_tag`` publishes the innermost span id to Spark; it is injected so
    the tracer runs without a SparkContext in the self-tests.
    """

    def __init__(self, set_tag=lambda tag: None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_tag = set_tag
        self._clock = clock

    @property
    def active(self) -> bool:
        return bool(self._stack)

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def within_stage(self) -> bool:
        return any(s.attrs.get("stage") for s in self._stack)

    def open(self, layer: str, name: str, **attrs) -> Span:
        parent = self.current.id if self._stack else None
        span = Span(len(self.spans), parent, layer, name, self._clock(), attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        self._set_tag(str(span.id))
        return span

    def close(self, span: Span) -> None:
        """Close ``span`` and every span still open inside it."""
        now = self._clock()
        while self._stack:
            top = self._stack.pop()
            top.end = now
            if top is span:
                break
        self._set_tag(str(self.current.id) if self._stack else None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        span = self.open(layer, name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    def subtree(self, root: Span) -> list[Span]:
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children[s.id])
        return out


# ---------------------------------------------------------------- event log


@dataclass
class SpanStats:
    jobs: int = 0
    task_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_written: int = 0
    bytes_written: int = 0


def parse_event_log(lines) -> dict[str, SpanStats]:
    """Per-span totals from a Spark JSON event log (one event per line).

    A job belongs to the span named by :data:`SPAN_PROPERTY` in its
    properties; a task to the span of the stage submission that ran it.
    Jobs and tasks without the property are collected under ``None``.
    """
    stats: dict = defaultdict(SpanStats)
    stage_tag: dict[tuple[int, int], str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            stats[(ev.get("Properties") or {}).get(SPAN_PROPERTY)].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            stage_tag[(info["Stage ID"], info["Stage Attempt ID"])] = tag
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            s = stats[stage_tag.get((ev["Stage ID"], ev["Stage Attempt ID"]))]
            s.task_ms += m.get("Executor Run Time", 0)
            s.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            out = m.get("Output Metrics", {})
            s.records_written += out.get("Records Written", 0)
            s.bytes_written += out.get("Bytes Written", 0)
    return dict(stats)


def op_metrics(
    tracer: Tracer, root: Span, stats: dict[str, SpanStats], cores: int
) -> dict[str, float]:
    """Per-layer metrics of one traced operation (the subtree of ``root``)."""
    spans = tracer.subtree(root)
    by_id = {s.id: s for s in spans}
    child_time = defaultdict(float)
    for s in spans:
        if s.parent in by_id:
            child_time[s.parent] += s.duration

    def ancestor_layers(s: Span) -> set[str]:
        out, p = set(), s.parent
        while p in by_id:
            out.add(by_id[p].layer)
            p = by_id[p].parent
        return out

    m: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        wall = sum(s.duration for s in mine if layer not in ancestor_layers(s))
        agg = SpanStats()
        for s in mine:
            st = stats.get(str(s.id))
            if st is None:
                continue
            for f in vars(agg):
                setattr(agg, f, getattr(agg, f) + getattr(st, f))
        task_s = agg.task_ms / 1000.0
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.self_s"] = sum(s.duration - child_time[s.id] for s in mine)
        m[f"{layer}.task_s"] = task_s
        m[f"{layer}.busy"] = task_s / (wall * cores) if wall > 0 else 0.0
        m[f"{layer}.jobs"] = agg.jobs
        m[f"{layer}.shuffle_write_mb"] = agg.shuffle_write_bytes / MB
        m[f"{layer}.spill_mb"] = agg.spill_bytes / MB
        m[f"{layer}.rows_out"] = agg.records_written
    cat = [s for s in spans if s.layer == "catalog"]
    m["catalog.write_s"] = sum(s.duration for s in cat if s.name != "read_committed")
    m["catalog.read_s"] = sum(s.duration for s in cat if s.name == "read_committed")
    m["catalog.write_mb"] = sum(
        stats[str(s.id)].bytes_written for s in cat if str(s.id) in stats
    ) / MB
    m["cluster.edges_in"] = sum(s.attrs.get("edges_in", 0) for s in spans)
    m["dedup.lsh_pairs"] = sum(s.attrs.get("lsh_pairs", 0) for s in spans)
    covered = child_time[root.id]
    m["trace.op_wall_s"] = root.duration
    m["trace.uncovered_share"] = (
        max(0.0, root.duration - covered) / root.duration if root.duration > 0 else 0.0
    )
    return m


# ----------------------------------------------------------------- wrappers


def install(tracer: Tracer):
    """Wrap the public calls into each layer with spans. Returns an
    ``uninstall`` callable that restores the originals.

    Wrappers only trace while an operation span is open, so untraced
    operations in the same process run the program unchanged.
    """
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import (
        cluster,
        dedup,
        pairs,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans import (
        incremental,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources import (
        catalog,
    )

    saved = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def plain(layer, name):
        def make(orig):
            def wrapper(*a, **kw):
                if not tracer.active:
                    return orig(*a, **kw)
                with tracer.span(layer, name):
                    return orig(*a, **kw)

            return wrapper

        return make

    def catalog_method(name):
        def make(orig):
            def wrapper(self, *a, **kw):
                # inside a stage span the commit belongs to the stage
                if not tracer.active or tracer.within_stage():
                    return orig(self, *a, **kw)
                with tracer.span("catalog", name):
                    return orig(self, *a, **kw)

            return wrapper

        return make

    def run_stage(orig):
        def wrapper(cat, spark, name, build, *a, **kw):
            if not tracer.active:
                return orig(cat, spark, name, build, *a, **kw)
            with tracer.span(STAGE_LAYER.get(name, name), name, stage=name):
                out = orig(cat, spark, name, build, *a, **kw)
            if name == "clusters":
                # the job tail after the last stage: lineage rows + counts;
                # closed with the operation span
                tracer.open("lineage", "job_tail")
            return out

        return wrapper

    def probe(df, attr):
        with tracer.span("probe", attr) as s:
            s.attrs[attr] = df.count()

    def connected_components(orig):
        def wrapper(edges, *a, **kw):
            if not tracer.active:
                return orig(edges, *a, **kw)
            with tracer.span("cluster", "connected_components"):
                probe(edges, "edges_in")
                return orig(edges, *a, **kw)

        return wrapper

    def minhash_lsh_pairs(orig):
        def wrapper(*a, **kw):
            if not tracer.active:
                return orig(*a, **kw)
            with tracer.span("dedup", "minhash_lsh_pairs"):
                # the barrier that keeps LSH work out of the CC spans
                out = orig(*a, **kw).localCheckpoint(eager=True)
                probe(out, "lsh_pairs")
                return out

        return wrapper

    patch(catalog, "run_stage", run_stage)
    for meth in ("write_committed", "append_committed", "read_committed"):
        patch(catalog.Catalog, meth, catalog_method(meth))
    patch(cluster, "connected_components", connected_components)
    patch(incremental, "incremental_reconcile", plain("incremental", "incremental_reconcile"))
    patch(pairs, "delta_candidate_pairs", plain("pairs", "delta_candidate_pairs"))
    patch(dedup, "dedup_decisions", plain("dedup", "dedup_decisions"))
    patch(dedup, "dedup_decisions_from_edges", plain("dedup", "dedup_decisions_from_edges"))
    patch(dedup, "minhash_lsh_pairs", minhash_lsh_pairs)

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


EXTRA_METRICS = (
    ("pairs.candidates", "count", "lower"),
    ("scoring.pairs_per_s", "1/s", "higher"),
    ("scoring.match_ratio", "ratio", "higher"),
    ("cluster.edges_in", "count", "lower"),
    ("catalog.write_s", "s", "lower"),
    ("catalog.write_mb", "MB", "lower"),
    ("catalog.read_s", "s", "lower"),
    ("dedup.lsh_pairs", "count", "lower"),
    ("trace.op_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.uncovered_share", "ratio", "lower"),
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every metric a traced run reports."""
    out = [
        (f"{layer}.{m}", unit, "higher" if m == "busy" else "lower")
        for layer in LAYERS
        for m, unit in LAYER_METRICS
    ]
    return out + list(EXTRA_METRICS)
