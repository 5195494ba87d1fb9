"""Layer spans for the traced run, recorded from outside the package.

A span is one forced prefix of an op: the layers of a composition are
called in the order the package composes them, each prefix is forced
with a ``noop`` sink after clearing Spark's cache, and the span's jobs
are tagged with ``SparkContext.setJobGroup``.  A layer's self cost is
its prefix cost minus the cost of the prefixes upstream of it.  Task
time, shuffle and spill come from Spark's event log (written
uncompressed), summed over the ``TaskEnd`` events of each span's jobs.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: str | None = None
    rows_out: int | None = None
    group: str = ""
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)

    def run(self, name: str, op: int, fn, parent: str | None = None) -> Span:
        """Time ``fn()`` (which returns the span's rows out, or None) as
        one span with its own job group."""
        sc = self.spark.sparkContext
        span = Span(name, op, 0.0, parent=parent, group=f"perfbench-{len(self.spans)}")
        sc.setJobGroup(span.group, name)
        span.start = time.time()
        try:
            span.rows_out = fn()
        finally:
            span.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.spans.append(span)
        return span

    def force(self, name: str, op: int, build, parent: str | None = None) -> Span:
        """Clear the cache, then force the prefix ``build()`` returns
        with a noop sink; rows out ride the same job as an Observation."""

        def go() -> int:
            self.spark.catalog.clearCache()
            obs = Observation(f"rows-{len(self.spans)}")
            df: DataFrame = build().observe(obs, F.count(F.lit(1)).alias("n"))
            df.write.format("noop").mode("overwrite").save()
            return int(obs.get["n"])

        return self.run(name, op, go, parent)

    def attach_event_log(self, log_dir: str) -> None:
        """Sum TaskEnd metrics onto spans: jobs carrying a span's group
        belong to it; untagged jobs (submitted from threads the package
        starts, which do not inherit the group) go to the span whose
        wall holds their submission time."""
        by_group = {s.group: s for s in self.spans}
        stage_span: dict[int, Span] = {}
        ends = []
        for path in glob.glob(f"{log_dir}/*"):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        span = by_group.get(group) or self._span_at(
                            ev.get("Submission Time", 0) / 1000.0
                        )
                        if span is not None:
                            for sid in ev.get("Stage IDs", []):
                                stage_span.setdefault(sid, span)
                    elif kind == "SparkListenerTaskEnd":
                        ends.append(ev)
        for ev in ends:
            span = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if span is None or not m:
                continue
            span.task_s += m.get("Executor Run Time", 0) / 1000.0
            span.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            span.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )

    def _span_at(self, t: float) -> Span | None:
        for s in self.spans:
            if s.start <= t <= s.end:
                return s
        return None


def layer_metrics(
    tracer: Tracer,
    layer: str,
    own: tuple[str, ...],
    upstream: tuple[str, ...] = (),
    rows_in: tuple[str, ...] | None = None,
) -> dict[str, float]:
    """Self metrics of ``layer``: per op, the summed spans named in
    ``own`` minus the summed spans named in ``upstream``; medians over
    ops.
    ``rows_in`` names the spans whose rows feed the layer, for layers
    that filter or dedup (``keep_ratio``)."""
    ops = sorted({s.op for s in tracer.spans if s.name in own})

    def total(names: tuple[str, ...], op: int, attr: str) -> float:
        return sum(
            getattr(s, attr) or 0 for s in tracer.spans if s.op == op and s.name in names
        )

    def med(attr: str) -> float:
        return statistics.median(
            total(own, op, attr) - total(upstream, op, attr) for op in ops
        )

    out = {
        f"{layer}.self_s": med("wall"),
        f"{layer}.task_s": med("task_s"),
        f"{layer}.shuffle_bytes": med("shuffle_bytes"),
        f"{layer}.spill_bytes": med("spill_bytes"),
        f"{layer}.rows_out": statistics.median(total(own, op, "rows_out") for op in ops),
    }
    if rows_in is not None:
        out[f"{layer}.keep_ratio"] = statistics.median(
            total(own, op, "rows_out") / max(total(rows_in, op, "rows_out"), 1)
            for op in ops
        )
    return out
