"""Per-layer view of a run: the tracer the workloads call, the wrappers a
traced run installs on the package's public functions, and the per-layer
metrics derived from spans and the Spark event log.

The metric names follow the package's modules (``session``,
``streaming``, ``plans``, ``sinks.publish``, ``sinks.iceberg``,
``sources.datasource``, ``operators.quality``, ``functions.*``).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext

from spans import (TASK_FIELDS, Recorder, driver_gap, median,
                   parse_event_log, span_jobs)

ICEBERG_COMMITS = ("upsert_dataframe", "delete_equality", "delete_positions",
                   "append_dataframe")
ICEBERG_MAINTENANCE = ("rewrite_data_files", "expire_snapshots",
                       "remove_orphan_files")

# spans that also get the event-log totals (TASK_FIELDS each)
EVENT_LOG_SPANS = (
    "streaming.run_streaming", "plans.run", "sinks.publish.stage",
    *(f"sinks.iceberg.{m}" for m in ICEBERG_COMMITS),
    "sinks.iceberg.scan", "sinks.iceberg.changelog",
    "sinks.iceberg.rewrite_data_files",
    "functions.text.score_filter", "functions.dedup.keep_best",
    "functions.dedup.minhash_lsh_pairs", "functions.graph.connected_components",
    "functions.text.chunk_token_windows",
)

# (name, unit, better)
BASE_METRICS = [
    ("session.get_spark_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("streaming.run_streaming_s", "s", "lower"),
    ("streaming.self_s", "s", "lower"),
    ("plans.run_s", "s", "lower"),
    ("plans.run.self_s", "s", "lower"),
    ("plans.run.spark_jobs", "count", "lower"),
    ("plans.run.driver_gap_s", "s", "lower"),
    ("sinks.publish.stage_s", "s", "lower"),
    ("sinks.publish.commit_s", "s", "lower"),
    ("sinks.publish.files_written", "count", "lower"),
    ("sinks.publish.bytes_per_input_byte", "ratio", "lower"),
    ("operators.quality.pass_ratio", "ratio", "higher"),
    *((f"sinks.iceberg.{m}_s", "s", "lower") for m in ICEBERG_COMMITS),
    ("sinks.iceberg.metadata_s", "s", "lower"),
    ("sinks.iceberg.metadata_calls_per_commit", "count", "lower"),
    ("sinks.iceberg.commit.driver_gap_s", "s", "lower"),
    ("sinks.iceberg.metadata_files_per_commit", "count", "lower"),
    ("sinks.iceberg.metadata_bytes_per_commit", "bytes", "lower"),
    ("sinks.iceberg.live_delete_files", "count", "lower"),
    ("sinks.iceberg.scan_s", "s", "lower"),
    ("sources.datasource.iceberg_plan_s", "s", "lower"),
    ("sources.datasource.iceberg_partitions", "count", "lower"),
    ("sinks.iceberg.changelog_s", "s", "lower"),
    ("sinks.iceberg.changelog.spark_jobs", "count", "lower"),
    *((f"sinks.iceberg.{m}_s", "s", "lower") for m in ICEBERG_MAINTENANCE),
    ("sinks.iceberg.bytes_rewritten", "bytes", "lower"),
    ("functions.text.score_filter_s", "s", "lower"),
    ("functions.dedup.keep_best_s", "s", "lower"),
    ("functions.dedup.minhash_lsh_pairs_s", "s", "lower"),
    ("functions.graph.connected_components_s", "s", "lower"),
    ("functions.graph.spark_jobs", "count", "lower"),
    ("functions.text.chunk_token_windows_s", "s", "lower"),
]
TASK_UNITS = {"tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
              "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
              "spill_bytes": "bytes"}
PER_LAYER = BASE_METRICS + [
    (f"{s}.{f}", TASK_UNITS[f], "lower")
    for s in EVENT_LOG_SPANS for f in TASK_FIELDS]


class Tracer:
    """What the workloads call. Untraced, spans are bare timers and the
    per-layer probes do nothing; traced, spans go to a Recorder."""

    def __init__(self, recorder: Recorder | None = None):
        self.rec = recorder
        self.notes: dict[int, dict] = {}  # trace id -> counts

    @property
    def on(self) -> bool:
        return self.rec is not None

    def new_trace(self) -> None:
        if self.rec is not None:
            self.rec.new_trace()

    @contextmanager
    def span(self, name: str, timer: dict | None = None, **attrs):
        t0 = time.perf_counter()
        try:
            if self.rec is not None:
                with self.rec.span(name, **attrs) as sp:
                    yield sp
            else:
                yield _Detached(attrs)
        finally:
            if timer is not None:
                timer[name] = time.perf_counter() - t0

    def note(self, **counts) -> None:
        if self.rec is not None:
            per = self.notes.setdefault(self.rec.trace_id, {})
            for k, v in counts.items():
                per.setdefault(k, []).append(v)

    def commit_probe(self, location: str):
        """Count the files and bytes a commit adds under metadata/,
        listed from outside the package."""
        if self.rec is None:
            return nullcontext()
        return self._commit_probe(os.path.join(location, "metadata"))

    @contextmanager
    def _commit_probe(self, meta: str):
        before = _listing(meta)
        yield
        after = _listing(meta)
        new = set(after) - set(before)
        self.note(metadata_files=len(new),
                  metadata_bytes=sum(after[p] for p in new))

    def live_delete_files(self, table) -> int | None:
        if self.rec is None:
            return None
        return sum(1 for r in table.inspect("files").select("content")
                   .collect() if r[0] != 0)


class _Detached:
    def __init__(self, attrs):
        self.attrs = attrs


def _listing(path: str) -> dict[str, int]:
    try:
        return {e.name: e.stat().st_size for e in os.scandir(path)}
    except FileNotFoundError:
        return {}


def install(rec: Recorder) -> None:
    """Wrap the package's public functions the workloads reach."""
    from gobblin_spark import session
    from gobblin_spark.functions import graph
    from gobblin_spark.plans import pipeline
    from gobblin_spark.sinks import publish
    from gobblin_spark.sinks.iceberg import IcebergTable

    def staged(sp, out, args, kwargs):
        if out.write is not None:
            sp.attrs.update(files=out.write.files,
                            bytes=out.write.bytes_written)

    rec.inherit_into_pools()
    rec.wrap(session, "get_spark", "session.get_spark")
    rec.wrap(pipeline, "run_streaming", "streaming.run_streaming")
    rec.wrap(pipeline, "run", "plans.run")
    rec.wrap(publish, "stage", "sinks.publish.stage", on_result=staged)
    rec.wrap(publish, "commit", "sinks.publish.commit")
    for m in ICEBERG_COMMITS + ICEBERG_MAINTENANCE + ("metadata",):
        rec.wrap(IcebergTable, m, f"sinks.iceberg.{m}")
    rec.wrap(graph, "connected_components",
             "functions.graph.connected_components")


def event_log_jobs(log_dir: str, app_id: str):
    path = os.path.join(log_dir, app_id)
    with open(path) as f:
        return parse_event_log(f)


def per_layer(rec: Recorder, tracer: Tracer, jobs, first_trace: int) -> dict:
    """Medians over the timed phase (traces >= first_trace); the
    session metrics are over every set-up."""
    kids = rec.children()
    incl = span_jobs(rec, jobs)
    timed = [s for s in rec.spans if s.end is not None
             and (s.trace >= first_trace or s.name.startswith("session."))]
    by_name: dict[str, list] = {}
    for s in timed:
        by_name.setdefault(s.name, []).append(s)

    def walls(name):
        return [s.wall for s in by_name.get(name, ())]

    def descendants(sp):
        stack = list(kids.get(sp.sid, ()))
        while stack:
            c = stack.pop()
            yield c
            stack.extend(kids.get(c.sid, ()))

    notes = {k: v for k, v in tracer.notes.items() if k >= first_trace}

    def noted(key):
        return [x for per in notes.values() for x in per.get(key, ())]

    def per_trace(name, attr):
        sums: dict[int, float] = {}
        for s in by_name.get(name, ()):
            sums[s.trace] = sums.get(s.trace, 0) + s.attrs.get(attr, 0)
        return sums

    out = {}
    for name in ("session.get_spark", "session.warmup",
                 "streaming.run_streaming", "plans.run",
                 "sinks.publish.stage", "sinks.publish.commit",
                 "sinks.iceberg.scan", "sinks.iceberg.changelog",
                 *(f"sinks.iceberg.{m}" for m in ICEBERG_MAINTENANCE),
                 "functions.text.score_filter", "functions.dedup.keep_best",
                 "functions.dedup.minhash_lsh_pairs",
                 "functions.graph.connected_components",
                 "functions.text.chunk_token_windows"):
        out[f"{name}_s"] = median(walls(name))
    rs = by_name.get("streaming.run_streaming", [])
    out["streaming.self_s"] = median([rec.self_time(s, kids) for s in rs])
    pr = by_name.get("plans.run", [])
    out["plans.run.self_s"] = median([rec.self_time(s, kids) for s in pr])
    out["plans.run.spark_jobs"] = median([len(incl.get(s.sid, ()))
                                          for s in pr])
    out["plans.run.driver_gap_s"] = median(
        [driver_gap(s, incl.get(s.sid, [])) for s in pr])
    files = per_trace("sinks.publish.stage", "files")
    out["sinks.publish.files_written"] = median(list(files.values()))
    wrote = per_trace("sinks.publish.stage", "bytes")
    out["sinks.publish.bytes_per_input_byte"] = median(
        [wrote.get(t, 0) / per["input_bytes"][0] for t, per in notes.items()
         if per.get("input_bytes")])
    out["operators.quality.pass_ratio"] = median(noted("pass_ratio"))

    # Iceberg commits: the call the client made, not the ones nested in
    # it (upsert_dataframe commits through delete_equality + append)
    commits = [s for m in ICEBERG_COMMITS
               for s in by_name.get(f"sinks.iceberg.{m}", ())
               if s.parent is None
               or not rec.spans[s.parent].name.startswith("sinks.iceberg.")]
    for m in ICEBERG_COMMITS:
        out[f"sinks.iceberg.{m}_s"] = median(
            [s.wall for s in commits if s.name == f"sinks.iceberg.{m}"])
    md = [[d for d in descendants(s) if d.name == "sinks.iceberg.metadata"]
          for s in commits]
    out["sinks.iceberg.metadata_s"] = median(
        [sum(d.wall for d in ds) for ds in md])
    out["sinks.iceberg.metadata_calls_per_commit"] = median(
        [len(ds) for ds in md])
    out["sinks.iceberg.commit.driver_gap_s"] = median(
        [driver_gap(s, incl.get(s.sid, [])) for s in commits])
    out["sinks.iceberg.metadata_files_per_commit"] = median(
        noted("metadata_files"))
    out["sinks.iceberg.metadata_bytes_per_commit"] = median(
        noted("metadata_bytes"))
    out["sinks.iceberg.live_delete_files"] = median(noted("live_delete_files"))
    out["sources.datasource.iceberg_plan_s"] = median(
        walls("sources.datasource.iceberg_plan"))
    out["sources.datasource.iceberg_partitions"] = median(
        [s.attrs.get("partitions", 0)
         for s in by_name.get("sources.datasource.iceberg_plan", ())])
    out["sinks.iceberg.changelog.spark_jobs"] = median(
        [len(incl.get(s.sid, ()))
         for s in by_name.get("sinks.iceberg.changelog", ())])
    out["sinks.iceberg.bytes_rewritten"] = median(noted("bytes_rewritten"))
    out["functions.graph.spark_jobs"] = median(
        [len(incl.get(s.sid, ()))
         for s in by_name.get("functions.graph.connected_components", ())])

    for name in EVENT_LOG_SPANS:
        spans = (commits if name.startswith("sinks.iceberg.")
                 and name.rsplit(".", 1)[1] in ICEBERG_COMMITS
                 else by_name.get(name, ()))
        spans = [s for s in spans if s.name == name]
        for f in TASK_FIELDS:
            out[f"{name}.{f}"] = median(
                [sum(j.totals[f] for j in incl.get(s.sid, ()))
                 for s in spans])
    missing = {n for n, _, _ in PER_LAYER} - set(out)
    if missing:
        raise KeyError(f"per-layer metrics not derived: {sorted(missing)}")
    return out
