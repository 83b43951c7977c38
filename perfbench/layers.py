"""Per-layer counters of one run and how they are summarised.

Layers are named by the project module the benchmark calls into
(``session``, ``context``, ``registry``, ``functions.similarity`` as
``similarity``, ``streaming.ingest`` as ``ingest``, ``sources.manifest``
as ``manifest``), by Spark's own layers
(``catalyst`` planning, ``exec`` execution, ``jvm``), by ``process`` for
the resident memory of the Python process plus the JVM, and ``trace``
for the cost of tracing itself.

Each sample is recorded under a metric name and an operation kind (a
registry row or SQL statement, an ingest epoch, or an ANN index kind). A metric is summarised one of three
ways:

- ``PASS``: total over one pass of the workload -- for every operation
  kind, the median of its samples, summed over kinds. One pass is every
  ``corpus_batch`` row once, or the timed epochs of the ingest round;
- ``MEDIAN``: the median over all samples;
- ``MAX``: the largest sample.

A metric a workload never records is reported as 0: that layer is not on
the workload's path.
"""

from __future__ import annotations

import time
from collections import defaultdict

from stats import median

PASS, MEDIAN, MAX = "pass", "median", "max"

CORPUS_ROWS = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_semantic_bounded", "text_quality",
    "text_perplexity_kn3", "corpus_profile", "pipeline_prepare_corpus", "docs_pack",
    "vocab_bpe_pairs", "sim_ann_lsh",
)

# SQL statements run through Context.sql in corpus_batch; each is its own
# DuckDB oracle
SQL_ROWS = {
    "sql_lang_source": (
        "SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars "
        "FROM documents GROUP BY lang, source"
    ),
    "sql_label_lang": (
        "SELECT e.label, d.lang, COUNT(*) AS n_docs, MAX(d.n_chars) AS max_chars "
        "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id "
        "WHERE d.n_chars > 250 GROUP BY e.label, d.lang"
    ),
    "sql_top_by_source": (
        "SELECT source, doc_id, n_chars FROM ("
        "SELECT source, doc_id, n_chars, ROW_NUMBER() OVER "
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS r FROM documents"
        ") t WHERE r <= 3"
    ),
}

# name -> (unit, summary)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", MEDIAN),
    "context.create_table_s": ("s", MEDIAN),
    "context.sql_s": ("s", PASS),
    "context.sql_jobs": ("count", PASS),
    "registry.build_s": ("s", PASS),
    "registry.build_jobs": ("count", PASS),
    "catalyst.analysis_ms": ("ms", PASS),
    "catalyst.optimization_ms": ("ms", PASS),
    "catalyst.planning_ms": ("ms", PASS),
    "exec.s": ("s", PASS),
    "exec.jobs": ("count", PASS),
    "exec.stages": ("count", PASS),
    "exec.tasks": ("count", PASS),
    "exec.input_bytes": ("bytes", PASS),
    "exec.shuffle_read_bytes": ("bytes", PASS),
    "exec.shuffle_write_bytes": ("bytes", PASS),
    "exec.spill_bytes": ("bytes", PASS),
    "exec.executor_run_s": ("s", PASS),
    "exec.task_skew": ("ratio", MEDIAN),
    "jvm.gc_s": ("s", MAX),
    "jvm.heap_peak_mb": ("MB", MAX),
    "process.peak_rss_mb": ("MB", MAX),
    "similarity.ivfpq_build_s": ("s", MEDIAN),
    "similarity.ivfpq_build_jobs": ("count", MEDIAN),
    "similarity.int8_build_s": ("s", MEDIAN),
    "similarity.int8_build_jobs": ("count", MEDIAN),
    "similarity.probe_s": ("s", PASS),
    "similarity.probe_jobs": ("count", PASS),
    "similarity.save_s": ("s", MEDIAN),
    "similarity.extend_s": ("s", MEDIAN),
    "similarity.recall_at_5": ("ratio", MEDIAN),
    "similarity.int8_recall_at_5": ("ratio", MEDIAN),
    "ingest.epoch_s": ("s", MEDIAN),
    "ingest.jobs_per_epoch": ("count", MEDIAN),
    "ingest.kept_ratio": ("ratio", MEDIAN),
    "ingest.replay_s": ("s", MEDIAN),
    "manifest.index_files": ("count", MAX),
    "manifest.compactions": ("count", PASS),
    "manifest.compaction_epoch_s": ("s", MEDIAN),
    "manifest.bytes_written": ("bytes", PASS),
    "manifest.stored_bytes_per_input_byte": ("ratio", MEDIAN),
    "op.self_s": ("s", MEDIAN),
    "trace.overhead_s": ("s", MEDIAN),
    "trace.op_p50_s": ("s", MEDIAN),
}
for _row in CORPUS_ROWS:
    PER_LAYER[f"registry.build_s.{_row}"] = ("s", MEDIAN)
    PER_LAYER[f"registry.build_jobs.{_row}"] = ("count", MEDIAN)
    PER_LAYER[f"exec.s.{_row}"] = ("s", MEDIAN)
    PER_LAYER[f"exec.jobs.{_row}"] = ("count", MEDIAN)
for _row in SQL_ROWS:
    PER_LAYER[f"context.sql_s.{_row}"] = ("s", MEDIAN)
    PER_LAYER[f"exec.s.{_row}"] = ("s", MEDIAN)
    PER_LAYER[f"exec.jobs.{_row}"] = ("count", MEDIAN)


class Layers:
    """Per-layer samples of one run. ``probe`` is a ``spans.SparkProbe``
    in the traced run and None otherwise; every recording method is then
    a no-op, so the untraced run sets no job groups and reads nothing."""

    def __init__(self, tracer, probe=None):
        self.tracer = tracer
        self.probe = probe
        self.samples: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        self._overhead = 0.0

    @property
    def on(self) -> bool:
        return self.probe is not None

    def add(self, name: str, value: float, kind: str = "") -> None:
        if name not in PER_LAYER:
            raise KeyError(f"undeclared per-layer metric {name!r}")
        self.samples[name][kind].append(float(value))

    def group(self, name: str) -> None:
        if self.on:
            self.probe.group(name)

    def record_group(self, group: str, kind: str) -> int:
        """Record the job group's exec.* counters; return its job count."""
        if not self.on:
            return 0
        t0 = time.perf_counter()
        g = self.probe.group_stats(group)
        for field in ("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes", "executor_run_s", "task_skew"):
            self.add(f"exec.{field}", getattr(g, field), kind)
        self._overhead += time.perf_counter() - t0
        return g.jobs

    def record_jobs(self, group: str, name: str | None, kind: str) -> int:
        """Return the job group's job count (jobs a build launched
        eagerly, say), recorded as ``name`` unless that is None."""
        if not self.on:
            return 0
        t0 = time.perf_counter()
        jobs = self.probe.group_jobs(group)
        if name is not None:
            self.add(name, jobs, kind)
        self._overhead += time.perf_counter() - t0
        return jobs

    def record_phases(self, df, kind: str) -> None:
        if not self.on:
            return
        t0 = time.perf_counter()
        for phase, ms in self.probe.phases_ms(df).items():
            self.add(f"catalyst.{phase}_ms", ms, kind)
        self._overhead += time.perf_counter() - t0

    def overhead(self, seconds: float) -> None:
        """Count ``seconds`` of tracing work done outside the probe."""
        self._overhead += seconds

    def end_op(self, kind: str) -> None:
        """Close one operation: its tracing overhead becomes a sample."""
        if self.on:
            self.add("trace.overhead_s", self._overhead, kind)
        self._overhead = 0.0

    def summary(self) -> dict[str, tuple[float, str]]:
        """Every declared metric, summarised; 0 where nothing was recorded."""
        out = {}
        for name, (unit, how) in PER_LAYER.items():
            by_kind = self.samples.get(name)
            if not by_kind:
                out[name] = (0.0, unit)
            elif how == PASS:
                out[name] = (sum(median(v) for v in by_kind.values()), unit)
            elif how == MEDIAN:
                out[name] = (median([x for v in by_kind.values() for x in v]), unit)
            else:
                out[name] = (max(x for v in by_kind.values() for x in v), unit)
        return out
