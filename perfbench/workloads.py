"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one returns.

A workload is built on a ``Context`` whose tables are registered, and on
``--seconds``, which fixes how many operations it times. The count depends
on ``--seconds`` alone, through a fixed nominal cost per operation, never
on how fast the program runs: the sample count and the percentile of the
tail then stay the same from commit to commit. A workload offers:

- ``warm_up(rng)``: untimed work before the first timed operation, which
  leaves the JVM, codegen and caches warm;
- ``ops(rng)``: the run's seeded timed operations, as (kind, callable);
- ``check()``: the answer checks, after the timed loop;
- ``trace_extra(rng)``: layers measured in the traced run only;
- ``named(samples, p50, timed)``: the workload's own figures under their
  workload-specific names (query_p50_s, epoch_p50_s, ...), each
  (value, unit);
- ``failures`` and ``checked``: wrong answers found, answers checked.

Answer checks never run inside a timed operation.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import duckdb
import numpy as np

from layers import CORPUS_ROWS, SQL_ROWS, Layers
from stats import TAIL_BEYOND, tail


class CorpusBatch:
    """The corpus-preparation registry rows over the documents table (and
    the embeddings table, for the ANN and semantic-dedup rows), and three
    SQL statements through ``Context.sql`` over the same tables. One
    operation is one row, timed from the call that builds its DataFrame
    to the end of a noop-sink action (full computation, no collect). A
    pass runs every row once, in a seeded order."""

    name = "corpus_batch"
    tables = ("documents", "embeddings")
    kinds = CORPUS_ROWS + tuple(SQL_ROWS)
    # nominal seconds of one warm pass; a run times --seconds // pass_s
    # passes, at least two
    pass_s = 12.0
    # first submitted to the warm-up's threads: the rows whose cold run
    # takes longest, so that no thread is left with one at the end
    slow_first = ("text_perplexity_kn3", "dedup_semantic_bounded", "sim_ann_lsh",
                  "corpus_profile")

    # IVF settings of the registry's sim_ann_ivfpq / sim_ann_ivf_int8 rows
    # and their recall@5 floors
    ann = {"n_centroids": 8}
    pq = {"m": 16, "ksub": 16}
    recall_floor = {"ivfpq": 0.75, "int8": 0.6}
    held_out = 200  # the last vectors by id: left out of the built index, appended by extend
    # 100 seeded queries: over 20,000 random sets of 100, IVF-PQ recall@5
    # stayed at or above 0.748 (mean 0.817); sets of 50 went down to 0.724
    probe_batches = 2
    probe_queries = 50

    def __init__(self, bc, paths: dict[str, str], layers: Layers, run_dir: str,
                 seconds: float):
        from blazingsql_spark.queries.registry import all_queries

        self.bc = bc
        self.spark = bc.spark
        self.paths = paths
        self.data_dir = os.path.dirname(paths["documents"])
        self.layers = layers
        self.run_dir = run_dir
        self.passes = self.timed_ops(seconds) // len(self.kinds)
        self.specs = {r: all_queries()[r] for r in CORPUS_ROWS}
        self.failures = 0
        self.checked = 0
        self.ops_run = 0
        self._got: dict = {}

    @classmethod
    def timed_ops(cls, seconds: float) -> int:
        return max(2, int(seconds // cls.pass_s)) * len(cls.kinds)

    def _build(self, kind: str):
        if kind in SQL_ROWS:
            return self.bc.sql(SQL_ROWS[kind])
        return self.specs[kind].fn(self.spark, self.data_dir)

    @staticmethod
    def _noop(df) -> None:
        """The timed action: compute every row, keep none."""
        df.write.format("noop").mode("overwrite").save()

    def warm_up(self, rng: np.random.Generator) -> None:
        """Collect every row once (``check`` compares these answers), then
        run every row once more the way a timed operation does; with the
        collect alone, the timed passes ran 12-15 % slower and the first
        of them 30 % slower than the last. The rows are independent, so
        one thread fewer than Spark has cores runs them side by side: a
        cold row mostly waits on class loading and code generation, and
        run one after another they took 27-33 s, which left no run budget
        for a third timed pass."""
        from concurrent.futures import ThreadPoolExecutor

        threads = max(1, self.spark.sparkContext.defaultParallelism - 1)
        order = self.slow_first + tuple(k for k in self.kinds if k not in self.slow_first)
        with ThreadPoolExecutor(threads) as pool:
            got = {k: pool.submit(lambda k=k: self._build(k).toPandas()) for k in order}
            self._got = {k: f.result() for k, f in got.items()}
            for f in [pool.submit(lambda k=k: self._noop(self._build(k))) for k in order]:
                f.result()

    def ops(self, rng: np.random.Generator):
        return [(str(kind), lambda kind=str(kind): self.run(kind))
                for _ in range(self.passes) for kind in rng.permutation(self.kinds)]

    def check(self) -> None:
        """Compare every row's warm-up answer with its DuckDB oracle."""
        from tests.conftest import compare_frames

        con = duckdb.connect()
        try:
            for t, p in self.paths.items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for kind in self.kinds:
                oracle = SQL_ROWS[kind] if kind in SQL_ROWS else self.specs[kind].oracle
                self.checked += 1
                try:
                    compare_frames(self._got[kind], con.execute(oracle).fetchdf(), kind)
                except AssertionError as e:
                    self.failures += 1
                    print(f"# wrong answer: {str(e)[:500]}", flush=True)
        finally:
            con.close()

    def run(self, kind: str) -> None:
        ly = self.layers
        self.ops_run += 1
        group = f"{kind}.{self.ops_run}"  # job groups accumulate: one per operation
        build = "context.sql" if kind in SQL_ROWS else "registry.build"
        ly.group(f"{group}.build")
        with ly.tracer.span(build):
            t0 = time.perf_counter()
            df = self._build(kind)
            build_s = time.perf_counter() - t0
        build_jobs = ly.record_jobs(f"{group}.build", f"{build}_jobs", kind)
        ly.record_phases(df, kind)
        ly.group(f"{group}.exec")
        with ly.tracer.span("exec"):
            t0 = time.perf_counter()
            self._noop(df)
            exec_s = time.perf_counter() - t0
        exec_jobs = ly.record_group(f"{group}.exec", kind)
        if ly.on:
            ly.add(f"{build}_s", build_s, kind)
            ly.add("exec.s", exec_s, kind)
            ly.add(f"{build}_s.{kind}", build_s, kind)
            ly.add(f"exec.s.{kind}", exec_s, kind)
            ly.add(f"exec.jobs.{kind}", exec_jobs, kind)
            if build == "registry.build":
                ly.add(f"registry.build_jobs.{kind}", build_jobs, kind)

    def trace_extra(self, rng: np.random.Generator) -> None:
        """The similarity layers, through the public ``functions.similarity``
        API over the embeddings table: build the IVF-PQ and IVF-int8
        indexes over all vectors but the held-out ones (the JVM is warm
        from the timed loop by then), probe each with seeded query
        batches (``prebuilt=``), save the IVF-PQ index,
        append the held-out vectors with ``extend_ann_index``, and probe
        the extended index. Checks recall@5 against ``cosine_topk`` at the
        registry's floors, and that the extended index holds every
        vector. The untraced run skips this: a cold index build costs more
        than its run budget leaves."""
        from pyspark.sql import functions as F

        from blazingsql_spark.functions import similarity as S

        ly = self.layers
        emb = self.spark.read.parquet(self.paths["embeddings"])
        ids = sorted(int(i) for i in emb.select("vec_id").toPandas()["vec_id"])
        held = ids[-self.held_out:]
        n_q = self.probe_batches * self.probe_queries
        queries = [int(i) for i in rng.permutation(ids[:-self.held_out])[:n_q]]
        base = emb.filter(~F.col("vec_id").isin(held)).persist()
        base.count()

        def query_df(qids):
            return emb.filter(F.col("vec_id").isin(qids)).select(
                F.col("vec_id").alias("query_id"), "embedding")

        def timed(name, fn):
            ly.group(name)
            with ly.tracer.span(name):
                t0 = time.perf_counter()
                out = fn()
                seconds = time.perf_counter() - t0
            return out, seconds, ly.record_jobs(name, None, "")

        def ivfpq():
            cents, books, encoded = S.ivfpq_build(base, **self.ann, **self.pq)
            encoded = encoded.persist()
            encoded.count()
            return cents, books, encoded

        def int8():
            cents, lists = S.ivf_int8_build(base, **self.ann)
            lists = lists.persist()
            lists.count()
            return cents, lists

        index = {}
        for kind, build in (("ivfpq", ivfpq), ("int8", int8)):
            index[kind], build_s, jobs = timed(f"similarity.{kind}_build", build)
            ly.add(f"similarity.{kind}_build_s", build_s)
            ly.add(f"similarity.{kind}_build_jobs", jobs)

        topk = {
            "ivfpq": lambda vecs, q, idx: S.ivfpq_topk(
                vecs, q, k=5, n_probe=6, **self.ann, **self.pq, prebuilt=idx),
            "int8": lambda vecs, q, idx: S.ivf_int8_topk(
                vecs, q, k=5, n_probe=6, **self.ann, prebuilt=idx),
        }
        found = {kind: [] for kind in topk}
        for b in range(self.probe_batches):
            q = query_df(queries[b * self.probe_queries:(b + 1) * self.probe_queries])
            for kind, fn in topk.items():
                got, probe_s, jobs = timed(f"similarity.probe.{kind}.{b}", lambda: fn(
                    base, q, index[kind]).select("query_id", "vec_id").toPandas())
                found[kind].append(got)
                ly.add("similarity.probe_s", probe_s, kind)
                ly.add("similarity.probe_jobs", jobs, kind)
        exact = S.cosine_topk(base, query_df(queries), k=5).select("query_id", "vec_id").toPandas()
        for kind, metric in (("ivfpq", "similarity.recall_at_5"),
                             ("int8", "similarity.int8_recall_at_5")):
            ly.add(metric, self._recall(kind, found[kind], exact))

        path = os.path.join(self.run_dir, "ann-index")
        _, save_s, _ = timed("similarity.save", lambda: S.save_ann_index(path, *index["ivfpq"]))
        new = emb.filter(F.col("vec_id").isin(held))
        _, extend_s, _ = timed("similarity.extend", lambda: S.extend_ann_index(
            self.spark, path, new, m=self.pq["m"]))
        ly.add("similarity.save_s", save_s)
        ly.add("similarity.extend_s", extend_s)
        extended = S.load_ann_index(self.spark, path)
        self.checked += 1
        if extended[2].count() != len(ids):
            self.failures += 1
            print(f"# wrong answer: extended index holds {extended[2].count()} of {len(ids)} "
                  "vectors", flush=True)
        q = query_df(queries)
        got = topk["ivfpq"](emb, q, extended).select("query_id", "vec_id").toPandas()
        exact = S.cosine_topk(emb, q, k=5).select("query_id", "vec_id").toPandas()
        self._recall("ivfpq", [got], exact)
        index["ivfpq"][-1].unpersist()
        index["int8"][-1].unpersist()
        base.unpersist()

    def _recall(self, kind: str, found: list, exact) -> float:
        """recall@5 of ``found`` against ``exact``; below the registry's
        floor counts as a wrong answer."""
        pairs = {tuple(r) for f in found for r in f[["query_id", "vec_id"]].itertuples(index=False)}
        want = set(exact[["query_id", "vec_id"]].itertuples(index=False, name=None))
        recall = len(pairs & want) / len(want)
        self.checked += 1
        if recall < self.recall_floor[kind]:
            self.failures += 1
            print(f"# wrong answer: {kind} recall@5 {recall:.3f} < {self.recall_floor[kind]}",
                  flush=True)
        return recall

    def named(self, samples: list[float], p50: float, timed: float) -> dict:
        value, pct = tail(samples)
        return {
            "query_p50_s": (p50, "s"),
            "query_tail_s": (value, "s"),
            "query_tail_percentile": (pct, "%"),
            "queries_per_s": (len(samples) / timed, "1/s"),
        }


class CorpusIngest:
    """``streaming.ingest.DedupIngest`` called directly as the foreachBatch
    handler, one seeded slice of the documents per epoch. A run is one
    round: it ingests the whole documents table into a fresh index and
    corpus in ``untimed`` + timed epochs, then replays one seeded epoch,
    timed on its own, and checks the corpus. The untimed epochs warm the
    JVM up and build the index the timed epochs check against: epoch 0
    finds no index at all, so timing it would mix a different operation
    into the samples."""

    name = "corpus_ingest"
    tables = ("documents",)
    # nominal seconds of one warm epoch; a run times --seconds // epoch_s
    # epochs, and at least 2 * TAIL_BEYOND + 1
    epoch_s = 1.55
    # enough to warm the JIT up: after only two cold epochs, the next few
    # ran 10-50 % slower than the rest of the round
    untimed = 4
    # a compacted index is index_partitions files; with one file per epoch
    # on top, compaction folds the index every second epoch from epoch 4
    index_partitions = 2
    max_index_files = 4

    def __init__(self, bc, paths: dict[str, str], layers: Layers, run_dir: str,
                 seconds: float):
        self.spark = bc.spark
        self.layers = layers
        self.root = os.path.join(run_dir, "ingest")
        self.epochs = self.untimed + self.timed_ops(seconds)
        self.docs = self.spark.read.parquet(paths["documents"])
        self.failures = 0
        self.checked = 0
        self.docs_ingested = 0

    @classmethod
    def timed_ops(cls, seconds: float) -> int:
        return max(2 * TAIL_BEYOND + 1, int(seconds // cls.epoch_s))

    def _batch(self, epoch: int):
        from pyspark.sql import functions as F

        return self._tagged.filter(F.col("__epoch") == epoch).drop("__epoch")

    def warm_up(self, rng: np.random.Generator) -> None:
        """Give every document a seeded epoch (equal slices of a seeded
        permutation), cache that, and ingest the untimed epochs."""
        import pandas as pd

        from blazingsql_spark.streaming.ingest import DedupIngest

        src = self.docs.select("doc_id", "text").toPandas()
        self.source = dict(zip(src["doc_id"].tolist(), src["text"].tolist()))
        ids = rng.permutation(sorted(self.source))
        epoch_of = np.repeat(np.arange(self.epochs),
                             [len(s) for s in np.array_split(ids, self.epochs)])
        keys = self.spark.createDataFrame(pd.DataFrame({"doc_id": ids, "__epoch": epoch_of}))
        self._tagged = self.docs.join(keys, "doc_id").persist()
        self._tagged.count()
        self._sizes = {e: int((epoch_of == e).sum()) for e in range(self.epochs)}
        self.input_bytes = sum(len(t.encode()) for t in self.source.values())
        self._replay = int(rng.integers(self.untimed, self.epochs))
        self._h = DedupIngest(
            self.spark, f"{self.root}/index", f"{self.root}/corpus",
            max_index_files=self.max_index_files, index_partitions=self.index_partitions,
        )
        self._version = 0
        for epoch in range(self.untimed):
            self._h(self._batch(epoch), epoch)
        self._seen = _data_files(self.root)

    def ops(self, rng: np.random.Generator):
        return [(f"epoch{e}", lambda e=e: self.run(e)) for e in range(self.untimed, self.epochs)]

    def run(self, epoch: int) -> None:
        ly = self.layers
        kind = f"epoch{epoch}"
        batch = self._batch(epoch)
        ly.group(kind)
        with ly.tracer.span("ingest.epoch"):
            t0 = time.perf_counter()
            self._h(batch, epoch)
            epoch_s = time.perf_counter() - t0
        self.docs_ingested += self._sizes[epoch]
        if ly.on:
            ly.add("ingest.epoch_s", epoch_s, kind)
            ly.add("ingest.jobs_per_epoch", ly.record_group(kind, kind), kind)
            self._record_manifest(epoch_s, kind)

    def _record_manifest(self, epoch_s: float, kind: str) -> None:
        from blazingsql_spark.sources import manifest as mf

        t0 = time.perf_counter()
        ly = self.layers
        index = f"{self.root}/index"
        man = mf.read_manifest(self.spark, index)
        version = man.get("version", 0) if man else 0
        compacted = version != self._version
        self._version = version
        ly.add("manifest.compactions", int(compacted), kind)
        if compacted:
            ly.add("manifest.compaction_epoch_s", epoch_s, kind)
        ly.add("manifest.index_files", _live_files(index, man), kind)
        written = 0
        for path, size in _data_files(self.root).items():
            if self._seen.get(path) != size:
                written += size
                self._seen[path] = size
        ly.add("manifest.bytes_written", written, kind)
        ly.overhead(time.perf_counter() - t0)

    def check(self) -> None:
        """Replay one epoch, then check that the replay left the corpus as
        it was and that the corpus holds only unchanged source documents,
        no two with the same text."""
        before = self._corpus_digest()
        t0 = time.perf_counter()
        self._h(self._batch(self._replay), self._replay)
        replay_s = time.perf_counter() - t0
        self.checked += 1
        if self._corpus_digest() != before:
            self.failures += 1
            print(f"# wrong answer: replaying epoch {self._replay} changed the corpus", flush=True)
        kept = self._check_kept()
        self.stored_bytes = sum(_data_files(self.root).values())
        if self.layers.on:
            self.layers.add("ingest.replay_s", replay_s)
            self.layers.add("ingest.kept_ratio", kept / len(self.source))
            self.layers.add("manifest.stored_bytes_per_input_byte",
                            self.stored_bytes / self.input_bytes)
        self._tagged.unpersist()
        shutil.rmtree(self.root)

    def trace_extra(self, rng: np.random.Generator) -> None:
        """Every layer of this workload is on its timed path."""

    def _corpus_digest(self) -> str:
        rows = self.spark.read.parquet(f"{self.root}/corpus").select("doc_id", "text").toPandas()
        h = hashlib.sha256()
        for doc_id, text in sorted(zip(rows["doc_id"].tolist(), rows["text"].tolist())):
            h.update(f"{doc_id}\t{text}\n".encode())
        return h.hexdigest()

    def _check_kept(self) -> int:
        """Count one check; return the number of documents kept."""
        kept = self.spark.read.parquet(f"{self.root}/corpus").select("doc_id", "text").toPandas()
        self.checked += 1
        foreign = sum(self.source.get(i) != t
                      for i, t in zip(kept["doc_id"].tolist(), kept["text"].tolist()))
        if foreign or kept["text"].duplicated().any() or kept["doc_id"].duplicated().any():
            self.failures += 1
            print(f"# wrong answer: corpus under {self.root} has {foreign} documents not in the "
                  "source, or repeats a document or a text", flush=True)
        return len(kept)

    def named(self, samples: list[float], p50: float, timed: float) -> dict:
        value, pct = tail(samples)
        return {
            "epoch_p50_s": (p50, "s"),
            "epoch_tail_s": (value, "s"),
            "epoch_tail_percentile": (pct, "%"),
            "docs_per_s": (self.docs_ingested / timed, "1/s"),
            "stored_bytes_per_input_byte": (self.stored_bytes / self.input_bytes, "ratio"),
        }


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _live_files(index: str, manifest: dict | None) -> int:
    """Data files in the index partitions the manifest declares live."""
    min_epoch = int(manifest["min_epoch"]) if manifest else 0
    bases = {int(b) for b in manifest.get("bases", [])} if manifest else set()
    n = 0
    for name in os.listdir(index):
        if not name.startswith("epoch_id="):
            continue
        epoch = int(name.split("=", 1)[1])
        if epoch >= min_epoch or epoch in bases:
            n += sum(not f.startswith((".", "_")) for f in os.listdir(os.path.join(index, name)))
    return n


WORKLOADS = {w.name: w for w in (CorpusBatch, CorpusIngest)}
