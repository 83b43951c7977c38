"""Self-tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/tests
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from layers import PER_LAYER, Layers  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from stats import (  # noqa: E402
    METRIC_NAME, check_metric_name, op_median, quantile, tail, tail_percentile,
)


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- tail rule


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    values = [float(i) for i in range(n, 0, -1)]  # distinct, unsorted
    pct = tail_percentile(n)
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    # the order statistic at that percentile has exactly ten samples above
    at = sorted(values)[round(pct / 100.0 * n) - 1]
    assert sum(v > at for v in values) == 10
    # the next sample up would leave only nine beyond it
    higher = min(v for v in values if v > at)
    assert sum(v > higher for v in values) == 9
    value, reported = tail(values)
    assert reported == pct
    assert value == pytest.approx(quantile(values, pct / 100.0))


@pytest.mark.parametrize("seconds", [1, 30, 60])
def test_run_length_fixes_the_tail_percentile(seconds):
    """The timed-operation count depends on --seconds alone, so a faster
    program cannot change the sample count or move the tail percentile;
    at every length the tail sits above the median."""
    from workloads import WORKLOADS

    for cls in WORKLOADS.values():
        n = cls.timed_ops(seconds)
        assert n == cls.timed_ops(seconds)
        assert tail_percentile(n) > 50.0
    bench = _benchmark_json()
    for w in bench["workloads"]:
        assert tail_percentile(WORKLOADS[w["name"]].timed_ops(bench["run_seconds"])) > 55.0


def test_inputs_are_the_fixture_shape():
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(run.DATA, "documents.parquet"))
    emb = pq.read_table(os.path.join(run.DATA, "embeddings.parquet"))
    assert docs.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert emb.column_names == ["vec_id", "embedding", "label"]
    assert docs.num_rows == emb.num_rows == 2000
    assert docs.column("doc_id").to_pylist() == list(range(2000))
    assert {len(v) for v in emb.column("embedding").to_pylist()} == {64}


def test_tail_of_twenty_is_the_median():
    assert tail_percentile(20) == 50.0
    assert tail(list(range(1, 21)))[0] == pytest.approx(10.5, abs=1e-3)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_refuses_short_runs(n):
    with pytest.raises(ValueError):
        tail([1.0] * n)


def test_quantile_is_a_smooth_median_estimate():
    # symmetric samples: the estimate is their centre
    assert quantile(list(range(1, 21)), 0.5) == pytest.approx(10.5, abs=1e-3)
    assert quantile([3.0] * 7, 0.5) == pytest.approx(3.0)
    # it moves with every sample, not only the middle ones
    base = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0]
    slower = base[:-1] + [20.0]
    assert quantile(base, 0.5) < quantile(slower, 0.5) < quantile(base, 0.5) + 0.1
    # and follows the sample quantile on many samples
    many = [float(i) for i in range(1001)]
    assert quantile(many, 0.5) == pytest.approx(500.0, abs=0.5)
    assert quantile(many, 0.9) == pytest.approx(900.0, abs=1.0)


def test_op_median_takes_each_kind_median_first():
    # three passes of three rows; the first pass ran slow
    timings = [("a", 2.0), ("b", 6.0), ("c", 9.0),
               ("a", 1.0), ("b", 4.0), ("c", 8.0),
               ("a", 1.0), ("b", 4.0), ("c", 8.0)]
    assert op_median(timings) == pytest.approx(quantile([1.0, 4.0, 8.0], 0.5))
    # the slow pass moves it no more than a slow pass of the middle row alone
    assert op_median(timings) == op_median(timings[3:] + [("b", 4.0), ("a", 1.0), ("c", 8.0)])
    # one sample per kind (ingest epochs): the median of the samples
    epochs = [(f"epoch{i}", float(i % 7)) for i in range(23)]
    assert op_median(epochs) == pytest.approx(quantile([t for _, t in epochs], 0.5))


# ---------------------------------------------------------------- self time


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),  # overlaps a: [1, 6] is covered once
        Span(3, "a.child", 2.0, 3.0, 1, 1),
        Span(4, "late", 9.0, 12.0, 0, 1),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    for s in spans:
        assert 0.0 <= st[s.sid] <= s.end - s.start


def test_tracer_nests_spans_and_shares_the_op_id():
    tracer = Tracer(enabled=True)
    with tracer.span("op", op=7):
        with tracer.span("registry.build"):
            pass
        with tracer.span("exec"):
            with tracer.span("inner"):
                pass
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["op"].parent is None
    assert by_name["registry.build"].parent == by_name["op"].sid
    assert by_name["inner"].parent == by_name["exec"].sid
    assert {s.op for s in tracer.spans} == {7}
    st = self_times(tracer.spans)
    assert all(0.0 <= st[s.sid] <= s.end - s.start for s in tracer.spans)


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("op", op=1):
        pass
    assert tracer.spans == []


# ------------------------------------------------------- metric-name grammar


def test_metric_name_grammar():
    assert check_metric_name("exec.jobs.dedup_exact") == "exec.jobs.dedup_exact"
    for bad in ("", "exec jobs", "exec/jobs", "p50%", "jobs\n"):
        with pytest.raises(ValueError):
            check_metric_name(bad)


def test_every_declared_name_fits_the_grammar():
    bench = _benchmark_json()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += list(run.END_TO_END) + list(PER_LAYER)
    assert all(METRIC_NAME.fullmatch(n) for n in names)
    assert len(PER_LAYER) <= 128


# ------------------------------------- declared metrics are all printed


def test_benchmark_json_declares_what_run_prints():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        name: unit for name, (unit, _) in PER_LAYER.items()
    }
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_every_per_layer_metric_is_printed_for_every_workload():
    """A traced run prints Layers.summary(): every declared metric, with
    its unit, whether or not the workload's path touched that layer."""
    bench = _benchmark_json()
    layers = Layers(Tracer(enabled=True), probe=object())
    layers.add("exec.jobs", 3, "dedup_exact")
    layers.add("exec.jobs", 5, "docs_pack")
    layers.add("exec.jobs", 7, "docs_pack")
    out = layers.summary()
    for m in bench["per_layer"]:
        value, unit = out[m["name"]]
        assert unit == m["unit"]
        assert isinstance(value, float)
    # PASS: per-kind medians summed -- 3 + median(5, 7)
    assert out["exec.jobs"][0] == 9.0


def test_layers_refuse_undeclared_metrics():
    with pytest.raises(KeyError):
        Layers(Tracer(enabled=False)).add("exec.nonsense", 1.0)
