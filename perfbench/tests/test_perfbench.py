"""Tests of the benchmark's own code; they never start Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from checks import (
    MIRROR_BASE,
    CheckFailed,
    check_chunks,
    check_triples,
    doc_offset,
    doc_range,
)
from layers import pass_layers
from run import END_TO_END
from spans import METRIC_NAME, Span, parse_metric_value, per_layer_names, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _span(i, start, end, parent=None, name="x", layer="dedup"):
    return Span(span_id=i, name=name, layer=layer, start=start, end=end, parent=parent)


def test_self_time_subtracts_covered_child_intervals():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 6.0, 7.0, 0)]
    # children cover [1, 4] and [6, 7]: 4 s of the parent's 10
    assert self_time(parent, kids) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_span():
    parent = _span(0, 5.0, 10.0)
    kids = [_span(1, 0.0, 6.0, 0), _span(2, 9.0, 12.0, 0), _span(3, 20.0, 30.0, 0)]
    assert self_time(parent, kids) == pytest.approx(3.0)
    assert self_time(parent, []) == pytest.approx(5.0)


def test_pass_layers_reconciles_and_splits_fused_extraction():
    root = _span(0, 0.0, 10.0, name="pass", layer="run")
    dd = _span(1, 0.0, 4.0, 0, name="minhash_lsh_candidates_md5", layer="dedup")
    rr = _span(2, 4.0, 9.0, 0, name="run_resumable", layer="sinks.merge")
    rr.counters = {"task_s": 8.0, "python_s": 6.0, "jobs": 3, "arrow_bytes": 10.0}
    m, recon = pass_layers([root, dd, rr], "extract", cores=4)
    assert m["dedup.self_s"] == pytest.approx(4.0)
    assert m["extract.self_s"] == pytest.approx(5.0 * 0.75)
    assert m["sinks.merge.self_s"] == pytest.approx(5.0 * 0.25)
    assert m["extract.python_s"] == pytest.approx(6.0)
    assert m["sinks.merge.jobs"] == 3
    assert recon["glue_s"] == pytest.approx(1.0)
    assert recon["reconcile_frac"] == pytest.approx(0.9)
    assert m["run.core_busy_frac"] == pytest.approx(8.0 / 40.0)


def test_every_metric_name_is_well_formed():
    names = list(END_TO_END) + per_layer_names()
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME.fullmatch(n), n
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert METRIC_NAME.fullmatch(m["name"]), m["name"]


def test_gold_check_catches_a_dropped_or_duplicated_row():
    from rdf_to_text_spark.fixtures import gold_triples_py

    docs = list(doc_range(3, 200))
    rows = gold_triples_py(docs)
    gold = Counter(rows)
    check_triples(list(rows), gold)  # the exact multiset passes
    with pytest.raises(CheckFailed, match="1 missing"):
        check_triples(rows[1:], gold)
    with pytest.raises(CheckFailed, match="1 extra"):
        check_triples(rows + rows[:1], gold)


def test_chunk_check_catches_extra_runs_and_missing_lineage():
    check_chunks(list(range(16, 32)), list(range(16, 32)), list(range(32)), 32)
    with pytest.raises(CheckFailed, match="resume_chunks"):
        check_chunks(list(range(15, 32)), list(range(16, 32)), list(range(32)), 32)
    with pytest.raises(CheckFailed, match="lineage_rows"):
        check_chunks(list(range(16, 32)), list(range(16, 32)), list(range(31)), 32)
    with pytest.raises(CheckFailed, match="lineage_rows"):
        check_chunks(list(range(16, 32)), list(range(16, 32)), [0] + list(range(32)), 32)


@pytest.mark.parametrize("seed", [0, 1, 7, 98, 99, 100, 12345, 2**31 - 1, -1])
def test_seed_offset_keeps_ids_below_the_mirror_space(seed):
    docs = doc_range(seed, 10**7)
    assert docs.start >= 0
    assert docs.stop - 1 < MIRROR_BASE
    assert doc_offset(seed) % 10**7 == 0


def test_seed_changes_the_input_deterministically():
    assert doc_range(5, 100) == doc_range(5, 100)
    assert doc_range(5, 100) != doc_range(6, 100)


def test_parse_metric_value_units():
    agg = "total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.2 s, 0.9 s (stage 1.0: task 2))"
    assert parse_metric_value(agg) == pytest.approx(1.5)
    assert parse_metric_value("total (min, med, max)\n2.0 KiB (1 B, 1 B, 1 B)") == 2048
    assert parse_metric_value("3,501") == 3501
    assert parse_metric_value("120 ms") == pytest.approx(0.12)
    assert parse_metric_value(None) == 0.0


def _traced_tracer(unattributed_task_s=0.0):
    from spans import Tracer

    tr = Tracer(spark=None, enabled=False)
    root = Span(0, "pass", "run", 0.0, 10.0, None, "t1")
    root.counters = {"task_s": unattributed_task_s}
    rr = Span(1, "run_resumable", "sinks.merge", 0.5, 9.8, 0, "t1", rows_out=50)
    rr.counters = {"task_s": 20.0, "python_s": 10.0, "jobs": 8}
    tr.spans = [root, rr]
    return tr


def _passes():
    return [
        {"kind": "cold", "ok": True, "wall_s": 30.0, "run_id": "c", "chunk_s": [9.0]},
        {"kind": "traced", "ok": True, "wall_s": 10.0, "run_id": "t1", "pages": 25,
         "input_rows": 25},
        {"kind": "timed", "ok": True, "wall_s": 9.0, "run_id": "u1", "chunk_s": [1.0, 3.0]},
        {"kind": "timed", "ok": True, "wall_s": 9.0, "run_id": "u2", "chunk_s": [2.0]},
    ]


def test_layer_metrics_report_every_per_layer_name():
    from types import SimpleNamespace

    from layers import layer_metrics

    passes = _passes()
    out, detail = layer_metrics(SimpleNamespace(extract_layer="extract"), _traced_tracer(),
                                passes, cores=4)
    out["run.failed_frac"] = 0.0
    assert set(out) == set(per_layer_names())
    assert out["run.trace_overhead_s"] == pytest.approx(1.0)
    assert out["run.cold_pass_s"] == pytest.approx(30.0)
    assert out["run.chunk_commit_p50_s"] == pytest.approx(2.0)  # untraced passes only
    assert out["extract.triples_per_page"] == pytest.approx(2.0)
    assert out["run.attributed_task_frac"] == pytest.approx(1.0)
    assert detail["reconcile_tolerance"] == 0.10
    assert detail["reconciled"] and all(p["ok"] for p in passes)


def test_traced_pass_fails_when_its_task_time_is_not_in_layer_calls():
    from types import SimpleNamespace

    from layers import layer_metrics

    passes = _passes()
    # 5 s of the pass's 25 s task time ran in jobs no layer call launched
    out, detail = layer_metrics(SimpleNamespace(extract_layer="extract"),
                                _traced_tracer(unattributed_task_s=5.0), passes, cores=4)
    assert out["run.attributed_task_frac"] == pytest.approx(0.8)
    assert not detail["reconciled"]
    assert not passes[1]["ok"] and passes[1]["check"].startswith("reconcile:")


def test_reconcile_failure_on_wall_gap():
    from layers import reconcile_failure

    ok = {"reconcile_frac": 0.95, "attributed_task_frac": 1.0, "layer_self_s": 9.5,
          "pass_wall_s": 10.0, "unattributed_task_s": 0.0}
    assert reconcile_failure(ok) is None
    gap = dict(ok, reconcile_frac=0.85, layer_self_s=8.5)
    assert "traced pass wall" in reconcile_failure(gap)


def test_process_identity_includes_start_time():
    from run import alive, start_time

    me = os.getpid()
    assert alive(me, start_time(me))
    assert not alive(me, start_time(me) + 1)  # same pid, another process
    assert not alive(2**22 + 1, 0)  # no such pid


def test_sampler_window_reads_one_interval_and_scales_cpu_by_the_probe():
    from run import PROBE_REF_S, Sampler, ref_cpu_s

    s = Sampler()
    s.close()
    # (time, probe CPU s, sampler thread CPU s, PSS MB or None)
    s.samples = [
        (0.5, 0.001, 0.10, 100.0),
        (1.5, 0.003, 0.20, None),
        (2.5, 0.002, 0.30, 300.0),
        (3.5, 0.009, 0.40, 900.0),
    ]
    w = s.window(1.0, 3.0)
    assert w["probes"] == 2
    assert w["probe_s"] == pytest.approx(0.0025)
    assert w["sampler_cpu_s"] == pytest.approx(0.20)  # 0.30 at 2.5 s minus 0.10 at 0.5 s
    assert w["peak_pss_mb"] == 300.0
    # a core twice as slow as the reference halves the interval's CPU seconds
    slow = dict(w, probe_s=2 * PROBE_REF_S)
    assert ref_cpu_s(10.2, slow) == pytest.approx(5.0)
