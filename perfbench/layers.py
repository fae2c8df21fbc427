"""Per-layer metrics of a traced run: self time per span, status-store
counters summed per layer, useful-work ratios, the reconciliation
against the traced pass and the tracing overhead."""

from __future__ import annotations

import statistics
from dataclasses import asdict

from spans import LAYERS, PYTHON_COUNTERS, Span, per_layer_names, self_time

# Σ layer self time must be within 10% of the traced pass wall, and the
# layer calls' jobs must hold at least 90% of the pass's task time.
RECONCILE_TOL = 0.10


def _rows(spans: list[Span], name: str) -> int:
    return sum(s.rows_out for s in spans if s.name == name)


def pass_layers(
    spans: list[Span], extract_layer: str, cores: int, pages: int = 0, input_rows: int = 0
) -> tuple[dict, dict]:
    """Per-layer metrics of one traced pass, and its reconciliation.
    ``pages`` is what run_resumable's chunks read, ``input_rows`` the rows
    of its input."""
    root = next(s for s in spans if s.parent is None)
    calls = [s for s in spans if s.parent is not None]
    m = dict.fromkeys(per_layer_names(), 0.0)
    for s in calls:
        c = s.counters
        own = self_time(s, [k for k in spans if k.parent == s.span_id])
        task_s = c.get("task_s", 0.0)
        # run_resumable fuses extraction into each chunk write: its
        # Python-node share of task time (and of the wall) goes to the
        # layer that extracts, the rest stays with sinks.merge.
        share = 0.0
        if s.name == "run_resumable" and task_s > 0:
            share = min(1.0, c.get("python_s", 0.0) / task_s)
            m[f"{extract_layer}.self_s"] += own * share
            m[f"{extract_layer}.task_s"] += task_s * share
            for k in PYTHON_COUNTERS:
                m[f"{extract_layer}.{k}"] += c.get(k, 0.0)
        m[f"{s.layer}.self_s"] += own * (1 - share)
        m[f"{s.layer}.task_s"] += task_s * (1 - share)
        m[f"{s.layer}.rows_out"] += s.rows_out
        for k in ("jobs", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "tasks_failed"):
            m[f"{s.layer}.{k}"] += c.get(k, 0.0)
        if s.name != "run_resumable" and f"{s.layer}.python_s" in m:
            for k in PYTHON_COUNTERS:
                m[f"{s.layer}.{k}"] += c.get(k, 0.0)
    wall = root.end - root.start
    cands = _rows(calls, "minhash_lsh_candidates_md5")
    captures = _rows(calls, "read_warc")
    resumable = [s for s in calls if s.name == "run_resumable"]
    m["dedup.verify_yield"] = _rows(calls, "ngram_jaccard") / cands if cands else 0.0
    m["webtext.snapshot_keep_frac"] = (
        _rows(calls, "latest_snapshot") / captures if captures else 0.0
    )
    m["extract.triples_per_page"] = _rows(resumable, "run_resumable") / pages if pages else 0.0
    m["sinks.merge.scan_amplification"] = (
        sum(s.counters.get("scan_rows", 0.0) for s in resumable) / input_rows
        if input_rows
        else 0.0
    )
    m["sinks.merge.bytes_written"] = sum(s.counters.get("bytes_written", 0.0) for s in resumable)
    m["sinks.merge.files_written"] = sum(s.counters.get("files_written", 0.0) for s in resumable)
    busy = sum(s.counters.get("task_s", 0.0) for s in calls)
    m["run.core_busy_frac"] = busy / (wall * cores) if wall else 0.0
    layer_self = sum(m[f"{layer}.self_s"] for layer in LAYERS)
    # jobs of the pass that no layer call launched land on the root span
    unattributed = root.counters.get("task_s", 0.0)
    recon = {
        "pass_wall_s": wall,
        "layer_self_s": layer_self,
        "glue_s": self_time(root, calls),
        "reconcile_frac": layer_self / wall if wall else 0.0,
        "unattributed_task_s": unattributed,
        "attributed_task_frac": busy / (busy + unattributed) if busy + unattributed else 1.0,
    }
    return m, recon


def reconcile_failure(recon: dict) -> str | None:
    """Why one traced pass does not reconcile, or None if it does: its
    layer self times must add up to its wall, and its task time must sit
    in jobs that a layer call launched."""
    if abs(1 - recon["reconcile_frac"]) > RECONCILE_TOL:
        return (
            f"reconcile: layer self time {recon['layer_self_s']:.2f} s vs traced pass wall "
            f"{recon['pass_wall_s']:.2f} s, outside {RECONCILE_TOL:.0%}"
        )
    if recon["attributed_task_frac"] < 1 - RECONCILE_TOL:
        return (
            f"reconcile: {recon['unattributed_task_s']:.2f} s of task time in jobs no layer "
            f"call launched, more than {RECONCILE_TOL:.0%}"
        )
    return None


def layer_metrics(w, tracer, passes: list[dict], cores: int) -> tuple[dict, dict]:
    """Median per-layer metrics over the traced passes, plus the
    reconciliation, tracing overhead and span table for the report. A
    traced pass that does not reconcile is marked failed."""
    traced = [p for p in passes if p["kind"] == "traced" and p["ok"]]
    untraced = [p for p in passes if p["kind"] == "timed" and p["ok"]]
    per_pass, recons = [], []
    for p in traced:
        m, r = pass_layers(
            tracer.pass_spans(p["run_id"]), w.extract_layer, cores, p["pages"], p["input_rows"]
        )
        per_pass.append(m)
        recons.append(r)
        why = reconcile_failure(r)
        if why:
            p["ok"], p["check"] = False, why
    names = per_layer_names()
    out = {
        k: statistics.median(m[k] for m in per_pass) if per_pass else 0.0
        for k in names
        if not k.startswith("run.")
    }
    traced_s = statistics.median(p["wall_s"] for p in traced) if traced else 0.0
    untraced_s = statistics.median(p["wall_s"] for p in untraced) if untraced else 0.0
    chunk_s = [c for p in untraced for c in p["chunk_s"]]
    cold = passes[0]
    out["run.core_busy_frac"] = (
        statistics.median(m["run.core_busy_frac"] for m in per_pass) if per_pass else 0.0
    )
    out["run.cold_pass_s"] = cold.get("wall_s", 0.0)
    out["run.chunk_commit_p50_s"] = statistics.median(chunk_s) if chunk_s else 0.0
    out["run.traced_pass_s"] = traced_s
    out["run.untraced_pass_s"] = untraced_s
    out["run.trace_overhead_s"] = traced_s - untraced_s
    for k in ("reconcile_frac", "attributed_task_frac"):
        out[f"run.{k}"] = statistics.median(r[k] for r in recons) if recons else 0.0
    detail = {
        "reconcile_tolerance": RECONCILE_TOL,
        "reconciled": bool(recons) and all(reconcile_failure(r) is None for r in recons),
        "reconciliation": recons,
        "split": (
            "run_resumable fuses extraction into each chunk write: its wall and "
            "task time are split by the Python nodes' share of task time; that "
            f"share, python_s and arrow_bytes go to {w.extract_layer}, the rest to "
            "sinks.merge"
        ),
        "spans": [asdict(s) for p in traced for s in tracer.pass_spans(p["run_id"])],
    }
    return out, detail
