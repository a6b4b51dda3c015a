"""The per-layer metric catalogue and its computation from spans.

Every traced run prints every name below; a layer a workload never
calls reads 0 (for example the catalog layers on `curate`)."""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.tracing import EventLog, span_profiles

READ_LAYERS = ("catalog.ann_search", "catalog.search", "catalog.term_search_indexed",
               "catalog.ann_search_prefiltered")
READ_SUFFIXES = ("plan_ms", "exec_ms", "jobs", "tasks", "cpu_ms", "wait_ms", "rows_scanned",
                 "rows_per_result")
WRITE_LAYERS = ("streaming.stream_insert_with_autoflush", "catalog.build_index",
                "catalog.remove", "catalog.auto_optimize")
WRITE_SUFFIXES = ("ms", "jobs", "tasks", "cpu_ms", "gc_ms", "bytes_written")
OP_LAYERS = (
    "operators.normalize.clean_text", "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_pairs", "operators.contamination.contamination_report",
    "operators.quality.gopher_quality_flags", "operators.pii.scrub_pii",
    "operators.export.write_shards",
)
OP_SUFFIXES = ("plan_ms", "exec_ms", "jobs", "cpu_ms", "python_ms", "arrow_bytes",
               "shuffle_bytes", "spill_bytes")
SINGLE = {
    "index.load_segment_index.ms": "ms",
    "index.files": "count",
    "index.bytes": "bytes",
    "catalog.segments_at_read": "count",
    "catalog.write_amp": "ratio",
    "trace.overhead_ms": "ms",
}


def unit(suffix: str) -> str:
    if suffix.endswith("_ms") or suffix == "ms":
        return "ms"
    if suffix.endswith("bytes") or suffix == "bytes_written":
        return "bytes"
    return {"jobs": "count", "tasks": "count", "rows_scanned": "rows",
            "rows_per_result": "ratio"}[suffix]


def catalogue() -> dict[str, str]:
    """Every per-layer metric name -> unit, in print order."""
    out = {}
    for layers, suffixes in ((READ_LAYERS, READ_SUFFIXES), (WRITE_LAYERS, WRITE_SUFFIXES),
                             (OP_LAYERS, OP_SUFFIXES)):
        for layer in layers:
            for s in suffixes:
                out[f"{layer}.{s}"] = unit(s)
    out.update(SINGLE)
    return out


def per_layer(spans: list[dict], log: EventLog, extra: dict) -> dict[str, float]:
    """Median over calls of each layer's per-call value; `extra` holds the
    values the workload measured itself (index file counts, overhead)."""
    prof = span_profiles(spans, log)
    kids: dict[int, dict[str, dict]] = defaultdict(dict)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]][s["name"]] = s
    calls: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        p = prof[s["id"]]
        name = s["name"]
        if name in READ_LAYERS or name in OP_LAYERS:
            for phase in ("plan", "exec"):
                child = kids[s["id"]].get(phase)
                calls[f"{name}.{phase}_ms"].append(prof[child["id"]]["ms"] if child else 0.0)
            for k in ("jobs", "tasks", "cpu_ms", "wait_ms", "rows_scanned", "python_ms",
                      "arrow_bytes", "shuffle_bytes", "spill_bytes"):
                calls[f"{name}.{k}"].append(p[k])
            if "rows" in s:
                calls[f"{name}.rows_per_result"].append(p["rows_scanned"] / max(1, s["rows"]))
        elif name in WRITE_LAYERS:
            for k in ("ms", "jobs", "tasks", "cpu_ms", "gc_ms"):
                calls[f"{name}.{k}"].append(p[k])
            calls[f"{name}.bytes_written"].append(float(s.get("bytes_written", 0)))
        elif name == "index.load_segment_index":
            calls["index.load_segment_index.ms"].append(p["ms"])
    out = {}
    for name in catalogue():
        if name in extra:
            out[name] = float(extra[name])
        elif calls.get(name):
            out[name] = float(statistics.median(calls[name]))
        else:
            out[name] = 0.0
    return out


def write_amp(spans: list[dict], raw_bytes: float) -> float:
    """Bytes the traced write calls added on disk per raw byte of the
    live data they produced."""
    written = sum(s.get("bytes_written", 0) for s in spans if s["name"] in WRITE_LAYERS)
    return written / raw_bytes if raw_bytes else 0.0
