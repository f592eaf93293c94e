"""Per-layer metrics of a traced run: span times, output counts, Spark
event-log counters per span, and driver-side timings of the geometry
kernels.  Layers are named after the library's modules."""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

from .trace import child_coverage, self_times, spark_counters, split_group

# span name → metric of its summed duration per traced job, median over the
# jobs that have the span
SPAN_TIMES = {
    "io.extract_points_s": "io.extract_points",
    "proximity.knn_s": "proximity.knn",
    "proximity.gabriel_s": "proximity.gabriel",
    "morphology.reachability_s": "morphology.reachability",
    "tessellation.enclosed_s": "tessellation.enclosed",
    "dedup.minhash_s": "dedup.minhash",
    "dedup.simhash_s": "dedup.simhash",
    "dedup.ngram_s": "dedup.ngram",
    "simsearch.cosine_topk_s": "simsearch.cosine_topk",
    "checkpoint.write_s": "checkpoint.write",
    "checkpoint.resume_s": "checkpoint.resume",
}
# output counts of a job (keys of the workload's result) → metric
COUNTS = {
    "proximity.knn_edges": "knn_edges",
    "proximity.gabriel_edges": "gabriel_edges",
    "dedup.minhash_pairs": "minhash_pairs",
    "dedup.simhash_pairs": "simhash_pairs",
    "dedup.ngram_pairs": "ngram_pairs",
    "simsearch.cosine_rows": "cosine_rows",
    "index.max_block_points": "index.max_block_points",
    "index.p99_block_points": "index.p99_block_points",
    "checkpoint.bytes_per_row": "checkpoint.bytes_per_row",
}
# spans whose Spark jobs are summed from the event log
SPARK_SPANS = ("proximity.knn", "proximity.gabriel", "tessellation.enclosed",
               "dedup.ngram", "dedup.minhash", "checkpoint.write")
SPARK_UNITS = {"executor_run_s": "s", "executor_cpu_s": "s",
               "shuffle_write_mb": "MB", "spill_mb": "MB", "tasks": "count",
               "max_task_s": "s", "self_s": "s"}

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("session.input_s", "s"),
    *((name, "s") for name in SPAN_TIMES),
    ("proximity.cached_blocks_left", "count"),
    *((name, "B/row" if name.endswith("per_row") else "count")
      for name in COUNTS),
    ("geo.halfplane_cells_ms", "ms"), ("geo.polygonize_ms", "ms"),
    *((f"{span}.{field}", unit) for span in SPARK_SPANS
      for field, unit in SPARK_UNITS.items()),
    ("peak_rss_mb", "MB"),
    ("trace.job_s", "s"), ("trace.overhead_s", "s"),
    ("trace.child_coverage", "ratio"), ("failed_frac", "ratio"),
]


def per_layer_metrics(tracer, events_dir: str, raw: dict, failed: int,
                      attempted: int) -> dict[str, dict]:
    """Every PER_LAYER metric; layers the run does not reach read 0.  A
    span's figures are medians over the traced jobs that hold it (the
    morphology probe is a job of its own)."""
    spans = tracer.spans
    selfs = self_times(spans)
    jobs = sorted({s.job for s in spans})
    dur = {j: {} for j in jobs}
    own = {j: {} for j in jobs}
    for s, st in zip(spans, selfs):
        dur[s.job][s.name] = dur[s.job].get(s.name, 0.0) + (s.end - s.start)
        own[s.job][s.name] = own[s.job].get(s.name, 0.0) + st
    counters = _event_counters(events_dir)

    def med(name: str, per_job) -> float:
        having = [j for j in jobs if name in dur[j]]
        return statistics.median(per_job(j) for j in having) if having \
            else 0.0

    v: dict[str, float] = {
        "session.start_s": raw["setup"]["start"],
        "session.warmup_s": raw["setup"]["warmup"],
        "session.input_s": raw["setup"]["input"],
        "proximity.cached_blocks_left": raw["plain"].cached_blocks_left,
        "peak_rss_mb": raw["plain"].peak_rss_mb,
        "geo.halfplane_cells_ms": raw["geo"]["halfplane_cells"],
        "geo.polygonize_ms": raw["geo"]["polygonize"],
        "failed_frac": failed / max(attempted, 1),
    }
    for metric, name in SPAN_TIMES.items():
        v[metric] = med(name, lambda j, n=name: dur[j][n])
    last = raw["traced"][-1].result
    for metric, key in COUNTS.items():
        v[metric] = last.get(key, 0)
    for span in SPARK_SPANS:
        for field in SPARK_UNITS:
            if field == "self_s":
                v[f"{span}.self_s"] = med(span, lambda j, s=span: own[j][s])
            else:
                v[f"{span}.{field}"] = med(
                    span, lambda j, s=span, f=field:
                    counters.get((s, j), {}).get(f, 0.0))
    traced_s = statistics.median(t.seconds for t in raw["traced"])
    v["trace.job_s"] = traced_s
    v["trace.overhead_s"] = traced_s - raw["plain"].seconds
    tops = [i for i, s in enumerate(spans) if s.parent is None]
    v["trace.child_coverage"] = min(child_coverage(spans, i) for i in tops)
    return {name: {"value": v[name], "unit": unit} for name, unit in PER_LAYER}


def _event_counters(events_dir: str) -> dict[tuple[str, int], dict]:
    logs = glob.glob(os.path.join(events_dir, "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, "
                           f"found {len(logs)}")
    with open(logs[0]) as f:
        return {split_group(g): c for g, c in spark_counters(f).items()}


def write_outputs(tracer, metrics: dict[str, dict], out_dir: str,
                  stem: str) -> tuple[str, str]:
    """The spans (JSON lines) and the per-layer table of one traced run."""
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir, f"{stem}-spans.jsonl")
    table_path = os.path.join(out_dir, f"{stem}-layers.txt")
    tracer.dump(spans_path)
    with open(table_path, "w") as f:
        f.write(format_table(metrics))
    return spans_path, table_path


def format_table(metrics: dict[str, dict]) -> str:
    width = max(len(k) for k in metrics)
    lines = [f"{'metric':<{width}}  {'value':>14}  unit"]
    for name, m in metrics.items():
        lines.append(f"{name:<{width}}  {m['value']:>14.6g}  {m['unit']}")
    return "\n".join(lines) + "\n"


# --------------------------------------------------------------------------
# geo: driver-side kernels on a fixed piece of the morphology fixture
# --------------------------------------------------------------------------

GEO_REPS = 5


def geo_probe_ms() -> dict[str, float]:
    """Median wall time of the two geometry kernels the enclosed
    tessellation spends its driver and task time in, on one block of the
    strip fixture: ``halfplane_cells`` over the boundary samples of the
    block's 20 buildings, and ``polygonize`` (after ``node_segments``) of
    the 6x6 street grid."""
    from city2graph_spark.geo.arrangement import node_segments, polygonize
    from city2graph_spark.geo.voronoi import halfplane_cells
    subject = np.array([[0.0, 0.0], [1000.0, 0.0], [1000.0, 1000.0],
                        [0.0, 1000.0]])
    t = np.arange(4) / 4.0
    square = np.vstack([np.column_stack([-1 + 2 * t, -np.ones(4)]),
                        np.column_stack([np.ones(4), -1 + 2 * t]),
                        np.column_stack([1 - 2 * t, np.ones(4)]),
                        np.column_stack([-np.ones(4), 1 - 2 * t])])
    sites = np.vstack([square + [100.0 + 30.0 * m, 100.0]
                       for m in range(20)])
    k = np.arange(6) * 1000.0
    r = np.arange(5) * 1000.0
    segs = np.array([[a, b, a, b + 1000.0] for a in k for b in r]
                    + [[b, a, b + 1000.0, a] for a in k for b in r])

    def median_ms(fn) -> float:
        times = []
        for _ in range(GEO_REPS):
            t0 = time.perf_counter()
            fn()
            times.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(times)

    return {"halfplane_cells": median_ms(lambda: halfplane_cells(sites,
                                                                 subject)),
            "polygonize": median_ms(lambda: polygonize(node_segments(segs)))}
