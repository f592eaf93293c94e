"""Fast self-test of the benchmark's own bookkeeping; needs no Spark.

    python3 perfbench/selftest.py

Checks span self time and child coverage, the event-log aggregation per
job group on a tiny hand-written Spark event log, the per-layer metric
set, the output checks on a tiny exact answer and a corrupted one, the
n-gram and SimHash oracles against their all-pairs definitions, the
result line, and that ``BENCHMARK.json`` names exactly the metrics the
benchmark prints.  Exits 0 and prints ``selftest: ok`` on success.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def _events() -> list[str]:
    """Two jobs in two groups; stage 2 is listed by both jobs and must be
    charged to the first."""
    def job(jid, stages, group):
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group}}

    def stage(sid, run_ms, cpu_ns, shuffle, spill):
        acc = [{"ID": 1, "Name": "internal.metrics.executorRunTime",
                "Value": run_ms},
               {"ID": 2, "Name": "internal.metrics.executorCpuTime",
                "Value": cpu_ns},
               {"ID": 3, "Name": "internal.metrics.shuffle.write.bytesWritten",
                "Value": shuffle},
               {"ID": 4, "Name": "internal.metrics.diskBytesSpilled",
                "Value": spill}]
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Accumulables": acc}}

    def task(sid, launch, finish):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Info": {"Launch Time": launch, "Finish Time": finish}}

    evs = [{"Event": "SparkListenerApplicationStart"},
           job(0, [1, 2], "proximity.knn#0"),
           task(1, 1000, 1500), task(1, 1000, 3000), task(2, 3000, 3100),
           stage(1, 2500, 2_000_000_000, 4_000_000, 0),
           stage(2, 100, 50_000_000, 0, 1_000_000),
           job(1, [2, 3], "checkpoint.write#0"),
           task(3, 4000, 4200), stage(3, 200, 100_000_000, 0, 0),
           job(2, [4], None), task(4, 5000, 9000),
           stage(4, 4000, 1, 1, 1)]
    return [json.dumps(e) for e in evs]


def test_trace() -> None:
    from perfbench.trace import Span, child_coverage, self_times
    spans = [Span("job", 0.0, 10.0, None, 0),
             Span("a", 1.0, 4.0, 0, 0), Span("b", 3.0, 9.0, 0, 0),
             Span("c", 5.0, 6.0, 2, 0)]
    st = self_times(spans)
    check(abs(st[0] - 2.0) < 1e-12, f"job self time {st[0]} != 2")
    check(abs(st[2] - 5.0) < 1e-12, f"b self time {st[2]} != 5")
    check(abs(child_coverage(spans, 0) - 0.8) < 1e-12, "job coverage != 0.8")


def test_counters() -> None:
    from perfbench.trace import spark_counters
    c = spark_counters(_events())
    check(set(c) == {"proximity.knn#0", "checkpoint.write#0"},
          f"groups {sorted(c)}")
    knn = c["proximity.knn#0"]
    check(abs(knn["executor_run_s"] - 2.6) < 1e-9, f"run {knn}")
    check(abs(knn["executor_cpu_s"] - 2.05) < 1e-9, f"cpu {knn}")
    check(abs(knn["shuffle_write_mb"] - 4.0) < 1e-9, f"shuffle {knn}")
    check(abs(knn["spill_mb"] - 1.0) < 1e-9, f"spill {knn}")
    check(knn["tasks"] == 3 and abs(knn["max_task_s"] - 2.0) < 1e-9,
          f"tasks {knn}")
    check(c["checkpoint.write#0"]["tasks"] == 1, "checkpoint tasks")


def test_per_layer(work: str) -> None:
    from perfbench.layers import PER_LAYER, format_table, per_layer_metrics
    from perfbench.run import Job
    from perfbench.trace import Span, Tracer
    events = os.path.join(work, "events")
    os.makedirs(events)
    with open(os.path.join(events, "local-1"), "w") as f:
        f.write("\n".join(_events()) + "\n")
    tr = Tracer()
    tr.spans = [Span("job", 0.0, 10.0, None, 0),
                Span("proximity.knn", 0.5, 6.0, 0, 0),
                Span("checkpoint.write", 6.0, 9.8, 0, 0)]
    raw = {"setup": {"start": 1.0, "warmup": 2.0, "input": 0.5},
           "plain": Job(9.0, {}, 4, 100.0),
           "traced": [Job(10.0, {"knn_edges": 7, "gabriel_edges": 5}, 4)],
           "geo": {"halfplane_cells": 3.0, "polygonize": 0.1}}
    m = per_layer_metrics(tr, events, raw, failed=0, attempted=2)
    check(list(m) == [n for n, _ in PER_LAYER], "metric order")
    check(all(set(v) == {"value", "unit"} for v in m.values()), "shape")
    check(m["proximity.knn_s"]["value"] == 5.5, "knn span time")
    check(m["proximity.knn.tasks"]["value"] == 3, "knn tasks")
    check(m["proximity.knn.self_s"]["value"] == 5.5, "knn self time")
    check(m["checkpoint.write.executor_run_s"]["value"] == 0.2, "ckpt run")
    check(m["proximity.knn_edges"]["value"] == 7, "edge count")
    check(m["proximity.cached_blocks_left"]["value"] == 4, "cached blocks")
    check(abs(m["trace.overhead_s"]["value"] - 1.0) < 1e-12, "overhead")
    check(abs(m["trace.child_coverage"]["value"] - 0.93) < 1e-12, "coverage")
    check(m["dedup.ngram_s"]["value"] == 0.0, "absent layer reads 0")
    check(m["peak_rss_mb"]["value"] == 100.0, "peak RSS of the plain job")
    table = format_table(m)
    check(len(table.splitlines()) == len(m) + 1, "table rows")


def test_checks() -> None:
    """The output checks accept exact answers and flag a dropped row."""
    import numpy as np
    from perfbench.checks import (cosine_topk_errors, gabriel_sample_errors,
                                  knn_errors)
    rng = np.random.RandomState(0)
    ids = np.arange(100, 300, dtype=np.int64)
    xy = rng.uniform(0, 100, (len(ids), 2))
    d = np.hypot(*(xy[:, None, :] - xy[None, :, :]).transpose(2, 0, 1))
    np.fill_diagonal(d, np.inf)
    k = 3
    knn = {(min(a, b), max(a, b)) for a in range(len(ids))
           for b in np.argsort(d[a])[:k]}
    knn = np.array([(ids[a], ids[b], d[a, b]) for a, b in sorted(knn)])
    gab = np.array([(ids[a], ids[b]) for a in range(len(ids))
                    for b in range(a + 1, len(ids))
                    if not any(np.dot(xy[a] - xy[w], xy[b] - xy[w]) < 0
                               for w in range(len(ids)) if w not in (a, b))])
    probes = ids[:50]
    check(knn_errors(ids, xy, knn, k) == [], "knn exact")
    check(knn_errors(ids, xy, knn[1:], k) != [], "knn drop")
    fewer = {(min(a, b), max(a, b)) for a in range(len(ids))
             for b in np.argsort(d[a])[:k - 1]}
    fewer = np.array([(ids[a], ids[b], d[a, b]) for a, b in sorted(fewer)])
    check(knn_errors(ids, xy, fewer, k) != [], "knn with k-1")
    # a lattice is all ties: ids in position order make a stable sort by
    # distance the (distance, id) order
    lattice = np.array([(x, y) for x in range(12) for y in range(12)], float)
    lids = np.arange(len(lattice), dtype=np.int64)
    ld = np.hypot(*(lattice[:, None] - lattice[None]).transpose(2, 0, 1))
    np.fill_diagonal(ld, np.inf)
    nearest = np.argsort(ld, axis=1, kind="stable")

    def lattice_knn(pick) -> np.ndarray:
        pairs = {(min(a, b), max(a, b)) for a in range(len(lids))
                 for b in pick(a)}
        return np.array([(a, b, ld[a, b]) for a, b in sorted(pairs)])

    check(knn_errors(lids, lattice, lattice_knn(lambda a: nearest[a, :k]),
                     k) == [], "knn tie-break")
    # centre point 78: its 5th nearest ties with 6th-8th; the largest id
    # instead of the smallest is the wrong tie-break
    check(knn_errors(lids, lattice, lattice_knn(
        lambda a: nearest[a, :k] if a != 78
        else list(nearest[a, :k - 1]) + [nearest[a, 7]]), k) != [],
        "knn wrong tie-break")
    check(gabriel_sample_errors(ids, xy, gab, probes, 1e9) == [],
          "gabriel exact")
    check(gabriel_sample_errors(ids, xy, gab[1:], probes, 1e9) != [],
          "gabriel drop")
    vec = rng.normal(size=(len(ids), 8))
    u = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    sims = u @ u.T
    np.fill_diagonal(sims, -np.inf)
    top = np.argsort(-sims, axis=1)[:, :k]
    rows = np.array([(ids[q], ids[top[q, r]], r + 1) for q in range(len(ids))
                     for r in range(k)])
    check(cosine_topk_errors(ids, vec, rows, k) == [], "cosine exact")
    rows[0, 1] = ids[np.argmin(sims[0])]
    check(cosine_topk_errors(ids, vec, rows, k) != [], "cosine wrong row")


def test_dedup_oracles() -> None:
    """The n-gram and SimHash oracles agree with all-pairs definitions."""
    import hashlib
    import itertools

    import numpy as np
    from perfbench.checks import ngram_pairs, simhash_pair_count
    rng = np.random.RandomState(1)
    words = ["ab", "cd", "efg", "hij", "k", "lmno"]
    texts = [" ".join(rng.choice(words, rng.randint(2, 9)))
             for _ in range(60)]
    texts += [t + " dup" for t in texts[:10]] + ["ab"]
    grams = [{t[i:i + 4] for i in range(max(len(t) - 3, 1))} for t in texts]
    df = {}
    for g in grams:
        for s in g:
            df[s] = df.get(s, 0) + 1
    rare = [{s for s in g if df[s] <= 8} for g in grams]
    want = {(i, j) for i, j in itertools.combinations(range(len(texts)), 2)
            if rare[i] & rare[j]
            and len(rare[i] & rare[j]) / len(rare[i] | rare[j]) >= 0.5}
    check(ngram_pairs(texts, max_df=8) == want, "ngram oracle")

    def sim(t: str) -> int:
        v = [0] * 16
        for tok in set(t.split(" ")):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for i in range(16):
                v[i] += 1 if (h >> i) & 1 else -1
        return sum(1 << i for i in range(16) if v[i] > 0)

    sims = [sim(t) for t in texts]
    near = sum(bin(a ^ b).count("1") <= 3
               for a, b in itertools.combinations(sims, 2))
    check(simhash_pair_count(texts) == near, "simhash oracle")


def test_result_line() -> None:
    from perfbench.run import _m
    line = json.dumps({"correct": True, "attempted": 1, "failed": 0,
                       "metrics": {"job_s": _m(1.23456789, "s")}})
    back = json.loads(line)
    check(back["metrics"]["job_s"] == {"value": 1.23456789, "unit": "s"},
          "result line round trip keeps every digit")


def test_benchmark_json() -> None:
    from perfbench.layers import PER_LAYER
    from perfbench.run import END_TO_END, MORPHOLOGY_PROBE_ON
    from perfbench.workloads import WORKLOADS
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check([(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER,
          "BENCHMARK.json per_layer differs from layers.PER_LAYER")
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    check(e2e == END_TO_END, f"BENCHMARK.json end_to_end {e2e}")
    check(all(w["name"] in WORKLOADS for w in bench["workloads"]),
          "BENCHMARK.json names an unknown workload")
    check(MORPHOLOGY_PROBE_ON in {w["name"] for w in bench["workloads"]},
          "the morphology layer is timed on no listed workload")


def main() -> int:
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        test_trace()
        test_counters()
        test_per_layer(work)
        test_checks()
        test_dedup_oracles()
        test_result_line()
        test_benchmark_json()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
