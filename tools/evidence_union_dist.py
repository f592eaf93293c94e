"""Scale evidence for the DISTRIBUTED union-default enclosure build.

The round-5 verdict named the union-default enclosure arrangement driver
pass the one remaining scale-killer and asked for: (a) union-default
enclosed tessellation at >= 200k SCATTERED (unaligned) buildings
end-to-end with no driver gather of building-scale data on the success
path, and (b) an interleaved A/B of the tiled distributed build vs the
round-5 driver pass at 20k (where both run).

    python tools/evidence_union_dist.py scale [n]     # default 200_000
    python tools/evidence_union_dist.py ab [reps]     # default 3, n=20_000

Buildings are synthesized JVM-side (xxhash64 pseudo-uniforms over
spark.range — nothing building-scale ever touches the driver), scattered
with no alignment whatsoever, so the round-5 aligned-run pre-merge cannot
help: n_runs == n_buildings and the driver pass is structurally out past
the cap.  A connected street grid overlays the domain (street-scale,
driver-held by design, as in the reference).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def synth_buildings(spark, n: int, domain: float):
    """(poly_id, ring, seq, x, y) for n scattered axis-aligned rectangles
    with hash-deterministic unaligned positions/sizes, built entirely
    JVM-side."""
    from pyspark.sql import functions as F

    def u(salt: int):
        return (F.abs(F.xxhash64(F.col("id"), F.lit(salt)))
                % 1_000_000) / 1_000_000.0

    base = (spark.range(n)
            .withColumn("x0", u(1) * (domain - 40.0))
            .withColumn("y0", u(2) * (domain - 40.0))
            .withColumn("w", 8.0 + u(3) * 12.0)
            .withColumn("h", 8.0 + u(4) * 12.0))
    corner = F.array(
        F.struct(F.lit(0).alias("seq"), F.col("x0").alias("x"),
                 F.col("y0").alias("y")),
        F.struct(F.lit(1).alias("seq"), (F.col("x0") + F.col("w")).alias("x"),
                 F.col("y0").alias("y")),
        F.struct(F.lit(2).alias("seq"), (F.col("x0") + F.col("w")).alias("x"),
                 (F.col("y0") + F.col("h")).alias("y")),
        F.struct(F.lit(3).alias("seq"), F.col("x0").alias("x"),
                 (F.col("y0") + F.col("h")).alias("y")))
    return (base.select(F.col("id").alias("poly_id"),
                        F.explode(corner).alias("c"))
            .select("poly_id", F.lit(0).alias("ring"),
                    F.col("c.seq").alias("seq"), "c.x", "c.y"))


def synth_streets(spark, domain: float, lines: int):
    rows = []
    mid = 0
    for i in range(1, lines + 1):
        c = domain * i / (lines + 1)
        rows += [(mid, 0, 0.0, c), (mid, 1, domain, c)]
        mid += 1
        rows += [(mid, 0, c, 0.0), (mid, 1, c, domain)]
        mid += 1
    return spark.createDataFrame(
        rows, "movement_id long, seq long, x double, y double")


def run_once(spark, bv, mv, mode: str) -> tuple[float, int, int]:
    from pyspark.sql import functions as F

    from city2graph_spark.operators.tessellation import enclosed_tessellation
    t0 = time.time()
    # the A/B's 20k unaligned buildings make at most 20k runs, so the
    # default cap keeps the "driver" arm on the driver build
    kw = {"union_driver_cap": 0} if mode == "distributed" else {}
    cells = enclosed_tessellation(bv, mv, buffer=20.0, **kw)
    agg = cells.agg(
        F.countDistinct("enclosure_index").alias("n_encl"),
        F.countDistinct("enclosure_index", "place_id").alias("n_cells")
    ).head()
    return time.time() - t0, int(agg["n_encl"]), int(agg["n_cells"])


def main() -> None:
    from city2graph_spark.session import get_spark
    what = sys.argv[1] if len(sys.argv) > 1 else "scale"
    spark = get_spark("evidence_union_dist", master=f"local[{CPUS}]")
    if what == "scale":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
        # ~0.2 buffered coverage: far below square-percolation, so the
        # union fragments into O(n) blobs — the driver-hostile shape
        domain = (n * 8000.0) ** 0.5
        bv = synth_buildings(spark, n, domain)
        mv = synth_streets(spark, domain, 20)
        sec, n_encl, n_cells = run_once(spark, bv, mv, "distributed")
        print(json.dumps({"evidence": "union_distributed_scale",
                          "n_buildings": n, "domain": round(domain, 1),
                          "mode_taken": "distributed",
                          "sec": round(sec, 1), "enclosures": n_encl,
                          "cells": n_cells,
                          "buildings_per_sec": round(n / sec, 1)}))
    else:
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        n = 20_000
        domain = (n * 8000.0) ** 0.5
        bv = synth_buildings(spark, n, domain).localCheckpoint()
        mv = synth_streets(spark, domain, 8)
        out: dict[str, list[float]] = {"driver": [], "distributed": []}
        counts: dict[str, tuple[int, int]] = {}
        # interleaved with the fast arm BRACKETING the slow one
        # (dist, driver, dist, driver, ..., dist): host drift shows up as
        # spread between the bracketing runs, and the fast arm's numbers
        # land even if the driver arm is later cut short externally
        seq = ["distributed", "driver"] * reps + ["distributed"]
        for r, mode in enumerate(seq):
            sec, n_encl, n_cells = run_once(spark, bv, mv, mode)
            out[mode].append(round(sec, 2))
            counts[mode] = (n_encl, n_cells)
            print(f"AB step {r} {mode}: {sec:.2f}s encl={n_encl} "
                  f"cells={n_cells}", flush=True)
        print(json.dumps({
            "evidence": "union_driver_vs_distributed_ab", "n_buildings": n,
            "reps": out,
            "median_driver": statistics.median(out["driver"]),
            "median_distributed": statistics.median(out["distributed"]),
            "counts_driver": counts["driver"],
            "counts_distributed": counts["distributed"],
            "counts_match": counts["driver"] == counts["distributed"]}))


if __name__ == "__main__":
    main()


def run_encl_only(n: int) -> None:
    """Bisect helper: enclosure build only, no downstream tessellation."""
    import numpy as np

    from city2graph_spark.operators.enclosures import \
        enclosures_union_distributed
    from city2graph_spark.operators.morphology import polyline_parts
    from city2graph_spark.operators.tessellation import buffered_union_shapes
    from city2graph_spark.session import get_spark
    from pyspark.sql import functions as F
    spark = get_spark("evidence_encl", master=f"local[{CPUS}]")
    domain = (n * 8000.0) ** 0.5
    bv = synth_buildings(spark, n, domain)
    mv = synth_streets(spark, domain, 20)
    b = 20.0
    parts = polyline_parts(mv).select("ax", "ay", "bx", "by").collect()
    segs = np.array([[r["ax"], r["ay"], r["bx"], r["by"]] for r in parts])
    bb = (bv.where(F.col("ring") == 0).groupBy("poly_id")
          .agg((F.min("x") - b).alias("bx0"), (F.min("y") - b).alias("by0"),
               (F.max("x") + b).alias("bx1"), (F.max("y") + b).alias("by1")))
    caps = buffered_union_shapes(np.empty((0, 4)), segs, b)
    t0 = time.time()
    encl = enclosures_union_distributed(bb, caps, segs)
    n_encl = encl.agg(F.countDistinct("eid")).head()[0]
    print(json.dumps({"evidence": "encl_build_only", "n": n,
                      "sec": round(time.time() - t0, 1),
                      "enclosures": int(n_encl)}))


def run_abencl(reps: int = 1) -> None:
    """Build-only A/B: the round-5 driver arrangement vs the tiled
    distributed build, SAME inputs (20k scattered unaligned buildings),
    interleaved dist/driver/dist.  This isolates the named scale-killer —
    the enclosure ARRANGEMENT — from the (shared) tessellation
    downstream."""
    import numpy as np

    from city2graph_spark.operators.enclosures import \
        enclosures_union_distributed
    from city2graph_spark.operators.morphology import polyline_parts
    from city2graph_spark.operators.tessellation import (
        build_enclosures_limited, buffered_union_shapes)
    from city2graph_spark.session import get_spark
    from pyspark.sql import functions as F
    spark = get_spark("evidence_abencl", master=f"local[{CPUS}]")
    n = 20_000
    domain = (n * 8000.0) ** 0.5
    bv = synth_buildings(spark, n, domain).localCheckpoint()
    mv = synth_streets(spark, domain, 8)
    b = 20.0
    parts = polyline_parts(mv).select("ax", "ay", "bx", "by").collect()
    segs = np.array([[r["ax"], r["ay"], r["bx"], r["by"]] for r in parts])
    bb = (bv.where(F.col("ring") == 0).groupBy("poly_id")
          .agg((F.min("x") - b).alias("bx0"), (F.min("y") - b).alias("by0"),
               (F.max("x") + b).alias("bx1"), (F.max("y") + b).alias("by1"))
          ).localCheckpoint()
    caps = buffered_union_shapes(np.empty((0, 4)), segs, b)
    out = {"driver": [], "distributed": []}
    counts = {}
    seq = ["distributed", "driver"] * reps + ["distributed"]
    for r, mode in enumerate(seq):
        t0 = time.time()
        if mode == "distributed":
            encl = enclosures_union_distributed(bb, caps, segs)
            n_encl = int(encl.agg(F.countDistinct("eid")).head()[0])
        else:
            rows = bb.collect()
            shapes = [np.array([[x["bx0"], x["by0"]], [x["bx1"], x["by0"]],
                                [x["bx1"], x["by1"]], [x["bx0"], x["by1"]]])
                      for x in rows]
            encl = build_enclosures_limited(segs, shapes + caps)
            n_encl = len(encl)
        sec = time.time() - t0
        out[mode].append(round(sec, 1))
        counts[mode] = n_encl
        print(f"ABENCL step {r} {mode}: {sec:.1f}s enclosures={n_encl}",
              flush=True)
    print(json.dumps({
        "evidence": "enclosure_build_ab_20k_unaligned",
        "n_buildings": n, "reps": out,
        "median_driver": statistics.median(out["driver"]),
        "median_distributed": statistics.median(out["distributed"]),
        "counts": counts,
        "counts_match": counts["driver"] == counts["distributed"]}))
