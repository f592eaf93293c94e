"""city2graph_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload spatial_uniform --seed 0 \\
        --seconds 10 --trace 0

Run from anywhere; the repository root is the parent of this directory.
One Spark session in ``local[N]`` mode (N = usable cores) is driven from
this one process, with one job in flight at a time (a closed loop with a
single client).  Set-up starts the session, materialises the seeded input
and warms the JVM and the Python workers with one untimed job on an input
an eighth the size.  Every timed job then starts from empty Spark storage
and is checked afterwards, outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one plain
job for reference, then traced jobs with the Spark event log on, and prints
the per-layer metrics.  Progress goes to stderr; the last line of stdout is
the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import harness, layers  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, morphology_probe  # noqa: E402

WORK_DIR = ".perfbench_work"
# below the host's memory: the library's 32g default let the JVM grow until
# the kernel killed it on a 15 GB host
DEFAULT_DRIVER_MEM = "2g"
# input materialisations per run; setup_s takes their median
SETUP_REPS = 3
# the warm-up job runs on an input this many times smaller than the real one
WARM_DIV = 8
# the one workload whose traced run also times the morphology layer: a run
# must end within 180 s, and this one has the room
MORPHOLOGY_PROBE_ON = "spatial_uniform"
# metric → unit of an untraced run
END_TO_END = {"job_s": "s", "input_rows_per_s": "rows/s",
              "output_rows_per_s": "rows/s", "setup_s": "s"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-mem", default=DEFAULT_DRIVER_MEM)
    args = p.parse_args(argv)
    if not 0 <= args.seed < 2**32:
        p.error("--seed must be in [0, 2**32)")
    return args


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "city2graph_spark")):
        print(f"perfbench: no city2graph_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, WORK_DIR, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = Bench(args, WORKLOADS[args.workload], work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


class Job(NamedTuple):
    seconds: float
    result: dict
    cached_blocks_left: int
    peak_rss_mb: float = 0.0


class Bench:
    def __init__(self, args, wl_cls, work: str):
        self.args, self.wl_cls, self.work = args, wl_cls, work
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0

    def run(self) -> dict:
        events = harness.configure_env(
            ROOT, self.work, self.args.driver_mem, bool(self.args.trace))
        setup = self._setup()
        try:
            if self.args.trace:
                metrics = self._traced(setup)
            else:
                metrics = self._untraced(setup)
        finally:
            t = time.perf_counter()
            harness.stop_session(self.spark)
            harness.log(f"session stopped in {time.perf_counter() - t:.2f} s")
        if self.args.trace:
            metrics = self._finish_trace(metrics, events)
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    # -- set-up ---------------------------------------------------------
    def _setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        self.spark = harness.start_session(self.cpus, self.cpus)
        t1 = time.perf_counter()
        self.wl = self.wl_cls(self.spark, os.path.join(self.work, "input"),
                              self.args.seed, self.cpus)
        gens = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self.wl.generate()
            gens.append(time.perf_counter() - t)
        gen = statistics.median(gens)
        # one untimed job on a smaller input of the same shape loads classes,
        # generates code, starts the Python workers and imports the library
        # in them
        t2 = time.perf_counter()
        warm = self.wl_cls(self.spark, os.path.join(self.work, "warm_input"),
                           self.args.seed, self.cpus,
                           size=self.wl_cls.SIZE // WARM_DIV)
        warm.generate()
        warm.run(Tracer(), os.path.join(self.work, "warm_out"))
        t3 = time.perf_counter()
        harness.log(f"setup: session {t1 - t0:.2f} s, input {gen:.2f} s "
                    f"(median of {SETUP_REPS}), warm-up {t3 - t2:.2f} s")
        return {"start": t1 - t0, "warmup": t3 - t2, "input": gen}

    # -- one job ----------------------------------------------------------
    def _job(self, tr: Tracer, tag: str, rss: bool = False) -> Job | None:
        """One cold job, checked; None when it raised.  With ``rss`` the
        memory of the JVM and its workers is sampled during the job."""
        self.attempted += 1
        blocks = harness.make_cold(self.spark)
        harness.log(f"{tag}: started with {blocks} cached blocks")
        out = os.path.join(self.work, "out", tag)
        try:
            if blocks:
                raise RuntimeError(f"{blocks} cached blocks before {tag}")
            sampler = harness.RssSampler(harness.jvm_pid(self.spark)) \
                if rss else contextlib.nullcontext()
            with sampler:
                t = time.perf_counter()
                with tr.span("job"):
                    result = self.wl.run(tr, out)
                dt = time.perf_counter() - t
            left = harness.cached_blocks(self.spark)
            t_check = time.perf_counter()
            errs = self.wl.verify(result, out)
            t_check = time.perf_counter() - t_check
        except Exception:  # noqa: BLE001 - one failed job must not end the run
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if errs:
            self.failed += 1
            for e in errs[:20]:
                harness.log(f"{tag}: WRONG {e}")
        peak = sampler.peak_mb if rss else 0.0
        harness.log(f"{tag}: {dt:.3f} s, peak RSS {peak:.0f} MB, "
                    f"{left} cached blocks left, outputs {result}, "
                    f"checked in {t_check:.2f} s")
        return Job(dt, result, left, peak)

    def _loop(self, tr: Tracer, prefix: str, seconds: float,
              rss: bool = False) -> list[Job]:
        """Jobs until their summed time reaches ``seconds`` (at least
        one)."""
        done: list[Job] = []
        spent = 0.0
        while spent < seconds or not done:
            tr.job = len(done)
            job = self._job(tr, f"{prefix}{len(done)}", rss)
            if job is None:
                if self.failed >= 3:
                    break
                continue
            done.append(job)
            spent += job.seconds
        if not done:
            raise SystemExit("perfbench: every job failed")
        return done

    # -- end-to-end metrics ---------------------------------------------
    def _untraced(self, setup: dict[str, float]) -> dict:
        jobs = self._loop(Tracer(), "job", self.args.seconds)
        job_s = statistics.median(j.seconds for j in jobs)
        out_rows = statistics.median(self.wl.output_rows(j.result)
                                     for j in jobs)
        values = {"job_s": job_s,
                  "input_rows_per_s": self.wl.input_rows / job_s,
                  "output_rows_per_s": out_rows / job_s,
                  "setup_s": sum(setup.values())}
        return {name: _m(values[name], unit)
                for name, unit in END_TO_END.items()}

    # -- per-layer metrics ------------------------------------------------
    def _traced(self, setup: dict[str, float]) -> dict:
        plain = self._loop(Tracer(), "plain", 0.0, rss=True)
        self.tracer = Tracer(self.spark.sparkContext, enabled=True)
        traced = self._loop(self.tracer, "traced", self.args.seconds)
        if self.args.workload == MORPHOLOGY_PROBE_ON:
            self._morphology()
        return {"setup": setup, "plain": plain[0], "traced": traced,
                "geo": layers.geo_probe_ms()}

    def _morphology(self) -> None:
        """The morphology probe as the tracer's next job, so its spans
        stand apart from the workload's jobs; one checked operation.  It
        runs once: a second, warming pass would not fit in the run."""
        self.attempted += 1
        self.tracer.job = len({s.job for s in self.tracer.spans})
        harness.make_cold(self.spark)
        try:
            with self.tracer.span("morphology.probe"):
                errs = morphology_probe(self.spark, self.tracer,
                                        os.path.join(self.work, "morphology"))
        except Exception:  # noqa: BLE001 - as a failed job
            traceback.print_exc()
            errs = ["morphology probe raised"]
        if errs:
            self.failed += 1
            for e in errs:
                harness.log(f"morphology: WRONG {e}")

    def _finish_trace(self, raw: dict, events: str) -> dict:
        metrics = layers.per_layer_metrics(self.tracer, events, raw,
                                           self.failed, self.attempted)
        paths = layers.write_outputs(
            self.tracer, metrics, os.path.join(ROOT, WORK_DIR, "traces"),
            f"{self.args.workload}-seed{self.args.seed}")
        harness.log("trace: spans and per-layer table in " + ", ".join(paths)
                    + "\n" + layers.format_table(metrics))
        return metrics


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


if __name__ == "__main__":
    sys.exit(main())
