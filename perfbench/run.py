"""Spatial-engine benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process starts a local Spark
session (local[k] with k = min(nproc - 1, 4); driver memory from host
RAM; warehouse, local and temp dirs under .perfbench/ in the checkout,
removed at exit), generates the workload's inputs from the seed, sets
up, then times passes for S seconds and checks every pass's output
against an independent answer (perfbench/oracles.py).

Workloads (perfbench/workloads.py): geocode_scan and mundi_q are the
ones BENCHMARK.json lists. geocode_sink and polygon_ops cost more per
run than the benchmark's time budget allows; they run by name, and the
traced runs of geocode_scan and mundi_q measure their layers.

--trace 0 reports the end-to-end metrics: setup_s (session start +
input generation + the median of SETUP_REPS repetitions of prepare,
which builds the prebuilt index or cached layers + the workload's
warm-up passes, checked, the first of them cold) and rows_per_s (input rows /
median pass time). Every pass's time, the median and quartiles, the CPU
seconds of each pass and the host's CPU steal share are printed too.

--trace 1 reports the per-layer metrics instead: after the same warm-up
passes, a ladder of cumulative prefix pipelines (each layer's marginal
time over the previous rung and its row counts) between untraced
passes, Observation counts that must reconcile, in-process kernel
rates, peak RSS of the process tree and the tracing overhead (the pass
rung minus the median untraced pass); its spans go to
.perfbench/traces/.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics; failed / attempted is the share of
passes and checks that raised or failed. Seed HELDOUT_SEED was never
used while the benchmark was tuned; keep it for re-checking claims.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELDOUT_SEED = 424242
SETUP_REPS = 3
MIN_PASSES = 3
LADDER_REPS = 2
UNTRACED_PASSES = 2  # on each side of the ladder

PER_LAYER = [
    "sources.pages.scan_s",
    "operators.geoparse.parse_s",
    "operators.geoparse.rows_out",
    "operators.geoparse.hit_ratio",
    "functions.st.cell_s",
    "operators.joins.index_build_s",
    "operators.joins.index_rows",
    "operators.joins.boundary_share",
    "operators.joins.probe_s",
    "operators.joins.candidates",
    "operators.joins.bbox_s",
    "operators.joins.bbox_candidates",
    "operators.joins.refine_s",
    "operators.joins.hits",
    "operators.joins.refine_ratio",
    "functions.st.arrow_boundary_s",
    "sources.checkpoint.lineage_s",
    "sources.checkpoint.write_s",
    "sources.checkpoint.files_written",
    "sources.checkpoint.bytes_written",
    "sources.checkpoint.completed_keys_s",
    "plans.pipeline.resume_s",
    "plans.pipeline.write_amp",
    "operators.joins.overlap_s",
    "operators.dissolve.dissolve_s",
    "dataset.ingest_s",
    "mundi.q_df_s",
    "mundi.collect_s",
    "feature.intersects_per_s",
    "feature.nearest_per_s",
    "kernels.wkb.loads_per_s",
    "kernels.wkb.dumps_per_s",
    "kernels.predicates.pip_points_per_s",
    "kernels.overlay.area_pairs_per_s",
    "kernels.overlay.union_pairs_per_s",
    "kernels.tiling.cover_polys_per_s",
    "kernels.tiling.refine_cells_per_s",
    "kernels.proj.points_per_s",
    "kernels.measure.distance_pairs_per_s",
    "ladder.pass_rung_s",
    "ladder.untraced_pass_s",
    "ladder.trace_overhead_s",
    "peak_rss_mb",
]


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "_share", "_amp")):
        return "ratio"
    return "count"


class Ops:
    """Operations attempted and failed (an exception or a failed check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, failures: list[str]) -> None:
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(f"{what}: {f}" for f in failures)


def timed_pass(wl, ops: Ops, what: str, cpu: list | None = None) -> float:
    from perfbench import harness

    c0, t0 = harness.tree_cpu_s(), time.perf_counter()
    result = wl.run_pass()
    dt = time.perf_counter() - t0
    if cpu is not None:
        cpu.append(harness.tree_cpu_s() - c0)
    ops.record(what, wl.check(result))
    wl.after_pass()
    return dt


def run(args, work: str) -> dict:
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    # one core stays free for the driver thread, JIT and GC, so they do
    # not preempt task threads mid-pass
    cpus = max(1, min(harness.host_cpus() - 1, 4))
    host = harness.host_record(ROOT, cpus)
    print(f"host: {json.dumps(host)}")
    ops = Ops()
    metrics: dict[str, float] = {}
    sr = harness.SparkRun(ROOT, work, cpus)
    # the sampler walks /proc; only the traced run pays for it
    with harness.RssSampler() if args.trace else contextlib.nullcontext() as rss:
        try:
            spark = sr.start()
            session_s = time.perf_counter() - T_START
            wl = WORKLOADS[args.workload](spark, args.seed, work, cpus)
            t0 = time.perf_counter()
            wl.generate()
            generate_s = time.perf_counter() - t0
            wl.expected()
            if args.trace:
                metrics = traced(wl, ops, args)
            else:
                reps = []
                for i in range(SETUP_REPS):
                    if i:
                        wl.release()
                    t0 = time.perf_counter()
                    wl.prepare()
                    reps.append(time.perf_counter() - t0)
                warm = [timed_pass(wl, ops, f"warm-up pass {i}") for i in range(wl.warmup_passes)]
                passes, cpu = [], []
                steal0, total0 = harness.cpu_steal()
                t_end = time.perf_counter() + args.seconds
                while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
                    passes.append(timed_pass(wl, ops, f"pass {len(passes)}", cpu))
                steal1, total1 = harness.cpu_steal()
                s = harness.summary(passes)
                print(f"session_s={session_s:.3f} generate_s={generate_s:.3f} "
                      f"prepare_s={[round(r, 3) for r in reps]} warm_up_s={[round(w, 3) for w in warm]}")
                print(f"passes_s={[round(p, 3) for p in passes]} median={s['median']:.4f} "
                      f"q1={s['q1']:.4f} q3={s['q3']:.4f} n={s['n']} rows/pass={wl.rows} "
                      f"cpu_steal={(steal1 - steal0) / max(total1 - total0, 1):.3f}")
                print(f"cpu_s={[round(c, 3) for c in cpu]} rows_per_cpu_s={wl.rows / statistics.median(cpu):.1f}")
                metrics = {
                    "setup_s": session_s + generate_s + statistics.median(reps) + sum(warm),
                    "rows_per_s": wl.rows / s["median"],
                }
        except Exception:
            traceback.print_exc()
            ops.record("run", ["exception"])
        finally:
            sr.close()
    if args.trace and metrics:
        metrics["peak_rss_mb"] = rss.peak_mb
    for f in ops.failures:
        print(f"FAILED {f}")
    return {"ops": ops, "metrics": metrics}


def traced(wl, ops: Ops, args) -> dict:
    from perfbench import harness
    from perfbench.kernels import kernel_rates

    tracer = harness.Tracer()
    with tracer.span("setup"):
        wl.prepare()
        for i in range(wl.warmup_passes):
            timed_pass(wl, ops, f"warm-up pass {i}")
    layer, ladder = ladder_between_passes(wl, ops, tracer)
    record_ladder(wl, ops, ladder)
    for comp in wl.companions:
        cw = comp(wl.spark, args.seed, wl.work, wl.cpus)
        with tracer.span(cw.name):
            cw.generate()
            cw.expected()
            cw.prepare()
            extra, cl = cw.layers(tracer, 1)
            cw.release()
        record_ladder(cw, ops, cl)
        for k, v in extra.items():
            layer.setdefault(k, v)
    with tracer.span("kernels"):
        layer.update(kernel_rates(args.seed))
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json"))
    return {name: layer.get(name, 0.0) for name in PER_LAYER}


def ladder_between_passes(wl, ops: Ops, tracer) -> tuple[dict, dict]:
    """The workload's layer ladder (LADDER_REPS reps), with
    UNTRACED_PASSES untraced passes on each side of it, so JIT warm-up
    still under way biases neither side. Adds the pass rung, the median
    untraced pass and their difference (the tracing overhead) to the
    layer metrics. Expects a prepared, warmed-up workload."""
    with tracer.span("untraced_passes"):
        untraced = [timed_pass(wl, ops, f"untraced pass {i}") for i in range(UNTRACED_PASSES)]
    with tracer.span(wl.name):
        layer, ladder = wl.layers(tracer, LADDER_REPS)
    with tracer.span("untraced_passes"):
        untraced += [timed_pass(wl, ops, f"untraced pass {i}")
                     for i in range(UNTRACED_PASSES, 2 * UNTRACED_PASSES)]
    pass_rung = ladder["pass"]["rung_s"]
    layer["ladder.pass_rung_s"] = pass_rung
    layer["ladder.untraced_pass_s"] = statistics.median(untraced)
    layer["ladder.trace_overhead_s"] = pass_rung - statistics.median(untraced)
    return layer, ladder


def record_ladder(wl, ops: Ops, ladder: dict) -> None:
    """Print a ladder and count its checks: the pass rung's output
    check, and Observation counts that must reconcile."""
    print(f"{wl.name + ' ladder':44s} {'rung_s':>9s} {'marginal_s':>11s}  counts")
    for name, row in ladder.items():
        print(f"{name:44s} {row['rung_s']:9.4f} {row['marginal_s']:11.4f}  {row['counts']}")
    ops.record(f"{wl.name} ladder pass rung", wl.ladder_failures)
    c = wl.counts
    if c is not None:
        chain = (
            c["pages"] >= c["parsed"] >= c["hits"]
            and c["candidates"] >= c["bbox_candidates"] >= c["hits"]
        )
        ops.record(f"{wl.name} observation counts", [] if chain else [f"counts do not reconcile: {c}"])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mundipy_spark")):
        print(f"error: no mundipy_spark package next to perfbench/ under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still removes its work dir and stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = harness.make_work_dir(ROOT)
    try:
        out = run(args, work)
    finally:
        harness.remove_work_dir(work)
    ops, metrics = out["ops"], out["metrics"]
    if args.trace:
        for name in PER_LAYER:
            print(f"{name:44s} {metrics.get(name, 0.0):16.6g} {unit_of(name)}")
    units = {"setup_s": "s", "rows_per_s": "rows/s"}
    result = {
        "correct": ops.failed == 0 and bool(metrics),
        "attempted": max(ops.attempted, 1),
        "failed": ops.failed if ops.attempted else 1,
        "metrics": {
            k: {"value": float(v), "unit": units.get(k) or unit_of(k)} for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
