"""Fab-workload benchmark: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload eda_lookup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit), the engine's session is set
up ``SETUPS`` times (the median is ``setup_s``), the workload primes its
path with one untimed unit where it needs one, and its units run
closed-loop for about ``--seconds``: the loop stops at the boundary between
whole groups of units nearest to it.  Every output is then checked against
an independent recomputation.  The last stdout line is the JSON result; the
line before it is a report with the workload's own named metrics, input
sizes, peak RSS and, for ``--trace 1``, the exact-repeat counts.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
traced and untraced groups of units and prints the per-layer metrics, the
tracing overhead (traced minus untraced) of each gated metric, and how many
counts drifted between two replays of the first traced units; its spans
are written to ``.perfbench_work/traces/``.  A workload with a companion
(``COMPANIONS``) then traces one group of the companion's units on the same
session, for the layers only the companion calls.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
SETUPS = 4  # one cold start, then three on the running JVM
REPEAT = 2_000_000  # request ids of the traced run's replays of its probe units: r * REPEAT + i
# workload -> the ungated workload whose layers its traced run also covers
COMPANIONS = {"etl_catchup": "rot_batch"}
now = time.perf_counter


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> dict:
    """Keep every file the run writes inside ``work`` and fix the clock zone.
    The driver heap goes through the engine's ``SPARK_GRAFT_DRIVER_MEM``
    (its 48g default exceeds small machines, and peak RSS should measure
    the working set, not a heap sized to the box)."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def declared(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def gated(wl, units) -> dict:
    """The benchmark's shared end-to-end slots, filled from the workload's
    own named metrics (a glass of rot_batch is one header row)."""
    named = wl.named(units)
    units_of = declared("end_to_end")
    return {slot: (named[name][0], units_of[slot]) for slot, name in wl.gated.items()}


def session_layers(tr, wl, traced: list[int]) -> dict:
    roots = wl.roots(tr, traced)
    n = max(1, len(traced))
    return {
        "session.driver_gap_s": (sum(tr.driver_gap_s(s) for s in roots) / n, "s"),
        "session.executor_run_s": (tr.job_sum(roots, "run_ms") / 1e3 / n, "s"),
        "session.executor_cpu_s": (tr.job_sum(roots, "cpu_ns") / 1e9 / n, "s"),
        "session.gc_s": (tr.job_sum(roots, "gc_ms") / 1e3 / n, "s"),
        "session.shuffle_write_mb": (tr.job_sum(roots, "shuffle_w") / 1e6 / n, "MB"),
        "session.input_mb": (tr.job_sum(roots, "input_b") / 1e6 / n, "MB"),
    }


def counts(tr, wl, reqs: list[int], session: bool = True) -> dict:
    """Per-unit counts over the requests ``reqs``: they repeat exactly."""
    out = dict(wl.counts(tr, reqs))
    if session:
        roots = wl.roots(tr, reqs)
        out["session.jobs"] = (tr.job_count(roots) / len(reqs), "count")
        out["session.tasks"] = (tr.job_sum(roots, "tasks") / len(reqs), "count")
    return out


def layer_figures(tr, wl, units, session: bool = True) -> tuple[dict, dict, int]:
    """The workload's per-layer figures from its traced units (with the
    ``session.*`` ones when ``session``), its counts, and how many counts
    drifted between two replays of its probe units.  The replays are
    compared with each other, not with the loop, because the engine's job
    count for a unit can depend on what the session ran before it."""
    traced = [u.index for u in units if u.traced]
    probe = traced[: wl.probe_units]
    loop = counts(tr, wl, probe, session)
    found = {**(session_layers(tr, wl, traced) if session else {}), **wl.layers(tr, traced), **loop}
    replays = []
    for r in (1, 2):
        tr.on = True
        for i in probe:
            wl.repeat(i, r * REPEAT + i)
        tr.on = False
        replays.append({k: v for k, (v, _) in counts(tr, wl, [r * REPEAT + i for i in probe], session).items()})
    first, again = replays
    drifts = [k for k in first if first[k] != again[k]]
    for k in drifts:
        print(f"count drift: {wl.name} {k} {first[k]} then {again[k]}", file=sys.stderr)
    loop = {k: v for k, (v, _) in loop.items()}
    return found, {"loop": loop, "replay1": first, "replay2": again}, len(drifts)


def companion(name: str, seed: int, work: str, spark, tr) -> tuple[dict, dict, int, list, int]:
    """Trace one whole group of ``name``'s units on the running session
    (after its own untimed priming unit), check their outputs, and return
    its per-layer figures, a report, its count drifts, its failed checks and
    its attempted operations."""
    from perfbench.workloads import WORKLOADS

    cw = WORKLOADS[name](seed, work)
    cw.generate()
    cw.prepare(spark, tr, 0)
    cw.warmup()
    cw.prime()
    units, failed = [], 0
    for i in range(cw.whole):
        tr.on = True
        t = now()
        try:
            u = cw.unit(i)
            u.wall, u.traced, u.index = now() - t, True, i
            units.append(u)
            cw.after_traced(i)
        except Exception:  # one failed operation: record it and go on
            traceback.print_exc()
            failed += 1
        finally:
            tr.on = False
    problems = cw.check() + ["failed operation"] * failed
    for p in problems:
        print(f"check failed: {name}: {p}", file=sys.stderr)
    found, cnt, drifts = layer_figures(tr, cw, units, session=False)
    report = {
        "workload": name, "units": len(units),
        "unit_walls_s": [round(u.wall, 4) for u in units],
        "named": {k: {"value": v, "unit": unit} for k, (v, unit) in cw.named(units).items()},
        "session": {k: v for k, (v, _) in session_layers(tr, cw, [u.index for u in units]).items()},
        "counts": cnt,
    }
    return found, report, drifts, problems, sum(len(u.ops) for u in units) + failed


def traced_metrics(tr, wl, units, args, work) -> tuple[dict, dict, list, int]:
    """Every declared per-layer metric (a layer the run does not call reads
    0), the tracing overhead of each gated metric, and the count drifts of
    the workload and its companion.  Returns the metrics, a report, the
    companion's failed checks and its attempted operations."""
    layers = declared("per_layer")
    found, loop_counts, drifts = layer_figures(tr, wl, units)
    report = {"counts": loop_counts}
    on = gated(wl, [u for u in units if u.traced])
    off = gated(wl, [u for u in units if not u.traced])
    for slot, (v, unit) in on.items():
        found[f"trace.overhead_{slot}"] = (v - off[slot][0], unit)
    problems, attempted = [], 0
    if wl.name in COMPANIONS:
        more, report["companion"], d, problems, attempted = companion(
            COMPANIONS[wl.name], args.seed, work, wl.spark, tr)
        found.update(more)
        drifts += d
    found["trace.count_drifts"] = (drifts, "count")
    for k, (v, unit) in found.items():
        if layers.get(k) != unit:
            raise KeyError(f"per-layer metric {k} ({unit}) is not declared in BENCHMARK.json")
    return {k: found.get(k, (0.0, unit)) for k, unit in layers.items()}, report, problems, attempted


def run(args, work: str):
    import python_async_sample_spark.session as session  # fails fast outside a checkout

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    conf = isolate(work)
    wl = WORKLOADS[args.workload](args.seed, work)
    t = now()
    inputs = wl.generate()
    gen_s = now() - t

    cpus = len(os.sched_getaffinity(0))
    setups = []
    for k in range(SETUPS):
        t = now()
        spark = session.get_spark(app_name=f"perfbench-{wl.name}", cpus=cpus, extra_conf=conf)
        tr = Tracer(spark)
        wl.prepare(spark, tr, k)
        wl.warmup()
        setups.append(now() - t)
        if k < SETUPS - 1:
            spark.stop()
    wl.prime()

    units, failed, i = [], 0, 0
    # traced and untraced units alternate by whole groups, so both see the same mix
    min_units = 2 * wl.whole if args.trace else 1
    t0 = now()
    while True:
        tr.on = bool(args.trace) and (i // wl.whole) % 2 == 0
        t = now()
        try:
            u = wl.unit(i)
        except Exception:  # one failed operation: record it and go on
            traceback.print_exc()
            failed += 1
            u = False
        finally:
            traced, tr.on = tr.on, False
        if u is None:
            break
        if u:
            u.wall, u.traced, u.index = now() - t, traced, i
            units.append(u)
            if traced:
                tr.on = True
                wl.after_traced(i)
                tr.on = False
        i += 1
        if i >= min_units and i % wl.whole == 0:
            elapsed = now() - t0
            if elapsed + elapsed / (i // wl.whole) / 2 >= args.seconds:
                break
    measured = now() - t0
    t = now()
    problems = wl.check()
    check_s = now() - t
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)

    report = {
        "workload": wl.name, "seed": args.seed, "units": len(units),
        "generated": {"seconds": gen_s, "rows": inputs.rows, "bytes": inputs.bytes_written},
        "setups_s": setups, "measured_s": measured, "check_s": check_s, "cpus": cpus,
        "unit_walls_s": [round(u.wall, 4) for u in units],
        "op_s": [round(x, 4) for u in units for x in u.ops],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "named": {k: {"value": v, "unit": unit} for k, (v, unit) in wl.named(units).items()},
    }
    attempted = sum(len(u.ops) for u in units) + failed
    if args.trace:
        metrics, more, extra_problems, extra_attempted = traced_metrics(tr, wl, units, args, work)
        report.update(more)
        problems += extra_problems
        attempted += extra_attempted
        os.makedirs(f"{WORK_BASE}/traces", exist_ok=True)
        tr.dump(f"{WORK_BASE}/traces/{wl.name}-seed{args.seed}.json")
    else:
        metrics = {"setup_s": (statistics.median(setups), "s"), **gated(wl, units)}
    stop_jvm()
    # the JVM is a waited-for child by now, so its peak counts in RUSAGE_CHILDREN
    peak_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
               + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss) / 1024.0
    report["peak_rss_mb"] = peak_mb
    failed += len(problems)
    result = {
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
    return result, report


def main(argv=None) -> int:
    args = parse(argv)
    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    sys.path.insert(0, ROOT)
    try:
        result, report = run(args, work)
    finally:
        try:
            stop_jvm()
        except ImportError:
            pass
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
