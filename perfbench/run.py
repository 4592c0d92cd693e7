"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One process, one
``local[cores]`` Spark session, one client in a closed loop. The run
builds its inputs from ``--seed``, sets up (first load and warm-up
included), then runs the workload for ``--seconds`` seconds, checks
every result, and prints one JSON line: ``correct``, ``attempted``,
``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). A fuller artifact (wall and CPU times of every
cycle, drift, per-part times, check notes and, for a traced run, the
tracing overhead) is written to ``.perfbench-results/`` in the
checkout. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "example_dms_dataexport_spark"

END_TO_END = {
    "setup_s": "s",
    "cycle_cpu_s": "s",
    "rows_per_cpu_s": "rows/cpu-s",
    "write_amp": "ratio",
    "read_cpu_s": "s",
    "scan_cpu_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args, work: str) -> tuple[dict, dict]:
    import harness as H
    import layers
    from spans import Tracer
    from workloads import MIN_CYCLES, WORKLOADS

    t0 = time.perf_counter()
    extra_conf = None
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        extra_conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                      "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}
    spark = H.start_spark(work, f"perfbench-{args.workload}", extra_conf)
    spark.range(1).count()  # the session's first job pays JVM class loading
    session_s = time.perf_counter() - t0
    probes: list[float] = []
    probe_wall = 0.0

    def probe() -> None:
        """Sample the host's speed between operations (never inside a
        measured one)."""
        nonlocal probe_wall
        t = time.perf_counter()
        probes.extend(H.speed_probe())
        probe_wall += time.perf_counter() - t

    try:
        probe()
        checks = H.Checks()
        wl = WORKLOADS[args.workload](spark, work, args.seed, checks)
        wl.setup()

        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            wl.candidates = layers.install(tracer)
            wl.tracer = tracer
        try:
            t_load = time.perf_counter()
            wl.first_load()  # cycle 0 of a traced run
            probe()
            t_warm = time.perf_counter()
            if tracer is not None:
                wl.candidates.clear()
                tracer.cycle = -1  # the warm-up is in no layer's numbers
            wl.warm_up()
            if tracer is not None:
                wl.candidates.clear()
            probe()
            t_start = time.perf_counter()
            setup_s = t_start - t0 - probe_wall
            phases = {"session_s": session_s, "inputs_s": t_load - t0 - session_s,
                      "first_load_s": t_warm - t_load, "warm_up_s": t_start - t_warm}
            while True:
                if tracer is not None:
                    tracer.cycle = len(wl.m.cycle_s) + 1
                wl.cycle()
                wl.reads()
                if tracer is not None:
                    _count_candidates(wl, tracer)
                probe()
                n = len(wl.m.cycle_s)
                if (time.perf_counter() - t_start >= args.seconds and n >= MIN_CYCLES) or n == wl.max_cycles:
                    break
            wl.probe()
            measured_s = time.perf_counter() - t_start
            if tracer is not None:
                tracer.cycle = -1  # the checks below are not part of any layer
            t_verify = time.perf_counter()
            verify = wl.verify()
            verify_s = time.perf_counter() - t_verify
        finally:
            if tracer is not None:
                tracer.restore()
        rss = H.peak_rss_mb()
        table_files = wl.table_files()
    finally:
        H.stop_spark(spark)

    m = wl.m
    raw = {
        "setup_s": setup_s,
        "cycle_cpu_s": H.median(m.cycle_cpu),
        "rows_per_cpu_s": H.median([r / c for r, c in zip(m.cycle_rows, m.cycle_cpu)]),
        "read_cpu_s": H.median(m.read_cpu),
        "scan_cpu_s": H.median(m.scan_cpu),
    }
    # times at the reference host speed: a run on slower CPUs takes longer
    # by the factor its probes took longer
    speed = H.PROBE_REF_S / statistics.mean(probes)
    e2e = {
        "setup_s": raw["setup_s"] * speed,
        "cycle_cpu_s": raw["cycle_cpu_s"] * speed,
        "rows_per_cpu_s": raw["rows_per_cpu_s"] / speed,
        "write_amp": m.out_bytes / m.in_bytes,
        "read_cpu_s": raw["read_cpu_s"] * speed,
        "scan_cpu_s": raw["scan_cpu_s"] * speed,
        "peak_rss_mb": rss,
    }
    wall = {
        "cycle_s": H.median(m.cycle_s),
        "rows_per_s": H.median([r / s for r, s in zip(m.cycle_rows, m.cycle_s)]),
        "read_s.p50": H.median(m.read_s),
        "scan_s": H.median(m.scan_s),
    }
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": H.cores(), "setup": phases, "measured_s": measured_s, "verify_s": verify_s,
        "end_to_end": e2e, "raw": raw, "wall": wall,
        "host_speed": {"factor": speed, "probe_mean_s": statistics.mean(probes),
                       "probe_ref_s": H.PROBE_REF_S, "probes_s": probes},
        "cycles": len(m.cycle_s), "cycle_s": m.cycle_s, "cycle_cpu_s": m.cycle_cpu,
        "cycle_jit_cpu_s": m.cycle_jit, "cycle_rows": m.cycle_rows,
        "drift": {"cycle_cpu_s_first": m.cycle_cpu[0], "cycle_cpu_s_last": m.cycle_cpu[-1],
                  "cycle_cpu_s_slope_per_cycle": H.trend(m.cycle_cpu),
                  "cycle_s_first": m.cycle_s[0], "cycle_s_last": m.cycle_s[-1],
                  "cycle_s_slope_per_cycle": H.trend(m.cycle_s)},
        "first_load": {"s": m.first_load_s, "cpu_s": m.first_load_cpu, "rows": m.first_load_rows,
                       "rows_per_s": m.first_load_rows / m.first_load_s},
        "reads": {"n": len(m.read_s), "s": m.read_s, "cpu_s": m.read_cpu},
        "scans": {"n": len(m.scan_s), "s": m.scan_s, "cpu_s": m.scan_cpu},
        "parts": {k: {"median": H.median(v), "n": len(v)} for k, v in m.parts.items()},
        "writes": {"in_bytes": m.in_bytes, "out_bytes": m.out_bytes,
                   "files_written": m.files_written, "files_carried": m.files_carried,
                   "table_files": table_files},
        "verify": verify, "attempted": checks.attempted, "failed": checks.failed,
        "failures": checks.notes,
    }
    if args.trace:
        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        n = len(m.cycle_s)
        extra = {"bytes_written": m.out_bytes / n, "files_written": m.files_written / n,
                 "files_linked": m.files_carried / n, "table_files": table_files}
        extra.update(wl.layer_counts())
        per_layer = layers.compute(tracer, logs[0] if logs else None, n, extra)
        artifact["per_layer"] = per_layer
        artifact["spans"] = len(tracer.spans)
        untraced = _results_path(args.workload, args.seed, 0)
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)
            over = {k: e2e[k] - base["end_to_end"][k] for k in ("cycle_cpu_s", "read_cpu_s", "scan_cpu_s")}
            over.update({k: wall[k] - base["wall"][k] for k in ("cycle_s", "read_s.p50", "scan_s")})
            over["cycle_cpu_s_share"] = e2e["cycle_cpu_s"] / base["end_to_end"]["cycle_cpu_s"] - 1
            over["cycle_s_share"] = wall["cycle_s"] / base["wall"]["cycle_s"] - 1
            artifact["tracing_overhead"] = over
        units = layers.metric_units()
        metrics = {k: {"value": float(per_layer[k]), "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": END_TO_END[k]} for k in END_TO_END}
    result = {"correct": checks.failed == 0, "attempted": checks.attempted,
              "failed": checks.failed, "metrics": metrics}
    return result, artifact


def _count_candidates(wl, tracer) -> None:
    """Count the near-dup candidate pairs of the pass that just ran (one
    extra job, outside every layer's spans)."""
    frames = getattr(wl, "candidates", None)
    if not frames:
        return
    cycle, tracer.cycle = tracer.cycle, -1
    try:
        wl.m.part("dedup.candidates", float(sum(df.count() for df in frames)))
        frames.clear()
    finally:
        tracer.cycle = cycle


def _results_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench-results", f"{workload}-seed{seed}-trace{trace}.json")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: the engine package {ENGINE}/ is not next to perfbench/ "
              f"in {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, artifact = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = _results_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({k: artifact[k] for k in ("end_to_end", "raw", "wall", "cycles", "drift", "parts", "failures")}
                     | ({"tracing_overhead": artifact.get("tracing_overhead")} if args.trace else {})),
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
