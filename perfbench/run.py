#!/usr/bin/env python3
"""Benchmark of the field-processing engine, one workload per process.

    python3 perfbench/run.py --workload items --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run starts one Spark session at
``local[2]`` through ``session.get_spark``, generates its inputs from the
seed, runs one cold pass, discards warm-up passes until the JIT ramp is
over, times passes for ``--seconds`` seconds in a closed loop (one thread,
passes back to back), checks the outputs against their references, and
prints one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the separate
traced run that reports the per-layer metrics.  NOTES.md describes both.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("items", "dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Library defaults only: drop the library's own environment knobs, so
    the session is what a plain ``get_spark`` caller gets; keep every file
    the run writes inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = workdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}"
    tempfile.tempdir = workdir


def untraced_run(wl, seconds: float, setup_s: float, probes: list, procs) -> dict:
    import harness as H

    first = H.probed(wl.run_pass, probes)
    warm = H.warm_up(wl.run_pass, probes)
    times = H.timed_window(wl.run_pass, seconds, probes)
    probes.append(H.host_probe_s())
    mem = procs.sample()
    t = time.perf_counter()
    matched, checked, failures = wl.check()
    check_s = time.perf_counter() - t
    med = statistics.median(times)
    scale = H.PROBE_REF_S / statistics.median(probes)
    return {
        "correct": matched == checked,
        "attempted": checked,
        "failed": checked - matched,
        "metrics": {
            "setup_s": {"value": setup_s * scale, "unit": "s"},
            "first_pass_s": {"value": first * scale, "unit": "s"},
            "items_per_s": {"value": wl.items / (med * scale), "unit": "1/s"},
            "peak_rss_mb": {"value": mem["jvm_hwm_mb"] + mem["py_hwm_mb"],
                            "unit": "MiB"},
            "match_frac": {"value": matched / checked, "unit": "fraction"},
        },
        "info": {"items_per_pass": wl.items, "host_probes_s": probes,
                 "host_scale": scale, "first_pass_wall_s": first, "warmup_s": warm, "timed_s": times,
                 "items_per_s_wall": wl.items / med, "timed_passes": len(times),
                 "check_s": check_s, "memory_mb": mem, "failures": failures},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "scrapy_processors_spark")):
        print("perfbench: the scrapy_processors_spark package is not next to "
              "perfbench/; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness as H
    import workloads as W

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    workdir = os.path.join(HERE, "_work", run_id)
    outdir = os.path.join(HERE, "_out")
    os.makedirs(workdir, exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    prepare_env(workdir)
    # a terminated run still stops its JVM and workers and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpu0 = H.cpu_stat()
    tracer = H.Tracer(run_id, bool(args.trace))
    spark = None
    try:
        spark = H.start_session()
        setup_s = H.since_process_start()
        probes = [H.host_probe_s()]
        procs = H.ProcView()
        wl = W.WORKLOADS[args.workload](spark, args.seed, workdir, tracer)
        wl.prepare()
        prepare_s = H.since_process_start() - setup_s
        if args.trace:
            import layers

            result = layers.traced_run(wl, spark, tracer, procs, args.seconds,
                                       workdir)
        else:
            result = untraced_run(wl, args.seconds, setup_s, probes, procs)
        info = result.pop("info")
        steal = H.steal_frac(cpu0, H.cpu_stat())
        info.update(run=run_id, setup_wall_s=setup_s, prepare_s=prepare_s,
                    host_steal_frac=steal,
                    nproc=os.cpu_count(), session=H.session_settings(spark))
        if args.trace:
            result["metrics"]["host.steal_frac"] = {"value": steal,
                                                    "unit": "fraction"}
            tracer.dump(os.path.join(outdir, f"trace-{run_id}.json"))
        for f in info.get("failures", []):
            print(f"perfbench: MISMATCH {json.dumps(f, default=str)}",
                  file=sys.stderr)
        print(json.dumps({"info": info}, default=str))
    finally:
        try:
            if spark is not None:
                H.stop_session(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
