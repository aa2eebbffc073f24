#!/usr/bin/env python3
"""One benchmark run of one workload.

    python3 perfbench/run.py --workload bulk-replay --seed 1 --seconds 12 --trace 0

Prints the end-to-end metrics by name with their units, then, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. ``--trace 0`` reports the end-to-end metrics (tracing off);
``--trace 1`` installs the span wrappers, enables Spark's event log and
reports the per-layer metrics instead. Each run also writes its full
results (host stamp, every sample-derived number, failures) to
``.perfbench_out/<workload>-seed<n>-trace<t>.json`` under the checkout,
and a traced run writes its spans next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    from workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SIZES), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "csv_cruncher_spark", "__init__.py")) and (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    )


def run(args, work: str, driver_log: str) -> dict:
    import harness
    import layers
    from spans import Tracer, read_event_log
    from workloads import SIZES, WORKLOADS

    t_import = time.perf_counter()
    import pyspark  # noqa: F401

    import csv_cruncher_spark.session  # noqa: F401

    if args.workload == "query-mix":
        import __spark_entry__  # noqa: F401
    import_s = time.perf_counter() - t_import

    stamp = harness.host_stamp()
    wl = WORKLOADS[args.workload](work, args.seed, SIZES[args.scale][args.workload])
    t = time.perf_counter()
    wl.prepare()
    phases = {"prepare_s": time.perf_counter() - t}

    procs = harness.ProcTree()
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    conf = harness.spark_conf(work, event_dir)
    spark, setups = harness.timed_setups(lambda: harness.start_session(conf), wl.warm_up)
    try:
        tracer = None
        if args.trace:
            tracer = Tracer(spark, procs, driver_log)
            layers.install(tracer)
        log0 = os.path.getsize(driver_log)
        t0 = time.perf_counter()
        try:
            wl.measure(spark, t0 + args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        measured_s = time.perf_counter() - t0
        log1 = os.path.getsize(driver_log)
        peak_rss = procs.peak_rss_mb()
        extract = layers.extract_alone(spark, tracer, wl.extract_inputs()) if tracer else None
        t = time.perf_counter()
        wl.check(spark)
        phases["check_s"] = time.perf_counter() - t
        app_id = spark.sparkContext.applicationId
    finally:
        t = time.perf_counter()
        harness.stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t

    e2e, detail = wl.metrics()
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "work_s": (e2e["work_s"], "s"),
        "read_s": (e2e["read_s"], "s"),
        "peak_rss_mb": (peak_rss["total"], "MB"),
    }
    detail.update({f"rss_{k}_mb": (v, "MB") for k, v in peak_rss.items() if k != "total"})
    failed = wl.failed
    stamp["load1_end"] = harness.load1()
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "host": stamp, "import_s": import_s,
        "setup_cycles_s": setups, "measured_s": measured_s, "phases_s": phases,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        "failed_ratio": failed / max(1, wl.attempted),
        "failures": wl.failures,
    }
    if tracer is not None:
        groups = read_event_log(event_dir, app_id)
        values = layers.compute(tracer, groups, wl, extract, (log0, log1))
        result["per_layer"] = {
            n: {"value": values[n], "unit": u} for n, u, _ in layers.per_layer_metrics()
        }
    return {"result": result, "wl": wl, "tracer": tracer, "failed": failed}


def report(out: dict, out_dir: str) -> dict:
    """Print the human-readable lines, write the results files and return
    the contract's last-line object."""
    r = out["result"]
    h = r["host"]
    print(f"perfbench {r['workload']} seed={r['seed']} trace={r['trace']} scale={r['scale']} "
          f"nproc={h['nproc']} mem_total_kb={h['mem_total_kb']} pyspark={h['pyspark']} "
          f"load1={h['load1_start']:.2f}->{h['load1_end']:.2f}")
    print(f"  setup cycles: {', '.join(f'{s:.3f}' for s in r['setup_cycles_s'])} s "
          f"(imports {r['import_s']:.3f} s); measured {r['measured_s']:.1f} s; "
          + ", ".join(f"{k} {v:.1f}" for k, v in r["phases_s"].items()))
    for k, m in {**r["end_to_end"], **r["detail"]}.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(f"  failed_ratio = {r['failed_ratio']:.6g} ratio ({out['failed']}/{out['wl'].attempted})")
    for f in r["failures"][:20]:
        print(f"  FAILED: {f}")

    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{r['workload']}-seed{r['seed']}")
    if out["tracer"] is not None:
        out["tracer"].dump(stem + ".spans.jsonl")
        base = stem + "-trace0.json"
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)["end_to_end"]
            r["tracing_overhead"] = {
                k: r["end_to_end"][k]["value"] / plain[k]["value"] - 1.0
                for k in ("work_s", "read_s")
            }
            for k, v in r["tracing_overhead"].items():
                print(f"  tracing overhead on {k} = {100 * v:+.1f}% (vs {base})")
    with open(f"{stem}-trace{r['trace']}.json", "w") as f:
        json.dump(r, f, indent=1)

    section = r["per_layer"] if r["trace"] else r["end_to_end"]
    return {
        "correct": not r["failures"],
        "attempted": out["wl"].attempted,
        "failed": out["failed"],
        "metrics": section,
    }


def main(argv=None) -> int:
    if not program_present():
        print(f"perfbench: no csv_cruncher_spark package or __spark_entry__.py in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    args = parse_args(argv)
    import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    harness.configure_env(work)
    driver_log = os.path.join(work, "driver.log")
    saved_err = os.dup(2)
    with open(driver_log, "ab") as log:
        os.dup2(log.fileno(), 2)
    try:
        out = run(args, work, driver_log)
    except Exception:  # noqa: BLE001 - report any failure, then exit non-zero
        os.dup2(saved_err, 2)
        traceback.print_exc()
        with open(driver_log, "rb") as f:
            tail = f.read()[-4000:].decode("utf-8", "replace")
        print(f"--- driver log tail ---\n{tail}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    os.dup2(saved_err, 2)
    shutil.rmtree(work, ignore_errors=True)
    line = report(out, os.path.join(ROOT, ".perfbench_out"))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
