"""search_spark benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {ingest,interactive} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The run starts the engine's Spark session
(``local[4]``, 4 shuffle partitions), prepares its inputs from ``--seed``
with the engine's own generators, runs the workload in a closed loop with
one client, checks every output and stops every process it started. The
number of timed operations follows from ``--seconds`` alone (about that
many seconds of timed work on a 4-vCPU host), never from how fast they run.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log, wraps every call into a layer in a span, and reports the
per-layer metrics instead (see ``tracing.py``). Both print a report by
metric name, unit and sample count, then one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. A full record of the run
(all named metrics, inputs, ambient load, spans) is written to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")

# end-to-end metrics, every workload: (name, unit)
END_TO_END = (
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("warm_p50_s", "s"),
    ("peak_pss_mb", "MiB"),
)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "interactive"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the smoke test")
    return ap.parse_args(argv)


def _line(name: str, value: float, unit: str, n: int | None = None) -> str:
    count = f"  (n={n})" if n is not None else ""
    return f"  {name:<34} {value:>14.6g} {unit}{count}"


def _untraced_record(workload: str, seed: int) -> dict | None:
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def main(argv=None) -> int:
    args = _parse(argv)
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # fails outside a checkout of the engine: no result is printed
    import common
    import ingest
    import interactive
    import tracing

    workload = {"ingest": ingest, "interactive": interactive}[args.workload]
    work = os.path.join(
        HERE, ".work", f"{args.workload}-seed{args.seed}-{os.getpid()}"
    )
    os.makedirs(work, exist_ok=True)
    tracer = tracing.Tracer(args.workload, enabled=bool(args.trace))
    try:
        ambient = common.Ambient()
        with common.MemSampler() as mem:
            with tracer.span("session"):
                spark, setup_s = common.start_spark(
                    work, tracer,
                    os.path.join(work, "eventlog") if args.trace else None,
                )
            try:
                res = workload.run(spark, tracer, work, args.seed,
                                   args.seconds, args.size)
            finally:
                common.stop_spark(spark)
        amb = ambient.finish()
        amb["memory_at_peak"] = mem.at_peak
        record = _summarize(args, res, setup_s, mem.peak_mib, amb)
        if args.trace:
            _trace_record(args, record, tracer, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["inputs"] = {**workload.properties(args.seed, args.size),
                        **res["inputs"]}
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    _report(args, record)
    return 0


def _summarize(args, res: dict, setup_s: float, peak_mib: float,
               amb: dict) -> dict:
    ops = res["ops"]
    failed = [op for op in ops if not op["ok"]]
    e2e = {
        "setup_s": setup_s,
        "cold_s": res["cold_s"],
        "warm_p50_s": res["warm_p50_s"],
        "peak_pss_mb": peak_mib,
    }
    named = {
        "setup_s": (setup_s, "s", 1),
        "peak_pss_mb": (peak_mib, "MiB", 1),
        "failed_ratio": (len(failed) / len(ops), "ratio", len(ops)),
        **res["named"],
    }
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "failures": [
            {k: op.get(k) for k in ("kind", "index", "error")}
            for op in failed
        ],
        "end_to_end": e2e,
        "named": {k: {"value": v, "unit": u, "n": n}
                  for k, (v, u, n) in named.items()},
        "ops": [
            {k: op.get(k) for k in ("kind", "index", "cold", "phase", "ok",
                                     "latency_s")}
            for op in ops
        ],
        "ambient": amb,
        "phases": res.get("phases", {}),
    }


def _trace_record(args, record: dict, tracer, work: str) -> None:
    import tracing

    events = tracing.read_event_log(os.path.join(work, "eventlog"))
    groups = tracing.fold_tasks(events)
    spans = tracer.spans
    tracing.span_metrics(spans, groups)
    warm = {s["id"] for s in spans
            if s["name"].startswith("op:") and not s.get("cold")}
    record["per_layer"] = tracing.layer_metrics(spans, warm)
    totals = tracing.run_totals(groups)
    layer_cpu = sum(s["cpu_s"] for s in spans if tracing.layer_of(s["name"]))
    bench_cpu = sum(
        s["cpu_s"] for s in spans
        if not tracing.layer_of(s["name"]) and not s["name"].startswith("op:")
    )
    record["reconcile"] = {
        "run_executor_cpu_s": totals["executor_cpu_s"],
        "layers_executor_cpu_s": layer_cpu,
        "benchmark_executor_cpu_s": bench_cpu,
        "untagged_executor_cpu_s": totals["untraced_cpu_s"],
        "layers_share_of_workload": layer_cpu
        / max(1e-9, totals["executor_cpu_s"] - bench_cpu),
    }
    untraced = _untraced_record(args.workload, args.seed)
    if untraced is not None:
        record["tracing_overhead"] = {
            k: v - untraced["end_to_end"][k]
            for k, v in record["end_to_end"].items()
            # a record left by an older version of the benchmark may lack k
            if k in untraced["end_to_end"]
        }
        record["tracing_overhead_note"] = (
            "traced minus untraced, same workload and seed"
            + ("; the staged replay gives up the engine's stage fusion and"
               " cuts lineage after every stage, so it also skips the"
               " engine's planning over deep plans (the difference can be"
               " negative)" if args.workload == "ingest" else "")
        )
    path = os.path.join(
        RESULTS, f"{args.workload}-seed{args.seed}-spans.json"
    )
    tracer.write(path)
    record["spans_file"] = os.path.relpath(path, ROOT)


def _report(args, record: dict) -> None:
    import metrics

    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    for name, m in record["named"].items():
        print(_line(name, m["value"], m["unit"], m["n"]))
    amb = record["ambient"]
    print(f"  ambient: loadavg_1m {amb['loadavg_1m_start']:.2f} -> "
          f"{amb['loadavg_1m_end']:.2f}, cpu steal "
          f"{100 * amb['cpu_steal_share']:.1f}%, cpu probe "
          f"{amb['cpu_probe_ms_start']:.1f} -> {amb['cpu_probe_ms_end']:.1f} ms"
          f", nproc {amb['nproc']}")
    for f in record["failures"]:
        print(f"  FAILED {f['kind']} #{f['index']}: {f['error']}")
    if args.trace:
        units = dict(END_TO_END)
        for k, v in record.get("tracing_overhead", {}).items():
            print(_line(f"tracing_overhead.{k}", v, units[k]))
        rec = record["reconcile"]
        print(f"  layers hold {100 * rec['layers_share_of_workload']:.1f}% "
              f"of the workload's executor CPU")
        out = {
            name: {"value": float(record["per_layer"].get(name, 0.0)),
                   "unit": unit}
            for name, unit in metrics.PER_LAYER
        }
    else:
        out = {
            name: {"value": float(record["end_to_end"][name]), "unit": unit}
            for name, unit in END_TO_END
        }
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": out,
    }), flush=True)


if __name__ == "__main__":
    sys.exit(main())
