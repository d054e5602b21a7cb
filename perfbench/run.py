#!/usr/bin/env python3
"""Lifecycle benchmark for the sids_data_pipeline_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload estate_full --seed 1 --seconds 1 --trace 0

It starts one SparkSession at ``local[<cores>]`` (one process, one client,
closed loop), generates the workload's inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, sets up, runs one cold operation (op)
and then warm ops until ``--seconds`` have passed since the cold op began
(none when the cold op outlasts them; a traced run always adds an untraced
and a traced op), checks every op's output against an independent
computation, and prints:

- one ``{"info": ...}`` JSON line: environment, input sizes, per-op walls
  and check problems, and every figure below with its unit;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
  the ``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or its
  ``per_layer`` metrics (``--trace 1``). A traced run also writes its
  spans and per-layer figures to ``perfbench-trace-<workload>-<seed>.json``
  in the checkout root.

Figures: ``setup_s`` runs from argument parsing to the first op (engine
import, session start, input generation, set-up); ``cold_op_s`` is the
first op; ``rows_per_s`` input rows (source pixels or documents) per
second of the untraced ops, the cold op included; ``out_bytes_per_in_byte``
the data bytes the ops' sinks wrote per input byte. Printed on the info
line only, and for the first three only when the run held warm ops:
``op_p50_s`` (median of the untraced ops after the cold op), ``op_tail_s``
(highest percentile with ten samples beyond it, else the maximum, with
the percentile used), ``late_op_p50_s`` (median of the last quarter of
those ops), ``peak_rss_mb`` (VmHWM of the driver JVM plus this process)
and ``failed_frac``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sids_data_pipeline_spark"
# every figure a run computes; BENCHMARK.json declares the steady ones
UNITS = {
    "setup_s": "s", "cold_op_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "op_tail_percentile": "%", "late_op_p50_s": "s", "rows_per_s": "1/s",
    "peak_rss_mb": "MiB", "out_bytes_per_in_byte": "B/B", "failed_frac": "frac",
    "warm_ops": "count",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true", help="tiny inputs (smoke test)")
    p.add_argument("--corrupt", action="store_true",
                   help="damage every op's output before its check (smoke test)")
    return p.parse_args(argv)


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest op-wall percentile with at
    least ten samples beyond it; the maximum when there are too few."""
    s = sorted(walls)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def _start_spark(work: str, cores: int, trace: bool, workload: str):
    from sids_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(f"perfbench-{workload}", master=f"local[{cores}]", extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (its Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str, t_start: float, bench: dict) -> tuple[dict, dict]:
    import workloads

    cores = len(os.sched_getaffinity(0))
    spark = _start_spark(work, cores, bool(args.trace), args.workload)
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        env = {
            "nproc": cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": __import__("pyspark").__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "git_commit": _git_commit(),
            "source_sha256": _source_digest(),
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
        }
        sizes = (workloads.TOY if args.toy else workloads.SIZES)[args.workload]
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, sizes)
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark, os.path.join(work, "eventlog"), cores)
        wl.setup()
        setup_s = time.perf_counter() - t_start

        ops = []
        error = None

        def one(i, traced):
            op = wl.op(i, tracer if traced else None)
            if args.corrupt:
                wl.corrupt(op)
            op.problems += wl.check(op)
            ops.append(op)

        try:
            window = time.perf_counter()
            one(0, False)  # the cold op, never traced
            i = 1
            # the window opens with the cold op, so a run shorter than it
            # holds the cold op alone; a traced run always adds one
            # untraced warm op and then traced ones: the tracing overhead
            # is traced wall / untraced wall
            while wl.has_next():
                done = time.perf_counter() - window >= args.seconds
                if done and (not args.trace or i >= 3):
                    break
                one(i, bool(args.trace) and i >= 2)
                i += 1
        except Exception:  # an op that raises counts as failed
            error = traceback.format_exc()
            print(error, file=sys.stderr)
        if not ops:
            raise RuntimeError("no operation completed")
        wl.finish(ops)
        failed = sum(1 for op in ops if op.problems) + (error is not None)
        attempted = len(ops) + (error is not None)

        hwm = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        untraced = [op for op in ops if not op.traced]
        walls = [op.wall_s for op in untraced[1:]]
        # figures of warm ops are None in a run that held only the cold op
        tail_v, tail_p = tail(walls) if walls else (None, None)
        quarter = walls[-max(1, len(walls) // 4):]
        figures = {
            "setup_s": setup_s,
            "cold_op_s": ops[0].wall_s,
            "op_p50_s": statistics.median(walls) if walls else None,
            "op_tail_s": tail_v,
            "op_tail_percentile": tail_p,
            "late_op_p50_s": statistics.median(quarter) if walls else None,
            "rows_per_s": sum(op.rows for op in untraced) / sum(op.wall_s for op in untraced),
            "peak_rss_mb": hwm,
            "out_bytes_per_in_byte": sum(op.out_bytes for op in ops) / max(sum(op.in_bytes for op in ops), 1),
            "failed_frac": failed / attempted,
            "warm_ops": len(walls),
        }
        info = {
            "workload": args.workload,
            "env": env,
            "inputs": wl.input_sizes(),
            "row_unit": wl.row_unit,
            "figures": {k: {"value": v, "unit": UNITS[k]} for k, v in figures.items()},
            "ops": [
                {"i": op.index, "wall_s": round(op.wall_s, 4), "traced": op.traced,
                 "rows": op.rows, "in_bytes": op.in_bytes, "out_bytes": op.out_bytes,
                 "problems": op.problems[:3]}
                for op in ops
            ],
            "error": error.strip().splitlines()[-1] if error else None,
        }
        if args.trace:
            tracer.snapshot_jobs()
            spark.stop()  # flushes the event log the report reads
            layer = tracer.report(ops, figures, getattr(wl, "progress", None))
            trace_out = os.path.join(ROOT, f"perfbench-trace-{args.workload}-{args.seed}.json")
            with open(trace_out, "w") as f:
                json.dump({"info": info, "per_layer": layer, "spans": tracer.spans_json()}, f, indent=1)
            info["trace_file"] = os.path.relpath(trace_out, ROOT)
            metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]} for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": figures[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        return info, result
    finally:
        _stop(spark)


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(bench_path) as f:
        bench = json.load(f)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package too: they inherit this env
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        info, result = run(args, work, t_start, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
