"""Pipeline benchmark for the olist_snowflake_dbt_spark engine.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload elt_build --seed 1 --seconds 10 --trace 0

Stdout carries readable metric lines, then one JSON object on the last
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. Every
file the run reads or writes lives under the checkout (``.perfbench/``).
See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# Deployment settings only: cores, heap, local and warehouse directories,
# and the event log in the traced run. Tuning knobs (shuffle partitions,
# AQE, ...) stay at the engine's own defaults so a change to them shows.
DRIVER_HEAP = "2g"
# Untimed operations before measuring. The first pays JIT and codegen
# compilation; the next still runs 10-15 % slower than later ones, and by
# more when the machine is busy, so timing starts with the third.
WARM_UP_OPS = 2
REQUIRED = (os.path.join("olist_snowflake_dbt_spark", "__init__.py"),
            os.path.join("tools", "check_oracle.py"))


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("elt_build", "serve_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> set[int]:
    out: set[int] = set()
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                out.update(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = gateway.proc.pid if gateway is not None and gateway.proc else None
    workers = _children(jvm_pid) if jvm_pid else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)


def _tail(xs: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return f"n/a ({n} samples; a tail needs at least 11)"
    p = 100.0 * (n - 10) / n
    return f"{sorted(xs)[n - 11]:.4f} s at p{p:.0f} of {n}"


def main() -> int:
    args = _parse()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the engine; missing {missing}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temporary file of Python, the JVM and its launcher here
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["TZ"] = "UTC"
    time.tzset()
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path[:0] = [ROOT, HERE]
    try:
        return _run(args, work, tmp, java_opts, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, tmp: str, java_opts: str, cores: int) -> int:
    from olist_snowflake_dbt_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    g0 = time.perf_counter()
    spark = get_spark("perfbench", **conf)
    get_spark_s = time.perf_counter() - g0
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START

    import spans as tr
    import workloads as wl

    tracer = tr.Tracer(spark)
    if args.trace:
        tr.install(tracer)
    try:
        w = wl.WORKLOADS[args.workload](spark, work, args.seed, tracer, wl.load_compare())
        ops, timed, traced = [], [], []

        def run_op(i: int, on: bool):
            tracer.enabled = on
            tracer.op = i
            try:
                op = w.op(i)
            except Exception as exc:  # counted as a failed operation
                op = wl.Op(ok=False, detail=f"raised {type(exc).__name__}: {str(exc)[:300]}")
            finally:
                tracer.enabled = False
            w.check(i, op)
            ops.append(op)
            return op

        for i in range(WARM_UP_OPS):  # outputs are checked, times are not
            run_op(i, False)
        # Closed loop, one client: the next operation starts when the last
        # ends. Stop once --seconds of operation time has been measured and
        # the workload's minimum number of timed operations has run.
        # The traced run orders untraced (U) and traced (T) operations
        # U T T U, so the JVM's warm-up ramp cancels out of the tracing
        # overhead (mean T minus mean U).
        min_ops = 4 if args.trace else w.min_timed_ops
        measured, i = 0.0, WARM_UP_OPS
        while i < w.max_ops:
            on = bool(args.trace) and (i - WARM_UP_OPS) % 4 in (1, 2)
            op = run_op(i, on)
            (traced if on else timed).append(op)
            measured += op.total_s
            i += 1
            if measured >= args.seconds and i - WARM_UP_OPS >= min_ops:
                break
        finish_ok, finish_detail = w.finish()
        if not finish_ok:
            for op in ops:
                op.ok = False
            print(f"check failed: {finish_detail}")
        summary = w.summary(traced if args.trace else timed)
        from pyspark import SparkContext

        rss_mb = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(SparkContext._gateway.proc.pid)) / 1024.0
    finally:
        tracer.unwrap_all()
        _stop_spark(spark)

    failed = sum(not op.ok for op in ops)
    for n, op in enumerate(ops):
        kind = "warm-up" if n < WARM_UP_OPS else ("traced" if any(op is t for t in traced) else "timed")
        print(f"op {n} {kind} write_s={op.write_s:.4f} read_s={op.read_s:.4f} "
              f"{'ok' if op.ok else 'FAILED ' + op.detail.strip()}")
    # in the traced run the end-to-end figures come from traced operations
    measured_ops = traced if args.trace else timed
    ok_timed = [op for op in measured_ops if op.ok] or measured_ops
    totals = [op.total_s for op in ok_timed]
    writes = [op.write_s for op in ok_timed]
    reads = [op.read_s for op in ok_timed]
    print(f"workload {args.workload} seed={args.seed} cores={cores} heap={DRIVER_HEAP} "
          f"timed_ops={len(timed) + len(traced)} attempted={len(ops)} failed={failed}")
    print(f"setup_s {setup_s:.4f} s")
    print(f"peak_rss_mb {rss_mb:.1f} MB")
    print(f"failed_share {failed / len(ops):.4f} (of {len(ops)} operations)")
    print(f"op_p50_s {statistics.median(totals):.4f} s   op_tail_s {_tail(totals)}")
    print(f"write_p50_s {statistics.median(writes):.4f} s   read_p50_s {statistics.median(reads):.4f} s")
    for k, v in summary.items():
        print(f"{k} {v:.4f}")

    if args.trace:
        counters, jobs = tr.read_event_log(log_dir)
        layer, table = tr.layer_report(
            tracer.spans, counters, jobs, len(traced), sum(o.total_s for o in traced), cores
        )
        metrics = {"session.get_spark_s": (get_spark_s, "s")}
        for k, v in layer.items():
            metrics[k] = (v, _unit(k))
        for q in wl.QUERY_MIX:
            metrics[f"query.{q}_s"] = (
                table.get(f"query.{q}", {}).get("incl_s", 0.0) / max(len(traced), 1), "s"
            )
        t_mean = statistics.mean(o.total_s for o in traced)
        u_mean = statistics.mean(o.total_s for o in timed)
        metrics["trace.overhead_s"] = (t_mean - u_mean, "s")
        print(f"traced ops {len(traced)} mean {t_mean:.4f} s, untraced ops {len(timed)} "
              f"mean {u_mean:.4f} s, overhead {t_mean - u_mean:+.4f} s")
        print(f"{'span':34} {'calls':>6} {'incl_s':>9} {'self_s':>9} {'jobs':>6} "
              f"{'run_s':>8} {'cpu_s':>8} {'gc_s':>7} {'in_MB':>8} {'out_MB':>8} {'shufw_MB':>8}")
        for name, row in table.items():
            print(f"{name:34} {row['calls']:6.0f} {row['incl_s']:9.3f} {row['self_s']:9.3f} "
                  f"{row['jobs']:6.0f} {row.get('executor_run_s', 0):8.3f} "
                  f"{row.get('cpu_s', 0):8.3f} {row.get('gc_s', 0):7.3f} "
                  f"{row.get('input_bytes', 0) / 1e6:8.3f} {row.get('output_bytes', 0) / 1e6:8.3f} "
                  f"{row.get('shuffle_write_bytes', 0) / 1e6:8.3f}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss_mb, "MB"),
            "op_p50_s": (statistics.median(totals), "s"),
            "write_p50_s": (statistics.median(writes), "s"),
            "read_p50_s": (statistics.median(reads), "s"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith(("_share", "_per_batch_byte")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
