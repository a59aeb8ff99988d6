"""Run one benchmark workload against flycatcher_spark and print its metrics.

    python3 perfbench/run.py --workload validate_batches --seed 1 --seconds 10 --trace 0

The benchmark generates the workload's inputs from ``--seed`` (under
``.perfbench_work/`` in the checkout, outside every metric), starts a
``local[nproc]`` session through the library's ``get_spark``, compiles
the workload's schema and runs the untimed warm-up operations. It then
issues operations back to back from one driver thread (a closed loop)
for ``--seconds`` seconds, and at least the workload's ``min_ops``
operations, and checks every operation's output against an independent
reference.

With ``--trace 0`` the last stdout line is a JSON object with the
end-to-end metrics. With ``--trace 1`` the run measures that untraced
window and then a window whose session has the Spark event log on and a
job group around every public call, then prints the per-layer table; its
last line holds the per-layer metrics. Lines before the last one start
with ``#`` and are for people.

Exit status is 0 when a result was printed, 2 when the library cannot be
imported from the checkout, 1 on any other error.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import subprocess
import sys
import shutil
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: fixed for every host, so plans do not depend on the core count
SHUFFLE_PARTITIONS = 8
#: past ``--seconds``, a window stops issuing operations after this long,
#: whatever it holds, so a slow host cannot stretch a full comparison's 70
#: runs past their time budget
WINDOW_CAP_S = 30.0

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import machine, stats  # noqa: E402
from perfbench.metrics import END_TO_END, per_layer as per_layer_metrics  # noqa: E402

PER_LAYER = per_layer_metrics()


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """2 GiB, or half the host's RAM on a host with less than 4 GiB."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return f"{min(2048, total_mb // 2)}m"


def _configure_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_DRIVER_MEM"] = _driver_mem()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "--conf",
            "spark.ui.showConsoleProgress=false",
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"),
            "pyspark-shell",
        ]
    )


def _library_ok() -> bool:
    try:
        import flycatcher_spark
    except ImportError as e:
        print(f"perfbench: cannot import flycatcher_spark: {e}", file=sys.stderr)
        return False
    where = os.path.abspath(flycatcher_spark.__file__)
    if not where.startswith(ROOT + os.sep):
        print(f"perfbench: flycatcher_spark is not this checkout's ({where})", file=sys.stderr)
        return False
    return True


def drop_storage(spark) -> None:
    """Drop cached tables and persisted RDDs (checkpoints included), so
    every operation starts from the same empty storage state."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def start_session(tracer, event_log: str | None = None):
    from pyspark import SparkContext

    from flycatcher_spark.session import get_spark

    jvm = SparkContext._jvm
    if jvm is not None:  # a later session in this JVM reads these at start
        props = {
            "spark.eventLog.enabled": "true" if event_log else None,
            "spark.eventLog.dir": f"file://{event_log}" if event_log else None,
            "spark.eventLog.compress": "false" if event_log else None,
        }
        for k, v in props.items():
            if v is None:
                jvm.java.lang.System.clearProperty(k)
            else:
                jvm.java.lang.System.setProperty(k, v)
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all() -> None:
    """Stop the JVM and wait for every child process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while machine.tree_pids() and time.time() < deadline:
        time.sleep(0.2)
    for pid in machine.tree_pids():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in machine.tree_pids():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run_window(spark, wl, tracer, seconds: float) -> list:
    from perfbench.workloads import OpRecord

    recs = []
    t0 = time.perf_counter()
    k = 0
    while True:
        rec = OpRecord(k, wl.rows_per_op)
        tracer.begin_op(rec)
        try:
            wl.op(spark, tracer, k, rec)
        except Exception as e:  # an operation that raises is a failed operation
            rec.error = f"{type(e).__name__}: {str(e)[:300]}"
            traceback.print_exc(file=sys.stderr)
        tracer.end_op()
        drop_storage(spark)
        recs.append(rec)
        k += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= max(seconds, WINDOW_CAP_S):
            break
        if elapsed >= seconds and k >= wl.min_ops and k % wl.op_multiple == 0:
            break
    return recs


def end_to_end(recs: list, setup_s: float) -> dict:
    done = [r for r in recs if r.error is None]
    walls = [r.wall_s for r in done]
    rows = sum(r.rows for r in done)
    return {
        "setup_s": setup_s,
        "op_p50_s": stats.median(walls),
        "rows_per_s": rows / sum(walls),
        # a median over the operations, like op_p50_s, so one operation
        # that met a full GC or a compile burst does not move it
        "cpu_s_per_mrow": stats.median([r.cpu_s / (r.rows / 1e6) for r in done]),
        "driver_rss_peak_mb": max(r.rss_peak_mb for r in done),
    }


def failures(recs: list) -> int:
    return sum(1 for r in recs if r.error is not None or not r.check.get("ok"))


def report_ops(name: str, phase, wl) -> None:
    recs = phase.recs
    walls = [r.wall_s for r in recs if r.error is None]
    n = len(walls)
    p90 = (
        f"{stats.percentile(walls, 90):.4f} s"
        if stats.reportable(n, 90)
        else f"n/a ({n} ops; p90 needs >= 100)"
    )
    print(f"# {name}: {len(recs)} ops of {wl.rows_per_op} input rows; op_p90_s {p90}")
    print(f"# {name}: op wall s {[round(r.wall_s, 3) for r in recs]}")
    print(
        f"# {name}: fail_ratio {failures(recs)}/{len(recs)}; "
        f"construct_s p50 {stats.median([r.construct_s for r in recs]):.4f}, "
        f"action_s p50 {stats.median([r.action_s for r in recs]):.4f}"
    )
    for r in recs:
        for msg in ([r.error] if r.error else []) + r.check.get("problems", []):
            print(f"# {name}: op {r.index} FAILED: {msg}")


@dataclass
class Phase:
    """One session after its set-up: a measured window and its checks."""

    tracer: object
    recs: list = field(default_factory=list)
    window: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


def set_up(wl, event_log: str | None = None):
    """Start a session, compile the schema and run the warm-up operations."""
    from perfbench.trace import Tracer

    tracer = Tracer()
    spark = start_session(tracer, event_log)
    if event_log:
        tracer.sc = spark.sparkContext
    wl.compile(tracer)
    tracer.op = "warmup"
    wl.warmup(spark, tracer)
    drop_storage(spark)
    return tracer, spark


def run_phase(wl, seconds: float, tracer, spark) -> Phase:
    phase = Phase(tracer)
    try:
        with machine.Window() as win:
            phase.recs = run_window(spark, wl, tracer, seconds)
        phase.window = win.record()
        if tracer.tracing:
            with tracer.span("bench.probe"):
                probed = wl.probe(spark)
    finally:
        spark.stop()  # the JVM stays up for a later session; stop_all ends it
    phase.extra = wl.check(phase.recs)
    if tracer.tracing:
        phase.extra.update(probed)
    return phase


def per_layer(wl, untraced: Phase, traced: Phase, log_dir: str) -> dict:
    from perfbench.trace import event_files, layer_table, read_events, summarize
    from perfbench.workloads import SPANS

    totals, jobs = summarize(read_events(event_files(log_dir)))
    table = layer_table(totals, traced.tracer.calls, SPANS)
    # set-up spans: the process's first, cold calls, which setup_s holds
    for span in ("session.get_spark", "base.compile", "generators.ddl.to_ddl"):
        first = next(c for c in untraced.tracer.calls if c.span == span)
        table[span].update(calls=1, call_s=first.seconds)
    extra = dict(traced.extra)
    shard_bytes = extra.pop("operators.webdataset.save_webdataset.output_bytes", None)
    if shard_bytes is not None:  # written by executors outside Spark's output metrics
        table["operators.webdataset.save_webdataset"]["output_bytes"] = shard_bytes
    unattributed = sum(t["jobs"] for (g, _), t in totals.items() if g is None)
    print_layer_table(wl.name, table, totals, jobs, unattributed)
    t_walls = [r.wall_s for r in traced.recs if r.error is None]
    u_walls = [r.wall_s for r in untraced.recs if r.error is None]
    metrics = {f"{span}.{m}": v for span, row in table.items() for m, v in row.items() if m != "calls"}
    metrics.update(extra)
    recs = untraced.recs + traced.recs
    metrics.update(
        {
            "op.construct_s": stats.median([r.construct_s for r in traced.recs]),
            "op.action_s": stats.median([r.action_s for r in traced.recs]),
            "trace.op_p50_s": stats.median(t_walls),
            "trace.overhead_s": stats.median(t_walls) - stats.median(u_walls),
            "trace.unattributed_jobs": unattributed,
            "bench.fail_ratio": failures(recs) / len(recs),
        }
    )
    return metrics


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor")
    args = p.parse_args(argv)
    t_proc = machine.process_start_epoch()

    if not _library_ok():
        return 2
    _configure_env()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 1
    generated = time.time()
    wl = WORKLOADS[args.workload](WORK, args.seed, args.scale)
    generated = time.time() - generated

    try:
        tracer, spark = set_up(wl)
        setup_s = time.time() - t_proc - generated
        first = run_phase(wl, args.seconds, tracer, spark)
        calibration = machine.calibration_s()
        name = wl.name
        print(f"# {name} seed {args.seed}: setup_s {setup_s:.3f}, input generation {generated:.3f} s")
        report_ops(name, first, wl)
        state = {
            **first.window,
            "cpus": _cpus(),
            "driver_memory": _driver_mem(),
            "calibration_md5_64mb_s": round(calibration, 4),
        }
        print(f"# {name} machine: {json.dumps(state)}")
        if not any(r.error is None for r in first.recs):
            print("perfbench: every operation raised", file=sys.stderr)
            return 1
        phases = [first]
        if args.trace:
            log_dir = os.path.join(WORK, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            # same JVM as the untraced window, which start_session needs
            # to turn the event log on
            tracer, spark = set_up(wl, event_log=log_dir)
            traced = run_phase(wl, args.seconds, tracer, spark)
            report_ops(name + " traced", traced, wl)
            phases.append(traced)
            metrics = per_layer(wl, first, traced, log_dir)
            out = {
                k: {"value": metrics.get(k, 0.0), "unit": unit}
                for k, (unit, _) in PER_LAYER.items()
            }
        else:
            for k, v in first.extra.items():
                print(f"# {name}: {k} = {v}")
            e2e = end_to_end(first.recs, setup_s)
            out = {k: {"value": e2e[k], "unit": unit} for k, (unit, _) in END_TO_END.items()}
    finally:
        stop_all()
    recs = [r for ph in phases for r in ph.recs]
    failed = failures(recs)
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed, "metrics": out}))
    return 0


def print_layer_table(name, table, totals, jobs, unattributed) -> None:
    """One line per span: per-call means over the traced window's timed
    operations, then where every job in the event log went."""
    from perfbench.trace import JOB_METRICS

    cols = ["calls", "call_s", "jobs", *JOB_METRICS]
    print(f"# {name} per-layer table, per call (bytes in B, times in s):")
    print(f"# {'span':<40}" + "".join(f"{c[:12]:>13}" for c in cols))
    for span, row in table.items():
        print(f"# {span:<40}" + "".join(f"{row[c]:>13.4g}" for c in cols))
    phases: dict[str, int] = {}
    for (group, op), t in totals.items():
        if group is None:
            continue
        phase = "the benchmark's own reads and checks" if group.startswith("bench.") else (
            "timed operations" if (op or "").startswith("op ") else f"spans during {op}"
        )
        phases[phase] = phases.get(phase, 0) + t["jobs"]
    print(
        f"# {name} event log: {len(jobs)} jobs = "
        + " + ".join(f"{n} in {p}" for p, n in sorted(phases.items()))
        + f" + {unattributed} unattributed"
    )


if __name__ == "__main__":
    sys.exit(main())
