"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. Everything the run writes (tables,
generated inputs, Spark scratch, ``spark-warehouse``, ``derby.log``)
goes to a private directory under ``.perfbench_work/`` that is removed
at exit; a traced run also leaves its spans in ``.perfbench_out/``.
Human-readable report lines start with ``#``; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "openweathermapapi_etl_spark"

#: Repetitions of the data part of set-up; setup_s takes their median.
SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_upsert", "query_mix", "curation_batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input sizes; 'tiny' is for the smoke tests")
    return p.parse_args(argv)


def driver_memory() -> str:
    """Half a gigabyte per core, at most a quarter of the machine's RAM
    and at most 2 GiB: enough for these inputs, far below the engine's
    16g default, and small beside other tenants of the machine."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return f"{min(2048, total_kb // 4096)}m"


def hermetic_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and size the session for this machine. Must run before
    pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()
    # -UsePerfData: no hsperfdata file in the system temp directory.
    # -UseDynamicNumberOfCompilerThreads: the JIT compiler threads live
    # as long as the JVM, so the op CPU clock can leave them out exactly
    # (a compiler thread that exits takes its CPU figure with it).
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    # spark-warehouse/ and metastore files land in the working directory.
    os.chdir(work)


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    descendant (the JVM and any Python workers)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == pid and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM")), 0
                )
        except OSError:
            continue
    return kb / 1024.0


def own_peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM")) / 1024.0


def memory_mb(spark) -> tuple[float, float]:
    """Peak RSS of the Python driver and the JVM heap still in use after
    a full collection; their sum is what the run keeps, without the
    JVM's garbage, whose amount depends on when collections happened to
    run (peak RSS of the JVM varies by a third between identical runs)."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    live = []
    # Spark's context cleaner frees broadcast and shuffle blocks only
    # after a collection has found their owners unreachable, so a second
    # and third collection find less; the least is what stays.
    for _ in range(3):
        jvm.java.lang.System.gc()
        live.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        time.sleep(0.3)
    return own_peak_rss_mb(), min(live)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(wl, tracer, ops, session_s: float) -> dict[str, float]:
    from perfbench.layers import PER_LAYER, SQL_EXEC_KINDS
    from perfbench.stats import median
    from perfbench.trace import self_times

    traced_ops = {s.op for s in tracer.spans if s.op}
    st = self_times(tracer.spans)
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s.op is None or s.op in traced_ops:
            by_name.setdefault(s.name, []).append(st[s.id])
    by_name["sql.exec"] = [
        v for k in SQL_EXEC_KINDS for v in by_name.get(f"sql.{k}.exec", [])
    ]
    counts: dict[str, list[float]] = {}
    for sample in wl.layer_samples:
        for k, v in sample.items():
            counts.setdefault(k, []).append(v)
    traced = [o.latency_s for o in ops if o.ok and o.traced]
    untraced = [o.latency_s for o in ops if o.ok and not o.traced]
    out = {}
    for name in PER_LAYER:
        if name == "session.start_s":
            out[name] = session_s
        elif name == "trace.overhead_s":
            out[name] = median(traced) - median(untraced) if traced and untraced else 0.0
        elif name in counts:
            out[name] = median(counts[name])
        elif name.endswith("_s") and by_name.get(name[:-2]):
            out[name] = median(by_name[name[:-2]])
        else:
            out[name] = 0.0
    return out


def run(args, work: str) -> dict:
    from openweathermapapi_etl_spark.session import get_session

    from perfbench.layers import PER_LAYER
    from perfbench.stats import median, tail_percentile
    from perfbench.trace import NullTracer, Tracer, io_bytes, job_group_counts
    from perfbench.workloads import NULL, SIZES, WORKLOADS, Op

    t0 = time.perf_counter()
    spark = get_session("perfbench")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = WORKLOADS[args.workload](spark, work, SIZES[args.size], args.seed, tracer)
        # Set-up is timed in CPU seconds by the op clock (which counts
        # from the start of this process and of the JVM), like the ops:
        # its wall time is mostly JVM start-up and JIT compilation, which
        # the host's CPU steal stretched by half between identical runs.
        session_cpu = wl.cpu()
        prep, prep_cpu = [], []
        for rep in range(SETUP_REPEATS):
            a, c = time.perf_counter(), wl.cpu()
            wl.prepare(rep)
            prep.append(time.perf_counter() - a)
            prep_cpu.append(wl.cpu() - c)
        a, c = time.perf_counter(), wl.cpu()
        warm = wl.warm_up()
        warm_s, warm_cpu = time.perf_counter() - a, wl.cpu() - c
        setup_wall_s = session_s + median(prep) + warm_s
        setup_s = session_cpu + median(prep_cpu) + warm_cpu

        ops: list[Op] = []
        sc, jvm_pid = spark.sparkContext, spark.sparkContext._gateway.proc.pid
        steal0 = cpu_steal()
        start = time.perf_counter()
        while True:
            # Traced runs alternate traced and untraced ops, so the
            # tracing overhead is measured within the run.
            traced = bool(args.trace) and len(ops) % 2 == 0
            group = f"perfbench.op{len(ops)}"
            sc.setJobGroup(group, "measured op")
            io0 = io_bytes(jvm_pid)
            try:
                op = wl.op(tracer if traced else NULL, traced)
            except Exception:  # a failed op ends the run and counts as failed
                traceback.print_exc()
                ops.append(Op(float("nan"), False, traced))
                break
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            op.io_mb = (io_bytes(jvm_pid) - io0) / 2**20
            counts = job_group_counts(sc, group)
            op.jobs, op.tasks = counts["jobs"], counts["tasks"]
            ops.append(op)
            if (
                time.perf_counter() - start >= args.seconds
                and (not args.trace or len(ops) >= 2)
            ):
                break
        loop_s = time.perf_counter() - start
        steal1 = cpu_steal()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        if all(o.ok for o in warm + ops):
            mismatches = wl.verify()
            if mismatches:
                # The final state is wrong; no op can be credited.
                wl.errors.extend(mismatches)
                warm = [Op(o.latency_s, False, o.traced) for o in warm]
                ops = [Op(o.latency_s, False, o.traced) for o in ops]
        rss = peak_rss_mb()
        py_mb, heap_mb = memory_mb(spark)
        mem = py_mb + heap_mb
        layers = layer_metrics(wl, tracer, ops, session_s) if args.trace else {}
        extra = wl.report()
    finally:
        stop_spark(spark)

    measured = [o for o in ops if o.ok and not o.traced] or [o for o in ops if o.ok]
    good = [o.latency_s for o in measured]
    cpu = [o.cpu_s for o in measured]
    # The gated work figures come from the first measured op: the same
    # op of the same-shaped inputs in every run, however many ops the
    # host's speed fits into --seconds.
    first = ops[0] if ops and ops[0].ok else None
    # Warm-up ops are checked too; a wrong result there is a failed op.
    failed = sum(1 for o in warm + ops if not o.ok)
    attempted = len(warm) + len(ops)
    lines = [
        f"workload={args.workload} seed={args.seed} size={args.size} "
        f"trace={args.trace} cpus={os.environ['SPARK_GRAFT_CPUS']} "
        f"driver_mem={os.environ['SPARK_DRIVER_MEM']}",
        f"setup_s = {setup_s:.4f} s CPU (session {session_cpu:.3f}, data set-up median "
        f"of {SETUP_REPEATS} {median(prep_cpu):.3f}, warm-up {warm_cpu:.3f})",
        f"setup wall = {setup_wall_s:.4f} s (session {session_s:.3f}, data set-up median "
        f"of {SETUP_REPEATS} {median(prep):.3f}, warm-up {warm_s:.3f}; not gated)",
        f"measured ops {len(ops)} in {loop_s:.2f} s; ops.failed_ratio = "
        f"{failed}/{attempted} (warm-up ops included); host CPU steal {steal:.1%}",
    ]
    metrics: dict[str, dict] = {}
    if good:
        tail = tail_percentile(good)
        lines.append(f"op_s.p50 = {median(good):.4f} s (n={len(good)}; wall time, not gated)")
        lines.append(f"op_cpu_s.p50 = {median(cpu):.4f} s (n={len(cpu)}; not gated)")
        lines.append(
            f"op_s.p{tail[0]} = {tail[1]:.4f} s (n={len(good)}, >=10 samples beyond)"
            if tail else f"op_s tail: fewer than 20 samples (n={len(good)}), none reported"
        )
        lines.append(f"ops_per_s = {len(good) / sum(good):.4f} 1/s")
    if first:
        work = {
            "op_spark_jobs": ("count", first.jobs),
            "op_spark_tasks": ("count", first.tasks),
            "op_io_mb": ("MB", first.io_mb),
        }
        lines += [f"{k} = {v:.4f} {unit} (first measured op)" for k, (unit, v) in work.items()]
    lines.append(
        f"memory_mb = {mem:.1f} MB (python peak RSS {py_mb:.1f} + JVM heap live after "
        f"a full GC {heap_mb:.1f})"
    )
    lines.append(f"peak_rss_mb = {rss:.1f} MB (python + JVM, sum of VmHWM; not gated)")
    lines.append("op latencies (s, in order): " + " ".join(
        f"{o.latency_s:.3f}{'*' if o.traced else ''}" for o in ops[:60]))
    lines.append("op cpu (s, in order): " + " ".join(f"{o.cpu_s:.3f}" for o in ops[:60]))
    lines.append("op jobs/tasks/io MB (in order): " + " ".join(
        f"{o.jobs}/{o.tasks}/{o.io_mb:.2f}" for o in ops[:60]))
    lines += [f"{k} = {v}" for k, v in extra.items()]
    lines += [f"error: {e}" for e in wl.errors[:20]]
    if args.trace:
        for name, value in layers.items():
            unit, _better, moves = PER_LAYER[name]
            lines.append(f"layer {name} = {value:.6g} {unit}  -> {moves}")
            metrics[name] = {"value": value, "unit": unit}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    elif first:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            **{k: {"value": v, "unit": unit} for k, (unit, v) in work.items()},
            "memory_mb": {"value": mem, "unit": "MB"},
        }
    for line in lines:
        print("# " + line)
    return {
        "correct": failed == 0 and first is not None,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        hermetic_env(work)
        sys.path.insert(0, ROOT)
        result = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
