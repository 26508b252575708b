"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload frame_graph --seed 1 --seconds 15 --trace 0

A run is isolated: it generates its inputs from ``--seed`` and keeps the
warehouse, metastore, shuffle files, stream checkpoints and temp files
under its own directory in ``.perfbench/``, which is removed when the run
ends. The engine runs on ``local[nproc]`` with a single closed-loop
client, one op at a time.

Order of a run: one cold set-up, timed from process start (interpreter
and JVM start, a Spark session, ``load_all`` and the workload's builds;
input generation is left out), an untimed warm-up, then timed passes
until ``--seconds`` have been measured and the workload's minimum number
of passes has run. Outputs are checked untimed, in the warm-up
(``frame_graph``) or after the timed passes (``store_stream``). With
``--trace 1`` the set-up is traced and the timed part is one untraced
settling pass, then the workload's ``trace_pairs`` pairs of one untraced
and one traced pass; the per-layer counters are reported.

Human-readable lines go to stdout first; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

T_PROCESS = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The engine's 8 GiB default lets the heap grow as GC timing allows, so
# peak memory wandered by a fifth between seeds (IQR/median 0.20 over five
# store_stream runs, 2.9-3.6 GB). At 1 GiB it was 0.07 (1.33-1.45 GB),
# with 2 s of GC over a traced set-up and two store_stream passes.
DRIVER_MEMORY = "1g"
RUN_LIMIT_S = 170  # a run that takes longer is stopped and fails
TRACE_DIR = os.path.join(ROOT, ".perfbench", "traces")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _git() -> dict:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return {"git_sha": None, "git_dirty": None}
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no"],
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return {"git_sha": None, "git_dirty": None}
    return {"git_sha": sha or None, "git_dirty": bool(dirty)}


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _isolate(run_dir: str, nproc: int, trace: bool) -> dict:
    """Point every piece of engine scratch at this run's directory and
    drop inherited engine knobs, so runs do not see each other's state."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_"):
            del os.environ[k]
    scratch = os.path.join(run_dir, "scratch")
    tmp = os.path.join(run_dir, "tmp")
    for d in (scratch, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_SCRATCH": scratch,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "sparsity_spark_local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        # no hsperfdata file: the JVM would write it under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    if trace:
        env["SPARK_GRAFT_EVENTLOG"] = os.path.join(run_dir, "eventlog")
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def _gc_seconds(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _print(line: str) -> None:
    print(line, flush=True)


def _set_up(args, workload, ctx, nproc, gen_s):
    """The run's one set-up: a Spark session, ``load_all`` and the
    workload's builds, timed from process start minus the input
    generation, so it includes interpreter and JVM start. Returns the
    session, the set-up time and its GC seconds."""
    from sparsity_spark import session
    from sparsity_spark.data import load_all

    ctx.tracer.enabled = bool(args.trace)
    spark = session.get_spark(f"perfbench_{args.workload}", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    load_all(spark, ctx.sf_dir)
    workload.setup(spark, ctx)
    setup_s = time.perf_counter() - T_PROCESS - gen_s
    ctx.tracer.enabled = False
    return spark, setup_s, _gc_seconds(spark)


def _timed_pass(workload, spark, ctx, rng):
    """One timed pass, with the machine's CPU steal while it ran."""
    from perfbench.procs import cpu_times

    steal0 = cpu_times()["steal"]
    r = workload.timed_pass(spark, ctx, rng)
    r.steal_s = cpu_times()["steal"] - steal0
    return r


def _traced_passes(workload, spark, ctx, rng):
    """``trace_pairs`` pairs of one untraced and one traced pass, in
    ABBA order (U T T U U T ...) so that drift over the run falls on both
    sides alike. Returns (untraced, traced) pass results and the GC seconds
    of the traced passes."""
    untraced, traced, gc_s = [], [], 0.0
    for i in range(2 * workload.trace_pairs):
        on = i % 4 in (1, 2)
        ctx.tracer.enabled = on
        gc0 = _gc_seconds(spark)
        r = _timed_pass(workload, spark, ctx, rng)
        ctx.tracer.enabled = False
        if on:
            gc_s += _gc_seconds(spark) - gc0
            traced.append(r)
        else:
            untraced.append(r)
    return untraced, traced, gc_s


def _layer_metrics(tracer, untraced, traced, eventlog_dir: str, gc_s: float, stem: str, prov: dict) -> dict:
    """Print the per-layer table of a traced run (set-up plus the traced
    passes), write spans and counters under ``stem``, and return every
    counter by name."""
    from perfbench import stats
    from perfbench.trace import COUNTERS, LAYERS, event_log_files, layer_metrics, read_event_logs
    from sparsity_spark.queries import MEMO_BUILD_SECONDS

    jobs = read_event_logs(event_log_files(eventlog_dir))
    layers = layer_metrics(tracer.spans, jobs, main_thread=tracer.main_thread)
    flat = {f"{layer}.{c}": layers[layer][c] for layer in LAYERS for c in COUNTERS}
    flat["queries.memo_build_s"] = sum(MEMO_BUILD_SECONDS.values())
    for k in ("add_batch_s", "query_planning_s", "wal_commit_s"):
        flat[f"streaming.ingest.{k}"] = sum(r.extra.get(k, 0.0) for r in traced)
    flat["operators.skew.write_bucketed.calls"] = sum(
        1 for s in tracer.spans if s.layer == "operators.skew" and s.name == "write_bucketed"
    )
    flat["jvm.gc_s"] = gc_s
    flat["spark.tasks_failed"] = sum(j.tasks_failed for j in jobs)
    # the event log is on for the whole traced run, so its cost is in
    # both medians and not in this figure
    flat["trace.overhead_frac"] = (
        stats.median([r.wall_s for r in traced]) / stats.median([r.wall_s for r in untraced]) - 1.0
    )
    tracer.write_jsonl(stem + ".spans.jsonl")
    with open(stem + ".layers.json", "w") as f:
        json.dump({"provenance": prov, "metrics": flat}, f, indent=1, sort_keys=True)

    _print(
        f"# per-layer counters (set-up + {len(traced)} traced passes), "
        f"{len(tracer.spans)} spans, {len(jobs)} jobs"
    )
    _print("# " + f"{'layer':<18}" + "".join(f"{c:>20}" for c in COUNTERS))
    for layer in LAYERS:
        cells = [layers[layer][c] for c in COUNTERS]
        _print(
            "# "
            + f"{layer:<18}"
            + "".join(f"{v:>20.4f}" if isinstance(v, float) else f"{v:>20}" for v in cells)
        )
    per_layer = {f"{layer}.{c}" for layer in LAYERS for c in COUNTERS}
    for k, v in flat.items():
        if k not in per_layer:
            _print(f"# {k} {v}")
    return flat


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparsity_spark", "__init__.py")):
        print(f"error: no sparsity_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import gen, stats
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.procs import MemorySampler, cpu_times, reap_all, stop_engine
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("error: --seconds must be positive", file=sys.stderr)
        return 2

    def _watchdog():
        print(f"error: run exceeded {RUN_LIMIT_S} s; stopping", file=sys.stderr, flush=True)
        reap_all(grace_s=5)
        os._exit(3)

    timer = threading.Timer(RUN_LIMIT_S, _watchdog)
    timer.daemon = True
    timer.start()
    # a terminated run still stops the engine and removes its directory;
    # a second SIGTERM (as from a wrapper that signals the whole process
    # group) must not cut that clean-up short
    def _on_term(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, _on_term)

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    spark = None
    try:
        env = _isolate(run_dir, nproc, bool(args.trace))
        # inputs: generated before set-up starts, not counted in it
        t_gen = time.perf_counter()
        sf_dir = os.path.join(run_dir, "input")
        workload = WORKLOADS[args.workload](ROOT)
        input_bytes = gen.generate(sf_dir, args.seed, workload.sf)
        ctx = Context(sf_dir=sf_dir, work_dir=run_dir, tracer=Tracer())
        workload.prepare(ctx, args.seed)
        gen_s = time.perf_counter() - t_gen
        phases = {"inputs": gen_s}

        import pyspark

        if args.trace:
            ctx.tracer.install()
        cpu0 = cpu_times()
        spark, setup_s, gc_traced = _set_up(args, workload, ctx, nproc, gen_s)
        phases["setup"] = time.perf_counter() - T_PROCESS - gen_s

        rng = random.Random(args.seed)
        t = time.perf_counter()
        warm = workload.warmup(spark, ctx)
        phases["warmup"] = time.perf_counter() - t
        if warm.extra:
            _print("# warm-up " + json.dumps(warm.extra))

        t = time.perf_counter()
        passes, traced = [], []
        with MemorySampler() as mem:
            if args.trace:
                # the first pass after warm-up runs slow (by 15-20% on
                # store_stream): it is run untraced and left out of both medians
                passes.append(_timed_pass(workload, spark, ctx, rng))
                untraced, traced, gc_s = _traced_passes(workload, spark, ctx, rng)
                passes += untraced
                gc_traced += gc_s
            else:
                while (
                    len(passes) < workload.min_passes
                    or sum(r.wall_s for r in passes) < args.seconds
                ):
                    passes.append(_timed_pass(workload, spark, ctx, rng))
        phases["timed"] = time.perf_counter() - t
        t = time.perf_counter()
        final = workload.final_check(spark, ctx)
        phases["check"] = time.perf_counter() - t
        attempted = sum(r.attempted for r in [warm, *passes, *traced, final])
        failed = [f for r in [warm, *passes, *traced, final] for f in r.failed]

        busy = {k: v - cpu0[k] for k, v in cpu_times().items()}
        warehouse_bytes = _dir_bytes(
            os.path.join(env["SPARK_GRAFT_SCRATCH"], "sparsity_spark_warehouse")
        )
        prov = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "scratch_root": env["SPARK_GRAFT_SCRATCH"],
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "input_dir": sf_dir,
            "input_sf": workload.sf,
            "input_bytes": sum(input_bytes.values()),
            # machine-wide CPU seconds over the run: steal is time the
            # hypervisor gave to other guests, iowait time spent on disk
            "cpu_s": {k: round(v, 2) for k, v in busy.items() if k != "nice"},
            **_git(),
            **ctx.provenance,
        }
        t = time.perf_counter()
        stop_engine(spark)
        spark = None
        phases["stop"] = time.perf_counter() - t

        op_samples = [x for r in passes for x in r.op_s]
        _print("# provenance " + json.dumps(prov, sort_keys=True))
        _print("# phase seconds " + json.dumps({k: round(v, 3) for k, v in phases.items()}))
        for f in failed:
            _print(f"# FAILED {f}")
        _print(f"# ops_failed_frac {len(failed) / attempted:.6f} ({len(failed)}/{attempted})")
        for i, r in enumerate(passes):
            _print(
                f"# pass {i} {r.wall_s:.3f} s, steal {r.steal_s:.2f} s "
                + json.dumps({k: round(v, 3) for k, v in r.extra.items()})
            )
        for i, r in enumerate(traced):
            _print(f"# traced pass {i} {r.wall_s:.3f} s " + json.dumps({k: round(v, 3) for k, v in r.extra.items()}))

        if args.trace:
            os.makedirs(TRACE_DIR, exist_ok=True)
            stem = os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
            flat = _layer_metrics(
                ctx.tracer, passes[1:], traced, env["SPARK_GRAFT_EVENTLOG"], gc_traced, stem, prov
            )
            out = {k: {"value": flat[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": workload.pass_seconds(passes),
                "op_s.gmean": workload.op_gmean(passes),
                "peak_pss_mb": mem.peak_mb,
            }
            _print(f"# op_s.p50 {workload.op_p50(passes):.4f} s")
            tail = stats.tail(op_samples)
            _print(
                "# op_s.tail "
                + (f"p{tail[0]} = {tail[1]:.4f} s" if tail else "n/a (needs more than 10 samples)")
                + f" over {len(op_samples)} samples"
            )
            if args.workload == "store_stream":
                backfill = stats.median([r.extra["backfill_s"] for r in passes])
                _print(f"# backfill_s {backfill:.4f} s")
                _print(f"# batch_s.p50 {stats.median(op_samples):.4f} s over {len(op_samples)} batches")
                _print(
                    f"# store_bytes_per_input_byte {warehouse_bytes / input_bytes['documents']:.4f}"
                )
            for k, v in metrics.items():
                _print(f"# {k} {v:.4f} {END_TO_END[k]}")
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        _print(
            json.dumps(
                {"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": out}
            )
        )
        return 0
    finally:
        if spark is not None:
            try:
                stop_engine(spark)
            except Exception as e:  # noqa: BLE001 - the run is already failing
                print(f"warning: engine stop failed: {e}", file=sys.stderr)
        reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)
        timer.cancel()


if __name__ == "__main__":
    sys.exit(main())
