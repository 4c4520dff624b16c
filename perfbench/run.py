"""Benchmark runner: one workload, one seed, one closed loop with one caller.

    python3 perfbench/run.py --workload filter_batch --seed 1 --seconds 15 --trace 0

Run from anywhere; the package is imported from the directory above this one,
and Python workers find it through PYTHONPATH. Every file the run writes stays
under that directory: inputs are cached in ``.perfbench_cache/``, per-run
scratch lives in ``.perfbench_work/`` and full result records go to
``.perfbench_results/``.

Phases of a run:

1. prepare: build or reuse the seeded inputs and compute the reference answers
   (never timed; its duration is logged as ``prepare_s``).
2. set-up, once, cold: launch the JVM and start the Spark session on
   ``local[nproc]``, spawn the Python worker fleet with two chained
   ``mapInPandas`` stages and build the trigram model in the driver and in
   every worker. Its duration is ``setup_s``; the median over runs with
   different seeds absorbs its noise.
3. the closed loop: operations back to back until ``--seconds`` of operation
   time have passed, at least one. Each operation's outputs are checked after
   its clock stops; a failed check counts as a failed operation.

The timed operation is the first one after set-up, in a JVM that has run
nothing else. It still pays JIT and code-generation warm-up: on 4 cores the
next operations of ``filter_batch`` run about twice as fast. A warm-up
operation in every run would cost as much again, which ten runs per workload
on two commits cannot afford on a shared 4-core host; with ``--seconds 1``
every run times exactly this first operation.

``--trace 0`` reports the end-to-end metrics: medians over operations of
throughput and CPU per unit (CPU of the whole process tree, from /proc, less
the memory sampler's own CPU), the sampled peak resident memory of that tree
during the loop (as PSS, see probes.py), and ``setup_s``.

``--trace 1`` runs the same first operation with every layer call under its
own Spark job group, so the status stores attribute jobs, stages and SQL
metrics to it, and reports its per-layer split. Tracing adds no listener and
no configuration; what the traced operation runs and the untraced one does
not is the ledger's bookkeeping around each call (job-group switches,
listener-bus drains, status-store reads). ``trace.overhead_s`` is that time,
measured inside the traced operation. After the loop the workload may add
timings of its own (``filter_batch``: single functions) and run the
workloads it also traces (``filter_batch``: ``filter_stream``;
``profile_tables``: ``dedup_docs``), one traced operation each, checked like
any other; their layer metrics join the record.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_quality_check_spark"
T0 = time.perf_counter()

MB = 1024.0 * 1024.0


class Ctx:
    def __init__(self, seed: int, nproc: int):
        self.seed = seed
        self.nproc = nproc
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.results = os.path.join(ROOT, ".perfbench_results")

    def pool_map(self, fn, items):
        import gc
        import multiprocessing
        from multiprocessing import resource_tracker

        pool = multiprocessing.get_context("spawn").Pool(min(self.nproc, len(items)))
        try:
            out = pool.map(fn, items)
        finally:
            pool.close()
            pool.join()
        # the spawn context starts a resource tracker, which ignores SIGTERM
        # and would otherwise live until this process exits; stop it once the
        # pool's semaphores are released
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()
        return out


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _isolate_env(ctx: Ctx) -> None:
    """Keep every file Spark, the JVM and Python workers write under ROOT and
    make the package importable in worker processes."""
    tmp = os.path.join(ctx.work, "tmp")
    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


# ───────────────────────── Spark session lifecycle ─────────────────────────


def _warm_model(batches):
    from data_quality_check_spark.functions.textmodel import default_model

    default_model()
    for b in batches:
        yield b


def _passthrough(batches):
    yield from batches


def start_session(ctx: Ctx):
    """One set-up: session start, then worker fleet + model warm-up."""
    from data_quality_check_spark.functions.textmodel import default_model
    from data_quality_check_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{ctx.nproc}]",
        warehouse=os.path.join(ctx.work, "warehouse"),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    n = ctx.nproc
    default_model()
    (
        spark.range(0, 16 * n, 1, n)
        .mapInPandas(_warm_model, "id long")
        .repartition(n)
        .mapInPandas(_passthrough, "id long")
        .count()
    )
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def reap(tree) -> None:
    """Terminate and wait for any process this run left behind."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = tree.descendants()
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.time() + wait_s
        while time.time() < end and tree.descendants():
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)


# ───────────────────────── closed loop ─────────────────────────


def closed_loop(wl, spark, seconds: float, tree, ledger=None, k0: int = 0) -> list[dict]:
    ops, busy, k = [], 0.0, k0
    while busy < seconds or not ops:
        if ledger is not None:
            ledger.records, ledger.bookkeeping_s = {}, 0.0
        c0, t0 = tree.work_cpu_s(), time.perf_counter()
        try:
            units = wl.op(spark, k, ledger)
            errors = None
        except Exception as exc:  # a failed operation is counted, not fatal
            units, errors = 0, [f"{type(exc).__name__}: {exc}"]
        dt, c1 = time.perf_counter() - t0, tree.work_cpu_s()
        if errors is None:
            errors = wl.check(k)
        rec = {"k": k, "s": dt, "cpu_s": c1 - c0, "units": units, "errors": errors}
        if ledger is not None and not errors:
            rec["trace_s"] = ledger.bookkeeping_s
            rec["layers"] = _common_layers(ledger.records) | wl.layers(ledger.records)
        ops.append(rec)
        log(f"op {k}: {dt:.3f}s, {rec['cpu_s']:.2f} cpu-s, {units} {wl.unit}")
        if errors:
            log(f"op {k} FAILED: {errors}")
        busy += dt
        k += 1
    return ops


def _common_layers(records: dict) -> dict:
    tot = lambda key: sum(r[key] for r in records.values())  # noqa: E731
    return {
        "sources.scan_s": tot("scan_s"),
        "sources.scan_mb": tot("scan_bytes") / MB,
        "functions.py_boot_s": tot("py_boot_s"),
        "functions.py_init_s": tot("py_init_s"),
        "functions.py_run_s": tot("py_run_s"),
        "functions.py_sent_mb": tot("py_sent_bytes") / MB,
        "functions.py_recv_mb": tot("py_recv_bytes") / MB,
    }


def _ok(ops: list[dict]) -> list[dict]:
    return [o for o in ops if not o["errors"]]


def end_to_end(ops: list[dict], setup_s: float, peak_pss: int) -> dict:
    good = _ok(ops)
    return {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (statistics.median(o["units"] / o["s"] for o in good), "1/s"),
        "cpu_ms_per_unit": (
            statistics.median(1e3 * o["cpu_s"] / o["units"] for o in good), "ms"),
        "peak_pss_mb": (peak_pss / MB, "MB"),
    }


def per_layer(ops: list[dict], start_s: float, warm_s: float, extra: dict) -> dict:
    from workloads import SUITE_LAYERS

    traced = [o for o in _ok(ops) if "layers" in o]
    out = dict.fromkeys(SUITE_LAYERS, 0.0)
    out["session.start_s"] = start_s
    out["session.worker_warm_s"] = warm_s
    for key in traced[0]["layers"]:
        out[key] = statistics.median(o["layers"][key] for o in traced)
    out.update(extra)
    out["trace.overhead_s"] = statistics.median(o["trace_s"] for o in traced)
    out["trace.overhead_pct"] = statistics.median(
        100.0 * o["trace_s"] / (o["s"] - o["trace_s"]) for o in traced)
    return {k: (v, _unit(k)) for k, v in out.items()}


def _unit(key: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_pct", "%")):
        if key.endswith(suffix):
            return unit
    return "ratio" if key.endswith(("_yield", "_recall")) else "count"


def host_facts(spark, ctx: Ctx) -> dict:
    return {
        "nproc": ctx.nproc,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


# ───────────────────────── main ─────────────────────────


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"package {PACKAGE!r} not found next to {HERE}; nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    ctx = Ctx(args.seed, len(os.sched_getaffinity(0)))
    _isolate_env(ctx)

    # stdout is reserved for the summary and the final JSON line; everything
    # else, including the JVM's output, goes to stderr
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    from probes import ProcTree, SparkLedger

    tree = ProcTree()
    wl = WORKLOADS[args.workload](ctx)
    also_traced = {}
    spark = None
    try:
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        log(f"prepared {args.workload} seed={args.seed} in {prepare_s:.2f}s: {wl.facts}")

        spark, start_s, warm_s = start_session(ctx)
        setup_s = start_s + warm_s
        log(f"set-up: session start {start_s:.3f}s, worker warm-up {warm_s:.3f}s")
        wl.attach(spark)

        tree.start()
        if args.trace:
            # the first operation, traced, gives the per-layer split of the
            # operation the end-to-end run times
            ledger = SparkLedger(spark)
            ops = all_ops = closed_loop(wl, spark, args.seconds, tree, ledger)
            extra = wl.extra_layers(spark, ledger)
            for also in wl.ALSO_TRACES:
                sub = also(ctx)
                sub.prepare()
                also_traced[sub.name] = sub
                log(f"prepared {sub.name} (traced with {wl.name}): {sub.facts}")
                sub.attach(spark)
                sub_ops = closed_loop(sub, spark, 0, tree, ledger)
                all_ops = all_ops + sub_ops
                if not sub_ops[0]["errors"]:
                    extra.update({m: sub_ops[0]["layers"][m] for m in sub.LAYERS})
        else:
            ops = all_ops = closed_loop(wl, spark, args.seconds, tree)
        tree.stop()
        failed = sum(1 for o in all_ops if o["errors"])
        if failed:
            metrics = {}
        elif args.trace:
            metrics = per_layer(ops, start_s, warm_s, extra)
        else:
            metrics = end_to_end(ops, setup_s, tree.peak_pss)
        facts = host_facts(spark, ctx)
    finally:
        tree.stop()
        if spark is not None:
            stop_spark(spark)
        reap(tree)
        shutil.rmtree(ctx.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.work))
        except OSError:  # another run's scratch is still there
            pass

    record = {
        "workload": args.workload, "unit": wl.unit, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "host": facts,
        "inputs": wl.facts, "prepare_s": prepare_s,
        "setup": {"start_s": start_s, "warm_s": warm_s}, "sampler_cpu_s": tree.sampler_cpu_s,
        "ops": [{k: v for k, v in o.items() if k != "layers"} for o in all_ops],
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "recall": getattr(wl, "recall", None),
        "also_traced": {name: {"inputs": sub.facts, "recall": getattr(sub, "recall", None)}
                        for name, sub in also_traced.items()},
    }
    os.makedirs(ctx.results, exist_ok=True)
    rec_path = os.path.join(
        ctx.results, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    out = os.fdopen(real_stdout, "w")
    verdict = "PASS" if failed == 0 and metrics else "FAIL"
    print(f"{args.workload} seed={args.seed} nproc={ctx.nproc} ops={len(all_ops)} "
          f"failed={failed} correctness={verdict} record={os.path.relpath(rec_path, ROOT)}",
          file=out)
    for name, (value, unit) in metrics.items():
        print(f"  {name:48s} {value:14.6g} {unit}", file=out)
    result = {
        "correct": verdict == "PASS",
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
