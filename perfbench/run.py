"""Seeded, layered benchmark of relationaldecomposition_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload decompose --seed 1 --seconds 10 --trace 0

Workloads (workloads.py): decompose, curate_embed. One client runs
passes in a closed loop, one at a time; a pass starts only while a typical
pass still ends within ``--seconds`` (there is always at least one). Every
pass is checked. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, each the median over the
run's passes:

- ``setup_s``: session start through ``session.get_spark``, input
  generation and hand-over to Spark; the median of several set-ups, each
  on a fresh SparkContext (the first also starts the JVM). One untimed
  warm-up pass follows the last set-up.
- ``wall_s``: one pass; ``input_rows_per_s``: input rows (relation rows,
  or documents plus vectors) per second of pass.
- ``spark_jobs``, ``task_s`` (executor run time), ``shuffle_mb`` (shuffle
  bytes written): Spark's status store, read after the pass, outside the
  timed region.
- ``python_peak_rss_mb``: peak RSS of the driver's Python plus Spark's
  Python workers over a pass (peaks reset through ``clear_refs``). JVM
  memory is not counted: its heap only grows over a session.

A pass that raises, fails its check or leaves Spark state behind (a
cached plan, a persisted RDD, a table or view) counts as failed;
``failed / attempted`` is the error rate, printed before the result.

``--trace 1`` alternates traced and untraced passes (at least one of each)
and reports the per-layer metrics of the traced ones (``spans.py``), the
jobs no span claimed (``trace.unattributed_jobs``) and the tracing
overhead (``trace.overhead_s``: median traced minus median untraced
``wall_s``). Layers a workload does not touch read 0.

Scratch files (warehouse, Spark local dirs, temp files) live in
``.perfbench_tmp/`` under the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from spans import GENERIC, NullTracer, Tracer, layer_metrics
from status import StatusStore, totals
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
# set-ups per run: at least SETUP_REPS, more while the ones after the first
# (which also starts the JVM) add up to less than SETUP_MIN_S
SETUP_REPS = 3
SETUP_MIN_S = 1.0
SETUP_MAX_REPS = 9
DRIVER_MEM = "3g"

END_TO_END = {"setup_s": "s", "wall_s": "s", "input_rows_per_s": "1/s",
              "spark_jobs": "count", "task_s": "s", "shuffle_mb": "MB",
              "python_peak_rss_mb": "MB"}

# Layers reported with every GENERIC span metric.
LAYERS = ("sources", "engine.entropy", "engine.measures", "mining.jd_miner",
          "schema.acyclic", "engine.decompose", "pipeline",
          "operators.similarity", "operators.dedup", "operators.pq")
# Layer-specific metrics: name -> (unit, (span, generic metric) it reads,
# or None when a workload or the tracer counts it).
SPECIFIC = {
    "engine.entropy.subsets_requested": ("count", None),
    "engine.entropy.subsets_computed": ("count", None),
    "engine.entropy.cache_hit_ratio": ("ratio", None),
    "engine.entropy.jobs_run": ("count", None),
    "engine.entropy.pre_agg_chunks": ("count", None),
    "engine.entropy.direct_chunks": ("count", None),
    "engine.entropy.tuples_processed": ("count", None),
    "mining.jd_miner.min_seps": ("count", None),
    "mining.jd_miner.jds": ("count", None),
    "schema.acyclic.enumerate_s": ("s", ("schema.acyclic", "wall_s")),
    "schema.acyclic.schemas": ("count", None),
    "engine.decompose.validate_s": (
        "s", ("engine.decompose.validate", "wall_s")),
    "engine.decompose.validate_jobs": (
        "count", ("engine.decompose.validate", "jobs")),
    "engine.decompose.projections": ("count", None),
    "engine.decompose.spurious_tuples": ("count", None),
    "engine.decompose.write_s": ("s", ("engine.decompose.write", "wall_s")),
    "engine.decompose.write_jobs": (
        "count", ("engine.decompose.write", "jobs")),
    "engine.decompose.files_written": ("count", None),
    "engine.decompose.bytes_written": ("bytes", None),
    "pipeline.construct_s": ("s", ("pipeline.construct", "wall_s")),
    "pipeline.construct_jobs": ("count", ("pipeline.construct", "jobs")),
    "pipeline.force_s": ("s", ("pipeline.force", "wall_s")),
    "pipeline.force_jobs": ("count", ("pipeline.force", "jobs")),
    "pipeline.cached_mb": ("MB", None),
    "operators.gram.kernel_chosen": ("flag", None),
    "operators.similarity.pairs_s": ("s", ("operators.similarity", "wall_s")),
    "operators.similarity.pairs_jobs": (
        "count", ("operators.similarity", "jobs")),
    "operators.pq.index_s": ("s", ("operators.pq.index", "wall_s")),
    "operators.pq.probe_s": ("s", ("operators.pq.probe", "wall_s")),
    "operators.pq.probe_task_s": ("s", ("operators.pq.probe", "task_s")),
    "trace.unattributed_jobs": ("count", None),
    "trace.overhead_s": ("s", None),
}


# ----- processes and memory -----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listed
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _python_pids(jvm_pid: int) -> list[int]:
    pids = [os.getpid()]
    for p in _descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    pids.append(p)
        except OSError:
            continue
    return pids


def _reset_peaks(pids: list[int]) -> None:
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def _peak_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rfind(")") + 2] != "Z"


# ----- Spark session --------------------------------------------------------------


def _configure_env(tmp: Path, cores: int) -> None:
    for sub in ("warehouse", "local", "jvm", "py"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp / "py")
    # no hsperfdata file: the JVM writes it under /tmp whatever tmpdir says
    java_opts = f"-Djava.io.tmpdir={tmp / 'jvm'} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={tmp / 'warehouse'}",
        "--driver-java-options", java_opts, "pyspark-shell"])


def _stop_jvm() -> None:
    """Stop the SparkContext and the JVM this process launched, and wait
    until every process the JVM started has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    left = _descendants(proc.pid)
    try:
        gw.shutdown()
    finally:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in left) and time.monotonic() < deadline:
        time.sleep(0.05)


def _leaks(spark) -> tuple[list[str], int]:
    """(problems, locally checkpointed RDDs still registered) once a pass's
    frames are dropped. Cached plans, tables, views and persisted RDDs
    must be gone. RDDs the program locally checkpointed are released by
    Spark's ContextCleaner once unreachable; a driver GC is requested and
    what remains is counted, not failed."""
    gc.collect()
    sc = spark.sparkContext
    sc._jvm.System.gc()
    found = []
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        found.append("cached plans left in the cache manager")
    tables = [t.name for t in spark.catalog.listTables()]
    if tables:
        found.append(f"tables or views left: {tables}")
    rdds = list(sc._jsc.getPersistentRDDs().values())
    checkpointed = sum(1 for r in rdds if r.rdd().isLocallyCheckpointed())
    if len(rdds) > checkpointed:
        found.append(f"{len(rdds) - checkpointed} persisted RDDs left")
    return found, checkpointed


# ----- the run --------------------------------------------------------------------


def _check(wl, spark, out) -> list[str]:
    try:
        return wl.check(spark, out)
    except Exception:  # a check that cannot run fails the pass
        return [traceback.format_exc(limit=3)]


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _set_up(wl, trace: bool, cores: int):
    """(spark, set-up times, per-layer metrics of the last set-up)."""
    from pyspark.sql import SparkSession

    from relationaldecomposition_spark.session import get_spark

    setups, layers = [], {}
    while (len(setups) < SETUP_REPS or sum(setups[1:]) < SETUP_MIN_S
           and len(setups) < SETUP_MAX_REPS):
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        if trace:
            store = StatusStore(spark)
            tracer = Tracer(spark, "perfbench-setup")
            with tracer.span("sources"):
                wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            layers, _ = layer_metrics(tracer.spans, store.window(), cores)
        else:
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
    return spark, setups, layers


def _pass(wl, spark, store, traced: bool, k: int, cores: int):
    """One checked pass: (record, problems, locally checkpointed RDDs)."""
    tracer = Tracer(spark, f"perfbench-{k}") if traced else NullTracer()
    jvm = spark.sparkContext._gateway.proc.pid
    pids = _python_pids(jvm)
    gc.collect()
    store.window()
    _reset_peaks(pids)
    err, out = None, {}
    t0 = time.perf_counter()
    try:
        if traced:
            with tracer.span("pass"):
                out = wl.run_pass(spark, tracer)
        else:
            out = wl.run_pass(spark, tracer)
    except Exception:  # a failed pass is counted, the loop goes on
        err = traceback.format_exc(limit=3)
    wall = time.perf_counter() - t0
    rss = _peak_mb(_python_pids(jvm))
    jobs = store.window()
    t = totals(jobs)
    rec = {"wall_s": wall, "input_rows_per_s": wl.input_rows / wall,
           "spark_jobs": t.jobs, "task_s": t.task_s,
           "shuffle_mb": t.shuffle_bytes / 1e6, "python_peak_rss_mb": rss}
    problems = [err] if err else _check(wl, spark, out)
    if traced and not err:
        layers, unattributed = layer_metrics(tracer.spans, jobs, cores)
        rec["layers"] = _layer_record(wl, spark, out, tracer, layers,
                                      unattributed)
    try:
        wl.cleanup(spark, out)
    except Exception:
        problems.append(traceback.format_exc(limit=3))
    del out
    leaks, checkpointed = _leaks(spark)
    return rec, problems + leaks, checkpointed


def run(args, cores: int) -> dict:
    wl = WORKLOADS[args.workload](args.seed)
    spark, setups, setup_layers = _set_up(wl, bool(args.trace), cores)
    store = StatusStore(spark)
    print(f"# {wl.name} input: {json.dumps(wl.props)}", flush=True)

    # warm-up pass: JIT, codegen and Python workers; its outputs are the
    # references later passes must repeat
    t0 = time.perf_counter()
    _, warm_problems, _ = _pass(wl, spark, store, False, -1, cores)
    print(f"# setup_s {[round(s, 3) for s in setups]} "
          f"warmup_s {time.perf_counter() - t0:.3f}"
          + (f" FAILED {warm_problems}" if warm_problems else ""), flush=True)

    passes, traced_passes, cycles = [], [], []
    failed = 0
    start = time.perf_counter()
    while (not cycles or (args.trace and len(cycles) < 2)
           or time.perf_counter() - start + statistics.median(cycles)
           <= args.seconds):
        t0 = time.perf_counter()
        traced = bool(args.trace) and len(cycles) % 2 == 0
        rec, problems, checkpointed = _pass(wl, spark, store, traced,
                                            len(cycles), cores)
        cycles.append(time.perf_counter() - t0)
        failed += bool(problems)
        (traced_passes if traced else passes).append(rec)
        print(f"# pass {len(cycles)}{' traced' if traced else ''}: "
              + ", ".join(f"{m}={rec[m]:.4f} {END_TO_END[m]}"
                          for m in END_TO_END if m in rec)
              + f", locally checkpointed RDDs left {checkpointed}"
              + (f" FAILED {problems}" if problems else ""), flush=True)

    attempted = len(cycles)
    print(f"# error_rate {failed / attempted:.4f} ({failed}/{attempted})",
          flush=True)
    if args.trace:
        metrics = _per_layer(traced_passes, passes, setup_layers)
    else:
        metrics = {"setup_s": {"value": _median(setups), "unit": "s"}}
        metrics.update({m: {"value": _median([p[m] for p in passes]),
                            "unit": u}
                        for m, u in END_TO_END.items() if m != "setup_s"})
    return {"correct": not warm_problems and failed == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics}


# ----- per-layer ------------------------------------------------------------------


def _layer_record(wl, spark, out, tracer, layers, unattributed) -> dict:
    rec = {f"{layer}.{m}": vals[m]
           for layer, vals in layers.items() for m in GENERIC}
    for name, (_, src) in SPECIFIC.items():
        if src is not None:
            rec[name] = layers.get(src[0], {}).get(src[1], 0.0)
    rec["trace.unattributed_jobs"] = unattributed
    eng = out.get("engine")
    if eng is not None:
        req = tracer.entropy_requests
        rec.update({
            "engine.entropy.subsets_requested": req,
            "engine.entropy.subsets_computed": eng.entropies_computed,
            "engine.entropy.cache_hit_ratio":
                max(0.0, 1.0 - eng.entropies_computed / req) if req else 0.0,
            "engine.entropy.jobs_run": eng.jobs_run,
            "engine.entropy.pre_agg_chunks": eng.pre_agg_chunks,
            "engine.entropy.direct_chunks": eng.direct_chunks,
            "engine.entropy.tuples_processed": eng.tuples_processed,
        })
    rec.update(wl.layer_counts(spark, out))
    return rec


def _per_layer(traced, untraced, setup_layers) -> dict:
    def med(name):
        return _median([p["layers"].get(name, 0.0) for p in traced
                        if "layers" in p])

    metrics = {}
    for layer in LAYERS:
        for m, unit in GENERIC.items():
            name = f"{layer}.{m}"
            v = (setup_layers.get(layer, {}).get(m, 0.0)
                 if layer == "sources" else med(name))
            metrics[name] = {"value": v, "unit": unit}
    for name, (unit, _) in SPECIFIC.items():
        if name == "trace.overhead_s":
            v = (_median([p["wall_s"] for p in traced])
                 - _median([p["wall_s"] for p in untraced]))
        else:
            v = med(name)
        metrics[name] = {"value": v, "unit": unit}
    return metrics


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import relationaldecomposition_spark as program
    except ImportError as e:
        print(f"perfbench: no program to measure under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not Path(program.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: {program.__file__} is not under {ROOT}",
              file=sys.stderr)
        return 2
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    tmp = ROOT / ".perfbench_tmp" / str(os.getpid())
    _configure_env(tmp, cores)
    try:
        result = run(args, cores)
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                tmp.parent.rmdir()
            except OSError:
                pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
