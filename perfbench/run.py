"""Repo benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload extract_unique --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The benchmark generates its input from
``--seed`` (not timed), starts a pinned local Spark session, warms the
workload's own call path (that cost is ``setup_s``), times the
workload's fixed number of warm passes (more if ``--seconds`` allows),
checks the program's outputs outside the timed region, and prints one
JSON object as its last stdout line.

Times are CPU seconds of the whole process tree (driver, JVM, Python
workers), not wall time.  A pass's ``cpu_s`` leaves out the JVM's JIT
compiler threads, whose CPU is counted in ``setup_s`` only, and the
benchmark's memory sampler.  On a shared 4-core host the hypervisor steals
from 2% to over 30% of the CPU within minutes, which moved the wall time
of identical passes by 1.5x and more; their CPU time moved by about a
tenth of that.  Wall times are kept among the per-layer metrics.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` enables the
Spark event log, wraps every public call in a span that is also a Spark
job group, runs traced and untraced passes in ABBA order (their ratio
is ``bench.trace_overhead``), and reports the per-layer metrics.  Everything the run writes goes under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SHUFFLE_PARTITIONS = 4
WORKLOADS = ("extract_unique", "query_mix")
# a fixed heap: a heap left to grow moved peak memory by a fifth between
# runs of the same code
DRIVER_MEMORY = "1g"

END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_pss_mb": "MB"}
PER_LAYER = {
    "kernel.parse_us": "us", "kernel.sha_us": "us", "kernel.encode_us": "us",
    "kernel.decode_us": "us", "kernel.expand_us": "us",
    "kernel.docs_per_s": "1/s", "kernel.triples_per_doc": "count",
    "kernel.cbor_per_json": "ratio",
    "functions.batch_us": "us", "functions.boundary_us": "us",
    "kg.distinct_ratio": "ratio", "kg.python_rows": "count",
    "kg.python_run_s": "s", "kg.python_in_mb": "MB", "kg.python_out_mb": "MB",
    "kg.kernel_tasks": "count", "kg.kernel_share": "ratio",
    "kg.shuffle_write_mb": "MB",
    "pipeline.kernel_s": "s", "pipeline.canonicalize_s": "s",
    "pipeline.link_s": "s", "pipeline.materialize_s": "s",
    "pipeline.canon_rows": "count", "pipeline.linked_nodes": "count",
    "pipeline.edges": "count", "pipeline.jobs": "count",
    "pipeline.tasks": "count", "pipeline.files_written": "count",
    "pipeline.mb_written": "MB", "pipeline.distinct_ratio": "ratio",
    "pipeline.kernel_share": "ratio",
    "shared.triples_s": "s", "shared.edges_s": "s",
    "query.define_s": "s", "query.collect_s": "s", "query.jobs": "count",
    "query.sparql_p50_s": "s", "query.graph_p50_s": "s",
    "query.p50_s": "s", "query.p90_s": "s",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "host.probe_s": "s", "host.steal_s": "s", "bench.trace_overhead": "ratio",
    "bench.drift": "ratio", "bench.pass_wall_s": "s", "bench.setup_wall_s": "s",
    "bench.jit_cpu_s": "s",
}


def _log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def _pin_environment(work: str) -> None:
    """Everything a run writes stays under ``work``; no inherited knobs."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the spark-submit launcher JVM starts before any Spark conf applies
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    import tempfile
    tempfile.tempdir = None


def _start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
                 "-XX:-UseDynamicNumberOfCompilerThreads"))
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until every child process is gone."""
    from pyspark import SparkContext

    from perfbench.layers import process_tree

    kids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — escalate, then wait again
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the value itself for n=1."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "cbor_ld_spark")):
        print(f"error: no cbor_ld_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import layers, workloads
    from perfbench.trace import Tracer, event_log_files, reduce_event_log

    trace = bool(args.trace)
    wl = workloads.make(args.workload, args.seed, work, ROOT)
    t = time.perf_counter()
    wl.generate()
    _log(f"generated {wl.rows_n} input rows in {time.perf_counter() - t:.2f} s "
         "(not part of setup)")

    t_setup = time.perf_counter()
    cpu_setup = layers.tree_cpu_seconds()
    spark = _start_session(work, trace)
    run_id = f"{args.workload}-{args.seed}"
    tracer = Tracer(run_id, spark, enabled=trace)
    bare = Tracer(run_id, None, enabled=False)
    try:
        with tracer.span("setup"):
            wl.setup(spark, tracer)
        setup_wall_s = time.perf_counter() - t_setup
        setup_s = layers.tree_cpu_seconds() - cpu_setup
        _log(f"setup_s {setup_s:.3f} (CPU), wall {setup_wall_s:.3f}")

        passes, probes, failed_passes = [], [], 0
        fingerprints = []
        steal0 = layers.steal_seconds()
        with layers.MemorySampler() as mem:
            t0 = time.perf_counter()
            i = 0
            while (i < max(wl.min_passes, 4 if trace else 1)
                   or time.perf_counter() - t0 < args.seconds):
                probes.append(layers.host_probe())
                jit0 = layers.jit_cpu_seconds()
                sampler0 = mem.cpu_s
                cpu0 = layers.tree_cpu_seconds()
                # traced passes in ABBA order (untraced, traced, traced,
                # untraced, ...): a drift over the passes cancels out of
                # the traced/untraced ratio
                traced = trace and i % 4 in (1, 2)
                tr = tracer if traced else bare
                try:
                    with tr.span("timed"):
                        res = wl.run_pass(spark, tr, i)
                except Exception as e:  # noqa: BLE001 — a failed pass is
                    # counted and reported, the run goes on
                    failed_passes += 1
                    _log(f"pass {i} failed: {type(e).__name__}: {e}")
                else:
                    # the JIT compiler threads keep compiling for minutes
                    # after the warm-up; their CPU is warm-up work, and
                    # it varied most from run to run.  The memory
                    # sampler's CPU is the benchmark's own.
                    cpu = layers.tree_cpu_seconds() - cpu0
                    res.jit_cpu_s = layers.jit_cpu_seconds() - jit0
                    res.cpu_s = cpu - res.jit_cpu_s - (mem.cpu_s - sampler0)
                    passes.append((res, traced))
                    fingerprints.append(res.fingerprint)
                    _log(f"pass {i} wall_s {res.wall_s:.3f} cpu_s {res.cpu_s:.3f} "
                         f"jit_cpu_s {res.jit_cpu_s:.3f} "
                         f"host_probe_s {probes[-1]:.4f} traced {int(traced)}")
                    for name, d, c in res.ops:
                        _log(f"  {name} define_s {d:.3f} collect_s {c:.3f}")
                i += 1
        steal_s = layers.steal_seconds() - steal0
        _log(f"host steal_s during timed passes {steal_s:.2f}")
        if not passes:
            print("error: every timed pass failed", file=sys.stderr)
            return 1

        chk = workloads.Checks()
        for k, fp in enumerate(fingerprints[1:], 1):
            chk.expect(fp == fingerprints[0],
                       f"pass {k} output fingerprint differs from pass 0")
        if wl.warm_fingerprint is not None:
            chk.expect(wl.warm_fingerprint == fingerprints[0],
                       "timed output differs from the warm-up output")
        layer_inputs = {}
        try:
            wl.check(spark, chk)
            layer_inputs = wl.trace_inputs(spark, tracer, chk) if trace else {}
        except Exception as e:  # noqa: BLE001 — a check that raises is a miss
            chk.expect(False, f"check raised {type(e).__name__}: {e}")
        for m in chk.misses[:20]:
            _log(f"MISS {m}")
    finally:
        _stop_session(spark)

    _log(f"timed passes {len(passes)}")

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "cpu_s": statistics.median(p.cpu_s for p, _ in passes),
            "peak_pss_mb": mem.peak_mb,
        }
        units = END_TO_END
    else:
        tracer.write(os.path.join(ROOT, ".perfbench_work", f"spans-{run_id}.json"))
        for path, self_s in sorted(tracer.self_times().items()):
            _log(f"span {path} self_s {self_s:.3f}")
        groups = reduce_event_log(event_log_files(os.path.join(work, "eventlog")),
                                  python_node=workloads.KERNEL_NODE)
        if not layer_inputs:
            print("error: the per-layer probes failed", file=sys.stderr)
            return 1
        metrics = _layer_metrics(wl, passes, groups, layer_inputs, probes)
        metrics["host.steal_s"] = steal_s
        metrics["bench.setup_wall_s"] = setup_wall_s
        units = PER_LAYER

    attempted = len(passes) + failed_passes + chk.attempted
    failed = failed_passes + len(chk.misses)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def _layer_metrics(wl, passes, groups, inputs, probes) -> dict:
    from perfbench import layers, workloads
    from perfbench.trace import GroupTotals

    def total(pred) -> GroupTotals:
        t = GroupTotals()
        for path, g in groups.items():
            if pred(path):
                t.add(g)
        return t

    traced = [p for p, tr in passes if tr]
    untraced = [p for p, tr in passes if not tr]
    n = len(traced)
    timed = total(lambda p: p.startswith("timed/"))
    # the kernel runs in each timed pass, except on query_mix, where only
    # the set-up tier build runs it
    in_setup = isinstance(wl, workloads.QueryMix)
    kernel_calls = 1 if in_setup else n
    kern = total(lambda p: p.endswith("/" + wl.kernel_span)
                 and (in_setup or p.startswith("timed/")))

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(layers.layer_probe(inputs["sample"]))
    m["kg.python_rows"] = kern.python_rows / kernel_calls
    m["kg.distinct_ratio"] = m["kg.python_rows"] / max(1, wl.candidates)
    m["kg.python_run_s"] = kern.python_run_s / kernel_calls
    m["kg.python_in_mb"] = kern.python_in_mb / kernel_calls
    m["kg.python_out_mb"] = kern.python_out_mb / kernel_calls
    m["kg.shuffle_write_mb"] = kern.shuffle_write_mb / kernel_calls
    m["kg.kernel_tasks"] = timed.python_tasks / n
    # Python-worker time of the kernel stage over all executor task time
    m["kg.kernel_share"] = timed.python_run_s / max(timed.run_s, 1e-9)
    for k in ("jobs", "tasks"):
        m[f"spark.{k}"] = getattr(timed, k) / n
    for k in ("run_s", "cpu_s"):
        m[f"spark.executor_{k}"] = getattr(timed, k) / n
    for k in ("gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = getattr(timed, k) / n
    if "pipeline" in inputs:
        m.update(inputs["pipeline"])
        build = total(lambda p: p == workloads.PipelineProbe.span)
        m["pipeline.jobs"] = build.jobs
        m["pipeline.tasks"] = build.tasks
        m["pipeline.distinct_ratio"] = (build.python_rows
                                        / max(1, inputs["pipeline_candidates"]))
        m["pipeline.kernel_share"] = build.python_run_s / max(build.run_s, 1e-9)
    if isinstance(wl, workloads.QueryMix):
        m["shared.triples_s"] = wl.tier_s["shared.triples"]
        m["shared.edges_s"] = wl.tier_s["shared.edges"]
        ops = [o for p in traced for o in p.ops]
        m["query.define_s"] = statistics.median(d for _n, d, _c in ops)
        m["query.collect_s"] = statistics.median(c for _n, _d, c in ops)
        m["query.jobs"] = timed.jobs / len(ops)
        m["query.sparql_p50_s"] = statistics.median(
            d + c for nm, d, c in ops if nm not in workloads.GRAPH_QUERIES)
        m["query.graph_p50_s"] = statistics.median(
            d + c for nm, d, c in ops if nm in workloads.GRAPH_QUERIES)
        lat = [d + c for p, _ in passes for _n, d, c in p.ops]
        m["query.p50_s"] = statistics.median(lat)
        m["query.p90_s"] = _quantile(lat, 90)
    m["host.probe_s"] = statistics.median(probes)
    walls = [p.wall_s for p in traced]
    m["bench.pass_wall_s"] = statistics.median(p.wall_s for p in untraced)
    m["bench.jit_cpu_s"] = statistics.median(p.jit_cpu_s for p, _ in passes)
    m["bench.trace_overhead"] = statistics.median(walls) / m["bench.pass_wall_s"]
    cpus = [p.cpu_s for p, _ in passes]
    half = len(cpus) // 2
    m["bench.drift"] = (statistics.median(cpus[half:])
                        / statistics.median(cpus[:max(1, half)]))
    for path, g in sorted(groups.items()):
        _log(f"group {path or '<none>'}: jobs {g.jobs} tasks {g.tasks} "
             f"run_s {g.run_s:.2f} cpu_s {g.cpu_s:.2f} "
             f"kernel_tasks {g.python_tasks} kernel_rows {g.python_rows}")
    return m


def main(argv=None) -> int:
    # on SIGTERM, unwind through the finally blocks that stop Spark and
    # remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
