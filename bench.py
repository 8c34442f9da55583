#!/usr/bin/env python3
"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline = the KG-construction pipeline (scan -> sniff -> encode/decode/
verify/expand -> triples + metrics) over a corpus synthesized at bench
scale, plus the dedup / similarity / relational operator suite.

``--scaling`` runs the same KG job at two parallelism levels (N and 4N
cores on the same input) and reports throughput at both plus scaling
efficiency — the sandbox proxy for the north rule's N vs 4N executors
criterion (no real cluster here).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Corpus rows for the KG headline at bench scale: ~20 docs per lineitem-ksf
# keeps runtime bounded while dominating Spark fixed overheads.
KG_CORPUS_ROWS = int(os.environ.get("SPARK_GRAFT_KG_ROWS", "40000"))


def make_spark(cores: int, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"cbor_ld_spark-bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
    )
    # JVM tuning A/B hook (e.g. "-XX:ParallelGCThreads=4"): applied at
    # JVM launch, so it only takes effect for the first session of a
    # fresh `python3 bench.py` process — one config per invocation.
    jvm_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if jvm_opts:
        b = b.config("spark.driver.extraJavaOptions", jvm_opts)
    return b.getOrCreate()


def kg_pipeline_run(spark, n_rows: int, dedup_content: bool = False) -> dict:
    """The headline job: returns docs/triples counts (forces full exec).

    ``dedup_content=False`` here so throughput/scaling numbers measure
    the Python kernel honestly (every row processed); the production
    default in process_corpus is dedup-first, which is ~2x faster on
    corpora with repeated files.
    """
    from pyspark.sql import functions as F

    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources import synthesize_corpus

    repos = synthesize_corpus(spark, n_rows)
    processed = process_corpus(repos, dedup_content=dedup_content)
    agg = processed.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("ok").cast("long")).alias("ok_docs"),
        F.sum(F.coalesce(F.col("roundtrip_ok").cast("long"), F.lit(0)))
        .alias("roundtrip_ok"),
        F.sum("n_triples").alias("triples"),
    ).collect()[0]
    return {k: agg[k] for k in ("docs", "ok_docs", "roundtrip_ok", "triples")}


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    times: dict[str, float] = {}
    for name, fn in entrymod.queries().items():
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        df.collect()
        times[name] = round(time.monotonic() - t0, 3)
    return times


def bench_once() -> dict:
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # Cold/warm first-kernel split: the first kernel job pays Python
    # worker fork + module imports + JVM codegen; everything after
    # measures steady state.  Reporting both makes a cold-start or
    # box-state regression attributable instead of landing silently on
    # whichever kernel query happens to run first.
    t0 = time.monotonic()
    kg_pipeline_run(spark, CPUS * 100)
    cold_probe = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    kg_pipeline_run(spark, CPUS * 100)
    warm_probe = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    kg = kg_pipeline_run(spark, KG_CORPUS_ROWS)
    kg_secs = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    kg_pipeline_run(spark, KG_CORPUS_ROWS, dedup_content=True)
    kg_dedup_secs = round(time.monotonic() - t0, 3)

    qtimes = run_queries(spark, SF_DIR)
    qtimes["kg_pipeline"] = kg_secs
    qtimes["kg_pipeline_dedup_first"] = kg_dedup_secs
    total = round(sum(qtimes.values()), 3)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    result = {
        "metric": "kg_construct end-to-end + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "kg_docs": kg["docs"],
        "kg_triples": kg["triples"],
        "kg_docs_per_sec": round(kg["docs"] / kg_secs, 1),
        "kg_triples_per_sec": round(kg["triples"] / kg_secs, 1),
        "kernel_cold_probe_sec": cold_probe,
        "kernel_warm_probe_sec": warm_probe,
        "cpus": CPUS,
    }
    spark.stop()
    return result


def _hardware_ceiling(n_low: int, n_high: int) -> dict:
    """Pure-multiprocessing kernel throughput at both worker counts.

    Single-box caveat: cores share the turbo/memory budget, so per-core
    throughput drops as workers increase — a real N vs 4N *cluster* does
    not have this coupling.  This baseline separates pipeline scaling
    losses (ours) from hardware scaling losses (the box's).
    """
    import multiprocessing as mp

    from cbor_ld_spark.sources.corpus import payload_variants

    variants = [v[2] for v in payload_variants()]

    def run(workers: int) -> float:
        with mp.Pool(workers) as p:
            p.map(_mp_kernel_work, [(variants, 2)] * workers)  # warm
            t0 = time.monotonic()
            counts = p.map(_mp_kernel_work, [(variants, 60)] * workers)
            dt = time.monotonic() - t0
        return sum(counts) / dt

    # interleave + best-of-3: clocks drift with load history, so paired
    # alternating measurements keep the ratio honest
    lo = hi = 0.0
    for _ in range(3):
        lo = max(lo, run(n_low))
        hi = max(hi, run(n_high))
    return {"low_docs_per_sec": round(lo, 1), "high_docs_per_sec": round(hi, 1),
            "speedup": round(hi / lo, 3)}


def _mp_kernel_work(args):
    contents, reps = args
    from cbor_ld_spark.functions.udfs import _process_one

    n = 0
    for _ in range(reps):
        for c in contents:
            _process_one(c, 1)
            n += 1
    return n


def bench_scaling(n_low: int, n_high: int, rows: int, trials: int = 2) -> dict:
    """N vs 4N scaling evidence, thermally fair.

    Sessions alternate low/high (fresh SparkSession each, workers warmed)
    so neither level systematically runs on a hotter box; best-of per
    level.  Default pair 4 -> 16: with the high side below full machine
    width, single-box turbo droop — which independent cluster nodes do
    not share — stays out of the ratio.  The 8 -> 32 pair is also
    reported in BENCH.md alongside the measured pure-multiprocessing
    hardware ceiling it is bounded by.
    """
    secs_by_cores: dict[int, list[float]] = {n_low: [], n_high: []}
    kg = None
    for t in range(trials):
        order = (n_high, n_low) if t % 2 else (n_low, n_high)
        for cores in order:
            spark = make_spark(cores)
            spark.sparkContext.setLogLevel("ERROR")
            # warm every Python worker (imports + context cache), twice
            for _ in range(2):
                kg_pipeline_run(spark, cores * 300)
            t0 = time.monotonic()
            kg = kg_pipeline_run(spark, rows)
            secs_by_cores[cores].append(time.monotonic() - t0)
            spark.stop()
    out = {}
    for cores, secs in secs_by_cores.items():
        best = min(secs)
        out[cores] = {
            "secs": round(best, 3),
            "docs_per_sec": round(kg["docs"] / best, 1),
            "triples_per_sec": round(kg["triples"] / best, 1),
        }
    speedup = out[n_high]["docs_per_sec"] / out[n_low]["docs_per_sec"]
    efficiency = speedup / (n_high / n_low)
    hw = _hardware_ceiling(n_low, n_high)
    return {
        "metric": "kg_construct scaling efficiency (N vs 4N cores, same input)",
        "rows": rows,
        "low_cores": n_low,
        "high_cores": n_high,
        "low": out[n_low],
        "high": out[n_high],
        "speedup": round(speedup, 3),
        "efficiency": round(efficiency, 3),
        "hardware_ceiling": hw,
        "efficiency_vs_hardware": round(speedup / hw["speedup"], 3),
    }


def bench_level(cores: int, rows: int) -> dict:
    """One scaling measurement at one parallelism level (single JSON
    line) — run as a SUBPROCESS by --scaling-pinned so each level gets
    a fresh JVM that inherits the launcher's CPU affinity."""
    spark = make_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    for _ in range(2):
        kg_pipeline_run(spark, cores * 300)
    t0 = time.monotonic()
    kg = kg_pipeline_run(spark, rows)
    secs = time.monotonic() - t0
    spark.stop()
    return {"cores": cores, "secs": round(secs, 3),
            "docs": kg["docs"], "triples": kg["triples"],
            "docs_per_sec": round(kg["docs"] / secs, 1)}


def bench_scaling_pinned(n_low: int, n_high: int, rows: int,
                         trials: int = 2) -> dict:
    """Cluster-faithful N vs 4N: each level runs in its own subprocess
    with the WHOLE process tree (JVM + Python kernel workers) bound to
    exactly that many CPUs via taskset.

    Why: at local[N] on a wider box, the unpinned low side really
    consumes MORE than N cores — the JVM's N task threads, GC/JIT, and
    the forked Python kernel workers overlap onto idle cores.  A real
    N-core executor node cannot do that, so the unpinned low baseline
    is inflated and the measured ratio understates true cluster scaling
    efficiency.  Pinning makes "N cores" mean N cores; levels still
    alternate so neither side systematically gets the hotter box.
    """
    import subprocess

    me = os.path.abspath(__file__)

    def run_level(cores: int) -> dict:
        cpus = f"0-{cores - 1}"
        cmd = ["taskset", "-c", cpus, sys.executable, me,
               "--level", str(cores), "--rows", str(rows)]
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=1800, check=True).stdout
        return json.loads(out.strip().splitlines()[-1])

    best: dict[int, dict] = {}
    for t in range(trials):
        order = (n_high, n_low) if t % 2 else (n_low, n_high)
        for cores in order:
            r = run_level(cores)
            if cores not in best or r["docs_per_sec"] > best[cores]["docs_per_sec"]:
                best[cores] = r
    speedup = best[n_high]["docs_per_sec"] / best[n_low]["docs_per_sec"]
    return {
        "metric": "kg_construct scaling efficiency "
                  "(taskset-pinned N vs 4N cores, same input)",
        "rows": rows,
        "low_cores": n_low,
        "high_cores": n_high,
        "low": best[n_low],
        "high": best[n_high],
        "speedup": round(speedup, 3),
        "efficiency": round(speedup / (n_high / n_low), 3),
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true",
                    help="run N vs 4N core scaling evidence instead")
    ap.add_argument("--scaling-pinned", action="store_true",
                    help="N vs 4N with taskset-pinned process trees "
                         "(cluster-faithful core accounting)")
    ap.add_argument("--level", type=int, default=0,
                    help="internal: single pinned-level measurement")
    ap.add_argument("--rows", type=int, default=KG_CORPUS_ROWS)
    ap.add_argument("--low", type=int, default=4)
    ap.add_argument("--high", type=int, default=16)
    args = ap.parse_args()

    if args.level:
        print(json.dumps(bench_level(args.level, args.rows)))
    elif args.scaling_pinned:
        print(json.dumps(bench_scaling_pinned(args.low, args.high, args.rows)))
    elif args.scaling:
        print(json.dumps(bench_scaling(args.low, args.high, args.rows)))
    else:
        result = bench_once()
        # The final line carries every per-query key (~3 KB): a headline
        # cut to the slowest queries drops any query that got faster.
        # The dict is also persisted to BENCH_QUERIES.json next to this
        # script.
        try:
            qpath = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_QUERIES.json")
            with open(qpath, "w") as f:
                json.dump(result["queries"], f, indent=1, sort_keys=True)
        except OSError:
            pass
        headline = dict(result)
        headline["n_queries"] = len(result["queries"])
        headline["queries_detail"] = "BENCH_QUERIES.json"
        print(json.dumps(headline))
