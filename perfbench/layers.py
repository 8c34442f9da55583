"""In-process layer probes and host probes.

* :func:`layer_probe` times the public kernel functions one phase at a
  time, single thread, on a sample of documents, and the same sample
  through ``kg_process_batches`` on an Arrow RecordBatch: the Python UDF
  body plus its Arrow boundary.
* :func:`host_probe` is a fixed pure-Python loop; timed next to every
  pass, it shows host drift without adjusting any metric.
* :class:`MemorySampler` is the benchmark's one extra thread: it samples
  the summed PSS of this process and all its descendants (the JVM and the
  Python workers).
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def layer_probe(contents: list[str], rounds: int = 5) -> dict:
    """Single-thread µs/doc of each kernel phase and of the UDF body.

    Each round times the public kernel functions phase by phase over the
    documents that pass every phase, then the same documents as one Arrow
    RecordBatch through ``kg_process_batches``.  Rounds alternate so host
    drift hits both alike; every figure is the median over rounds, and the
    Arrow boundary is the median of each round's batch minus its phases.
    """
    import hashlib

    import pyarrow as pa

    from cbor_ld_spark.functions.udfs import kg_process_batches
    from cbor_ld_spark.kernel import (
        CborLdError,
        content_sha256,
        decode_document,
        encode_document,
        parse_json_document,
    )
    from cbor_ld_spark.kernel.expand import expand_to_triples

    good = []
    for c in contents:
        try:
            doc = parse_json_document(c)
            if content_sha256(decode_document(encode_document(doc))) \
                    == content_sha256(doc):
                good.append(c)
        except (CborLdError, ValueError):
            continue
    if not good:
        raise ValueError("layer probe sample has no valid document")
    batch = pa.RecordBatch.from_arrays(
        [pa.array([hashlib.sha256(c.encode()).hexdigest() for c in good]),
         pa.array(good)], names=["content_sha", "content"])
    udf = kg_process_batches()
    pc = time.perf_counter
    phases = ("parse", "sha", "encode", "decode", "expand")
    per_round: list[dict[str, float]] = []
    triples = cbor_bytes = json_bytes = 0
    for _ in range(rounds):
        tot = dict.fromkeys(phases, 0.0)
        for c in good:
            t0 = pc()
            doc = parse_json_document(c)
            t1 = pc()
            sha = content_sha256(doc)
            t2 = pc()
            cbor = encode_document(doc, registry_id=1)
            t3 = pc()
            back = decode_document(cbor)
            t4 = pc()
            if content_sha256(back) != sha:
                raise AssertionError("layer probe: round-trip sha differs")
            t5 = pc()
            n = len(expand_to_triples(doc))
            t6 = pc()
            tot["parse"] += t1 - t0
            tot["sha"] += (t2 - t1) + (t5 - t4)
            tot["encode"] += t3 - t2
            tot["decode"] += t4 - t3
            tot["expand"] += t6 - t5
            triples += n
            cbor_bytes += len(cbor)
            json_bytes += len(c)
        t0 = pc()
        for out in udf(iter([batch])):
            if out.num_rows != len(good):
                raise AssertionError("layer probe: UDF row count changed")
        tot["batch"] = pc() - t0
        per_round.append({k: v / len(good) * 1e6 for k, v in tot.items()})

    def med(key) -> float:
        return statistics.median(r[key] for r in per_round)

    out = {f"kernel.{k}_us": med(k) for k in phases}
    out["kernel.docs_per_s"] = 1e6 / statistics.median(
        sum(r[k] for k in phases) for r in per_round)
    out["kernel.triples_per_doc"] = triples / (rounds * len(good))
    out["kernel.cbor_per_json"] = cbor_bytes / json_bytes
    out["functions.batch_us"] = med("batch")
    out["functions.boundary_us"] = statistics.median(
        r["batch"] - sum(r[k] for k in phases) for r in per_round)
    return out


def host_probe(n: int = 200_000) -> float:
    """Seconds for a fixed pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def steal_seconds() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> dict[int, list[str]]:
    """``pid -> /proc/<pid>/stat`` fields after the command name, for
    ``root`` and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    tree = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def tree_cpu_seconds() -> float:
    """User + system CPU of this process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in f[11:15]) for f in
               process_tree(os.getpid()).values()) / tick


def jit_cpu_seconds() -> float:
    """User + system CPU of the JVM's JIT compiler threads in this process
    tree.  Their number must be fixed (``-XX:-UseDynamicNumberOfCompilerThreads``):
    the CPU of a thread that exits is no longer listed apart."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            if "CompilerThre" in name:
                total += sum(int(x) for x in rest.split()[11:13])
    return total / tick


def _tree_pss_bytes(root: int) -> int:
    """Summed proportional set size: pages shared by the forked Python
    workers and their daemon count once, not once per process."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Peak summed PSS of this process tree while running (``with`` block).

    Reading ``smaps_rollup`` of a JVM with a large heap costs kernel time;
    ``cpu_s``, the sampler thread's own CPU so far, lets a caller leave
    that cost out of the tree's CPU."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_pss_bytes(os.getpid()))
            self.cpu_s = time.thread_time()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024.0 * 1024.0)

