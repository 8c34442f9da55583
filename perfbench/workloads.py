"""The benchmark workloads: ``extract_unique`` and ``query_mix``.

Each workload generates its seeded input (not timed, not set-up), warms
its own call path during set-up, runs a fixed number of timed passes
(more when ``--seconds`` allows), and checks the program's outputs
outside the timed region.  Every miss is recorded in ``Checks`` and
reported as ``failed``.

``plans.pipeline.build_kg`` is not a timed workload: a warm build costs
about 10 s at any corpus size here, so a run could time only two or
three of them.  The traced run of ``extract_unique`` runs it once, over
a duplicate-heavy corpus of the same seed (:class:`PipelineProbe`), for
the ``pipeline.*`` layer metrics.
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import inspect
import json
import os
import random
import textwrap
import time
from dataclasses import dataclass, field

from perfbench import corpus

# sizes and pass counts keep a run under a minute with the JVM start and
# the cold pass, so that 22 runs of each workload fit in under an hour on
# 4 cores even when the host runs slow
EXTRACT_ROWS = 2000
BUILD_ROWS = 4000
BUILD_DISTINCT_SHARE = 0.05
# 64 (the default) writes up to 64 files per task and table, which makes a
# build of this corpus mostly file commits
BUILD_BUCKETS = 8
QUERY_DOCS = 300
KERNEL_SAMPLE = 200

# query_mix, in registry names: SPARQL / BGP / path translation, then
# iterative graph joins (pagerank) and the cardinality-sketch lead
QUERY_MIX = (
    "kg_sparql_group", "kg_bgp_optional_unbound", "kg_path_truage_issuer",
    "kg_pagerank", "kg_cardinality_sketch",
)
GRAPH_QUERIES = frozenset({"kg_pagerank", "kg_cardinality_sketch"})

TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_iri", "obj_datatype",
               "obj_lang", "graph", "repo", "path", "commit", "doc_sha")
# the kernel's mapInArrow is the only Python plan node emitting t_subj
KERNEL_NODE = "t_subj"


@dataclass
class Checks:
    attempted: int = 0
    misses: list[str] = field(default_factory=list)

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.misses.append(what)


@dataclass
class PassResult:
    wall_s: float
    fingerprint: object
    # per operation: (name, define_s, collect_s)
    ops: list[tuple[str, float, float]] = field(default_factory=list)
    cpu_s: float = 0.0       # CPU of the process tree, JIT threads left out
    jit_cpu_s: float = 0.0   # CPU of the JIT compiler threads


def _fingerprint(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.coalesce(F.bit_xor(F.xxhash64(*TRIPLE_COLS)), F.lit(0))
               .alias("x")).collect()[0]
    return int(r["n"]), int(r["x"])


def _golden(name: str) -> set[tuple]:
    from cbor_ld_spark.kernel.loader import read_fixture_text

    return {tuple(r) for r in json.loads(
        read_fixture_text("triples", f"{name}.triples.json"))}


def _strip_bnode(v):
    """Undo the per-document blank-node prefix: ``_:<sha16>_bN`` -> ``_:bN``."""
    if isinstance(v, str) and v.startswith("_:") and "_b" in v:
        return "_:b" + v.rsplit("_b", 1)[1]
    return v


class _Workload:
    """What run.py drives: generate, setup, run_pass, check, trace_inputs."""

    rows_n = 0
    candidates = 0     # rows that pass the sniff filter into the kernel path
    warm_fingerprint = None
    # timed passes in every run: the JIT keeps compiling over the first
    # passes, so each run measures the same pass indices
    min_passes = 1
    kernel_span = ""   # span of the call that runs the kernel

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def trace_inputs(self, spark, tracer, chk: "Checks") -> dict:
        """Inputs of the per-layer metrics that need the live session."""
        return {"sample": self.kernel_sample(spark)}


class _CorpusWorkload(_Workload):
    """Shared by extract_unique and the pipeline probe: a repos-table corpus."""

    distinct_share = 1.0
    input_name = "repos.parquet"

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.input = os.path.join(work, self.input_name)
        self.rows: list[corpus.Row] = []

    def generate(self) -> None:
        self.rows = corpus.generate(self.seed, self.rows_n, self.distinct_share)
        corpus.write_parquet(self.rows, self.input)
        self.candidates = sum(r.kind != "distractor" for r in self.rows)

    def kernel_sample(self, spark) -> list[str]:
        distinct = sorted({r.content for r in self.rows if r.kind == "valid"})
        return random.Random(self.seed).sample(
            distinct, min(KERNEL_SAMPLE, len(distinct)))

    def _check_docs(self, docs: list, chk: Checks) -> None:
        """Per-row outcome against what the generator made the row to be."""
        got = {}
        for d in docs:
            if d["path"] in got:
                chk.expect(False, f"row {d['path']} appears twice")
            got[d["path"]] = d
        for r in self.rows:
            d = got.get(r.path)
            if r.kind == "distractor":
                chk.expect(d is None, f"distractor {r.path} reached the kernel")
            elif d is None:
                chk.expect(False, f"{r.kind} row {r.path} is missing")
            elif r.kind == "bad":
                want = corpus.BAD_KINDS[r.label]
                chk.expect(not d["ok"] and d["error_kind"] == want,
                           f"bad row {r.path}: ok={d['ok']} "
                           f"error_kind={d['error_kind']} want {want}")
            else:
                chk.expect(bool(d["ok"] and d["roundtrip_ok"]
                                and d["n_triples"] > 0),
                           f"{r.kind} row {r.path}: ok={d['ok']} "
                           f"roundtrip_ok={d['roundtrip_ok']} "
                           f"error_kind={d['error_kind']}")

    def _check_fixture_triples(self, triples: list, chk: Checks) -> None:
        """Triple P/R = 1.0 for every verbatim golden fixture row."""
        by_path: dict[str, set] = {}
        for t in triples:
            by_path.setdefault(t["path"], set()).add(
                (_strip_bnode(t["subj"]), t["pred"], _strip_bnode(t["obj"]),
                 t["obj_is_iri"], t["obj_datatype"] or "",
                 t["obj_lang"] or "", _strip_bnode(t["graph"])))
        for r in self.rows:
            if r.kind == "fixture":
                want = _golden(r.label)
                got = by_path.get(r.path, set())
                tp = len(got & want)
                chk.expect(tp == len(got) == len(want),
                           f"fixture {r.label}: P={tp}/{len(got)} "
                           f"R={tp}/{len(want)}")

    def _fixture_paths(self) -> list[str]:
        return [r.path for r in self.rows if r.kind == "fixture"]


class ExtractUnique(_CorpusWorkload):
    """scan -> process_corpus -> triples_table -> aggregate, all distinct."""

    name = "extract_unique"
    rows_n = EXTRACT_ROWS
    # the JIT compiles for several passes; while it does, it also slows
    # the Python workers it shares the cores with
    warmup_passes = 10
    min_passes = 10
    kernel_span = "extract.pass"

    def setup(self, spark, tracer) -> None:
        """Warm passes, then the check's own kernel pass; the check's
        results are verified after timing."""
        from pyspark.sql import functions as F

        from cbor_ld_spark.operators import process_corpus, triples_table

        for _ in range(self.warmup_passes):
            with tracer.span("setup.warmup"):
                self.warm_fingerprint = self.run_pass(
                    spark, tracer, None).fingerprint
        with tracer.span("setup.check"):
            repos = spark.read.parquet(self.input)
            self.docs = process_corpus(repos).select(
                "path", "ok", "roundtrip_ok", "error_kind", "n_triples").collect()
            fixtures = repos.filter(F.col("path").isin(self._fixture_paths()))
            self.fixture_triples = triples_table(
                process_corpus(fixtures)).collect()

    def run_pass(self, spark, tracer, _index) -> PassResult:
        from cbor_ld_spark.operators import process_corpus, triples_table

        t0 = time.perf_counter()
        with tracer.span(self.kernel_span):
            fp = _fingerprint(triples_table(process_corpus(
                spark.read.parquet(self.input))))
        return PassResult(time.perf_counter() - t0, fp)

    def check(self, spark, chk: Checks) -> None:
        self._check_docs(self.docs, chk)
        self._check_fixture_triples(self.fixture_triples, chk)

    def trace_inputs(self, spark, tracer, chk: Checks) -> dict:
        probe = PipelineProbe(self.seed, self.work)
        probe.generate()
        return {**super().trace_inputs(spark, tracer, chk),
                "pipeline": probe.run(spark, tracer, chk),
                "pipeline_candidates": probe.candidates}


class PipelineProbe(_CorpusWorkload):
    """One untimed ``plans.pipeline.build_kg`` (no analytics) over a
    duplicate-heavy corpus: about 95% of rows are byte-identical copies of
    5% distinct docs (vendored dependencies, forks).  Its lineage rows,
    output files and job group give the ``pipeline.*`` layer metrics.
    Linking stays on the driver union-find path at this size (under
    ``DRIVER_CC_THRESHOLD``); the distributed one is not exercised."""

    rows_n = BUILD_ROWS
    distinct_share = BUILD_DISTINCT_SHARE
    input_name = "build_repos.parquet"
    span = "pipeline.build_kg"

    def run(self, spark, tracer, chk: Checks) -> dict:
        from pyspark.sql import functions as F

        from cbor_ld_spark.plans.pipeline import build_kg

        # a fresh directory: build_kg skips buckets its lineage already
        # lists for the run id, so a reused one would build nothing
        out = os.path.join(self.work, "build")
        if os.path.exists(out):
            raise RuntimeError(f"build output {out} already exists")
        with tracer.span(self.span):
            summary = build_kg(spark, spark.read.parquet(self.input), out,
                               run_id=f"bench-{self.seed}",
                               n_buckets=BUILD_BUCKETS)
        chk.expect(summary["docs_processed_this_run"] == self.candidates,
                   f"build processed {summary['docs_processed_this_run']} "
                   f"docs, expected {self.candidates}")
        self._check_docs(spark.read.parquet(os.path.join(out, "docs")).select(
            "path", "ok", "roundtrip_ok", "error_kind", "n_triples").collect(),
            chk)
        self._check_fixture_triples(
            spark.read.parquet(os.path.join(out, "triples"))
            .filter(F.col("path").isin(self._fixture_paths())).collect(), chk)
        return self._metrics(spark, out, summary)

    def _metrics(self, spark, out: str, summary: dict) -> dict:
        """Per-stage wall time and counts of the build."""
        from pyspark.sql import functions as F

        from cbor_ld_spark.plans.pipeline import read_lineage

        lin = (read_lineage(spark, out).groupBy("stage")
               .agg(F.max("wall_ms").alias("ms"),
                    F.sum("rows_in").alias("rows")).collect())
        ms = {r["stage"]: r["ms"] for r in lin}
        rows = {r["stage"]: r["rows"] for r in lin}
        files = 0
        size = 0
        for d, _dirs, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
        return {
            "pipeline.kernel_s": ms.get("kernel", 0) / 1e3,
            "pipeline.canonicalize_s": ms.get("canonicalize", 0) / 1e3,
            "pipeline.link_s": ms.get("link", 0) / 1e3,
            "pipeline.materialize_s": ms.get("materialize", 0) / 1e3,
            "pipeline.canon_rows": rows.get("canonicalize", 0),
            "pipeline.linked_nodes": rows.get("link", 0),
            "pipeline.edges": summary.get("edges_total", 0),
            "pipeline.files_written": files,
            "pipeline.mb_written": size / (1024.0 * 1024.0),
        }


def _load_compare_harness(root: str):
    path = os.path.join(root, "tests", "compare_harness.py")
    spec = importlib.util.spec_from_file_location("_compare_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_texts(entry, names) -> dict[str, str]:
    """``oracle_sql()[name]`` for each name, evaluating only those entries
    of its dict literal (the full dict replays every oracle, minutes of
    work); falls back to the full call when the shape differs."""
    try:
        fn = ast.parse(textwrap.dedent(inspect.getsource(entry.oracle_sql))).body[0]
        ret = next(n.value for n in ast.walk(fn) if isinstance(n, ast.Return))
        out = {}
        if isinstance(ret, ast.Dict):
            for k, v in zip(ret.keys, ret.values):
                if isinstance(k, ast.Constant) and k.value in names:
                    code = compile(ast.Expression(v), "<oracle_sql>", "eval")
                    out[k.value] = eval(code, vars(entry))  # noqa: S307
        if set(out) == set(names):
            return out
    except (OSError, TypeError, StopIteration, SyntaxError):
        pass
    full = entry.oracle_sql()
    return {n: full[n] for n in names}


class _Rows:
    """Collected rows in the shape ``compare_harness.compare`` reads."""

    def __init__(self, rows, columns):
        self._rows = rows
        self.columns = columns

    def collect(self):
        return self._rows


class QueryMix(_Workload):
    """Closed loop, one client: the query list over the shared KG tiers."""

    name = "query_mix"
    min_passes = 4
    kernel_span = "shared.triples"

    def __init__(self, seed: int, work: str, root: str):
        super().__init__(seed, work)
        self.root = root
        self._harness = None
        self.sf = os.path.join(work, "sf")
        self.warm_rows: dict[str, tuple] = {}
        self.tier_s: dict[str, float] = {}

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.sf, exist_ok=True)
        rng = random.Random(self.seed)
        ids = sorted(rng.sample(range(20 * QUERY_DOCS), QUERY_DOCS))
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       os.path.join(self.sf, "documents.parquet"))
        self.rows_n = QUERY_DOCS

    def setup(self, spark, tracer) -> None:
        import __spark_entry__ as entry
        from cbor_ld_spark.plans import shared_entity_edges, shared_triples

        self.queries = entry.queries()
        missing = [n for n in QUERY_MIX if n not in self.queries]
        if missing:
            raise RuntimeError(f"queries not in the registry: {missing}")
        for name, fn in (("shared.triples", shared_triples),
                         ("shared.edges", shared_entity_edges)):
            t0 = time.perf_counter()
            with tracer.span(name):
                fn(spark, self.sf)
            self.tier_s[name] = time.perf_counter() - t0
            print(f"# {name} built in {self.tier_s[name]:.3f} s", flush=True)
        with tracer.span("setup.warmup"):
            self.warm_fingerprint = self._pass(spark, tracer,
                                               keep=True).fingerprint

    def _pass(self, spark, tracer, keep: bool = False) -> PassResult:
        ops = []
        fps = []
        t_pass = time.perf_counter()
        for name in QUERY_MIX:
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}"):
                df = self.queries[name](spark, self.sf)
                t1 = time.perf_counter()
                rows = df.collect()
            t2 = time.perf_counter()
            ops.append((name, t1 - t0, t2 - t1))
            if keep:
                self.warm_rows[name] = (rows, df.columns)
            fps.append((name, len(rows), df.columns, rows))
        wall = time.perf_counter() - t_pass
        return PassResult(wall, self._digest(fps), ops)

    def _digest(self, fps) -> dict[str, str]:
        harness = self.harness()
        out = {}
        for name, _n, cols, rows in fps:
            c, vals = harness._normalize([tuple(r) for r in rows], cols)
            out[name] = hashlib.sha256(repr((c, vals)).encode()).hexdigest()
        return out

    def harness(self):
        if self._harness is None:
            self._harness = _load_compare_harness(self.root)
        return self._harness

    def run_pass(self, spark, tracer, _index) -> PassResult:
        return self._pass(spark, tracer)

    def kernel_sample(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        from cbor_ld_spark.functions.udfs import jsonld_sniff
        from cbor_ld_spark.sources import corpus_from_documents

        cand = corpus_from_documents(spark, self.sf).filter(
            jsonld_sniff(F.col("lang")))
        self.candidates = cand.count()
        rows = cand.select("content").distinct().orderBy("content").collect()
        return [r["content"] for r in rows][:KERNEL_SAMPLE]

    def check(self, spark, chk: Checks) -> None:
        import duckdb

        import __spark_entry__ as entry

        os.environ["SPARK_GRAFT_ORACLE_SF"] = self.sf
        texts = oracle_texts(entry, QUERY_MIX)
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf, 'documents.parquet')}')")
            harness = self.harness()
            for name in QUERY_MIX:
                rows, cols = self.warm_rows[name]
                r = harness.compare(_Rows(rows, cols), con, texts[name])
                chk.expect(bool(r["cols_match"] and r["values_match"]),
                           f"{name} differs from its oracle: "
                           f"{json.dumps(r, default=str)[:300]}")
        finally:
            con.close()


def make(name: str, seed: int, work: str, root: str):
    if name == "extract_unique":
        return ExtractUnique(seed, work)
    if name == "query_mix":
        return QueryMix(seed, work, root)
    raise ValueError(f"unknown workload {name!r}")

