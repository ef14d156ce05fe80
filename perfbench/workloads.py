"""The three workloads: input, set-up, timed pass, traced pass, twin.

Each workload runs the program as shipped, through its public functions:

* ``flagship``: transcripts -> canonical triples in memory
  (``plans.pipeline.run_pipeline``), consumed by a full-column row hash;
* ``staged_snapshot``: for each of two corpora, the same transform through
  ``plans.staged.run_staged`` into a fresh workdir (five stage snapshots),
  then a resume that must recompute nothing, then a row hash of the resumed
  table;
* ``graph_mix``: seven registry queries of the graph family over seeded
  TPC-H-ish tables, each consumed by a row hash.

``BENCHMARK.json`` names the last two; ``flagship`` runs the same way but
does not fit the benchmark's time budget beside them (perfbench/README.md,
"Stability").

A pass is a list of named operations. It returns its timings and the row
hash of each operation's output; the run compares those hashes with the
DuckDB twin of the same input.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen
import twin
from spans import MB, StageMetrics, Tracer, sum_groups

CODEGEN_FALLBACK = "Code grows beyond 64 KB"


def process_tree(pid: int) -> list[int]:
    """``pid`` and every live descendant (the Spark JVM and its Python
    workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the process tree of ``pid``, reaped
    children included."""
    ticks = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def stage_bytes(spark) -> dict:
    """(stage, attempt) -> bytes the stage wrote (shuffle, output, disk
    spill), for every stage in Spark's status store. The store is kept
    with the UI disabled too."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    stages = jsc.statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList()
    )
    out, it = {}, stages.iterator()
    while it.hasNext():
        st = it.next()
        out[(st.stageId(), st.attemptId())] = (
            st.shuffleWriteBytes() + st.outputBytes() + st.diskBytesSpilled()
        )
    return out


def disk_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


@dataclass
class Pass:
    build_s: float
    mix_s: float
    rows: int
    hashes: dict  # operation -> (rows, hash) of its output
    bytes_written: int = 0
    cpu_s: float = 0.0
    failed: set = field(default_factory=set)  # operations that failed
    op_s: dict = field(default_factory=dict)  # operation -> seconds


class Workload:
    name = ""
    ops: tuple = ()
    #: input size at scale 1
    sizes: dict = {}

    def __init__(self, seed: int, scale: float, work: str, log_path: str):
        self.seed = seed
        self.scale = scale
        self.work = work
        self.input_dir = os.path.join(work, "input")
        #: the Spark JVM's stderr, where codegen fallbacks are logged
        self.log_path = log_path
        self.n_pass = 0

    def _log_mark(self) -> int:
        return os.path.getsize(self.log_path)

    def _log_count(self, start: int, needle: str) -> int:
        with open(self.log_path, "rb") as f:
            f.seek(start)
            return f.read().decode("utf-8", "replace").count(needle)

    def run_pass(self, spark, drop_one: bool = False) -> Pass:
        """One untraced pass, with the CPU time of the Spark process tree and
        the bytes Spark's stages wrote during it."""
        pid = jvm_pid(spark)
        seen, cpu0 = stage_bytes(spark), tree_cpu_s(pid)
        p = self._pass(spark, drop_one)
        p.cpu_s = tree_cpu_s(pid) - cpu0
        p.bytes_written = sum(b for k, b in stage_bytes(spark).items() if k not in seen)
        return p

    def twin_hashes(self, spark) -> dict:
        """operation -> (rows, hash) of the DuckDB twin of its output."""
        out = {}
        tdir = os.path.join(self.work, "twin")
        os.makedirs(tdir, exist_ok=True)
        for op, write in self._twins():
            path = os.path.join(tdir, f"{op}.parquet")
            write(path)
            out[op] = twin.row_hash(spark.read.parquet(path))
        return out


class _TranscriptWorkload(Workload):
    #: the corpora a pass ingests, one after the other, each of the same
    #: shape; the tag goes into the conversation ids (``gen.conv_id``)
    batch_tags: tuple = ("",)

    def generate(self) -> dict:
        n_convs = max(2, round(self.sizes["convs"] * self.scale))
        self.tr_paths, self.fingerprints, frames = [], [], {}
        for tag in self.batch_tags:
            frame = gen.transcripts_frame(self.seed, n_convs, self.sizes["turns"], tag=tag)
            path = os.path.join(self.input_dir, f"transcripts{tag}")
            gen.write_transcripts(frame, path)
            frames[f"transcripts{tag}"] = frame
            self.tr_paths.append(path)
            self.fingerprints.append(gen.fingerprint({"transcripts": frame}))
        self.fingerprint = gen.fingerprint(frames)
        return {"batches": len(self.batch_tags), "conversations": n_convs,
                "turns_per_conversation": self.sizes["turns"],
                "turns": sum(len(f) for f in frames.values()), "fingerprint": self.fingerprint}

    def materialize(self, spark) -> None:
        # as bench.py: the input is read once and pinned at 2x cores, standing
        # in for a well-bucketed table scan
        parts = 2 * spark.sparkContext.defaultParallelism
        self.trs = [spark.read.parquet(p).repartition(parts).localCheckpoint()
                    for p in self.tr_paths]


class Flagship(_TranscriptWorkload):
    name = "flagship"
    ops = ("build",)
    sizes = {"convs": 150, "turns": 8}

    def _pass(self, spark, drop_one: bool) -> Pass:
        from rdfcmap_spark.plans.pipeline import run_pipeline

        t0 = time.perf_counter()
        n, h = twin.row_hash(run_pipeline(self.trs[0]).triples, drop_one)
        dt = time.perf_counter() - t0
        return Pass(build_s=dt, mix_s=dt, rows=n, hashes={"build": (n, h)})

    def traced_pass(self, spark, tr: Tracer, sm: StageMetrics) -> tuple[Pass, dict]:
        """run_pipeline's composition with one span per layer and each
        boundary forced: persist + count after linking, a row hash of the
        assembly alone, the eager CC call, and the row hash after rewrite."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from rdfcmap_spark.operators import assembly, canonicalize, linking
        from rdfcmap_spark.plans.pipeline import identity_inputs, linked_sentences

        c: dict = {}
        t0 = time.perf_counter()
        storage0 = sm.storage_mb()
        with tr.span("linking"):
            sent = linked_sentences(self.trs[0], linking.resolved_alias_df(spark))
            sent = sent.drop("phrase", "phrase_norm", "obj_bnode").persist(StorageLevel.MEMORY_AND_DISK)
            row = sent.agg(F.count(F.lit(1)).alias("n"), _unresolved(F)).first()
        c["linking.sentences"] = row["n"]
        c["linking.unresolved_mentions"] = row["unresolved"] or 0
        c["linking.cache_mb"] = sm.storage_mb() - storage0
        mark = self._log_mark()
        with tr.span("assembly"):
            cand = assembly.sentence_triples(sent)
            c["assembly.candidate_triples"], _ = twin.row_hash(cand)
        c["assembly.codegen_fallbacks"] = self._log_count(mark, CODEGEN_FALLBACK)
        with tr.span("canonicalize.identity"):
            sameas, idents = identity_inputs(sent)
            edges = canonicalize.identity_edges(sameas, idents)
        c["canonicalize.identity_edges"] = edges.count()
        with tr.span("canonicalize.cc"):
            mapping, n_mapping = canonicalize.connected_components_with_count(edges)
        c["canonicalize.mapped_entities"] = n_mapping
        c["canonicalize.components"] = mapping.select("canonical_id").distinct().count()
        with tr.span("rewrite"):
            out = canonicalize.rewrite_triples(cand, mapping, n_mapping=n_mapping)
            n, h = twin.row_hash(out)
        c["rewrite.triples"] = n
        sent.unpersist()
        dt = time.perf_counter() - t0
        return Pass(build_s=dt, mix_s=dt, rows=n, hashes={"build": (n, h)}), c

    def _twins(self):
        yield "build", lambda path: twin.pipeline_twin(self.tr_paths[0], path)


def _unresolved(F):
    """Relation mentions whose subject or object surface did not resolve
    (``plans.pipeline.pipeline_metrics``' two counters, summed)."""
    rel = F.col("form") == "relation"
    return (
        F.sum((rel & F.col("subj_res").isNull()).cast("long"))
        + F.sum((rel & F.col("obj_norm").isNotNull() & F.col("obj_res").isNull()).cast("long"))
    ).alias("unresolved")


class StagedSnapshot(_TranscriptWorkload):
    name = "staged_snapshot"
    sizes = {"convs": 40, "turns": 64}
    # Two batches: the first pays the session's one-time cost (class
    # loading, JIT, codegen, Python workers), the second runs warm. A pass
    # of one batch (~19 s) swung with the host's load too much for the
    # regression bounds; two give a ~28 s pass, and on a second corpus no
    # cache the program may keep can serve batch b from batch a.
    batch_tags = ("", "b")
    ops = tuple(f"{b}.{op}" for b in ("a", "b") for op in ("build", "resume"))
    STAGES = ("sent", "raw_triples", "identity_edges", "mapping", "triples")
    LAYER_OF = {
        "sent": "linking",
        "raw_triples": "assembly",
        "identity_edges": "canonicalize.identity",
        "mapping": "canonicalize.cc",
        "triples": "rewrite",
    }

    def _pass(self, spark, drop_one: bool, tr: Tracer | None = None) -> Pass:
        """Per batch: ``run_staged`` into a fresh workdir, ``run_staged``
        again (must resume every stage), the row hash of the resumed
        table. ``build_s`` sums the two builds."""
        from rdfcmap_spark.plans.staged import run_staged

        self.n_pass += 1
        p = Pass(build_s=0.0, mix_s=0.0, rows=0, hashes={})
        self.batch_runs = []
        for b, tr_df, fp in zip("ab", self.trs, self.fingerprints):
            wd = os.path.join(self.work, "staged", f"pass-{self.n_pass}", b)
            shutil.rmtree(wd, ignore_errors=True)
            os.makedirs(wd)
            t0 = time.perf_counter()
            _, run1 = run_staged(spark, tr_df, wd, fp)
            t1 = time.perf_counter()
            with tr.span("staged.resume") if tr else nullcontext():
                df, run2 = run_staged(spark, tr_df, wd, fp)
                n, h = twin.row_hash(df, drop_one)
            t2 = time.perf_counter()
            p.build_s += t1 - t0
            p.mix_s += t2 - t0
            p.rows += n
            p.hashes[f"{b}.resume"] = (n, h)
            p.op_s.update({f"{b}.build": t1 - t0, f"{b}.resume": t2 - t1})
            if sorted(run1.ran) != sorted(self.STAGES):
                p.failed.add(f"{b}.build")
            if run2.ran:
                p.failed.add(f"{b}.resume")
            self.batch_runs.append((wd, run1, run2))
        return p

    def traced_pass(self, spark, tr: Tracer, sm: StageMetrics) -> tuple[Pass, dict]:
        """run_staged with a span per snapshot (``sink.<stage>``). The
        stage's own compute-and-write job runs in a nested span
        ``<layer>.write``, so what is left of the sink span is the
        write-back passes."""
        from pyspark.sql import functions as F
        from pyspark.sql import readwriter

        from rdfcmap_spark.operators import canonicalize
        from rdfcmap_spark.sources import sink

        orig = (sink.write_snapshot, readwriter.DataFrameWriter.parquet,
                canonicalize.connected_components)
        current: list[str] = []

        def write_snapshot(df, path, *a, **kw):
            current.append(kw["extra_meta"]["stage"])
            try:
                with tr.span("sink." + current[-1]):
                    return orig[0](df, path, *a, **kw)
            finally:
                current.pop()

        fallbacks = []

        def parquet(writer, path, *a, **kw):
            if not current:
                return orig[1](writer, path, *a, **kw)
            mark = self._log_mark()
            try:
                with tr.span(self.LAYER_OF[current[-1]] + ".write"):
                    return orig[1](writer, path, *a, **kw)
            finally:
                if current[-1] == "raw_triples":
                    fallbacks.append(self._log_count(mark, CODEGEN_FALLBACK))

        def connected_components(*a, **kw):
            # the mapping stage's CC runs eagerly, before its snapshot write
            with tr.span("canonicalize.cc"):
                return orig[2](*a, **kw)

        sink.write_snapshot = write_snapshot
        readwriter.DataFrameWriter.parquet = parquet
        canonicalize.connected_components = connected_components
        try:
            with tr.span("staged.pass"):
                p = self._pass(spark, drop_one=False, tr=tr)
        finally:
            sink.write_snapshot, readwriter.DataFrameWriter.parquet = orig[0], orig[1]
            canonicalize.connected_components = orig[2]
        c = dict.fromkeys(
            ["linking.sentences", "linking.unresolved_mentions", "assembly.candidate_triples",
             "canonicalize.identity_edges", "canonicalize.mapped_entities",
             "canonicalize.components", "rewrite.triples", "sink.bytes_mb",
             "staged.stages_ran", "staged.stages_skipped"], 0)
        c["assembly.codegen_fallbacks"] = sum(fallbacks)
        for wd, run1, run2 in self.batch_runs:
            rows = {s: m["rows"] for s, m in run1.metrics.items()}
            sent = spark.read.parquet(os.path.join(wd, "sent"))
            mapping = spark.read.parquet(os.path.join(wd, "mapping"))
            c["linking.sentences"] += rows["sent"]
            c["linking.unresolved_mentions"] += sent.agg(_unresolved(F)).first()[0] or 0
            c["assembly.candidate_triples"] += rows["raw_triples"]
            c["canonicalize.identity_edges"] += rows["identity_edges"]
            c["canonicalize.mapped_entities"] += rows["mapping"]
            c["canonicalize.components"] += mapping.select("canonical_id").distinct().count()
            c["rewrite.triples"] += rows["triples"]
            c["sink.bytes_mb"] += disk_bytes(wd) / MB
            c["staged.stages_ran"] += len(run1.ran)
            c["staged.stages_skipped"] += len(run2.skipped)
        return p, c

    def _twins(self):
        for b, path_in in zip("ab", self.tr_paths):
            yield f"{b}.resume", (lambda path, path_in=path_in: twin.pipeline_twin(path_in, path))


class GraphMix(Workload):
    name = "graph_mix"
    #: registry query -> its layer span
    QUERIES = {
        "kg_triangle_count": "graph.triangle_count",
        "kg_ktruss": "graph.ktruss",
        "kg_kcore": "graph.kcore",
        "kg_link_predict": "graph.link_predict",
        "kg_pagerank": "graph.pagerank",
        "kg_random_walks": "graph.random_walks",
        "kg_sparql_path": "sparql_exec.path",
    }
    ops = tuple(QUERIES)
    TABLES = ("lineitem", "orders", "customer", "events")
    #: fraction of the sf0.01 table sizes
    sizes = {"tables": 0.1}

    def generate(self) -> dict:
        frames = gen.graph_frames(self.seed, self.sizes["tables"] * self.scale)
        self.table_dir = os.path.join(self.input_dir, "tables")
        gen.write_tables(frames, self.table_dir)
        self.fingerprint = gen.fingerprint(frames)
        return {**{f"{k}_rows": len(v) for k, v in frames.items()}, "fingerprint": self.fingerprint}

    def materialize(self, spark) -> None:
        import __spark_entry__

        self.registry = __spark_entry__.queries()
        for t in self.TABLES:
            spark.read.parquet(os.path.join(self.table_dir, f"{t}.parquet")).count()

    def _pass(self, spark, drop_one: bool, tr: Tracer | None = None) -> Pass:
        hashes, secs = {}, {}
        t0 = time.perf_counter()
        for q, layer in self.QUERIES.items():
            tq = time.perf_counter()
            with tr.span(layer) if tr else nullcontext():
                hashes[q] = twin.row_hash(self.registry[q](spark, self.table_dir), drop_one)
            secs[q] = time.perf_counter() - tq
        dt = time.perf_counter() - t0
        rows = sum(n for n, _ in hashes.values())
        return Pass(build_s=dt, mix_s=dt, rows=rows, hashes=hashes, op_s=secs)

    def traced_pass(self, spark, tr: Tracer, sm: StageMetrics) -> tuple[Pass, dict]:
        return self._pass(spark, drop_one=False, tr=tr), {}

    def _twins(self):
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        for q in self.QUERIES:
            yield q, (lambda path, q=q: twin.query_twin(oracles[q], self.table_dir, list(self.TABLES), path))


WORKLOADS = {w.name: w for w in (Flagship, StagedSnapshot, GraphMix)}


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------

PER_LAYER = [
    # (name, unit, better)
    ("session.start_s", "s", "lower"),
    ("session.restart_s", "s", "lower"),
    ("session.materialize_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("linking.wall_s", "s", "lower"),
    ("linking.task_cpu_s", "s", "lower"),
    ("linking.gc_s", "s", "lower"),
    ("linking.sentences", "count", "lower"),
    ("linking.unresolved_mentions", "count", "lower"),
    ("linking.cache_mb", "MB", "lower"),
    ("assembly.wall_s", "s", "lower"),
    ("assembly.task_cpu_s", "s", "lower"),
    ("assembly.candidate_triples", "count", "lower"),
    ("assembly.codegen_fallbacks", "count", "lower"),
    ("canonicalize.identity_wall_s", "s", "lower"),
    ("canonicalize.cc_wall_s", "s", "lower"),
    ("canonicalize.identity_edges", "count", "lower"),
    ("canonicalize.mapped_entities", "count", "lower"),
    ("canonicalize.components", "count", "lower"),
    ("rewrite.wall_s", "s", "lower"),
    ("rewrite.task_cpu_s", "s", "lower"),
    ("rewrite.gc_s", "s", "lower"),
    ("rewrite.shuffle_write_mb", "MB", "lower"),
    ("rewrite.spill_mb", "MB", "lower"),
    ("rewrite.triples", "count", "lower"),
    ("rewrite.dedup_ratio", "ratio", "higher"),
    ("sink.write_s", "s", "lower"),
    ("sink.readback_s", "s", "lower"),
    ("sink.jobs", "count", "lower"),
    ("sink.bytes_mb", "MB", "lower"),
    ("staged.resume_s", "s", "lower"),
    ("staged.stages_ran", "count", "lower"),
    ("staged.stages_skipped", "count", "higher"),
    ("graph.triangle_count_s", "s", "lower"),
    ("graph.ktruss_s", "s", "lower"),
    ("graph.kcore_s", "s", "lower"),
    ("graph.link_predict_s", "s", "lower"),
    ("graph.pagerank_s", "s", "lower"),
    ("graph.random_walks_s", "s", "lower"),
    ("graph.jobs", "count", "lower"),
    ("graph.shuffle_write_mb", "MB", "lower"),
    ("sparql_exec.path_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("trace.layer_sum_s", "s", "lower"),
    ("trace.traced_s", "s", "lower"),
    ("trace.untraced_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.cold_s", "s", "lower"),
    ("failed_ratio", "ratio", "lower"),
]


def layer_metrics(tr: Tracer, groups: dict, counters: dict) -> dict:
    """Per-layer values of the traced pass from its spans, its job groups'
    stage metrics and the counters it collected. A layer the workload does
    not run reports 0. In ``staged_snapshot`` a layer's work is its
    ``<layer>.write`` span (plus the eager CC call)."""

    def wall(layer):
        return tr.wall(layer) + tr.wall(layer + ".write")

    def g(layer, key):
        return sum_groups(groups, [layer, layer + ".write"], key)

    v = {name: 0.0 for name, _, _ in PER_LAYER}
    v.update(counters)
    for layer in ("linking", "assembly", "rewrite"):
        v[f"{layer}.wall_s"] = wall(layer)
        v[f"{layer}.task_cpu_s"] = g(layer, "task_cpu_s")
    for layer in ("linking", "rewrite"):
        v[f"{layer}.gc_s"] = g(layer, "gc_s")
    v["canonicalize.identity_wall_s"] = wall("canonicalize.identity")
    v["canonicalize.cc_wall_s"] = wall("canonicalize.cc")
    v["rewrite.shuffle_write_mb"] = g("rewrite", "shuffle_write_mb")
    v["rewrite.spill_mb"] = g("rewrite", "spill_mb")
    if v["assembly.candidate_triples"]:
        v["rewrite.dedup_ratio"] = v["rewrite.triples"] / v["assembly.candidate_triples"]
    sinks = [f"sink.{s}" for s in StagedSnapshot.STAGES]
    n_sinks = sum(tr.count(s) for s in sinks)
    if n_sinks:
        writes = [layer + ".write" for layer in StagedSnapshot.LAYER_OF.values()]
        v["sink.write_s"] = sum(tr.wall(s) for s in sinks)
        v["sink.readback_s"] = v["sink.write_s"] - sum(tr.wall(w) for w in writes)
        v["sink.jobs"] = (sum_groups(groups, sinks, "jobs") + sum_groups(groups, writes, "jobs")) / n_sinks
    v["staged.resume_s"] = tr.wall("staged.resume")
    graph = list(GraphMix.QUERIES.values())
    for layer in graph:
        v[layer + "_s"] = tr.wall(layer)
    v["graph.jobs"] = sum_groups(groups, graph, "jobs")
    v["graph.shuffle_write_mb"] = sum_groups(groups, graph, "shuffle_write_mb")
    for key in ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        v["spark." + key] = sum(m[key] for m in groups.values())
    # the layer-level spans: top level, or directly under the staged pass
    v["trace.layer_sum_s"] = sum(
        s["end"] - s["start"] for s in tr.spans
        if s["parent"] in (None, "staged.pass") and s["name"] != "staged.pass"
    )
    return v
