"""The benchmark's workloads over the package's public entry points.

``kg_build`` runs ``pipeline.kg.run_kg_pipeline`` into a fresh workdir;
``rml_map`` runs ``rml.parser.parse_mapping_text`` ->
``rml.compiler.materialize_all`` -> ``rml.writers.write_nt`` +
``write_quad_table``. Each workload has the same shape:

* ``generate()`` writes the seeded inputs and returns their digest;
* ``setup(spark)`` runs the untimed warm-up (``rml_map`` only) and records
  what the checks compare against;
* ``run_once(spark, out)`` is the timed unit: input -> complete result on
  disk under ``out``;
* ``triples_written(out)`` reads the number of triples the program wrote;
* ``check(spark, out)`` returns the list of problems with that output;
* ``traced_pass`` runs ``run_once`` with spans around each layer call;
* ``overhead`` returns an (untraced, traced) pair of pass walls;
* ``count_pass`` computes per-layer counts that would distort the spans;
* ``timed_before_trace``, ``overhead_estimate_s`` and ``count_estimate_s``
  tell a traced run what to run and what fits in its time limit.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen


def quad_sum(table) -> tuple[int, int]:
    """(count, checksum) of the rows of a (subj, pred, obj, graph) table:
    the sum of gen.line_hash over the space-joined non-null fields, so the
    order of rows and files does not matter."""
    cols = [table.column(c).to_pylist() for c in ("subj", "pred", "obj", "graph")]
    return table.num_rows, sum(
        gen.line_hash(" ".join(str(x) for x in row if x is not None))
        for row in zip(*cols))


def dir_bytes(path: str) -> int:
    """Bytes of the data files under path (no _SUCCESS, no .crc)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith(("_", ".")))
    return total


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


# --------------------------------------------------------------------------


class KgBuild:
    """The product's main job: every pipeline stage does work and the
    checkpoint layer writes a snapshot per stage."""

    name = "kg_build"
    timed_before_trace = False  # the traced pass is the first build, as the timed one

    def __init__(self, work: str, seed: int, spec: gen.PageSpec = gen.PageSpec()):
        self.work = work
        self.seed = seed
        self.spec = spec
        self.pages_dir = os.path.join(work, "pages")
        self.pages: gen.Pages | None = None
        self.resume_s: dict[str, list[float]] = {"canonical": [], "linked": []}
        self.setup_problems: list[str] = []
        self.info: dict = {}

    # -- set-up -----------------------------------------------------------

    def generate(self) -> str:
        shutil.rmtree(self.pages_dir, ignore_errors=True)
        self.pages = gen.make_pages(self.seed, self.pages_dir, self.spec)
        return self.pages.digest

    def setup(self, spark) -> None:
        """No warm-up pass: the timed pass is the session's first build, as
        a user's one ``run_kg_pipeline`` call in a fresh session is. A pass
        takes 30-50 s on the 4-core box whatever the page count (the CC
        loops fire a fixed number of small jobs), so a warm-up pass would
        double a run's cost and the run budget has no room for it."""
        self.info = {"shares": self.pages.shares,
                     "pages": self.pages.n_pages,
                     "expected_kept": self.pages.expected_kept,
                     "resume_s": self.resume_s}  # filled in by the checks

    # -- timed unit -------------------------------------------------------

    def run_once(self, spark, out: str) -> None:
        from rossete_rdf_spark.pipeline.kg import run_kg_pipeline

        run_kg_pipeline(spark, spark.read.parquet(self.pages_dir), out)

    @staticmethod
    def triples_written(out: str) -> int:
        with open(os.path.join(out, "manifest.json"), encoding="utf-8") as f:
            return int(json.load(f)["stages"]["triples"]["rows"])

    @staticmethod
    def triples_path(out: str) -> str:
        return os.path.join(out, "stage_triples.parquet")

    def check(self, spark, out: str) -> list[str]:
        """Reads the snapshots with pyarrow: the output is small, and Spark
        jobs here would add cold-start time to every run."""
        from rossete_rdf_spark.pipeline.kg import ENTITY_NS, ONTO

        problems = []
        t = pq.read_table(self.triples_path(out))
        per_page: dict[str, int] = {}
        objs = set()
        for subj, pred, obj, graph in zip(*(t.column(c).to_pylist() for c in
                                            ("subj", "pred", "obj", "graph"))):
            if graph == "pages":
                per_page[subj] = per_page.get(subj, 0) + 1
            if pred == f"<{ONTO}mentions>":
                objs.add(obj)
        if len(per_page) != self.pages.expected_kept:
            problems.append(f"kept pages {len(per_page)} != planted "
                            f"{self.pages.expected_kept}")
        counts = set(per_page.values()) or {0}
        if counts != {3}:
            problems.append(f"page triples per kept page in [{min(counts)}, "
                            f"{max(counts)}], expected exactly 3")
        canon = pq.read_table(os.path.join(out, "stage_canonical.parquet"))
        fixpoints = {s for s, c in zip(canon.column("surface").to_pylist(),
                                       canon.column("canonical").to_pylist())
                     if s == c}
        if not objs:
            problems.append("no mention triples")
        bad = []
        for o in sorted(objs):
            e = o[len(ENTITY_NS) + 1:-1] if o.startswith(f"<{ENTITY_NS}") else None
            if e is None or e not in fixpoints or e not in self.pages.surfaces:
                bad.append(o)
        if bad:
            problems.append(f"{len(bad)} mention objects are not canonical "
                            f"entity IRIs, e.g. {bad[0]}")
        problems += self.resume_problems(spark, out, "canonical")
        return problems

    def resume_problems(self, spark, out: str, after: str, tracer=None) -> list[str]:
        """Resume a copy of ``out`` cut back to what a run stopped after the
        stage ``after`` leaves; its triples must equal the build's. Records
        the resume's wall time."""
        got = quad_sum(pq.read_table(self.triples_path(out)))
        dt, resumed = self.resume(spark, out, after, tracer)
        self.resume_s[after].append(dt)
        if got != resumed:
            return [f"triple (count, checksum) {got} != run resumed after "
                    f"{after} {resumed}"]
        return []

    def resume(self, spark, out: str, after: str,
               tracer=None) -> tuple[float, tuple[int, int]]:
        """Resume a copy of ``out`` cut back to what
        ``run_kg_pipeline(stop_after=after)`` leaves - the snapshots and
        manifest entries of the stages up to ``after`` - and return the
        resume's wall time and its triple (count, checksum). With a tracer
        the resume runs with the layer spans of a traced pass."""
        from rossete_rdf_spark.pipeline.kg import STAGES, run_kg_pipeline

        redo = STAGES[STAGES.index(after) + 1:]
        wd = os.path.join(self.work, "resume")
        shutil.rmtree(wd, ignore_errors=True)
        shutil.copytree(out, wd, ignore=shutil.ignore_patterns(
            *(f"stage_{stage}.parquet" for stage in redo)))
        manifest = os.path.join(wd, "manifest.json")
        with open(manifest, encoding="utf-8") as f:
            doc = json.load(f)
        for stage in redo:
            doc["stages"].pop(stage, None)
        with open(manifest, "w", encoding="utf-8") as f:
            json.dump(doc, f)
        try:
            with self._spans(tracer) if tracer else nullcontext():
                dt, _ = _timed(run_kg_pipeline, spark,
                               spark.read.parquet(self.pages_dir), wd)
            return dt, quad_sum(pq.read_table(self.triples_path(wd)))
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    def result_bytes(self, out: str) -> int:
        return dir_bytes(self.triples_path(out))

    # -- tracing ----------------------------------------------------------

    @contextmanager
    def _spans(self, tracer):
        """A span per CheckpointManager.run_stage (the stage), one per stage
        build callable (the stage's public function) and, in the two dedup
        stages, one around candidate edges and one around CC."""
        from rossete_rdf_spark.pipeline import canonicalize, pagedup
        from rossete_rdf_spark.pipeline.checkpoint import CheckpointManager

        orig = CheckpointManager.run_stage

        def run_stage(cp, name, build):
            with tracer.span(name):
                return orig(cp, name, tracer.wrap(build, f"{name}.build"))

        # inside the two dedup builds: candidate edges (LSH, materialised
        # eagerly) and the graph.cc call (verify runs lazily inside it)
        patches = [(CheckpointManager, "run_stage", run_stage)] + [
            (mod, attr, tracer.wrap(getattr(mod, attr), span))
            for mod, attr, span in (
                (pagedup, "duplicate_edges", "pagedup.edges"),
                (pagedup, "connected_components_encoded", "pagedup.cc"),
                (canonicalize, "connected_components", "canonical.cc"))]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        for mod, attr, fn in patches:
            setattr(mod, attr, fn)
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def traced_pass(self, spark, tracer, out: str) -> None:
        """run_once with spans around each layer call (``_spans``)."""
        with self._spans(tracer), tracer.span(self.name):
            self.run_once(spark, out)

    def overhead(self, spark, new_tracer, out: str, runs: list[dict],
                 traced_wall: float) -> tuple[tuple[float, float], list[str]]:
        """(untraced, traced) wall of the kg_resume path - a resume after
        ``linked``, so canonicalisation and its CC run again - and the
        problems of those resumes. The traced build is the session's first
        and no untraced build runs in the same session, so tracing overhead
        is measured on resumes: a traced one between two untraced ones,
        against their mean. Each resume's triples must equal the build's."""
        problems = []
        for tracer in (None, new_tracer(), None):
            problems += self.resume_problems(spark, out, "linked", tracer)
        u1, t, u2 = self.resume_s["linked"][-3:]
        return ((u1 + u2) / 2, t), problems

    def overhead_estimate_s(self) -> float:
        # three resumes after linked, each 5-7 times one after canonical
        return 3 * 7 * max(self.resume_s["canonical"], default=15.0)

    @staticmethod
    def count_estimate_s(traced_wall: float) -> float:
        return 0.7 * traced_wall

    def count_pass(self, spark, out: str, scratch: str) -> dict:
        """Waste ratios, CC job counts and checkpoint costs, computed from
        the traced run's snapshots by calling the same public functions
        again, each on materialised inputs so only that layer runs."""
        from rossete_rdf_spark.graph.cc import (
            connected_components,
            connected_components_encoded,
        )
        from rossete_rdf_spark.pipeline import canonicalize, pagedup
        from rossete_rdf_spark.pipeline.checkpoint import CheckpointManager
        from rossete_rdf_spark.pipeline.kg import STAGES, run_kg_pipeline
        from rossete_rdf_spark.textops.dedup import minhash_lsh_pairs

        def snap(stage):
            return spark.read.parquet(os.path.join(out, f"stage_{stage}.parquet"))

        def materialise(df, name):
            path = os.path.join(scratch, name)
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        def cc_jobs(fn, edges, group):
            spark.sparkContext.setJobGroup(group, group)
            try:
                fn(edges).write.format("noop").mode("overwrite").save()
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

        m: dict[str, float] = {}
        pages_text = snap("extract")
        lsh = (minhash_lsh_pairs(pages_text, id_col="url", text_col="text",
                                 max_bucket=pagedup.MAX_BUCKET)
               .filter(F.col("n_bands") >= pagedup.MIN_BANDS).count())
        edges = materialise(pagedup.duplicate_edges(pages_text), "page_edges")
        near = edges.count() - pagedup.exact_duplicate_edges(pages_text).count()
        m["pagedup.lsh_pairs"] = lsh
        m["pagedup.verified_frac"] = near / lsh if lsh else 0.0
        m["pagedup.kept_frac"] = snap("pagedup").count() / pages_text.count()
        m["pagedup.cc_jobs"] = cc_jobs(connected_components_encoded, edges,
                                       "perfbench-count-pagedup-cc")

        surfaces = snap("gazetteer").select("surface")
        cands = materialise(canonicalize.surface_candidate_pairs(surfaces),
                            "surface_cands")
        n_cands = cands.count()
        verified = materialise(canonicalize.verified_pairs(cands), "surface_edges")
        m["canonical.lsh_pairs"] = n_cands
        m["canonical.verified_frac"] = verified.count() / n_cands if n_cands else 0.0
        m["canonical.cc_jobs"] = cc_jobs(
            connected_components,
            verified.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            "perfbench-count-canonical-cc")

        # checkpoint layer alone: snapshot each stage's (already computed)
        # output again, and load a finished workdir through the resume path
        cp = CheckpointManager(spark, os.path.join(scratch, "resnap"))
        write_s = 0.0
        for stage in STAGES:
            dt, _ = _timed(cp.run_stage, stage, lambda s=stage: snap(s))
            write_s += dt
        m["checkpoint.write_s"] = write_s
        m["checkpoint.load_s"], _ = _timed(
            run_kg_pipeline, spark, spark.read.parquet(self.pages_dir), out)
        m["checkpoint.mb"] = sum(
            dir_bytes(os.path.join(out, f"stage_{s}.parquet")) for s in STAGES) / 1e6
        return m


# --------------------------------------------------------------------------

WARMUP_PASSES = 1


class RmlMap:
    """The reference's own semantics end to end - parser, logical-source
    readers, compiler, both sinks - with no Python UDF and no CC."""

    name = "rml_map"
    timed_before_trace = True  # the traced pass follows warm untraced ones

    def __init__(self, work: str, seed: int, spec: gen.RmlSpec = gen.RmlSpec()):
        self.work = work
        self.seed = seed
        self.spec = spec
        self.src_dir = os.path.join(work, "rml")
        self.expect: gen.RmlExpectation | None = None
        self.setup_problems: list[str] = []
        self.info: dict = {}

    def generate(self) -> str:
        shutil.rmtree(self.src_dir, ignore_errors=True)
        return gen.make_rml(self.seed, self.src_dir, self.spec)

    def setup(self, spark) -> None:
        self.expect = gen.rml_expectation(self.seed, self.spec)
        # pass times keep falling for a few passes as the JIT warms up (the
        # first after one warm-up pass was 10-25 % slower than later ones)
        warm = os.path.join(self.work, "warmup")
        warm_s = []
        for _ in range(WARMUP_PASSES):
            warm_s.append(_timed(self.run_once, spark, warm)[0])
            shutil.rmtree(warm, ignore_errors=True)
        self.info = {"shares": self.expect.shares,
                     "expected_triples": self.expect.triples,
                     "warmup_passes_s": warm_s}

    def run_once(self, spark, out: str, tracer=None) -> None:
        from rossete_rdf_spark.rml.compiler import materialize_all
        from rossete_rdf_spark.rml.parser import parse_mapping_text
        from rossete_rdf_spark.rml.writers import write_nt, write_quad_table

        def step(name, fn, *args):
            if tracer is None:
                return fn(*args)
            with tracer.span(name):
                return fn(*args)

        with open(os.path.join(self.src_dir, "mapping.ttl"), encoding="utf-8") as f:
            text = f.read()
        maps = step("rml.parse", parse_mapping_text, text, self.src_dir)
        triples = step("rml.compile", materialize_all, spark, maps)
        step("rml.write_nt", write_nt, triples, os.path.join(out, "nt"))
        step("rml.write_quads", write_quad_table, triples, os.path.join(out, "quads"))

    @staticmethod
    def triples_written(out: str) -> int:
        """Rows of the quad table (partitioned by graph), from its parquet
        footers."""
        return sum(pq.ParquetFile(f).metadata.num_rows for f in
                   glob.glob(os.path.join(out, "quads", "graph=*", "*.parquet")))

    def check(self, spark, out: str) -> list[str]:
        """Count and checksum of the N-Triples lines and of the quad rows
        against the plain-Python expectation, read without Spark."""
        problems = []
        nt = []
        for part in glob.glob(os.path.join(out, "nt", "part-*")):
            with open(part, encoding="utf-8", newline="") as f:
                nt += f.read().split("\n")[:-1]
        got = (len(nt), sum(gen.line_hash(line) for line in nt))
        want = (self.expect.triples, self.expect.nt_checksum)
        if got != want:
            problems.append(f"N-Triples (count, checksum) {got} != expected {want}")
        # hive partition directories graph=<value>, percent-escaped by Spark
        got = quad_sum(pq.read_table(os.path.join(out, "quads")))
        want = (self.expect.triples, self.expect.quad_checksum)
        if got != want:
            problems.append(f"quad table (count, checksum) {got} != expected {want}")
        return problems

    def result_bytes(self, out: str) -> int:
        return dir_bytes(os.path.join(out, "quads"))

    def traced_pass(self, spark, tracer, out: str) -> None:
        """Spans around parse, compile (with the logical-source reader calls
        it makes as children) and each writer."""
        from rossete_rdf_spark.rml import compiler

        orig = compiler.load_logical_source
        compiler.load_logical_source = tracer.wrap(orig, "rml.sources")
        try:
            with tracer.span(self.name):
                self.run_once(spark, out, tracer)
        finally:
            compiler.load_logical_source = orig

    @staticmethod
    def overhead(spark, new_tracer, out: str, runs: list[dict],
                 traced_wall: float) -> tuple[tuple[float, float] | None, list[str]]:
        """(untraced, traced) wall: the median timed pass of this session
        against the traced pass that follows it."""
        walls = [r["wall_s"] for r in runs if "wall_s" in r]
        return (statistics.median(walls), traced_wall) if walls else None, []

    @staticmethod
    def overhead_estimate_s() -> float:
        return 0.0

    @staticmethod
    def count_estimate_s(traced_wall: float) -> float:
        return 0.0

    def count_pass(self, spark, out: str, scratch: str) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (KgBuild, RmlMap)}
