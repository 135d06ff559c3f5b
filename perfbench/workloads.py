"""The benchmark's three phases.  Each one generates its inputs in
``setup``, finishes any set-up that needs Spark in ``prepare``, runs
operations through the public API in ``op``, checks every operation's
output outside the timed region, and has a ``traced_op`` that times
each layer from outside by wrapping the calls into it.

An operation is one build pass (kg_build), one validate pass
(validate_report) or one CDC micro-batch (cdc_stream).  run.py's
PHASES says which phases one workload's run is made of.
"""

from __future__ import annotations

import glob
import math
import os
import random
import re
import shutil
import time
from collections import Counter

from pyspark.sql import functions as F

from perfbench import gen
from shacl_spark.functions.terms import SH
from shacl_spark.shacl.report import RESULT_PREFIX

now = time.perf_counter

SIZES = {
    # name: parameters at full size and at the smoke-test size
    "kg_build": {"full": {"files": 1000, "defect_rate": 0.02},
                 "tiny": {"files": 40, "defect_rate": 0.1}},
    "validate_report": {"full": {"files": 500}, "tiny": {"files": 40}},
    "cdc_stream": {
        "full": {"base_files": 200, "pool": 60, "adds": 20, "retracts": 10},
        "tiny": {"base_files": 30, "pool": 6, "adds": 3, "retracts": 2},
    },
}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"),
                                                     recursive=True)
               if os.path.isfile(p))


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: str, seconds: float):
        self.spark = spark
        self.work = work
        os.makedirs(work, exist_ok=True)
        self.seed = seed
        self.seconds = seconds
        self.p = SIZES[self.name][size]
        self.inputs: dict = {}
        self.expected: set = set()
        self._ops = 0

    def prepare(self) -> None:
        """Set-up that needs Spark, run just before the first operation."""

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def next_id(self) -> int:
        self._ops += 1
        return self._ops

    def corrupt(self) -> None:
        """Drop one row from the expected output (add one, if empty)."""
        rows = sorted(self.expected)
        self.expected = set(rows[1:]) if rows else {("corrupt", "corrupt", "corrupt")}

    def cleanup(self, res: dict) -> None:
        """Remove an operation's output once it has been checked."""
        if "out" in res:
            shutil.rmtree(res["out"], ignore_errors=True)


# --- kg_build ------------------------------------------------------------------


class KgBuild(Workload):
    """corpus parquet → plans.kg_pipeline.build_kg: extract_triples →
    canonicalize → validate(KG_METAMODEL) → write_graph, and the
    (lazy) report collected."""

    name = "kg_build"

    def setup(self) -> None:
        from perfbench.oracle import oracle_extract

        info = gen.write_corpus(self.seed, self.p["files"], self.path("corpus.parquet"),
                                self.p["defect_rate"])
        self.expected = info["expected"]
        self.rows = info["rows"]
        # the extracted triple count is the input size of a pass; the
        # independent per-file recomputation gives it without the engine
        self.n_triples = sum(len(oracle_extract(*r)) for r in self.rows)
        self.inputs = {"files": len(self.rows), "extracted_triples": self.n_triples,
                       "planted_report_rows": len(self.expected)}

    def op(self) -> dict:
        from shacl_spark.plans.kg_pipeline import build_kg
        from shacl_spark.shacl.kg_shapes import KG_METAMODEL

        out = self.path("graph", f"op{self.next_id()}")
        t0 = now()
        corpus = self.spark.read.parquet(self.path("corpus.parquet"))
        built = build_kg(self.spark, corpus, out, shapes_rows=KG_METAMODEL, ckpt=False)
        report = built.report.collect()
        wall = now() - t0
        return {"wall": wall, "latencies": [wall], "units": self.n_triples,
                "report": report, "written": built.metrics, "triples": built.triples,
                "out": out}

    def check(self, res: dict) -> list[str]:
        errs = []
        got = {(r["focus"], r["source_shape"], r["component"]) for r in res["report"]}
        if got != self.expected:
            errs.append(f"report: {len(got - self.expected)} unexpected, "
                        f"{len(self.expected - got)} missing rows")
        # the committed edge table holds exactly the canonical frame's
        # triples, and the node table exactly its distinct IRIs
        six = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]
        canon = Counter(tuple(r) for r in res["triples"].select(*six).collect())
        edges = Counter(tuple(r) for r in self.spark.read.parquet(
            os.path.join(res["out"], "edges")).select(*six).collect())
        if edges != canon:
            errs.append(f"edge table: {sum((edges - canon).values())} rows not in the "
                        f"canonical frame, {sum((canon - edges).values())} missing")
        nodes = Counter(r[0] for r in self.spark.read.parquet(
            os.path.join(res["out"], "nodes")).select("iri").collect())
        iris = {t[0] for t in canon} | {t[2] for t in canon if t[3] == "iri"}
        if set(nodes) != iris or max(nodes.values(), default=1) > 1:
            errs.append(f"node table: {len(nodes)} rows for {len(iris)} distinct IRIs "
                        f"of the canonical frame")
        observed = (res["written"]["edges"], res["written"]["nodes"])
        if observed != (sum(edges.values()), sum(nodes.values())):
            errs.append(f"write_graph counted {observed} edge and node rows, the "
                        f"tables hold {(sum(edges.values()), sum(nodes.values()))}")
        return errs

    def check_run(self, res: dict) -> list[str]:
        """Once per run: the engine's triples for a seeded sample of
        files against an independent per-file recomputation."""
        from perfbench.oracle import oracle_extract
        from shacl_spark.kg.extract import extract_triples

        errs = []
        rng = random.Random(self.seed)
        sample = rng.sample(self.rows, min(20, len(self.rows)))
        # defective files are rare: always include some
        sample += [r for r in self.rows if r[3] in gen.BAD_LANGS][:5]
        paths = sorted({r[1] for r in sample})
        six = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]
        corpus = self.spark.read.parquet(self.path("corpus.parquet"))
        engine = {tuple(r) for r in extract_triples(
            corpus.where(F.col("path").isin(paths))).select(*six).collect()}
        oracle = set()
        for r in self.rows:
            if r[1] in paths:
                oracle |= oracle_extract(*r)
        if engine != oracle:
            errs.append(f"extract sample: {len(engine - oracle)} engine-only, "
                        f"{len(oracle - engine)} oracle-only triples")
        return errs

    def traced_op(self, tr) -> dict:
        """One build_kg pass with the functions it and canonicalize
        call wrapped in spans, each output materialized at its span's
        end."""
        import shacl_spark.kg.canon as canon
        import shacl_spark.plans.kg_pipeline as kp
        from shacl_spark.kg.link import score_pairs
        from shacl_spark.kg.minhash import candidate_pairs
        from shacl_spark.shacl.kg_shapes import KG_METAMODEL

        extracted = []

        def counted(key, keep=None):
            def on_result(rec, out, args, kwargs):
                out = _checkpoint(out)
                rec["counts"][key] = out.count()
                if keep is not None:
                    keep.append(out)
                return out
            return on_result

        def component_map(*args, **kwargs):
            # canonicalize passes no stats dict: bring one for the counts
            st = kwargs.get("cc_stats")
            if st is None:
                st = kwargs["cc_stats"] = {}
            with tr.span("kg.canon_map") as rec:
                out = _checkpoint(orig["build_component_map"](*args, **kwargs))
                rec["counts"]["cc_iterations"] = st.get("iterations", 0)
                rec["counts"]["lsh_dropped_rows"] = st.get("lsh_dropped_rows", 0)
            return out

        def materialize(rec, written, args, kwargs):
            rec["counts"]["rows"] = written["edges"] + written["nodes"]
            rec["counts"]["bytes"] = _dir_bytes(args[1])
            return written

        orig = {"extract_triples": kp.extract_triples, "canonicalize": kp.canonicalize,
                "validate": kp.validate, "write_graph": kp.write_graph,
                "build_component_map": canon.build_component_map,
                "rewrite_triples": canon.rewrite_triples}
        kp.extract_triples = tr.wrap("kg.extract", kp.extract_triples,
                                     counted("triples", extracted))
        kp.canonicalize = tr.wrap("kg.canon", kp.canonicalize)
        kp.validate = tr.wrap("shacl.validate", kp.validate, counted("report_rows"))
        kp.write_graph = tr.wrap("kg.materialize", kp.write_graph, materialize)
        canon.build_component_map = component_map
        canon.rewrite_triples = tr.wrap("kg.canon_rewrite", canon.rewrite_triples,
                                        counted("triples"))
        out = self.path("graph", f"op{self.next_id()}")
        try:
            t0 = now()
            with tr.span("kg_build.pass"):
                with tr.span("sources.corpus_scan") as s:
                    corpus = _checkpoint(
                        self.spark.read.parquet(self.path("corpus.parquet")))
                    s["counts"]["rows"] = corpus.count()
                built = kp.build_kg(self.spark, corpus, out, shapes_rows=KG_METAMODEL,
                                    ckpt=False)
                report = built.report.collect()
            wall = now() - t0
        finally:
            for name in ("extract_triples", "canonicalize", "validate", "write_graph"):
                setattr(kp, name, orig[name])
            canon.build_component_map = orig["build_component_map"]
            canon.rewrite_triples = orig["rewrite_triples"]
        # not part of the pass: the link stage's yield, from the same
        # public functions build_component_map composes
        with tr.span("kg.link_probe") as s:
            names = canon.entity_name_frame(extracted[0])
            reps = names.groupBy("name").agg(F.min("id").alias("id"))
            pairs = _checkpoint(candidate_pairs(reps))
            s["counts"]["lsh_candidates"] = pairs.count()
            s["counts"]["link_matches"] = score_pairs(pairs, threshold=0.75).count()
        return {"wall": wall, "latencies": [wall], "units": self.n_triples,
                "report": report, "written": built.metrics, "triples": built.triples,
                "out": out}


# --- validate_report -----------------------------------------------------------

# a statement with an IRI subject and predicate: the object (group 3) is
# an IRI's text or a whole literal
_NT_LINE = re.compile(r'<([^>]*)> <([^>]*)> (?:<([^>]*)>|"(?:[^"\\]|\\.)*"'
                      r'(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?) \.$')
_KEY_PREDS = (SH + "focusNode", SH + "sourceShape",
              SH + "sourceConstraintComponent")


class ValidateReport(Workload):
    """.nt → read_ntriples; .ttl → parse_turtle → parse_shapes_graph;
    validate → report_to_triples → write_ntriples."""

    name = "validate_report"

    def setup(self) -> None:
        info = gen.write_graph_nt(self.seed, self.p["files"], self.path("data.nt"))
        with open(self.path("shapes.ttl"), "w", encoding="utf-8") as f:
            f.write(gen.SHAPES_TTL)
        self.lines = info["lines"]
        self.expected = info["expected"]
        self.inputs = {"triples": self.lines, "planted_report_keys": len(self.expected)}

    def op(self) -> dict:
        from shacl_spark.shacl import parse_shapes_graph, parse_turtle, validate
        from shacl_spark.shacl.report import report_to_triples
        from shacl_spark.sources.ntriples import read_ntriples, write_ntriples

        out = self.path("report", f"op{self.next_id()}")
        t0 = now()
        triples = read_ntriples(self.spark, self.path("data.nt"))
        with open(self.path("shapes.ttl"), encoding="utf-8") as f:
            shapes = parse_shapes_graph(parse_turtle(f.read()))
        report = _checkpoint(validate(self.spark, triples, shapes))
        write_ntriples(report_to_triples(report), out)
        wall = now() - t0
        return {"wall": wall, "latencies": [wall], "units": self.lines, "out": out}

    def check(self, res: dict) -> list[str]:
        """The written report, parsed here without Spark: every line is
        an N-Triples statement, every result is linked from the report
        node, and the results' (focus, source_shape, component) set is
        the planted one."""
        results: dict[str, dict] = {}
        linked, bad = set(), 0
        for part in sorted(glob.glob(os.path.join(res["out"], "part-*"))):
            with open(part, encoding="utf-8") as f:
                for line in f:
                    m = _NT_LINE.match(line.rstrip("\n"))
                    if m is None:
                        bad += 1
                        continue
                    s, p, o = m.group(1), m.group(2), m.group(3)
                    if p == SH + "result":
                        linked.add(o)
                    elif s.startswith(RESULT_PREFIX) and p in _KEY_PREDS:
                        results.setdefault(s, {})[p] = o
        errs = [f"{bad} report lines are not N-Triples statements"] if bad else []
        got = {tuple(r.get(k) for k in _KEY_PREDS) for r in results.values()}
        if got != self.expected:
            errs.append(f"report: {len(got - self.expected)} unexpected, "
                        f"{len(self.expected - got)} missing keys")
        if linked != set(results):
            errs.append(f"{len(set(results) ^ linked)} results not linked from the "
                        f"report node, or links without a result")
        return errs

    def check_run(self, res: dict) -> list[str]:
        """Guard against silent input loss: the reader drops malformed
        lines by default, so every written line must come back."""
        from shacl_spark.sources.ntriples import read_ntriples

        rows = read_ntriples(self.spark, self.path("data.nt")).count()
        if rows != self.lines:
            return [f"read_ntriples returned {rows} rows for {self.lines} lines"]
        return []

    def traced_op(self, tr) -> dict:
        from shacl_spark.shacl import parse_shapes_graph, parse_turtle, validate
        from shacl_spark.shacl.report import report_to_triples
        from shacl_spark.sources.ntriples import read_ntriples, write_ntriples

        out = self.path("report", f"op{self.next_id()}")
        t0 = now()
        with tr.span("validate_report.pass"):
            with tr.span("sources.ntriples_read") as s:
                triples = _checkpoint(read_ntriples(self.spark, self.path("data.nt")))
                s["counts"]["rows"] = triples.count()
                if s["counts"]["rows"] != self.lines:
                    raise RuntimeError(f"read_ntriples returned {s['counts']['rows']} "
                                       f"rows for {self.lines} lines")
            with tr.span("shacl.parse"):
                with open(self.path("shapes.ttl"), encoding="utf-8") as f:
                    shapes = parse_shapes_graph(parse_turtle(f.read()))
            with tr.span("shacl.validate") as s:
                report = _checkpoint(validate(self.spark, triples, shapes))
                s["counts"]["report_rows"] = report.count()
            with tr.span("shacl.report_triples") as s:
                rt = _checkpoint(report_to_triples(report))
                s["counts"]["triples"] = rt.count()
            with tr.span("sources.ntriples_write"):
                write_ntriples(rt, out)
        wall = now() - t0
        return {"wall": wall, "latencies": [wall], "units": self.lines, "out": out}


# --- cdc_stream ----------------------------------------------------------------


class CdcStream(Workload):
    """A StreamingValidator(cdc=True) target seeded with a base graph;
    an operation is one micro-batch, drained through ``start()`` with
    ``maxFilesPerTrigger=1``: a closed loop, one batch in flight.  One
    ``op()`` drains as many batches as fill the measured seconds."""

    name = "cdc_stream"

    def setup(self) -> None:
        p = self.p
        info = gen.write_cdc_feed(self.seed, p["base_files"], p["pool"], p["adds"],
                                  p["retracts"], self.path("base"), self.path("pool"))
        self.batch_rows = info["batch_rows"]
        self.inputs = {"base_rows": info["base_rows"], "pool_batches": p["pool"],
                       "batch_rows_mean": sum(self.batch_rows) / len(self.batch_rows)}
        self._next = 0
        self.n = 2  # batches per traced op; op() sets it to its own count
        self.corrupted = False

    def prepare(self) -> None:
        """The seed batch: one full validation + the edge-cache warm-up."""
        from shacl_spark.shacl.kg_shapes import KG_METAMODEL
        from shacl_spark.streaming.validate_stream import StreamingValidator

        self.sv = StreamingValidator(self.spark, KG_METAMODEL, self.path("target"),
                                     self.path("reports"), n_parts=8, cdc=True)
        self._drain(self.path("base", "*"))

    def corrupt(self) -> None:
        self.corrupted = True

    def _drain(self, pattern: str) -> list:
        from pyspark.sql import types as T

        from shacl_spark.functions.terms import TRIPLE_SCHEMA

        schema = T.StructType(TRIPLE_SCHEMA.fields + [T.StructField("op", T.StringType())])
        stream = (self.spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(pattern))
        q = self.sv.start(stream)
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p.numInputRows > 0]

    def _stage(self, n: int) -> tuple[str, int]:
        """Move the next ``n`` batch files of the pool into a fresh
        stream directory; returns its glob and the rows staged."""
        if n > len(self.batch_rows) - self._next:
            raise RuntimeError("cdc_stream: batch pool exhausted")
        d = self.path("stream", f"d{self.next_id()}")
        os.makedirs(d)
        rows = 0
        for _ in range(n):
            name = f"batch{self._next:04d}.parquet"
            os.rename(self.path("pool", name), os.path.join(d, name))
            rows += self.batch_rows[self._next]
            self._next += 1
        return os.path.join(d, "*"), rows

    def drain(self, n: int) -> dict:
        pattern, rows = self._stage(n)
        t0 = now()
        progress = self._drain(pattern)
        wall = now() - t0
        if len(progress) != n:
            raise RuntimeError(f"cdc_stream: {len(progress)} batches for {n} files")
        return {
            "wall": wall, "units": rows, "batches": n,
            "latencies": [p.durationMs["triggerExecution"] / 1000 for p in progress],
            "add_batch": [p.durationMs.get("addBatch", 0) / 1000 for p in progress],
        }

    def op(self) -> dict:
        """One batch, then, if that did not fill the measured seconds,
        enough more in a single query to fill them."""
        res = self.drain(1)
        more = math.ceil((self.seconds - res["wall"]) / res["latencies"][0])
        if more > 0:
            rest = self.drain(more)
            res = {k: res[k] + rest[k] for k in res}
        self.n = res["batches"]
        return res

    def check(self, res: dict) -> list[str]:
        return []  # the drained batches are checked together, in check_run

    def check_run(self, res: dict) -> list[str]:
        """The final report version equals a full validate() of the
        final target, as a multiset over all report columns."""
        from shacl_spark.shacl import validate
        from shacl_spark.shacl.kg_shapes import KG_METAMODEL

        report = self.sv.current_report()
        full = validate(self.spark, self.sv.sink.current(), KG_METAMODEL,
                        assume_distinct=True).select(*report.columns)
        got = Counter(tuple(r) for r in report.collect())
        want = Counter(tuple(r) for r in full.collect())
        if self.corrupted and want:
            want[next(iter(want))] -= 1
        if got != want:
            return [f"final report differs from full validation: "
                    f"{sum((got - want).values())} extra, "
                    f"{sum((want - got).values())} missing rows"]
        if not want:
            return ["final report is empty: the feed planted no violations"]
        return []

    def traced_op(self, tr) -> dict:
        """As many batches as the untraced op drained, in one query."""
        import shacl_spark.streaming.validate_stream as vs

        orig_inc = vs.incremental_revalidate

        def on_inc(rec, out, args, kwargs):
            out = _checkpoint(out)
            st = kwargs.get("stats") or {}
            rec["counts"]["affected"] = st.get("affected", 0)
            rec["counts"]["context_nodes"] = st.get("context_nodes", 0)
            rec["counts"]["local"] = int(st.get("mode") == "incremental_local")
            return out

        vs.incremental_revalidate = tr.wrap("shacl.incremental", orig_inc, on_inc)
        # start() hands the instance's batch function to foreachBatch
        self.sv._on_batch = tr.wrap("streaming.batch", self.sv._on_batch)
        try:
            with tr.span("cdc_stream.drain"):
                return self.drain(self.n)
        finally:
            vs.incremental_revalidate = orig_inc
            del self.sv._on_batch


WORKLOADS = {w.name: w for w in (KgBuild, ValidateReport, CdcStream)}
