"""The benchmark workloads. Each is a closed loop with one client: a pass
starts when the previous one ends.

A workload exposes
- `build_inputs()`: generate and persist the seeded inputs (timed into
  setup_s, repeated to take a median);
- `precompute(seed, trace)`: the Spark-free part of the expected
  outputs, run before the session starts;
- `prepare_gates(pre)`: the rest of the expected outputs. Neither is
  timed: they are the benchmark's checking cost, not the engine's;
- `run_pass(tracer, check_all)`: one pass, which is one operation; the
  warm-up pass checks every output in full (`check_all`);
  returns the `clock.Reading` of its engine work, with every check
  outside it, and raises `GateFailure` when an output is wrong;
- `trace_layers(tracer)`: the per-layer measurements of a traced run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import clock
import golden
import inputs
import spans as tr


class GateFailure(Exception):
    """An operation produced a wrong output."""


def _files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for root, _dirs, names in os.walk(path):
        out.extend(os.path.join(root, n) for n in names if n.endswith(suffix))
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise GateFailure(msg)


# ---------------------------------------------------------------------------
# kg_build (+ the resume path, traced run only)
# ---------------------------------------------------------------------------


class KgBuild:
    """A fresh full KG build: read the bucketed source table, run_pipeline,
    write_triples as a fresh run of a resumable table (`batch_id`,
    `full=True`, the default bucket count), which is how `main.py` writes
    a first batch.

    The traced run also lands small deltas on a resumable copy of the
    build: new files plus new commits of existing paths, each through
    run_pipeline with lineage, an incremental write_triples and
    record_done. There little mention work happens, while the anti-join,
    the driver and the sink dominate.
    """

    N_FILES = 12000
    N_BUCKETS = 8  # buckets of the source table
    BATCH = "batch-0"
    N_DELTAS = 2
    NEW_FILES = 40
    NEW_COMMITS = 10
    MICRO_DOCS = 300
    PREFIX_REPS = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.src_path = f"{work}/code_files"
        self.out = f"{work}/triples"
        self.delta_paths = [f"{work}/delta_{k + 1}" for k in range(self.N_DELTAS)]
        self.lin, self.trip = f"{work}/resume/lineage", f"{work}/resume/triples"

    def sizes(self) -> dict:
        return {
            "source_files": self.N_FILES,
            "source_buckets": self.N_BUCKETS,
            "sink": f"write_triples(batch_id={self.BATCH!r}, full=True), 32 buckets",
            "traced_deltas": self.N_DELTAS,
            "new_files_per_delta": self.NEW_FILES,
            "new_commits_per_delta": self.NEW_COMMITS,
        }

    def build_inputs(self) -> None:
        inputs.write_bucketed_code_files(
            self.spark, self.N_FILES, self.seed, self.src_path, "code_files", self.N_BUCKETS
        )

    @classmethod
    def precompute(cls, seed: int, trace: bool) -> dict:
        rows = inputs.code_file_rows(cls.N_FILES, seed)
        return {"rows": rows, "golden": golden.golden_triples(rows)}

    def prepare_gates(self, pre: dict) -> None:
        self.rows, self.golden = pre["rows"], pre["golden"]
        self.digest = None
        self.report: dict = {"golden_triples": len(self.golden)}

    def _build(self, tracer: tr.Tracer):
        """One timed build; returns its reading and the pipeline result."""
        from mel_tnnt_spark.operators.triples import write_triples
        from mel_tnnt_spark.pipeline import run_pipeline

        sw = clock.Stopwatch()
        with tracer.span("pipeline.run_pipeline"):
            res = run_pipeline(self.spark, self.spark.table("code_files"))
        with tracer.span("triples.write_triples"):
            write_triples(res.triples, self.out, batch_id=self.BATCH, full=True)
        return sw.stop(), res

    def run_pass(self, tracer: tr.Tracer, check_all: bool) -> clock.Reading:
        reading, _res = self._build(tracer)
        self._check_output(check_all)
        return reading

    def _check_output(self, check_all: bool) -> None:
        written = self.spark.read.parquet(self.out)
        if check_all:
            got = {(r.subj, r.pred, r.obj) for r in written.select("subj", "pred", "obj").collect()}
            p, r = golden.precision_recall(got, self.golden)
            self.report.update(precision=p, recall=r)
            _check(got == self.golden, f"triples differ from the golden (P={p:.4f} R={r:.4f})")
            self.digest = golden.spark_digest(written)
        else:
            _check(golden.spark_digest(written) == self.digest, "triples digest changed")
        self.report["triples"] = self.digest[0]

    def named_results(self, wall_s: float) -> dict:
        """Distinct triples written per second of build."""
        return {"triples_per_s": (self.digest[0] / wall_s, "triples/s")}

    # -- the resume path (traced run) -----------------------------------------

    def _resume(self, tracer: tr.Tracer) -> None:
        """Seed lineage and a batch-layout triples table from the base
        corpus, then land each delta, checking every delta's output."""
        from mel_tnnt_spark.operators.lineage import record_done
        from mel_tnnt_spark.operators.triples import write_triples
        from mel_tnnt_spark.pipeline import run_pipeline

        deltas = inputs.resume_deltas(
            self.rows, self.N_FILES, self.seed, self.N_DELTAS, self.NEW_FILES, self.NEW_COMMITS
        )
        for p, rows in zip(self.delta_paths, deltas):
            os.makedirs(p, exist_ok=True)
            inputs.write_rows_parquet(rows, f"{p}/part-0.parquet")
        res = run_pipeline(self.spark, self.spark.table("code_files"))
        write_triples(res.triples, self.trip, batch_id="batch-0", full=True)
        record_done(res.metadata, self.lin, "kg", "batch-0")

        self.delta_s, self.delta_files, self.lineage_files_added = [], [], []
        for k in range(self.N_DELTAS):
            batch = f"batch-{k + 1}"
            src = self.spark.read.parquet(self.src_path, *self.delta_paths[: k + 1])
            t0 = time.perf_counter()
            with tracer.span("pipeline.run_pipeline:delta"):
                res = run_pipeline(self.spark, src, lineage_path=self.lin)
            with tracer.span("triples.write_triples:delta"):
                write_triples(res.triples, self.trip, batch_id=batch)
            dt = time.perf_counter() - t0
            if k == self.N_DELTAS - 1:
                self._replay_gate(res.triples, batch)
            n_lin = len(_files(self.lin))
            t1 = time.perf_counter()
            with tracer.span("lineage.record_done"):
                record_done(res.metadata, self.lin, "kg", batch)
            self.delta_s.append(dt + time.perf_counter() - t1)
            self.lineage_files_added.append(len(_files(self.lin)) - n_lin)
            self.delta_files.append(len(_files(f"{self.trip}/batch_id={batch}")))

        # gates: each delta's pending docs are its new doc versions, and
        # its triples equal a from-scratch recomputation over just those
        lin = self.spark.read.parquet(self.lin).groupBy("batch_id").count().collect()
        pending = {r["batch_id"]: r["count"] for r in lin}
        got: dict[str, set] = {}
        table = self.spark.read.parquet(self.trip).where(F.col("batch_id") != "batch-0")
        for r in table.select("batch_id", "subj", "pred", "obj").collect():
            got.setdefault(r.batch_id, set()).add((r.subj, r.pred, r.obj))
        self.pending = []
        for k, rows in enumerate(deltas):
            b = f"batch-{k + 1}"
            self.pending.append(pending.get(b, 0))
            expect = len(golden.latest_docs(rows))
            _check(pending.get(b, 0) == expect, f"{b}: {pending.get(b, 0)} pending docs, expected {expect}")
            _check(got.get(b, set()) == golden.golden_triples(rows), f"{b}: triples differ from the golden")
        self.n_source = [len(self.rows) + sum(len(d) for d in deltas[: k + 1]) for k in range(self.N_DELTAS)]

    def _replay_gate(self, triples, batch: str) -> None:
        """A crash after the sink commit and before record_done replays the
        delta under the same batch_id: the table must not change."""
        from mel_tnnt_spark.operators.triples import write_triples

        before = golden.spark_digest(self.spark.read.parquet(self.trip))
        write_triples(triples, self.trip, batch_id=batch)
        after = golden.spark_digest(self.spark.read.parquet(self.trip))
        _check(before == after, f"replaying {batch} changed the table digest")

    # -- traced run --------------------------------------------------------

    PREFIXES = [
        "lineage.enforce_sha_invariant",
        "metadata.latest_commit_only",
        "mentions.detect_mentions",
        "summaries.canonicalize",
        "linking.link_mentions",
    ]

    @staticmethod
    def _prefix_frames(res):
        """The spine of run_pipeline up to linking, cut after each layer:
        the lazy frames the pipeline returns, and the deduplicated
        metadata it builds on source_valid before adding text analysis."""
        from mel_tnnt_spark.operators import metadata

        meta_raw = metadata.latest_commit_only(
            metadata.filter_processable(metadata.with_general_metadata(res.source_valid))
        )
        return [res.source_valid, meta_raw, res.mentions, res.canon, res.linked]

    def trace_layers(self, tracer: tr.Tracer) -> tuple[dict, list[float]]:
        from mel_tnnt_spark.operators import components, lineage

        tr.wrap_calls(tracer, components, "canonical_entities_local", "components.canonical_entities_local")
        tr.wrap_calls(tracer, lineage, "read_lineage", "lineage.read_lineage")
        reading, res = self._build(tracer)
        self._check_output(check_all=False)
        out_files = _files(self.out)
        self._resume(tracer)
        prefixes = self._prefix_frames(res)
        for _rep in range(self.PREFIX_REPS):
            for name, df in zip(self.PREFIXES, prefixes):
                with tracer.span(f"prefix.{name}"):
                    _noop(df)
        return (
            {
                "build_wall_s": reading.wall,
                "files_written": len(out_files),
                "bytes_per_triple": sum(os.path.getsize(f) for f in out_files) / self.digest[0],
                "mention_rows": res.mentions.count(),
                "micro": self.microbench(),
            },
            [reading.seconds],
        )

    def fold(self, tracer: tr.Tracer, stats, extra: dict, walls: list[float]) -> dict:
        m: dict[str, float] = {}
        run = tr.median_measures(tracer.named("pipeline.run_pipeline"), stats)
        wt = tr.median_measures(tracer.named("triples.write_triples"), stats)
        for k in ("s", "jobs", "outside_jobs_s"):
            m[f"pipeline.run_pipeline.{k}"] = run[k]
        for k in ("s", "jobs", "shuffle_write_mb"):
            m[f"triples.write_triples.{k}"] = wt[k]
        m["triples.write_triples.files_written"] = extra["files_written"]
        m["triples.write_triples.bytes_per_triple"] = extra["bytes_per_triple"]
        cel = tracer.named("components.canonical_entities_local")
        m["components.canonical_entities_local.s"] = cel[0].seconds  # the build's call

        # each prefix: the rep with the smaller wall (the less disturbed one)
        best = {
            name: min(
                (tr.span_measures(s, stats) for s in tracer.named(f"prefix.{name}")),
                key=lambda x: x["s"],
            )
            for name in self.PREFIXES
        }
        layer_s = tr.prefix_layers(self.PREFIXES, [best[n]["s"] for n in self.PREFIXES])
        for n, v in layer_s.items():
            m[f"{n}.s"] = v
        lco, sha = best["metadata.latest_commit_only"], best["lineage.enforce_sha_invariant"]
        m["metadata.latest_commit_only.shuffle_write_mb"] = lco["shuffle_write_mb"] - sha["shuffle_write_mb"]
        dm = best["mentions.detect_mentions"]
        for k in ("exec_run_s", "exec_cpu_s", "python_s"):
            m[f"mentions.detect_mentions.{k}"] = dm[k] - lco[k]
        m["mentions.detect_mentions.rows_out"] = extra["mention_rows"]
        m.update(extra["micro"])

        # per delta (medians over the deltas of the traced pass)
        drun = tr.median_measures(tracer.named("pipeline.run_pipeline:delta"), stats)
        dwt = tr.median_measures(tracer.named("triples.write_triples:delta"), stats)
        drd = tr.median_measures(tracer.named("lineage.record_done"), stats)
        for k in ("s", "jobs", "outside_jobs_s"):
            m[f"pipeline.run_pipeline.delta_{k}"] = drun[k]
        for k in ("s", "jobs"):
            m[f"triples.write_triples.delta_{k}"] = dwt[k]
        m["triples.write_triples.delta_files_written"] = statistics.median(self.delta_files)
        m["bench.delta_p50_s"] = statistics.median(self.delta_s)
        m["lineage.record_done.s"] = drd["s"]
        m["lineage.record_done.files_written"] = statistics.median(self.lineage_files_added)
        m["lineage.read_lineage.s"] = statistics.median(s.seconds for s in tracer.named("lineage.read_lineage"))
        m["lineage.pending_only.useful_ratio"] = statistics.median(
            p / n for p, n in zip(self.pending, self.n_source)
        )

        m["bench.traced_wall_s"] = statistics.median(walls)
        # the traced build's wall time (the spans it is set against are
        # wall times too) less its spine layers and its sink: checkpoint,
        # entity dim, doc dim and planning
        m["bench.layer_residual_s"] = extra["build_wall_s"] - sum(layer_s.values()) - wt["s"]
        return m

    def microbench(self) -> dict:
        """Single-thread driver timings of the mention stage's Python
        pieces over a fixed sample of the generated docs (best of 3)."""
        import pandas as pd

        from mel_tnnt_spark.functions.text import clean_preprocess_series
        from mel_tnnt_spark.operators.mentions import SentenceLookup, _detectors

        docs = list(golden.latest_docs(self.rows).values())[: self.MICRO_DOCS]
        raw = pd.Series([c for _repo, c in docs])
        n = len(raw)

        def best_us(fn) -> float:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                runs.append(time.perf_counter() - t0)
            return min(runs) / n * 1e6

        out = {"text.clean_preprocess_series.us_per_doc": best_us(lambda: clean_preprocess_series(raw))}
        texts = clean_preprocess_series(raw).tolist()
        reg = _detectors()
        starts: list[list[int]] = [[] for _ in texts]
        for model in ("regex_model", "gazetteer_conll_model", "gazetteer_onto_model"):
            det = reg[model]
            out[f"mentions.{model}.us_per_doc"] = best_us(lambda: [det(t) for t in texts])
            for i, t in enumerate(texts):
                starts[i].extend(s for _c, _e, s, _end in det(t))

        def lookups():
            for t, ss in zip(texts, starts):
                look = SentenceLookup(t)
                for s in ss:
                    look(s)

        out["mentions.SentenceLookup.us_per_doc"] = best_us(lookups)
        return out


# ---------------------------------------------------------------------------
# chained_folds (+ four more maintainers and the graph kernels, traced run only)
# ---------------------------------------------------------------------------

# register query -> the maintainer (or kernel) it exercises. The timed
# passes run TIMED; the traced run adds the others, once each.
TIMED = ("q106_kg_closure_chained", "graph_query.maintain_transitive_closure")
TRACED_ONLY = {
    "q84_dd_overlap_index_chained": "dedup.maintain_overlap_index",
    "q86_dd_span_index_chained": "dedup.maintain_span_index",
    "q98_cur_domain_cap_chained": "curation.maintain_domain_caps",
    "q99_weighted_sample_chained": "sampling.maintain_weighted_sample",
    "q102_kg_bgp_match": "graph_query.bgp_match",
    "q104_kg_pagerank": "graph_query.pagerank_micro",
    "q105_kg_triangle_count": "graph_query.triangle_count",
    "q115_kg_edge_jaccard": "graph_query.edge_neighborhood_jaccard",
}
CLOSURE_COLS = ("node", "ancestor", "depth")
MAINTAINERS = [
    "dedup.maintain_overlap_index",
    "dedup.maintain_span_index",
    "graph_query.maintain_transitive_closure",
    "curation.maintain_domain_caps",
    "sampling.maintain_weighted_sample",
]


class ChainedFolds:
    """A chained maintainer query from the register, consumed by an
    order-insensitive digest: bound by job count, not compute. The timed
    passes run q106, the
    maintainer with the most jobs (a cold pass of all five chained
    queries takes ~40 s, a warm one ~20 s: more than a run's budget);
    the traced run also measures the other four maintainers and the
    graph kernels."""

    N_DOCS = 1000
    N_ORDERS = 15000

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.tables = f"{work}/tables"

    def sizes(self) -> dict:
        return {"documents": self.N_DOCS, "orders": self.N_ORDERS, "lineitem": 4 * self.N_ORDERS}

    def build_inputs(self) -> None:
        os.makedirs(self.tables, exist_ok=True)
        inputs.write_register_tables(self.tables, self.seed, self.N_DOCS, self.N_ORDERS)

    @classmethod
    def precompute(cls, seed: int, trace: bool) -> dict:
        import __spark_entry__ as entry

        return {"queries": entry.queries(), "sql": entry.oracle_sql(), "trace": trace}

    def prepare_gates(self, pre: dict) -> None:
        """The DuckDB oracle of each query the run will execute."""
        from mel_tnnt_spark.oracle_compare import duck_connect, normalize

        self.queries, sql = pre["queries"], pre["sql"]
        con = duck_connect(self.tables, tables=("documents", "orders", "customer", "supplier", "lineitem"))
        run = (TIMED[0], *TRACED_ONLY) if pre["trace"] else (TIMED[0],)
        self.expect = {q: normalize(con.sql(sql[q]).df()) for q in run}
        con.close()
        self.report = {}

    def _gate(self, q: str, df) -> None:
        from mel_tnnt_spark.oracle_compare import normalize

        got = normalize(df.toPandas())
        _check(got == self.expect[q], f"{q}: result differs from its DuckDB oracle")
        self.report[f"{q}.rows"] = len(got[1])

    def run_pass(self, tracer: tr.Tracer, check_all: bool) -> clock.Reading:
        """One q106, consumed by the row count plus the sum of xxhash64
        over its rows in place of the noop sink. The first pass compares
        the closure with its DuckDB oracle, outside the timed window, and
        keeps its digest; every later pass must reproduce that digest."""
        q, layer = TIMED
        sw = clock.Stopwatch()
        with tracer.span(layer):
            df = self.queries[q](self.spark, self.tables)
            digest = golden.spark_digest(df, CLOSURE_COLS)
        reading = sw.stop()
        if check_all:
            self._gate(q, df)
            self.digest = digest
        else:
            _check(digest == self.digest, f"{q}: closure digest changed")
        self.report[f"{q}.digest_rows"] = digest[0]
        return reading

    def named_results(self, wall_s: float) -> dict:
        return {"q106_s": (wall_s, "s")}

    def trace_layers(self, tracer: tr.Tracer) -> tuple[dict, list[float]]:
        walls = [self.run_pass(tracer, check_all=False).seconds]
        for q, layer in TRACED_ONLY.items():
            with tracer.span(layer):
                self._gate(q, self.queries[q](self.spark, self.tables))
        return {}, walls

    def fold(self, tracer: tr.Tracer, stats, extra: dict, walls: list[float]) -> dict:
        m: dict[str, float] = {}
        g = {layer: tr.median_measures(tracer.named(layer), stats) for layer in (TIMED[1], *TRACED_ONLY.values())}
        for layer in MAINTAINERS:
            for k in ("s", "jobs", "tasks", "outside_jobs_s", "exec_run_s"):
                m[f"{layer}.{k}"] = g[layer][k]
        for k in ("s", "exec_cpu_s", "shuffle_write_mb", "max_stage_rows"):
            m[f"graph_query.bgp_match.{k}"] = g["graph_query.bgp_match"][k]
        for k in ("s", "exec_cpu_s", "shuffle_write_mb", "jobs"):
            m[f"graph_query.pagerank_micro.{k}"] = g["graph_query.pagerank_micro"][k]
        for layer in ("graph_query.triangle_count", "graph_query.edge_neighborhood_jaccard"):
            m[f"{layer}.exec_cpu_s"] = g[layer]["exec_cpu_s"]
        m["bench.traced_wall_s"] = statistics.median(walls)
        return m


WORKLOADS = {"kg_build": KgBuild, "chained_folds": ChainedFolds}
