"""Streaming boilerplate gate: CCNet-style line-level dedup at ingest
time (Wenzek et al. 2020 §4.1), the line-frequency twin of the exact+LSH
dedup gate in streaming/ingest_dedup.py.

Arriving documents are segmented into fixed LINE_TOKENS-token "lines"
(queries/llm_filters.py); a line is boilerplate when the number of
DISTINCT documents containing it -- across the standing corpus AND the
current batch -- reaches BOILERPLATE_DF.  A document whose boilerplate
fraction reaches the threshold is rejected; survivors land in the
accepted store and their per-line postings extend the standing
line-frequency store, so batch N+1 gates against everything batch N
admitted.

Exactly-once and restart-skip: streaming/standing_store.py (this
module supplies only the gate core and the store-rows builder).

Scale posture: the standing store holds (digest, n_docs) aggregates --
8-byte xxhash64 digests, never line text -- so the per-batch gate cost
is one standing-store scan plus digest-sized shuffles; document text
never leaves the batch's scan stage.  At 100 TB the store is the
parquet twin of a nightly-compacted digest rollup (io/maintenance.py's
incremental refresh is the maintenance face).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.queries.llm_filters import BOILERPLATE_DF, LINE_TOKENS
from wsu_cpts_415_spark.streaming import standing_store

# reject a document when at least this fraction of its lines is boilerplate
LINE_BP_THRESHOLD = 0.5


def line_digests_of(docs: DataFrame) -> DataFrame:
    """(doc_id, digest) at SEGMENT grain -- one row per LINE_TOKENS-token
    line occurrence, hashed to xxhash64 inside the scan stage (the same
    segmentation as queries/llm_filters.py:boilerplate_line_filter)."""
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(LINE_TOKENS)).cast("int")
    return docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.xxhash64(
                    F.array_join(
                        F.slice(toks, i * LINE_TOKENS + 1, LINE_TOKENS), " "
                    )
                ),
            )
        ).alias("digest"),
    )


def doc_line_counts(
    docs: DataFrame, lines: DataFrame | None = None
) -> DataFrame:
    """(digest, n_docs): distinct-document posting counts per line --
    the standing store's row format.  ``lines`` overrides the
    segmentation source with a precomputed (doc_id, digest) frame (the
    batch queries pass the staged ``line_segments`` layer so the corpus
    text is split once per corpus, not once per caller)."""
    if lines is None:
        lines = line_digests_of(docs)
    return (
        lines.select("doc_id", "digest")
        .dropDuplicates(["doc_id", "digest"])
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"))
    )


def gate_lines_against(
    batch_df: DataFrame,
    std_line_df: DataFrame,
    threshold: float = LINE_BP_THRESHOLD,
    lines: DataFrame | None = None,
) -> DataFrame:
    """Store-free core of the gate: per batch document, the line count,
    boilerplate-line count (document frequency across standing + batch
    reaches BOILERPLATE_DF), rounded boilerplate ratio, and the
    admission verdict (unrounded ratio strictly below ``threshold``).
    Registered as the oracle-checked query ``ingest_boilerplate_gate``
    (queries/llm_filters.py).  ``lines`` overrides the segmentation
    source with a precomputed (doc_id, digest) frame, same contract as
    ``doc_line_counts``."""
    if lines is None:
        lines = line_digests_of(batch_df)
    batch_df_counts = (
        lines.dropDuplicates(["doc_id", "digest"])
        .groupBy("digest")
        .agg(F.count("*").alias("b_docs"))
    )
    total = (
        batch_df_counts.join(
            std_line_df.groupBy("digest").agg(
                F.sum("n_docs").alias("s_docs")
            ),
            "digest",
            "left",
        )
        .select(
            "digest",
            (F.col("b_docs") + F.coalesce(F.col("s_docs"), F.lit(0))).alias(
                "df_total"
            ),
        )
    )
    is_bp = F.when(F.col("df_total") >= BOILERPLATE_DF, 1).otherwise(0)
    ratio = F.sum(is_bp).cast("double") / F.count("*")
    return (
        lines.join(total, "digest")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(is_bp).alias("n_boilerplate"),
            F.round(ratio, 4).alias("bp_ratio"),
            (ratio < threshold).alias("admitted"),
        )
    )


def _store_rows(
    docs: DataFrame, persists: list | None = None
) -> dict[str, DataFrame]:
    return {"line_counts": doc_line_counts(docs)}


def _admit(
    batch_df: DataFrame,
    standing: dict[str, DataFrame],
    persists: list,
    threshold: float,
) -> DataFrame:
    verdicts = gate_lines_against(batch_df, standing["line_counts"], threshold)
    return batch_df.join(
        verdicts.filter(F.col("admitted")).select("doc_id"), "doc_id"
    )


def init_line_store(
    spark: SparkSession, corpus_docs: DataFrame, store_dir: str
) -> None:
    """Bootstrap the standing line-frequency store from a corpus (the
    nightly maintenance job's output) into its _batch=-1 partition; a
    restart over the same corpus is one fingerprint scan
    (standing_store.init_stores)."""
    standing_store.init_stores(spark, corpus_docs, store_dir, "line", _store_rows)


def apply_line_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    accepted_dir: str,
    threshold: float = LINE_BP_THRESHOLD,
) -> None:
    """Idempotent per-batch body: gate, land survivors, extend the line
    store (standing_store.apply_batch)."""
    standing_store.apply_batch(
        batch_df, batch_id, store_dir, accepted_dir, _store_rows,
        partial(_admit, threshold=threshold),
    )


def stream_ingest_line_gate(
    stream_docs: DataFrame,
    store_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    threshold: float = LINE_BP_THRESHOLD,
    on_batch_end=None,
) -> None:
    """Run the boilerplate gate over a documents stream with
    trigger(availableNow); ``on_batch_end(batch_id)`` is the
    failure-injection seam of standing_store.run_stream."""
    standing_store.run_stream(
        stream_docs,
        lambda batch_df, batch_id: apply_line_gate_batch(
            batch_df, batch_id, store_dir, accepted_dir, threshold
        ),
        checkpoint_dir,
        on_batch_end,
    )
