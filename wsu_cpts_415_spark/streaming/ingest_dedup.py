"""Streaming crawl ingest with a dedup gate: the production composition
of the incremental-check machinery (queries/dedup_policy.py) behind a
Structured Streaming foreachBatch sink.

Each micro-batch of arriving documents is gated BEFORE landing:

  1. exact gate -- batch docs whose text digest already exists in the
     standing digest store are dropped (within-batch exact dups keep the
     min doc_id);
  2. near-dup gate -- the batch's LSH band table joins the standing band
     store (batch side broadcast: a per-batch sliver), collisions are
     verified by exact shingle Jaccard, and docs at/above the threshold
     are dropped; within-batch verified pairs drop the larger doc_id
     (deterministic greedy);
  3. survivors land in the accepted store AND their digests / bands /
     shingles are appended to the standing stores, so batch N+1 dedups
     against everything batch N admitted.

Exactly-once and restart-skip: streaming/standing_store.py (this
module supplies only the gate core and the store-rows builder).

Scale posture: per-batch cost is O(standing-store scan) + O(collisions),
independent of the standing corpus's PAIR count; the standing stores are
the parquet twins of the bucketed layout in
queries/dedup_policy.py:_inc_bucketed_layout (at 100 TB they are written
bucketed by the nightly maintenance job and the band join is
bucket-co-located; here they are plain parquet because each batch's band
table broadcasts).  Text never leaves the batch's scan stage: the
standing stores hold md5 digests, band keys, and COMPACT 64-bit
shingle-hash arrays (round 9; previously raw shingle strings) -- the
per-batch store scan moves 8 bytes per shingle instead of ~15-char
n-gram text, and verification intersects long arrays.  Hash-collision
bound vs exact string Jaccard: same argument as queries/er_scoring.py's
signal attach -- a cross-doc xxhash64 collision inflates one
intersection with probability ~|A||B|/2^64 < 1e-13 per pair, and the
oracle-checked batch face (queries/dedup_policy.py:ingest_dedup_gate,
whose DuckDB oracle intersects the STRING shingles) would surface any
hit.  Measured cost curve: streaming_store_probe_r9.json -- steady
per-batch wall flat from x10 to x100 standing corpora.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsu_cpts_415_spark.queries.similarity import (
    bands_from_hashed,
    hashed_of,
    shingle_h64,
)
from wsu_cpts_415_spark.streaming import standing_store

JACCARD_THRESHOLD = 0.5  # the 4-band/2-row s-curve midpoint


def _digests_of(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("digest"))


def _store_rows(
    docs: DataFrame, persists: list | None = None
) -> dict[str, DataFrame]:
    """The three standing stores' rows for ``docs``: md5 digests, LSH
    bands and compact shingle-hash arrays, the latter two derived from
    ONE shingle/hash projection (persisted when ``persists`` is given)."""
    hashed = hashed_of(docs)
    if persists is not None:
        hashed = hashed.persist()
        persists.append(hashed)
    return {
        "digests": _digests_of(docs),
        "bands": bands_from_hashed(hashed),
        "shingles": hashed.select("doc_id", shingle_h64()),
    }


def init_standing_stores(
    spark: SparkSession, corpus_docs: DataFrame, store_dir: str
) -> None:
    """Materialize the standing digest / band / shingle stores from the
    corpus into their _batch=-1 partitions; a restart over the same
    corpus is one fingerprint scan (standing_store.init_stores).
    Measured x100: 102 s build -> ~seconds on restart
    (streaming_store_probe_r10.json reinit_sec)."""
    standing_store.init_stores(spark, corpus_docs, store_dir, "dedup", _store_rows)


def _admit(
    batch_df: DataFrame,
    standing: dict[str, DataFrame],
    persists: list,
    threshold: float,
) -> DataFrame:
    return gate_against(
        batch_df,
        standing["digests"].select("digest"),
        standing["bands"].select(F.col("doc_id").alias("old_doc"), "b", "h1", "h2"),
        standing["shingles"].select(
            F.col("doc_id").alias("old_doc"), F.col("h64").alias("old_h64")
        ),
        threshold,
        _persists=persists,
    )


def gate_against(
    batch_df: DataFrame,
    std_digests: DataFrame,
    std_bands: DataFrame,
    std_sh: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    _persists: list | None = None,
) -> DataFrame:
    """Store-free core of the gate (standing state passed as DataFrames):
    exact digest gate (within-batch keeps the min doc_id), LSH + exact
    Jaccard near-dup gate vs the standing corpus, and the deterministic
    within-batch rule (a doc is dropped if it verifies >= threshold
    against ANY smaller-id batch doc).  ``std_sh`` carries the compact
    form, (old_doc, old_h64); verification intersects 64-bit hash
    arrays on both sides (collision bound in the module docstring).
    Registered as the oracle-checked query ``ingest_dedup_gate``
    (queries/dedup_policy.py), whose DuckDB oracle intersects the raw
    STRING shingles -- so the compact representation is pinned against
    exact string Jaccard."""
    docs = batch_df
    digests = _digests_of(docs)
    # within-batch exact dedup: keep the min doc_id per digest
    keep_exact = digests.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    fresh = keep_exact.join(std_digests.select("digest"), "digest", "left_anti")
    survivors = docs.join(fresh.select("doc_id"), "doc_id")

    # near-dup gate: batch bands vs standing bands + within-batch pairs.
    # The batch hash projection feeds four consumers (bands + both
    # verification sides); persist it once, registered for release with
    # the session cache manager.
    from pyspark import StorageLevel

    from wsu_cpts_415_spark.ops.staging import track_persist

    hashed = hashed_of(survivors)
    if hashed.storageLevel == StorageLevel.NONE:
        hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
        if _persists is not None:
            # per-batch caller (streaming sink) releases in its finally;
            # tracking session-wide would grow one entry per micro-batch
            _persists.append(hashed)
        else:
            track_persist(hashed)
    b_bands = bands_from_hashed(hashed)
    b_sh = hashed.select("doc_id", shingle_h64())
    cand_corpus = (
        std_bands.join(
            F.broadcast(b_bands.withColumnRenamed("doc_id", "new_doc")),
            ["b", "h1", "h2"],
        )
        .select("new_doc", "old_doc")
        .dropDuplicates(["new_doc", "old_doc"])
    )
    inter_c = F.size(F.array_intersect("h64", "old_h64"))
    rejected_vs_corpus = (
        cand_corpus.join(
            F.broadcast(b_sh.withColumnRenamed("doc_id", "new_doc")), "new_doc"
        )
        .join(std_sh, "old_doc")
        .withColumn(
            "jaccard",
            inter_c.cast("double")
            / (F.size("h64") + F.size("old_h64") - inter_c),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc")
        .distinct()
    )
    # within-batch near-dups: LSH self-join on the (small) batch band
    # table; the LARGER doc_id of each verified pair is dropped
    a, c = b_bands.alias("a"), b_bands.alias("c")
    cand_self = (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.h1") == F.col("c.h1"))
            & (F.col("a.h2") == F.col("c.h2"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("keep_doc"),
            F.col("c.doc_id").alias("drop_doc"),
        )
        .dropDuplicates(["keep_doc", "drop_doc"])
    )
    sa = b_sh.select(F.col("doc_id").alias("keep_doc"), F.col("h64").alias("ka"))
    sb = b_sh.select(F.col("doc_id").alias("drop_doc"), F.col("h64").alias("kb"))
    inter_s = F.size(F.array_intersect("ka", "kb"))
    rejected_in_batch = (
        cand_self.join(F.broadcast(sa), "keep_doc")
        .join(F.broadcast(sb), "drop_doc")
        .withColumn(
            "jaccard",
            inter_s.cast("double") / (F.size("ka") + F.size("kb") - inter_s),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("drop_doc").alias("new_doc"))
        .distinct()
    )
    rejected = rejected_vs_corpus.unionByName(rejected_in_batch).distinct()
    return survivors.join(
        rejected.withColumnRenamed("new_doc", "doc_id"), "doc_id", "left_anti"
    )


def apply_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    accepted_dir: str,
    threshold: float = JACCARD_THRESHOLD,
) -> None:
    """Idempotent per-batch body: gate, land survivors, extend the
    standing stores (standing_store.apply_batch)."""
    standing_store.apply_batch(
        batch_df, batch_id, store_dir, accepted_dir, _store_rows,
        partial(_admit, threshold=threshold),
    )


def stream_ingest_with_dedup(
    stream_docs: DataFrame,
    store_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    on_batch_end=None,
) -> None:
    """Run the gated ingest over a documents stream with
    trigger(availableNow); ``on_batch_end(batch_id)`` is the
    failure-injection seam of standing_store.run_stream."""
    standing_store.run_stream(
        stream_docs,
        lambda batch_df, batch_id: apply_ingest_batch(
            batch_df, batch_id, store_dir, accepted_dir, threshold
        ),
        checkpoint_dir,
        on_batch_end,
    )
