"""Exactly-once standing stores: the one protocol behind every
foreachBatch sink -- the two admission gates (streaming/ingest_dedup.py,
streaming/line_gate.py) and streaming/jobs.py's parquet sink and rollup
maintainer.

A gate supplies two plain DataFrame -> DataFrame functions:

  * ``store_rows(docs, persists=None) -> {store name: DataFrame}`` --
    the standing-store rows of a set of documents.  The same builder
    bootstraps the stores from a corpus (``init_stores``), extends them
    with each batch's admitted documents (``apply_batch``), and, applied
    to zero rows, gives the empty standing state of a store that does
    not exist yet.  When ``persists`` is given, any intermediate the
    builder persists is appended to it for the caller to release.
  * ``admit(batch_docs, standing, persists) -> admitted batch rows`` --
    the gate core, given the standing stores as DataFrames.

Exactly-once.  foreachBatch is at-least-once: a batch whose body ran but
whose checkpoint commit did not is replayed with the same batch id.
Four rules make the replay converge to the clean-run state from any
crash point:

  1. Dynamic overwrite.  Every write lands in its own ``_batch=<id>``
     partition with ``partitionOverwriteMode=dynamic``
     (``write_batch``), so a replay rewrites its partitions -- and any
     partial files a crashed write left there -- instead of appending a
     duplicate.  A replay that now admits nothing (e.g. restarted with a
     stricter threshold) writes no rows, which dynamic overwrite would
     treat as "touch nothing", so its stale partitions are dropped
     explicitly.
  2. ``exclude_batch``.  The gate reads the standing stores WITHOUT the
     replaying batch's own partitions: a replay that already landed some
     of them must not see its own rows as standing corpus (it would
     admit nothing and leave the stores missing the batch forever).
  3. Derive from landed.  The accepted rows land FIRST, and the
     standing-store appends are derived from the LANDED accepted files,
     not from the gate's lazy plan: that plan reads the standing stores,
     so once a store is written a re-execution would see the batch's own
     rows and gate everything out.
  4. Marker last.  Init is a rebuild unless a one-row
     ``_corpus_id_<gate>`` marker matches the corpus fingerprint AND
     every store is still readable; a rebuild drops the marker first and
     writes it only after every store landed, so a crash mid-build is
     never trusted.  The skip is a correctness property as well as a
     cost one: the rebuild drops every ``_batch>=0`` partition a running
     gate had appended.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BATCH_COL = "_batch"
BASE_BATCH = -1  # the partition a store's bootstrap corpus lands in

StoreRows = Callable[..., dict[str, DataFrame]]
Admit = Callable[[DataFrame, dict[str, DataFrame], list], DataFrame]


def run_stream(
    stream_df: DataFrame,
    body: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    on_batch_end=None,
) -> None:
    """Run ``body(batch_df, batch_id)`` over every micro-batch with
    trigger(availableNow).  ``on_batch_end(batch_id)`` fires after the
    body and BEFORE the checkpoint commits the batch -- the
    failure-injection seam (raise there to simulate dying mid-commit)
    and a metrics hook."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        body(batch_df, batch_id)
        if on_batch_end is not None:
            on_batch_end(batch_id)

    (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def write_batch(
    df: DataFrame, path: str, batch_id: int, column: str = BATCH_COL
) -> None:
    """Land ``df`` in the ``<column>=<batch_id>`` partition of ``path``
    by dynamic overwrite: rewrites that partition, leaves the rest."""
    (
        df.withColumn(column, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(column)
        .parquet(path)
    )


def _drop(spark: SparkSession, path: str) -> None:
    """Delete ``path`` if it exists, via the Hadoop FileSystem API
    (works on any scheme the session can write)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def _write_stores(
    rows: dict[str, DataFrame], store_dir: str, batch_id: int
) -> None:
    # submitted CONCURRENTLY: independent jobs over one input, so the
    # wall is the slowest write, not the sum of per-write commit
    # overheads (measured ~1.9 s -> ~0.8 s per dedup batch at x10)
    with ThreadPoolExecutor(max_workers=len(rows)) as pool:
        list(
            pool.map(
                lambda item: write_batch(
                    item[1], f"{store_dir}/{item[0]}", batch_id
                ),
                rows.items(),
            )
        )


def corpus_fingerprint(corpus_docs: DataFrame) -> list[int]:
    """(row count, xor of per-doc 64-bit hashes): an order-insensitive
    corpus identity, one scan of (doc_id, text) -- linear in corpus
    bytes with a tiny constant, vs the store build it lets init skip."""
    row = corpus_docs.agg(
        F.count("*"), F.expr("bit_xor(xxhash64(doc_id, text))")
    ).collect()[0]
    return [int(row[0]), int(row[1] or 0)]


def _read_marker(spark: SparkSession, path: str) -> list[int] | None:
    # ANY read failure means "no trustworthy marker": a corrupt or
    # half-written marker raises SparkException (not AnalysisException),
    # and rebuilding is always the safe answer
    try:
        row = spark.read.parquet(path).collect()
        if len(row) != 1:
            return None
        return [int(row[0]["n_docs"]), int(row[0]["xor_hash"])]
    except Exception:
        return None


def _readable(spark: SparkSession, paths: list[str]) -> bool:
    """True iff every store exists and its parquet footers resolve --
    schema inference only, no job."""
    for path in paths:
        try:
            spark.read.parquet(path).schema
        except Exception:
            return False
    return True


def init_stores(
    spark: SparkSession,
    corpus_docs: DataFrame,
    store_dir: str,
    gate: str,
    store_rows: StoreRows,
) -> None:
    """Bootstrap a gate's standing stores from a corpus (the nightly
    maintenance job's output) into the ``_batch=-1`` partitions, unless
    the ``_corpus_id_<gate>`` marker says they already hold this corpus
    (rule 4 above).  The marker is per GATE so two gates sharing a
    ``store_dir`` never skip each other's build."""
    fp = corpus_fingerprint(corpus_docs)
    marker = f"{store_dir}/_corpus_id_{gate}"
    stores = [f"{store_dir}/{name}" for name in store_rows(corpus_docs.limit(0))]
    if _read_marker(spark, marker) == fp and _readable(spark, stores):
        return
    for path in (marker, *stores):
        _drop(spark, path)
    persists: list = []
    try:
        _write_stores(store_rows(corpus_docs, persists), store_dir, BASE_BATCH)
    finally:
        for df in persists:
            df.unpersist()
    spark.createDataFrame(
        [(fp[0], fp[1])], "n_docs long, xor_hash long"
    ).coalesce(1).write.mode("overwrite").parquet(marker)


def _standing(
    spark: SparkSession,
    store_dir: str,
    empty: dict[str, DataFrame],
    exclude_batch: int,
) -> dict[str, DataFrame]:
    """The standing stores minus ``exclude_batch`` (rule 2).  A store
    that does not exist yet (first run with no bootstrap corpus) is an
    empty corpus, not a PATH_NOT_FOUND from inside the micro-batch."""
    from pyspark.errors import AnalysisException

    out = {}
    for name, nil in empty.items():
        try:
            df = spark.read.parquet(f"{store_dir}/{name}")
        except AnalysisException:
            out[name] = nil
            continue
        out[name] = df.filter(F.col(BATCH_COL) != exclude_batch).drop(BATCH_COL)
    return out


def apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    accepted_dir: str,
    store_rows: StoreRows,
    admit: Admit,
) -> None:
    """Idempotent per-batch body of a gate: gate the batch against the
    standing stores, land the admitted rows, and extend every store with
    rows derived from the landed files -- in that order (rules 1-3)."""
    spark = batch_df.sparkSession
    empty = store_rows(batch_df.limit(0))
    persists: list = [batch_df.persist()]
    try:
        standing = _standing(spark, store_dir, empty, batch_id)
        accepted = admit(batch_df, standing, persists).persist()
        persists.append(accepted)
        # the probe and the accepted write share the persisted plan, so
        # the standing-store scans and gate joins run once per batch
        if accepted.limit(1).count() == 0:
            for base in (accepted_dir, *(f"{store_dir}/{n}" for n in empty)):
                _drop(spark, f"{base}/{BATCH_COL}={batch_id}")
            return
        write_batch(accepted, accepted_dir, batch_id)
        landed = (
            spark.read.parquet(accepted_dir)
            .filter(F.col(BATCH_COL) == batch_id)
            .drop(BATCH_COL)
        )
        _write_stores(store_rows(landed, persists), store_dir, batch_id)
    finally:
        for df in persists:
            df.unpersist()
