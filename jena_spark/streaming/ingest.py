"""Incremental transcript ingest via Structured Streaming.

``foreachBatch`` reuses the exact batch extraction + materialize code —
the streaming layer adds incrementality, not new semantics (the
reference's StreamRDF parses incrementally into the same Graph.add
path, ``riot/system/StreamRDF.java`` → ``Graph.java:84``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jena_spark.pipeline.extract import raw_triples
from jena_spark.schemas import TRANSCRIPTS_SCHEMA


def stream_transcripts(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of transcript rows (new files = new turns)."""
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_path)
    )


def start_ingest(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    gazetteer: dict | None = None,
):
    """Micro-batch ingest: per batch, run extraction and append the
    triples. Exactly-once via the streaming checkpoint (offsets) +
    idempotent dedup downstream. Returns the StreamingQuery."""
    stream = stream_transcripts(spark, input_path)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        triples = raw_triples(batch_df, gazetteer)
        triples.write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_mention_counts(
    transcripts_stream: DataFrame,
    gazetteer: dict | None = None,
    window_dur: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time windowed aggregation: mention counts per
    (time window, surface). The watermark bounds state for late turns —
    turns later than ``watermark`` behind the max event time are
    dropped, which is the standard Structured Streaming late-data
    policy; state size is O(windows-in-flight x surfaces), both bounded.
    The mention extractor is the same Arrow-batched UDF as the batch
    path (one rule set, two execution modes)."""
    from pyspark.sql import functions as F

    from jena_spark.pipeline.extract import mentions_udf

    udf = mentions_udf(gazetteer)
    mentions = (
        transcripts_stream.withWatermark("ts", watermark)
        .select("ts", F.explode(udf(F.col("text"))).alias("surface"))
    )
    return mentions.groupBy(
        F.window("ts", window_dur).alias("w"), "surface"
    ).agg(F.count("*").alias("n"))


def stateful_conv_progress(transcripts_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    conversation, maintain (turn count, max turn index) across
    micro-batches and emit the updated running summary each batch —
    the arbitrary-state analog of the reference's incremental
    StreamRDF accumulation into a Graph. State is one tiny tuple per
    conv_id; at 10^12 turns the state store shards by conv_id exactly
    like every other conv-keyed stage."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "conv_id string, n_turns long, max_idx integer"
    state_schema = "n long, mx integer"

    def update(key, pdfs, state):
        n, mx = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"conv_id": [key[0]], "n_turns": [n], "max_idx": [mx]})

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# --- streaming canonical maintenance ---------------------------------------

CURRENT = "_CURRENT"


def current_version(store_path: str) -> str | None:
    """The version directory name the ``_CURRENT`` pointer file names,
    or None before the first commit. The pointer is the poor-man's
    Iceberg snapshot pointer (atomic via rename), so readers never
    observe a half-written snapshot."""
    import os

    ptr = os.path.join(store_path, CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return f.read().strip()


def read_current_snapshot(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The committed canonical snapshot, or None before the first
    batch (see :func:`current_version`)."""
    import os

    version = current_version(store_path)
    if version is None:
        return None
    return spark.read.parquet(os.path.join(store_path, version))


def commit_pointer(store_path: str, version: str) -> None:
    """Make ``version`` live: write the pointer to a temp file and
    rename it over ``_CURRENT`` (atomic). Call it only after the
    version directory is fully written."""
    import os

    tmp = os.path.join(store_path, CURRENT + ".tmp")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(store_path, CURRENT))


def start_canonical_maintenance(
    spark: SparkSession,
    input_path: str,
    store_path: str,
    checkpoint: str,
    gazetteer: dict | None = None,
):
    """Continuous KG maintenance: per micro-batch, FOLD the arriving
    conversations into the canonical snapshot with
    :func:`jena_spark.pipeline.canonicalize.construct_incremental`
    (the first batch folds onto no snapshot) and commit a new snapshot
    version.

    This is the deployment loop of a continuously-arriving
    10^12-turn corpus: the per-batch cost is the incremental fold
    (pure append when no representative re-election — the common
    case), never a rebuild. Crash safety: the snapshot is written to
    a fresh ``v{batch}`` directory and the ``_CURRENT`` pointer swaps
    atomically AFTER the write. A crash BEFORE the pointer swap leaves
    the previous snapshot live and the replayed batch rebuilds
    ``v{batch}`` from it (reads only the older version — safe); a
    crash AFTER the swap but before the streaming checkpoint commit
    replays a batch that is already applied — the pointer==version
    guard below detects that and skips (re-folding would both
    duplicate the batch and overwrite the directory the fold is
    reading). The invariant stream-of-folds == one-shot build is
    asserted in ``tests/test_streaming.py``, including the
    replay-after-commit case.
    """
    import os

    os.makedirs(store_path, exist_ok=True)
    stream = stream_transcripts(spark, input_path)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        apply_canonical_batch(spark, batch_df, epoch_id, store_path, gazetteer)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def apply_canonical_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    gazetteer: dict | None = None,
) -> bool:
    """One fold of :func:`start_canonical_maintenance` (module-level so
    the replay guard is directly testable). Returns True if the batch
    was applied, False if skipped (empty, or already committed).

    The pointer==version guard is the crash-window defense: a crash
    AFTER the pointer swap but BEFORE the streaming checkpoint commit
    makes the engine replay this epoch — re-folding would both
    duplicate the batch (construct_incremental's append-only contract)
    and overwrite the very snapshot directory the fold is reading
    (verified to destroy it). A crash BEFORE the swap is safe without
    the guard: the pointer still names the older version, and the
    replay rebuilds ``v{epoch}`` reading only that older snapshot.
    """
    import os

    from jena_spark.pipeline.canonicalize import construct_incremental

    if batch_df.isEmpty():
        return False
    version = f"v{epoch_id}"
    if current_version(store_path) == version:
        return False  # already applied (replay after commit)
    cur = read_current_snapshot(spark, store_path)
    snap = construct_incremental(cur, batch_df, gazetteer)
    snap.write.mode("overwrite").parquet(os.path.join(store_path, version))
    commit_pointer(store_path, version)
    return True


# --- streaming corpus dedup maintenance --------------------------------------

def stream_documents(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of (doc_id, text) document rows (new files =
    new corpus batches); extra parquet columns are pruned at the scan."""
    return (
        spark.readStream.schema("doc_id long, text string")
        .parquet(input_path)
    )


def apply_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
) -> bool:
    """One fold of :func:`start_dedup_maintenance`: run
    :func:`jena_spark.data.dedup.exact_dedup_incremental` against the
    current hash-store snapshot, append this batch's verdicts under
    ``verdicts/v{epoch}`` and commit the grown store as ``v{epoch}``.
    Same crash discipline as :func:`apply_canonical_batch` — fresh
    version directory, atomic ``_CURRENT`` swap after the write,
    pointer==version replay guard (a replayed epoch after commit would
    double-fold the batch AND overwrite the store it reads)."""
    import os

    from jena_spark.data.dedup import exact_dedup_incremental

    if batch_df.isEmpty():
        return False
    version = f"v{epoch_id}"
    if current_version(store_path) == version:
        return False
    prior = read_current_snapshot(spark, store_path)
    verdicts, state = exact_dedup_incremental(batch_df, prior)
    verdicts.write.mode("overwrite").parquet(
        os.path.join(store_path, "verdicts", version))
    state.write.mode("overwrite").parquet(
        os.path.join(store_path, version))
    commit_pointer(store_path, version)
    return True


def start_dedup_maintenance(
    spark: SparkSession,
    input_path: str,
    store_path: str,
    checkpoint: str,
):
    """Continuous corpus dedup: per micro-batch, FOLD the arriving
    documents into the persistent exact-dedup hash store
    (:func:`jena_spark.data.dedup.exact_dedup_incremental`) — the
    streaming composition of the incremental fold, exactly how a
    continuously-crawled corpus keeps itself deduplicated: per-batch
    cost is one hash aggregate over the NEW batch + one store join;
    the keep-first total order is arrival order then id, and the
    fold-chain == one-shot invariant carries over from the batch op
    (asserted stream-vs-batch in ``tests/test_streaming.py``).
    Returns the StreamingQuery."""
    import os

    os.makedirs(store_path, exist_ok=True)
    stream = stream_documents(spark, input_path)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        apply_dedup_batch(spark, batch_df, epoch_id, store_path)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_verdicts(spark: SparkSession, store_path: str) -> DataFrame:
    """All per-batch dedup verdicts committed so far (union of the
    ``verdicts/v{epoch}`` version dirs). Reads via a glob — Spark logs
    a spurious-but-benign FileNotFoundException stack trace for the
    ``_spark_metadata`` probe on glob paths (see CLAUDE.md quirks);
    the versioned dirs themselves are the crash-safety design
    (overwrite-idempotent per epoch, unlike a flat append)."""
    import os

    return spark.read.parquet(os.path.join(store_path, "verdicts", "v*"))
