"""Streaming corpus-drift monitor: every micro-batch of newly crawled
docs is scored against a PERSISTED reference token distribution — the
continuous-crawl twin of operators.textstats.corpus_drift (same
fixed-point total-variation arithmetic; a language flip, spam flood,
or parser regression in the incoming stream shows up as a per-batch
tvd spike before any downstream model sees the data).

Scale shape: the reference is the corpus' top-REF_TOP tokens plus one
``<other>`` pseudo-symbol carrying the exact residual mass, so the
distribution lives on a BOUNDED (<= REF_TOP+1 row) symbol table that
broadcasts into every micro-batch; the only batch-proportional work is
one token-count aggregation with map-side combine.  Everything is
scaled-BIGINT floor division (order-independent, bit-exact) — the
streamed tvd for a batch equals the batch-mode computation of the
same formula exactly, which is what the stream==batch test pins.

Exactly-once: file source + foreachBatch writing one row per
micro-batch partitioned by batch_id with per-write dynamic partition
overwrite (the job.py / incremental_dedup.py idempotence pattern), so
a replayed micro-batch rewrites its own partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import two_stage_topk
from .incremental_dedup import DOCS_SCHEMA

REF_TOP = 4096            # bounded broadcast reference head
OTHER = "<other>"         # pseudo-symbol for all tail/unseen tokens
DRIFT_SCALE = 1_000_000


def build_drift_reference(docs: DataFrame) -> DataFrame:
    """(tok, p_ref) reference distribution: the corpus' top-REF_TOP
    tokens by count (operators.similarity.two_stage_topk, global;
    merge window bounded at REF_TOP*P rows — no task sorts the full
    vocabulary) with fixed-point frequencies, plus the OTHER row
    carrying the EXACT residual (DRIFT_SCALE - sum of head
    frequencies), so the reference always sums to DRIFT_SCALE."""
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("t"))
    head = (
        two_stage_topk(c, [], [F.desc("n"), F.asc("tok")], REF_TOP)
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.expr(f"({DRIFT_SCALE} * n) div greatest(t, 1)").alias("p_ref"),
        )
    )
    resid = head.agg(
        (F.lit(DRIFT_SCALE) - F.coalesce(F.sum("p_ref"), F.lit(0)))
        .alias("p_ref")
    ).select(F.lit(OTHER).alias("tok"), "p_ref")
    return head.unionByName(resid)


def drift_of_batch(batch_df: DataFrame, ref: DataFrame) -> DataFrame:
    """One row: (n_tokens, tvd, top_tok, top_drift) for this batch
    against the reference distribution.  Batch tokens outside the
    reference head all map to OTHER, so the comparison runs over the
    bounded symbol table; symbols the batch never emits still
    contribute their reference mass (ref LEFT JOIN batch counts)."""
    toks = batch_df.select(
        F.explode(F.split(F.col("text"), " ")).alias("raw")
    )
    head = ref.filter(F.col("tok") != OTHER).select("tok")
    mapped = (
        toks.join(F.broadcast(head), toks.raw == head.tok, "left")
        .select(F.coalesce("tok", F.lit(OTHER)).alias("sym"))
    )
    bc = mapped.groupBy("sym").agg(F.count(F.lit(1)).alias("bn"))
    btot = bc.agg(F.coalesce(F.sum("bn"), F.lit(0)).alias("bt"))
    # ref is <= REF_TOP+1 rows and bc at most that after mapping:
    # everything below is bounded-table arithmetic
    per = (
        ref.join(bc, ref.tok == bc.sym, "left")
        .crossJoin(F.broadcast(btot))
        .select(
            "tok",
            "p_ref",
            F.expr(
                f"({DRIFT_SCALE} * coalesce(bn, 0)) div greatest(bt, 1)"
            ).alias("p_batch"),
        )
        .withColumn("drift", F.abs(F.col("p_batch") - F.col("p_ref")))
    )
    top = per.orderBy(F.desc("drift"), F.asc("tok")).limit(1)
    agg = per.agg(
        F.expr("sum(drift) div 2").cast("long").alias("tvd"),
    )
    n = batch_df.select(
        F.coalesce(F.sum(F.size(F.split(F.col("text"), " "))), F.lit(0))
        .cast("long")
        .alias("n_tokens")
    )
    return (
        n.crossJoin(agg)
        .crossJoin(top.select(F.col("tok").alias("top_tok"),
                              F.col("drift").alias("top_drift")))
    )


def process_drift_batch(
    batch_df: DataFrame, batch_id: int, ref: DataFrame, output_dir: str
) -> None:
    """One micro-batch -> one monitor row, written replay-idempotently
    (partitionBy batch_id + per-write dynamic partition overwrite)."""
    if batch_df.isEmpty():
        return
    (
        drift_of_batch(batch_df, ref)
        .withColumn("batch_id", F.lit(batch_id))
        .select("batch_id", "n_tokens", "tvd", "top_tok", "top_drift")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(output_dir)
    )


def stream_drift_monitor(
    spark: SparkSession,
    input_dir: str,
    ref_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    availableNow: bool = False,
):
    """Start the monitor: incoming doc files -> one (batch_id,
    n_tokens, tvd, top_tok, top_drift) row per micro-batch.  The
    reference at `ref_path` is built once by build_drift_reference
    and read here as a static side."""
    ref = spark.read.parquet(ref_path)

    src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_drift_batch(batch_df, batch_id, ref, output_dir)

    writer = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if availableNow:
        writer = writer.trigger(availableNow=True)
    return writer.start()
