package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.index._

/** Incremental indexing via Structured Streaming: every micro-batch becomes
  * one atomic index segment (same layout as [[CheckpointedBuild]] — posting
  * blocks + doc rows + a lineage row), written idempotently under the batch
  * id so checkpoint replays are safe. Readers refresh by re-opening the
  * directory — the Spark-first analog of the reference's NRT
  * refresh/reopen (/root/reference/lupyne/engine/indexers.py:331-345,624-646:
  * Lucene NRT is an in-process uncommitted view, which has no distributed
  * equivalent; committed-micro-batch visibility is the replacement).
  *
  * docIds stay dense and deterministic: each batch's docIds are offset by
  * the total docs of all PRIOR batch segments (from the lineage table), and
  * posting-blob deltas are offset-free (relative to firstDocId), so the
  * rebase is metadata-only.
  */
object StreamingIndexer {

  def start(stream: DataFrame, schema: IndexSchema, dir: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendSegment(batch, schema, dir, batchId)
        ()
      }
      .start()

  /** Write one batch as segment `segId` (idempotent: overwrite by id). */
  def appendSegment(batch: DataFrame, schema: IndexSchema, dir: String, segId: Long): Unit =
    if (!batch.isEmpty) appendSegment(batch, schema, dir, segId, Lineage.read(batch.sparkSession, dir))

  /** [[appendSegment]] of a non-empty batch against an already-read lineage.
    * The docId offset comes from the lineage rows, and the lineage row's
    * metrics (docs, postings, bytes, field stats) are observed on the docs
    * and blocks writes themselves — no re-read of the committed files.
    */
  private[graft] def appendSegment(batch: DataFrame, schema: IndexSchema, dir: String,
      segId: Long, lineage: Lineage): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val offset = lineage.appendOffset(segId)
    val t0 = System.nanoTime()
    val localDocs = IndexBuilder.prepareDocs(batch, schema, parts)
      .withColumn("docId", col("docId") + offset)
    val docsDir = s"$dir/docs/segment=$segId"
    val n = CheckpointedBuild.writeDocs(localDocs, docsDir)
    // tokenize the committed docs (declared schema: no footer inference)
    val docsBack = spark.read.schema(localDocs.schema).parquet(docsDir)
    val m = CheckpointedBuild.writeBlocks(
      IndexBuilder.blocksOf(IndexBuilder.tokensOf(docsBack, schema), schema, parts),
      schema, s"$dir/postings/segment=$segId")
    val meta = CheckpointedBuild.SegmentMeta(segId.toInt, offset, n,
      m.postingsWritten, m.bytesCompressed, (System.nanoTime() - t0) / 1e9, "committed",
      maxDocId = offset + n - 1, // prepareDocs assigns dense [0, n) + offset
      fieldStats = Some(m.fieldStats))
    spark.createDataset(Seq(meta)).write.mode("append").parquet(s"$dir/segments")
  }

  /** Open the current committed view (call again to refresh — reference
    * `reopen`/`openIfChanged` ≈ re-resolving the latest snapshot). Reads the
    * lineage once; field stats sum the live segments' lineage rows, so the
    * open never aggregates postings.
    */
  def open(spark: SparkSession, dir: String, schema: IndexSchema): Index = {
    // read ONLY live segments (partition-pruned): a merge supersedes its
    // sources in the lineage but leaves their directories on disk for pins —
    // and a merge that crashed pre-lineage leaves an orphan dir that must
    // not be served
    val lineage = Lineage.read(spark, dir)
    val live = lineage.liveIds
    val docs = spark.read.option("mergeSchema", "true").parquet(s"$dir/docs")
      .filter(col("segment").isin(live: _*)).drop("segment")
    val postings = IndexBuilder.readPostings(spark, s"$dir/postings")
      .filter(col("segment").isin(live: _*))
    val blocks = IndexBuilder.asBlocks(postings)
    new Index(spark, schema, docs, blocks, IndexBuilder.termDictOf(blocks),
      lineage.fieldStats(postings))
  }

  /** Segment ids the committed view serves: ids with a "committed"/"merged"
    * lineage row and no "superseded" marker (their directories were folded
    * into a merged segment and remain on disk only for pinned commits).
    */
  def liveSegmentIds(spark: SparkSession, dir: String): Seq[Long] =
    Lineage.read(spark, dir).liveIds

  /** Monotone version for cache validation (reference `version`): the
    * number of committed segments.
    */
  def version(spark: SparkSession, dir: String): Long = Lineage.read(spark, dir).version
}
