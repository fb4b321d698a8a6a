package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable, checkpointed index build (north_rule): the corpus is split
  * into docId-range *segments*; each segment's posting blocks are built and
  * committed as an independent, atomic parquet directory (`_SUCCESS`
  * marker), with a lineage + metrics row (docs indexed, postings written,
  * bytes compressed, build seconds, per-field stats) appended to the
  * `segments` table. A
  * re-run skips committed segments and finishes the rest — mirroring the
  * reference's durable commit/segment architecture
  * (/root/reference/lupyne/engine/indexers.py:603-611, segments surface at
  * indexers.py:127-134) re-expressed as idempotent Spark jobs.
  *
  * Because posting blocks are closed 128-doc units and segments are disjoint
  * docId ranges, per-segment outputs concatenate into a valid index with no
  * merge pass; queries read all segments as one blocks table.
  */
object CheckpointedBuild {

  /** One lineage row. `maxDocId` closes the segment's covering docId
    * interval [firstDocId, maxDocId]: dense `firstDocId + docsIndexed − 1`
    * for an appended segment, max of the sources' intervals for a merged one
    * (whose docIds keep their original values, with gaps where tombstoned
    * docs purged) — so tombstone→segment discovery is a metadata interval
    * lookup, never a corpus scan (see Indexer.forceMergeDeletes).
    * `fieldStats` is the segment's own per-field [[FieldStats]], so opening
    * a view sums lineage rows instead of aggregating postings; rows written
    * before the column existed read it as None (see [[Lineage.fieldStats]]).
    */
  final case class SegmentMeta(segmentId: Int, firstDocId: Long, docsIndexed: Long,
      postingsWritten: Long, bytesCompressed: Long, buildSec: Double, status: String,
      maxDocId: Long, fieldStats: Option[Map[String, FieldStats]] = None)

  /** What a segment's blocks write reports for its lineage row. */
  final case class BlockMetrics(postingsWritten: Long, bytesCompressed: Long,
      fieldStats: Map[String, FieldStats])

  /** Write one segment's posting blocks to `path` and return its lineage
    * metrics, OBSERVED during the write (Dataset.observe) — the single
    * definition every segment writer uses, with no re-read of the committed
    * files. The stats equal [[IndexBuilder.fieldStatsOf]] over the blocks.
    */
  def writeBlocks(blocks: Dataset[_], schema: IndexSchema, path: String): BlockMetrics = {
    val fields = IndexBuilder.fieldDictOf(schema)
    val blobBytes = Seq("docsBlob", "freqsBlob", "normsBlob", "positionsBlob",
      "payloadsBlob", "offsetsBlob").map(c => length(col(c))).reduce(_ + _)
    val perField = fields.indices.flatMap { i =>
      val f = col("field") === fields(i)
      Seq(sum(when(f && col("term") === "", col("numDocs"))).as(s"dc$i"),
        sum(when(f && col("term") =!= "", col("sumTf"))).as(s"tf$i"))
    }
    val m = writeObserved(blocks, path,
      sum(when(col("term") =!= "", col("numDocs"))).as("postings"),
      sum(blobBytes).as("bytes") +: perField: _*)
    def long(k: String): Option[Long] = Option(m(k)).map(_.asInstanceOf[Number].longValue)
    // a field without sentinel rows has no blocks at all: absent, as in fieldStatsOf
    val stats = fields.indices.flatMap(i => long(s"dc$i").map(dc =>
      fields(i) -> FieldStats(dc, long(s"tf$i").getOrElse(0L)))).toMap
    BlockMetrics(long("postings").getOrElse(0L), long("bytes").getOrElse(0L), stats)
  }

  /** Write `docs` to `path` and return the row count observed during the write. */
  def writeDocs(docs: DataFrame, path: String): Long =
    writeObserved(docs, path, count(lit(1)).as("n"))("n").asInstanceOf[Number].longValue

  private def writeObserved(df: Dataset[_], path: String, metric: Column,
      more: Column*): Map[String, Any] = {
    val obs = Observation()
    df.observe(obs, metric, more: _*).write.mode("overwrite").parquet(path)
    obs.get
  }

  def build(source: DataFrame, schema: IndexSchema, dir: String,
      segments: Int = 8, numPartitions: Int = 0): Index = {
    val spark = source.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committed(p: String): Boolean = fs.exists(new Path(p, "_SUCCESS"))

    // Stage 1: doc store (docIds + sha256), committed once.
    val docsDir = s"$dir/docs"
    if (!committed(docsDir)) {
      IndexBuilder.prepareDocs(source, schema, parts)
        .repartitionByRange(parts, col("docId")).sortWithinPartitions("docId")
        .write.mode("overwrite").parquet(docsDir)
    }
    val docs = spark.read.parquet(docsDir)
    val total = docs.count()
    val segSize = math.max(1L, (total + segments - 1) / segments)

    // Stage 2: per-segment posting blocks, idempotent + metered. A segment
    // is done once its blocks AND its lineage row exist: a crash between the
    // two rebuilds it, so every served segment has a stats row.
    val recorded = Lineage.read(spark, dir).allIds.toSet
    for (k <- 0 until segments) {
      val segDir = s"$dir/postings/segment=$k"
      if (!committed(segDir) || !recorded(k.toLong)) {
        val t0 = System.nanoTime()
        val lo = k * segSize
        val hi = math.min(total, (k + 1) * segSize)
        val slice = docs.filter(col("docId") >= lo && col("docId") < hi)
        val m = writeBlocks(
          IndexBuilder.blocksOf(IndexBuilder.tokensOf(slice, schema), schema, parts), schema, segDir)
        val meta = SegmentMeta(k, lo, hi - lo, m.postingsWritten, m.bytesCompressed,
          (System.nanoTime() - t0) / 1e9, "committed",
          maxDocId = hi - 1, // docIds are dense within a checkpointed slice
          fieldStats = Some(m.fieldStats))
        spark.createDataset(Seq(meta)).write.mode("append").parquet(s"$dir/segments")
      }
    }

    // Stage 3: derived term dictionary + stats + manifest.
    // declared-schema read: a resumed build may mix segments written by a
    // pre-payloads layout with fresh ones (see IndexBuilder.readPostings)
    val postings = IndexBuilder.readPostings(spark, s"$dir/postings")
    val blocks = IndexBuilder.asBlocks(postings)
    val termDictDir = s"$dir/termdict"
    if (!committed(termDictDir)) {
      IndexBuilder.termDictOf(blocks)
        .repartitionByRange(parts, col("field"), col("term"))
        .sortWithinPartitions("field", "term")
        .write.mode("overwrite").parquet(termDictDir)
    }
    val termDict = spark.read.parquet(termDictDir)
    val stats = Lineage.read(spark, dir).fieldStats(postings)
    IndexManifest.write(spark, s"$dir/manifest", IndexManifest(schema, stats))
    new Index(spark, schema, docs, blocks, termDict, stats)
  }

  /** Lineage + metrics table for a checkpointed index. */
  def segmentsTable(spark: SparkSession, dir: String): DataFrame = Lineage.table(spark, dir)
}
