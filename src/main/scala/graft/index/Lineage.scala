package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.index.CheckpointedBuild.SegmentMeta

/** One segment the committed view serves, folded from its lineage rows
  * (a replayed append writes its row again; the values agree).
  */
final case class LiveSegment(id: Long, firstDocId: Long, docsIndexed: Long,
    bytesCompressed: Long, maxDocId: Long, fieldStats: Option[Map[String, FieldStats]])

/** An index directory's `segments` lineage, read ONCE into driver rows.
  * Every lineage question — live ids, the next segment id, an append's
  * docId offset, live segment extents and field stats, the version — is
  * answered from these rows, so reopening a view costs O(lineage rows) and
  * never touches postings (a Lucene reopen reads segment metadata only).
  */
final case class Lineage(rows: Seq[SegmentMeta]) {

  /** Segment ids the committed view serves, ascending: ids with no
    * "superseded" marker (merge sources and quarantined segments, whose
    * directories stay on disk only for pinned commits).
    */
  lazy val liveIds: Seq[Long] = {
    val dead = rows.filter(_.status == "superseded").map(_.segmentId).toSet
    rows.map(_.segmentId).distinct.filterNot(dead).sorted.map(_.toLong)
  }

  /** Live segments, ascending by id. */
  lazy val live: Seq[LiveSegment] = {
    val liveSet = liveIds.toSet
    rows.filter(m => liveSet(m.segmentId.toLong))
      .groupBy(_.segmentId).toSeq.sortBy(_._1).map { case (id, ms) =>
        LiveSegment(id.toLong, ms.map(_.firstDocId).min, ms.map(_.docsIndexed).max,
          ms.map(_.bytesCompressed).max, ms.map(_.maxDocId).max, ms.flatMap(_.fieldStats).headOption)
      }
  }

  /** Every segment id the lineage ever recorded. */
  def allIds: Seq[Long] = rows.map(_.segmentId.toLong).distinct.sorted

  def nextSegId: Long = if (rows.isEmpty) 0L else rows.map(_.segmentId).max + 1L

  /** Monotone version (reference `version`): the number of segment ids. */
  def version: Long = allIds.size.toLong

  /** docId offset of appended segment `segId`: the docs of every prior ATOM
    * segment (status "committed"), each rounded up to a salt bucket so
    * rebased blocks stay WAND-co-partitionable. A merged segment's docs reuse
    * its sources' docId ranges, so counting it would double the offset and
    * every post-merge append would leak an unbounded docId gap.
    */
  def appendOffset(segId: Long): Long =
    rows.filter(m => m.segmentId < segId && m.status == "committed")
      .groupBy(_.segmentId).values
      .map(ms => IndexBuilder.nextBucketStart(ms.map(_.docsIndexed).max)).sum

  /** Field stats of the live view: the sum of the live segments' lineage
    * stats. Segments whose rows predate the stats column are aggregated
    * from their own posting blocks only — `postings` must carry the
    * `segment` partition column, so that read is partition-pruned.
    */
  def fieldStats(postings: DataFrame): Map[String, FieldStats] = {
    val legacy = live.filter(_.fieldStats.isEmpty).map(_.id)
    val legacyStats =
      if (legacy.isEmpty) Map.empty[String, FieldStats]
      else IndexBuilder.fieldStatsOf(
        IndexBuilder.asBlocks(postings.filter(col("segment").isin(legacy: _*))))
    FieldStats.sum(live.flatMap(_.fieldStats) :+ legacyStats)
  }
}

object Lineage {
  /** Declared schema of the lineage table: reads run no footer-inference
    * job, and columns added after a row was written read as null.
    */
  val Schema: StructType = Encoders.product[SegmentMeta].schema

  /** The lineage table as written (declared schema). */
  def table(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schema).parquet(s"$dir/segments")

  /** Read the lineage once; a directory without one has no segments. Rows
    * written before `maxDocId` existed fall back to the dense extent for
    * appended segments and Long.MaxValue (conservative: always a tombstone
    * discovery candidate) for merged ones, whose extent they cannot
    * reconstruct.
    */
  def read(spark: SparkSession, dir: String): Lineage = {
    val p = new Path(s"$dir/segments")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Lineage(Seq.empty)
    else {
      import spark.implicits._
      val legacyMax = when(col("status") === "merged", lit(Long.MaxValue))
        .otherwise(col("firstDocId") + col("docsIndexed") - 1L)
      Lineage(table(spark, dir)
        .withColumn("maxDocId", coalesce(col("maxDocId"), legacyMax))
        .as[SegmentMeta].collect().toSeq)
    }
  }
}
