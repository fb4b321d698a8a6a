package graft.index

import org.apache.spark.sql.functions._

/** Multi-index composition (reference MultiSearcher,
  * /root/reference/lupyne/engine/indexers.py:464-490): later indexes' docIds
  * are offset past earlier ones. Because posting blobs store docId DELTAS
  * relative to `firstDocId`, rebasing a block is a metadata-only bump of
  * `firstDocId`/`lastDocId` — no decode/re-encode, no shuffle.
  */
object MultiIndex {

  def union(indexes: Seq[Index]): Index = {
    require(indexes.nonEmpty)
    require(indexes.map(_.schema).distinct.size == 1, "indexes must share a schema")
    val spark = indexes.head.spark
    import spark.implicits._
    // bucket-aligned sizes keep rebased blocks WAND-co-partitionable
    val sizes = indexes.map { ix =>
      val r = ix.docs.agg(max(col("docId"))).collect()(0)
      if (r.isNullAt(0)) 0L else IndexBuilder.nextBucketStart(r.getLong(0) + 1)
    }
    val offsets = sizes.scanLeft(0L)(_ + _)
    val docs = indexes.zip(offsets).map { case (ix, off) =>
      ix.docs.withColumn("docId", col("docId") + off)
    }.reduce(_ unionByName _)
    val blocks = indexes.zip(offsets).map { case (ix, off) =>
      ix.blocks.map(b => b.copy(firstDocId = b.firstDocId + off, lastDocId = b.lastDocId + off))
    }.reduce(_ unionAll _)
    val termDict = IndexBuilder.termDictOf(blocks)
    val stats = FieldStats.sum(indexes.map(_.fieldStats))
    // per-reader liveDocs survive the union (reference MultiSearcher respects
    // each subreader's tombstones): rebase each index's deleted docIds by its
    // offset and carry the union
    val rebasedDeletes = indexes.zip(offsets).flatMap { case (ix, off) =>
      ix.deletes.map(d => d.select((col("docId") + off).as("docId")))
    }
    val deletes = rebasedDeletes.reduceOption(_ unionByName _).map(_.distinct())
    new Index(spark, indexes.head.schema, docs, blocks, termDict, stats, deletes)
  }
}
