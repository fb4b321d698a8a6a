package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.exec.Searcher
import graft.query.Query
import graft.streaming.StreamingIndexer

/** Writer + searcher facade with the reference's UX
  * (engine.Indexer: add → commit → search; delete/update;
  * /root/reference/lupyne/engine/indexers.py:614-661): buffered docs become
  * one atomic segment per commit; deletes persist as a tombstone table and
  * apply on open; `refresh()` re-resolves the latest committed view.
  *
  * This is the small-batch/driver-side door into the same segment machinery
  * the bulk paths use ([[IndexBuilder]], [[CheckpointedBuild]],
  * [[graft.streaming.StreamingIndexer]]).
  */
/** A pinned commit: the segment ids, delete part-files, and docvalue-update
  * generations visible when [[Indexer.snapshot]] ran. Appends only ever ADD
  * part-files/generations, so the named files stay immutable while the
  * writer advances — a Lucene commit point (including its .liv deletes and
  * dv-gen files), Spark-shaped.
  */
final case class IndexPin(segmentIds: Seq[Long], deleteFiles: Seq[String] = Seq.empty,
    dvGens: Seq[String] = Seq.empty, epoch: Int = 0)

/** Outcome of [[Indexer.check]] (Lucene CheckIndex.Status, surfaced by the
  * reference's `IndexWriter.check(directory, repair)`, indexers.py:528-536):
  * the live segments examined, the corrupt ones (empty = clean), the docs
  * LOST by dropping them (per the lineage's docsIndexed — an upper bound;
  * some may already have been tombstoned), and each failure's message.
  * `badSegments` is non-empty only after a `repair = true` run — without
  * repair, corruption throws instead.
  */
final case class CheckReport(checkedSegments: Seq[Long], badSegments: Seq[Long],
    droppedDocs: Long, errors: Map[Long, String]) {
  def clean: Boolean = badSegments.isEmpty && errors.isEmpty
}

/** One writer already holds the directory's `write.lock` (Lucene
  * LockObtainFailedException — the reference's IndexWriter inherits the
  * one-writer-per-directory contract, indexers.py:493-523).
  */
final class LockObtainFailedException(dir: String, holder: String)
  extends IllegalStateException(
    s"index dir $dir is write-locked by [$holder] — close() the other Indexer, " +
      "open this handle with readOnly = true, or Indexer.unlock(spark, dir) " +
      "if the holder crashed (stale lock)")

final class Indexer(
    val spark: SparkSession,
    val dir: String,
    val schema: IndexSchema,
    val sourceSchema: StructType,
    val nrt: Boolean = false,
    val readOnly: Boolean = false
) extends AutoCloseable {
  private val buf = ArrayBuffer.empty[Row]
  private val pendingDeletes = ArrayBuffer.empty[Query]
  private var cachedSearcher: Option[Searcher] = None
  // NRT snapshot: the buffer/delete state captured by the last refresh() —
  // the nrt searcher serves THIS, not the live buffer (Lucene NRT readers
  // are point-in-time: add() alone is invisible until reopen)
  private var nrtBuf: Seq[Row] = Seq.empty
  private var nrtDeletes: Seq[Query] = Seq.empty

  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------------- locking
  // ONE writer per directory for the handle's whole lifetime (Lucene
  // write.lock): two writers racing nextSegId would both claim the same
  // segment id and interleave lineage. Readers (readOnly = true — the
  // reference's IndexSearcher-on-a-directory posture) never lock; they see
  // committed state only. The atomicity point is scheme-dependent: on a
  // local `file:` store, Hadoop's create(overwrite = false) is an
  // exists-check followed by a create (two racing writers can both win), so
  // the claim goes through java.nio Files.createFile — O_EXCL, genuinely
  // atomic on POSIX (Lucene's own NativeFSLockFactory posture); remote
  // HDFS-like stores get fs.create(path, false), atomic on the NameNode.
  // Crash recovery mirrors Lucene: the lock file goes stale and the
  // operator removes it ([[Indexer.unlock]]).
  private val lockPath = new Path(s"$dir/${Indexer.LockName}")
  private var closed = false
  if (!readOnly) {
    if (!fs.exists(new Path(dir))) fs.mkdirs(new Path(dir))
    def holder: String =
      try {
        val in = fs.open(lockPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.take(120)
        finally in.close()
      } catch { case _: Throwable => "unknown holder" }
    val stamp = (s"pid ${ProcessHandle.current().pid()}@" +
      s"${java.net.InetAddress.getLocalHost.getHostName} " +
      s"since ${java.time.Instant.now()}").getBytes("UTF-8")
    val qualified = fs.makeQualified(lockPath)
    try {
      if (qualified.toUri.getScheme == "file") {
        val nio = java.nio.file.Paths.get(qualified.toUri.getPath)
        java.nio.file.Files.createFile(nio) // atomic O_EXCL claim
        java.nio.file.Files.write(nio, stamp)
      } else {
        val out = fs.create(lockPath, false)
        out.write(stamp)
        out.close()
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new LockObtainFailedException(dir, holder)
      case e: java.io.IOException =>
        if (!fs.exists(lockPath)) throw e // genuine fs failure, not contention
        throw new LockObtainFailedException(dir, holder)
    }
  }

  private def ensureWritable(): Unit = {
    if (closed) throw new IllegalStateException(
      s"this Indexer is closed (AlreadyClosedException): $dir")
    if (readOnly) throw new IllegalStateException(
      s"read-only handle (no write.lock held): $dir")
  }

  /** Commit pending changes, then release the write lock — the reference's
    * non-error `__exit__` (indexers.py:606-611: commit() then close();
    * Lucene commitOnClose default). Idempotent. Use [[rollback]] to discard
    * the uncommitted buffer instead.
    *
    * Exception-safe: if the implicit commit throws (transient Spark/FS
    * failure), the handle still closes and RELEASES write.lock before
    * rethrowing — a try-with-resources caller must never leak the lock from
    * a clean process exit (Lucene's close-failure → rollback guidance). The
    * uncommitted buffer is discarded on that path, exactly as rollback()
    * would; committed state is untouched.
    */
  override def close(): Unit = if (!closed) {
    try {
      if (!readOnly && (buf.nonEmpty || pendingDeletes.nonEmpty)) commit()
    } catch {
      case e: Throwable =>
        closed = true
        if (!readOnly) { try fs.delete(lockPath, false) catch { case _: Throwable => () } }
        throw e
    }
    closed = true
    if (!readOnly) { fs.delete(lockPath, false); () }
  }

  /** Discard buffered-but-uncommitted docs/deletes and release the lock —
    * the reference's error-path `__exit__` (rollback(); indexers.py:607-608).
    * Committed state is untouched.
    */
  def rollback(): Unit = if (!closed) {
    buf.clear(); pendingDeletes.clear()
    nrtBuf = Seq.empty; nrtDeletes = Seq.empty
    cachedSearcher = None
    closed = true
    if (!readOnly) { fs.delete(lockPath, false); () }
  }

  /** Driver-side buffer bound (Lucene IndexWriterConfig.setMaxBufferedDocs /
    * the ramBufferSizeMB flush trigger): `buf` holds the uncommitted batch
    * in DRIVER memory, so an unbounded add() loop without commit() would
    * eventually exhaust it. Once this many docs are buffered, add() spills
    * them as a segment via an implicit commit() — queued deletes resolve
    * first against the pre-spill view, exactly as an explicit commit, so
    * operation order (delete-then-add) is preserved across the spill.
    * 0 (the default) disables auto-flush (explicit commit() only). The
    * facade is the small-batch door — bulk ingest belongs to IndexBuilder/
    * CheckpointedBuild/StreamingIndexer, which never buffer on the driver.
    *
    * OPT-IN because the spill is a DURABLE commit, not a Lucene flush: once
    * one fires, [[rollback]] can no longer discard the spilled docs or the
    * queued deletes that committed with them (Lucene's setMaxBufferedDocs
    * flushes an uncommitted segment that rollback() still drops; this
    * engine's only durability unit is the commit). Callers who enable it
    * accept that rollback() only covers the tail since the last spill.
    */
  var maxBufferedDocs: Int = 0

  /** Buffer one document (field → value map; missing fields become null).
    * Spills to a committed segment at [[maxBufferedDocs]].
    */
  def add(doc: (String, Any)*): Unit = {
    ensureWritable()
    val m = doc.toMap
    buf += Row.fromSeq(sourceSchema.fieldNames.toSeq.map(f => m.get(f).orNull))
    if (maxBufferedDocs > 0 && buf.size >= maxBufferedDocs) commit()
    // auto-flush is opt-in (rollback durability, above) — but its OFF state
    // must not fail SILENTLY by OOM: warn at every 100k buffered (the old
    // auto-flush default) so an unbounded add() loop names itself (advisor r6)
    else if (maxBufferedDocs == 0 && buf.size % 100000 == 0)
      System.err.println(s"[graft.Indexer] ${buf.size} docs buffered on the DRIVER with " +
        "auto-flush disabled (maxBufferedDocs = 0) — commit() to spill, or set " +
        "maxBufferedDocs (accepting that each spill is a durable commit rollback " +
        "cannot discard)")
  }

  /** Queue a delete-by-query, applied at commit (tombstones). */
  def delete(q: Query): Unit = { ensureWritable(); pendingDeletes += q; () }

  /** Atomic delete-by-query + re-add (IndexWriter.update semantics). */
  def update(matchQ: Query, doc: (String, Any)*): Unit = {
    delete(matchQ)
    add(doc: _*)
  }

  /** Docvalues-only update fast path (IndexWriter.update →
    * updateDocValues when no indexed/stored field changes,
    * /root/reference/lupyne/engine/indexers.py:563-576; behavior pinned at
    * tests/test_engine.py:695-704): rewrite doc-store COLUMNS for docs
    * matching the query, leaving every posting block untouched — no
    * reindex, no new segment. Persisted as a generation-ordered column-
    * update sidecar applied at open (Lucene's docvalues-update "dv gen"
    * files, Spark-shaped); later generations win.
    */
  def updateDocValues(matchQ: Query, values: (String, Any)*): Unit = {
    ensureWritable()
    val indexed = values.map(_._1).filter(schema.fields.contains)
    require(indexed.isEmpty,
      s"fields ${indexed.mkString(", ")} are indexed — use update() (delete + re-add)")
    // key columns define docId identity (DocIds.assign) — rewriting one would
    // mint duplicate keys that a later compact() re-densifies over
    val keys = values.map(_._1).filter(schema.keyColumns.contains)
    require(keys.isEmpty, s"fields ${keys.mkString(", ")} are docId key columns — immutable")
    // DISTRIBUTED end-to-end: the matched docIds stay a DataFrame and the
    // update values attach as literal columns — a matchQ matching millions of
    // docs writes straight to the sidecar without ever materializing on the
    // driver. A per-column __set_ flag distinguishes "update to NULL" (clears
    // the value, Lucene updateDocValues(field, null)) from "row not updated".
    // lit() rejects Seq/Map values ("Unsupported literal type") — array-typed
    // docvalue columns are legal update targets, so build those literals
    // element-wise from the public functions API
    def litAny(v: Any): org.apache.spark.sql.Column = v match {
      case s: scala.collection.Seq[_] => array(s.toSeq.map(litAny): _*)
      case m: scala.collection.Map[_, _] =>
        map(m.toSeq.flatMap { case (k, x) => Seq(litAny(k), litAny(x)) }: _*)
      case other => lit(other)
    }
    val upd = values.foldLeft(committedSearcher.eval(matchQ).select("docId")) { case (d, (name, v)) =>
      d.withColumn(name, litAny(v).cast(sourceSchema(name).dataType))
        .withColumn(s"__set_$name", lit(true))
    }
    if (upd.isEmpty) return // no matches ⇒ no generation (bounded take-1 probe)
    val gen = {
      val p = new Path(s"$dir/dvupdates")
      if (!fs.exists(p)) 0 else fs.listStatus(p).length
    }
    upd.write.mode("overwrite").parquet(f"$dir/dvupdates/gen=$gen%06d")
    coalesceDvGens()
    refresh()
  }

  /** Apply the docvalues-update sidecar: all generations fold into ONE
    * per-docId aggregate (per column, the LATEST generation that set it
    * wins — max_by on the generation index), then ONE join against the doc
    * store. The round-2 shape was a chain of N broadcast joins, one per
    * generation — unbounded plan growth on every open and a forced broadcast
    * of arbitrarily large generations; this is one shuffle of the (bounded,
    * one row per updated doc) sidecar and a join AQE is free to broadcast
    * when it IS small. Legacy generations without __set_ flags keep their
    * non-null-overwrite semantics (flag := value IS NOT NULL).
    */
  /** Generation dirs that still MATTER for the merged view: a coalesced
    * generation (marked `_COALESCED`) supersedes every generation sorting
    * before it, so reads start at the last such marker. Superseded dirs are
    * kept on disk — snapshot() pins name them, and parquet+marker files are
    * immutable — bounding the OPEN-TIME plan without breaking pins; compact()
    * eventually drops the whole sidecar.
    */
  private def liveDvGens: Array[Path] = {
    val p = new Path(s"$dir/dvupdates")
    if (!fs.exists(p)) return Array.empty
    val gens = fs.listStatus(p).map(_.getPath).sortBy(_.getName)
    val lastCoal = gens.lastIndexWhere(g => fs.exists(new Path(g, "_COALESCED")))
    if (lastCoal <= 0) gens else gens.drop(lastCoal)
  }

  /** Merge generations into ONE per-docId row: per column, the LATEST
    * generation that set it wins (max_by on the generation index); the
    * `__updset_` flag records whether ANY generation set it.
    */
  private def mergedDvUpdates(gens: Array[Path]): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val normalized = gens.zipWithIndex.map { case (g, i) =>
      var u = spark.read.parquet(g.toString)
      u.columns.filterNot(c => c == "docId" || c.startsWith("__set_")).foreach { c =>
        if (!u.columns.contains(s"__set_$c"))
          u = u.withColumn(s"__set_$c", col(c).isNotNull)
      }
      u.withColumn("__gen", lit(i))
    }
    val all = normalized.reduce(_.unionByName(_, allowMissingColumns = true))
    val ucols = all.columns.filterNot(c => c == "docId" || c == "__gen" || c.startsWith("__set_")).toSeq
    val aggs = ucols.flatMap { c =>
      // rows from generations that did not set c have a null ordering key and
      // are ignored by max_by; the merged flag records whether ANY gen set c
      Seq(
        max_by(col(c), when(coalesce(col(s"__set_$c"), lit(false)), col("__gen"))).as(s"__upd_$c"),
        max(coalesce(col(s"__set_$c"), lit(false))).as(s"__updset_$c"))
    }
    (all.groupBy("docId").agg(aggs.head, aggs.tail: _*), ucols)
  }

  private def applyDvUpdates(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val gens = liveDvGens
    if (gens.isEmpty) return docs
    val (merged, ucols) = mergedDvUpdates(gens)
    val joined = docs.join(merged, Seq("docId"), "left")
    ucols.foldLeft(joined) { (x, c) =>
      x.withColumn(c, when(coalesce(col(s"__updset_$c"), lit(false)),
        col(s"__upd_$c")).otherwise(col(c)))
    }.drop(ucols.flatMap(c => Seq(s"__upd_$c", s"__updset_$c")): _*)
  }

  /** Open-time plan bound: once this many live generations accumulate, the
    * next updateDocValues folds them into one on-disk generation.
    */
  var dvCoalesceThreshold: Int = 32

  /** Fold every live generation into ONE (a `_COALESCED`-marked generation
    * whose per-docId row carries each column's winning value + set flag):
    * 50 scattered updates become a single parquet read at every subsequent
    * open instead of a 50-way unionByName. Nothing is deleted — pinned
    * generation files stay immutable and later opens simply start reading at
    * the marker.
    */
  private def coalesceDvGens(): Unit = {
    val gens = liveDvGens
    if (gens.length < dvCoalesceThreshold) return
    val (merged, ucols) = mergedDvUpdates(gens)
    val folded = ucols.foldLeft(merged) { (x, c) =>
      x.withColumnRenamed(s"__upd_$c", c).withColumnRenamed(s"__updset_$c", s"__set_$c")
    }
    val next = fs.listStatus(new Path(s"$dir/dvupdates")).length
    val out = f"$dir/dvupdates/gen=$next%06d"
    folded.write.mode("overwrite").parquet(out)
    fs.create(new Path(out, "_COALESCED"), true).close()
  }

  /** Durably commit buffered adds (one segment) and queued deletes. */
  def commit(): Unit = {
    ensureWritable()
    // deletes resolve against the pre-commit view (delete-then-add order,
    // matching IndexWriter.update) and stay DISTRIBUTED end-to-end: the
    // matched docIds write straight to the tombstone table — a broad
    // delete-by-query never materializes on the driver. Writing them BEFORE
    // the segment append is equivalent (new docs cannot match a pre-add
    // view) and keeps the resolution snapshot unambiguous. A non-NRT
    // handle's serving view IS the committed view: reuse the open one.
    if (pendingDeletes.nonEmpty && fs.exists(new Path(s"$dir/segments"))) {
      val s = if (nrt) committedSearcher else searcher
      val ids = pendingDeletes.map(q => s.eval(q).select("docId"))
        .reduce(_ unionByName _).distinct()
      // empty writes would leave a schema-less (part-file-free) parquet dir
      if (!ids.isEmpty) ids.write.mode("append").parquet(s"$dir/deletes")
    }
    if (buf.nonEmpty) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(buf.toSeq, math.max(1, buf.size / 10000)), sourceSchema)
      val lineage = Lineage.read(spark, dir) // next id and docId offset
      StreamingIndexer.appendSegment(df, schema, dir, lineage.nextSegId, lineage)
      buf.clear()
    }
    pendingDeletes.clear()
    refresh()
    // write-side maintenance (Lucene MergePolicy runs merges automatically
    // as segments accumulate): bound the live segment count so a long
    // add/commit loop cannot grow an unbounded micro-segment tail
    if (autoMergeSegments > 0) forceMerge(autoMergeSegments)
  }

  /** When > 0, every commit() folds the smallest live segments down to this
    * many (Lucene's automatic MergePolicy, opt-in). 0 = merges only on
    * explicit [[forceMerge]]/`commit(merge=)`.
    */
  var autoMergeSegments: Int = 0

  /** Latest committed view, tombstones applied. A never-committed directory
    * behaves as an empty index (the reference supports querying one). The
    * write paths (commit's delete resolution, updateDocValues, compact)
    * always use THIS view — their docIds must reference committed docs, never
    * the NRT overlay's rebased ones.
    */
  private def committedSearcher: Searcher = {
    // A compact() that crashed between archiving the live tree and swapping
    // the rebuilt one in leaves this marker: the directory must fail LOUDLY
    // instead of opening as an empty index and silently serving zero docs
    // (the data is intact under archive/ + .compact-tmp).
    if (fs.exists(new Path(s"$dir/.compact-inflight")))
      throw new java.io.IOException(
        s"$dir has an unfinished compact() (.compact-inflight marker present) — " +
          "recover from archive/ + .compact-tmp before opening")
    // Likewise a vacuumDeletes() that crashed mid-swap: serving the view
    // without its tombstone table would RESURRECT deleted docs — fail loudly
    // (the old table is intact at .deletes-old, the rewrite at .deletes-tmp).
    if (fs.exists(new Path(s"$dir/.deletes-vacuum-inflight")))
      throw new java.io.IOException(
        s"$dir has an unfinished vacuumDeletes() (.deletes-vacuum-inflight marker " +
          "present) — restore deletes/ from .deletes-old before opening")
    if (!fs.exists(new Path(s"$dir/segments")))
      return new Searcher(IndexBuilder.build(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sourceSchema), schema))
    val base = StreamingIndexer.open(spark, dir, schema)
    val withDv = new Index(spark, base.schema, applyDvUpdates(base.docs), base.blocks,
      base.termDict, base.fieldStats)
    val idx =
      if (fs.exists(new Path(s"$dir/deletes")))
        withDv.withDeletes(IndexBuilder.readDeletes(spark, s"$dir/deletes"))
      else withDv
    new Searcher(idx)
  }

  /** The serving view. With `nrt = true` (reference `Indexer(dir, nrt=True)`,
    * indexers.py:624-631; behavior pinned at tests/test_engine.py:600-610),
    * the docs and deletes buffered at the last [[refresh]] overlay the
    * committed view: the buffer becomes an in-memory segment rebased past the
    * committed docIds ([[MultiIndex.union]], metadata-only) and the pending
    * delete queries apply as view tombstones — uncommitted state is
    * searchable without a single durable write, while a separate reader of
    * the same directory keeps seeing only commits.
    */
  def searcher: Searcher = cachedSearcher.getOrElse {
    val committed = committedSearcher
    val s =
      if (!nrt || (nrtBuf.isEmpty && nrtDeletes.isEmpty)) committed
      else {
        val viewIdx =
          if (nrtBuf.isEmpty) committed.index
          else {
            val df = spark.createDataFrame(
              spark.sparkContext.parallelize(nrtBuf, math.max(1, nrtBuf.size / 10000)),
              sourceSchema)
            MultiIndex.union(Seq(committed.index, IndexBuilder.build(df, schema)))
          }
        // pending deletes resolve against the COMMITTED view only — commit()
        // resolves them pre-add (delete-then-add, the LifecyclePropertySpec
        // contract), so an update(q, doc) + refresh() must not tombstone the
        // doc it just re-added (Lucene updateDocument never deletes its own
        // add). Committed docIds are stable under the union (the buffered
        // segment rebases PAST them), so the tombstones transfer directly.
        if (nrtDeletes.isEmpty) new Searcher(viewIdx)
        else {
          val ids = nrtDeletes.map(q => committed.eval(q).select("docId"))
            .reduce(_ unionByName _).distinct()
          new Searcher(viewIdx.withDeletes(ids))
        }
      }
    cachedSearcher = Some(s)
    s
  }

  /** Whether the serving view reflects all writer state (Lucene
    * IndexReader.isCurrent surfaced as the reference's `current`): an NRT
    * indexer is current once refresh() captured the buffer; a committed-view
    * indexer only when nothing is buffered.
    */
  def current: Boolean =
    if (nrt) nrtBuf == buf.toSeq && nrtDeletes == pendingDeletes.toSeq
    else buf.isEmpty && pendingDeletes.isEmpty

  /** Compact every committed segment into ONE (reference
    * `Indexer.commit(merge=1)` / forceMerge + forceMergeDeletes,
    * indexers.py:648-661): rebuild from the current LIVE view — tombstones
    * and docvalue updates are applied and then dropped, docIds re-densify by
    * the schema's key order (Lucene merges also remap docIds). The new
    * segment is built in a scratch dir first, then swapped in atomically
    * enough for a single writer.
    */
  def compact(): Unit = {
    ensureWritable()
    val live = committedSearcher.index
    val rows = live.deletes match {
      case None    => live.docs
      case Some(d) => live.docs.join(d, Seq("docId"), "left_anti")
    }
    val src = rows.select(sourceSchema.fieldNames.map(Cols.qcol): _*)
    val tmp = s"$dir/.compact-tmp"
    fs.delete(new Path(tmp), true)
    StreamingIndexer.appendSegment(src, schema, tmp, 0L)
    val built = fs.exists(new Path(s"$tmp/segments")) // empty index ⇒ nothing written
    // The old commit is ARCHIVED, never deleted: snapshot() pins stay valid
    // across compaction (Lucene SnapshotDeletionPolicy semantics) until an
    // explicit vacuum(). Every move is a checked rename — a false return or a
    // crash here is loud and the data remains under archive/ + .compact-tmp.
    val gen = {
      val p = new Path(s"$dir/archive")
      if (!fs.exists(p)) 0 else fs.listStatus(p).length
    }
    val archDir = f"$dir/archive/gen=$gen%06d"
    fs.mkdirs(new Path(archDir))
    // commit marker: between archiving the live tree and swapping the rebuilt
    // one in, the live tree is empty — a crash in that window must make the
    // next open fail loudly (searcher checks this marker), not serve an
    // empty index. Created before the first rename, removed after the last.
    val inflight = new Path(s"$dir/.compact-inflight")
    fs.create(inflight, true).close()
    Seq("docs", "postings", "segments", "deletes", "dvupdates").foreach { sub =>
      val src0 = new Path(s"$dir/$sub")
      if (fs.exists(src0))
        require(fs.rename(src0, new Path(s"$archDir/$sub")), s"archive rename failed: $src0")
    }
    if (built) Seq("docs", "postings", "segments").foreach { sub =>
      require(fs.rename(new Path(s"$tmp/$sub"), new Path(s"$dir/$sub")),
        s"compact swap-in failed for $sub — rebuilt data is in $tmp, prior commit in $archDir")
    }
    fs.delete(inflight, false)
    fs.delete(new Path(tmp), true)
    refresh()
  }

  // ---------------------------------------------------------------- merging

  /** Lucene forceMerge(maxSegments) (reference `commit(merge=N)`,
    * indexers.py:648-661): fold the SMALLEST live segments (by compressed
    * bytes — the small-file problem is the thing being fixed) into one until
    * at most `maxSegments` remain. Unlike [[compact]] this is INCREMENTAL —
    * big segments are untouched, docIds keep their assigned values (gaps
    * where tombstoned docs purge), and the cost is proportional to the
    * folded bytes, not the index: at 100 TB a full rewrite is a cluster-day,
    * folding the micro-batch tail is minutes.
    */
  def forceMerge(maxSegments: Int): Unit = {
    ensureWritable()
    require(maxSegments >= 1, s"maxSegments must be >= 1 (got $maxSegments)")
    val lineage = Lineage.read(spark, dir)
    val live = lineage.live
    if (live.length <= maxSegments) return
    mergeSegments(live.sortBy(m => (m.bytesCompressed, m.id)).take(live.length - maxSegments + 1),
      lineage.nextSegId)
  }

  /** Lucene forceMergeDeletes (reference `commit(merge=True)`): fold every
    * live segment holding tombstoned docs into one purged segment. The
    * tombstone table itself is untouched (pins name its part-files); its
    * entries for purged docs become vacuous no-ops.
    *
    * `autoVacuum = true` chains [[vacuumDeletes]] in the same call — the
    * common ops loop (purge, then reclaim the now-vacuous tombstones so the
    * next searcher's WAND liveDocs shrink) as ONE call. Pins-aware: the
    * vacuum half refuses (and the purge half still stands) when a declared
    * pin names the current tombstone files.
    */
  def forceMergeDeletes(autoVacuum: Boolean = false,
      pins: Seq[IndexPin] = Seq.empty): Unit = {
    forceMergeDeletesImpl()
    if (autoVacuum) { vacuumDeletes(pins); () }
  }

  private def forceMergeDeletesImpl(): Unit = {
    ensureWritable()
    lastDeleteDiscoveryCandidates = Seq.empty
    if (!fs.exists(new Path(s"$dir/deletes"))) return
    val lineage = Lineage.read(spark, dir)
    val live = lineage.live
    if (live.isEmpty) return
    import spark.implicits._
    val del = IndexBuilder.readDeletes(spark, s"$dir/deletes").distinct()
    // Discovery WITHOUT a corpus scan: the lineage already knows each live
    // segment's covering docId interval [firstDocId, maxDocId], so candidates
    // come from joining the (small) distinct tombstoned docIds against the
    // broadcast interval list — cost ∝ |deletes| × |segments| over metadata,
    // never O(corpus). The candidate set can over-approximate (a merged
    // segment's interval may overlap other live segments' and already-purged
    // tombstones stay in the table as vacuous no-ops), so a verify join runs
    // next — but partition-pruned to the CANDIDATE segment directories only,
    // keeping repeat calls idempotent without rescanning the index.
    val intervals = live.map(m => (m.id, m.firstDocId, m.maxDocId)).toDF("segment", "__lo", "__hi")
    val candidates = del
      .join(broadcast(intervals), col("docId").between(col("__lo"), col("__hi")))
      .select("segment").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    lastDeleteDiscoveryCandidates = candidates
    if (candidates.isEmpty) return
    val affected = spark.read.option("mergeSchema", "true").parquet(s"$dir/docs")
      .filter(col("segment").isin(candidates: _*)) // partition-pruned scan
      .join(del, Seq("docId"))
      .select("segment").distinct()
      .collect().map(_.getAs[Number]("segment").longValue()).toSet
    if (affected.isEmpty) return
    mergeSegments(live.filter(m => affected.contains(m.id)), lineage.nextSegId)
  }

  /** Discovery evidence (tests/bench): the candidate segment ids the last
    * [[forceMergeDeletes]] derived from the LINEAGE intervals before its
    * partition-pruned verify — the proof the discovery step consulted
    * metadata, not a corpus scan.
    */
  private[graft] var lastDeleteDiscoveryCandidates: Seq[Long] = Seq.empty

  /** commit + forceMerge(maxSegments) — the reference's `commit(merge=N)`. */
  def commit(merge: Int): Unit = { commit(); if (merge > 0) forceMerge(merge) } // 0 = falsy, no merge

  /** commit + forceMergeDeletes — the reference's `commit(merge=True)`. */
  def commit(mergeDeletes: Boolean): Unit = { commit(); if (mergeDeletes) forceMergeDeletes() }

  /** Reclaim the disk of merge-superseded segments (Lucene's
    * IndexDeletionPolicy deciding which old commits may drop): a superseded
    * directory is deletable once no outstanding pin names it. Pins live in
    * caller memory ([[snapshot]] returns a value), so the caller DECLARES
    * the pins still outstanding — anything a declared pin names survives.
    * Segments already moved to `archive/` by a compact are untouched
    * ([[vacuum]] owns those).
    *
    * @return segment ids whose directories were deleted
    */
  def vacuumMerged(outstandingPins: Seq[IndexPin] = Seq.empty): Seq[Long] = {
    ensureWritable()
    val lineage = Lineage.read(spark, dir)
    val live = lineage.liveIds.toSet
    val pinned = outstandingPins.flatMap(_.segmentIds).toSet
    val dead = lineage.allIds.filterNot(live).filterNot(pinned)
    // report only ids actually reclaimed NOW (idempotent across calls —
    // a prior vacuum's ids stay dead in the lineage forever)
    dead.filter { id =>
      Seq("docs", "postings")
        .map(sub => fs.delete(new Path(s"$dir/$sub/segment=$id"), true))
        .exists(identity)
    }
  }

  /** Reclaim VACUOUS tombstones — the other half of the deletes story at
    * scale. The tombstone table is append-only (pins name its part-files),
    * so after [[forceMergeDeletes]]/merges purge the underlying docs, the
    * entries remain as no-ops yet every open still anti-joins them and WAND
    * still broadcasts them: a long-lived 100 TB index accumulates an
    * unbounded dead-tombstone working set. Lucene drops whole .liv files at
    * merge; here reclaim is an explicit vacuum with the SAME declared-pin
    * contract as [[vacuumMerged]] — if any outstanding pin names a current
    * delete part-file, the vacuum refuses (returns -1) rather than break a
    * pinned commit's copy().
    *
    * A tombstone is LIVE iff its docId still matches a live doc; candidates
    * come from the lineage interval lookup (no corpus scan — the same
    * discovery as forceMergeDeletes), and the membership probe is
    * partition-pruned to candidate segment dirs. Crash-safe swap: the old
    * table moves to `.deletes-old` behind an inflight marker (open fails
    * LOUDLY mid-swap instead of resurrecting deleted docs), then the
    * rewritten table renames in and both artifacts drop.
    *
    * @return tombstone rows dropped (0 = nothing vacuous), or -1 when
    *         skipped because a declared pin names the current files
    */
  def vacuumDeletes(outstandingPins: Seq[IndexPin] = Seq.empty): Long = {
    ensureWritable()
    val delDir = new Path(s"$dir/deletes")
    if (!fs.exists(delDir)) return 0L
    val current = fs.listStatus(delDir).map(_.getPath.getName).filterNot(_.startsWith("_")).toSet
    val pinnedFiles = outstandingPins.flatMap(_.deleteFiles).toSet
    if (current.exists(pinnedFiles.contains)) return -1L
    import spark.implicits._
    val del = IndexBuilder.readDeletes(spark, s"$dir/deletes").distinct()
    val total = del.count()
    if (total == 0L) return 0L
    val live = Lineage.read(spark, dir).live
    val candidates =
      if (live.isEmpty) Seq.empty[Long]
      else {
        val intervals = live.map(m => (m.id, m.firstDocId, m.maxDocId)).toDF("segment", "__lo", "__hi")
        del.join(broadcast(intervals), col("docId").between(col("__lo"), col("__hi")))
          .select("segment").distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
      }
    val keep =
      if (candidates.isEmpty) del.limit(0)
      else del.join(
        spark.read.option("mergeSchema", "true").parquet(s"$dir/docs")
          .filter(col("segment").isin(candidates: _*)).select("docId"), // partition-pruned
        Seq("docId"), "left_semi")
    val tmp = new Path(s"$dir/.deletes-tmp")
    fs.delete(tmp, true)
    // materialize the rewrite BEFORE touching the source table
    keep.write.mode("overwrite").parquet(tmp.toString)
    val kept = IndexBuilder.readDeletes(spark, tmp.toString).count()
    if (kept == total) { fs.delete(tmp, true); return 0L }
    val old = new Path(s"$dir/.deletes-old")
    val inflight = new Path(s"$dir/.deletes-vacuum-inflight")
    fs.delete(old, true)
    fs.create(inflight, true).close()
    try require(fs.rename(delDir, old), s"vacuumDeletes: archive rename failed for $delDir")
    catch {
      case e: Throwable =>
        // nothing actually moved (deletes/ intact) — clear the marker so
        // open() stays serviceable; only a genuine mid-swap crash (deletes/
        // absent, marker present) should trip the open() guard (advisor r5)
        if (fs.exists(delDir)) { try fs.delete(inflight, false) catch { case _: Throwable => () } }
        throw e
    }
    if (kept > 0L)
      require(fs.rename(tmp, delDir), s"vacuumDeletes: swap-in failed — old table at $old")
    else fs.delete(tmp, true) // nothing live: an absent deletes/ IS the empty table
    fs.delete(inflight, false)
    fs.delete(old, true)
    refresh()
    total - kept
  }

  /** Per-segment integrity check with an optional repair path (reference
    * `IndexWriter.check(directory, repair)`, indexers.py:528-536; Lucene
    * CheckIndex + exorciseIndex). Each live segment is validated in
    * isolation — its own partition directories only, so one corrupt file
    * cannot poison the whole sweep — by decoding every posting block and
    * re-asserting the block invariants (count, skip pointers, monotone
    * docIds, block-max metadata) plus a doc-store read.
    *
    * Without `repair`, any corruption throws (the existing `Index.check`
    * posture). With `repair = true`, each corrupt segment is EXORCISED:
    * its directories move to `corrupt/` (quarantine — a bad parquet footer
    * under docs/ or postings/ would fail every later schema-merged open,
    * and the dirs stay on disk there for forensics), then it is marked
    * superseded in the lineage through the same single-append publish the
    * merge path uses, so readers atomically stop serving it. Quarantine
    * precedes the marker and both steps are idempotent — a retry after a
    * crash in between re-detects the missing dir and completes the marker.
    * The 100 TB recovery story becomes drop-the-segment + re-ingest its
    * rows (the lineage's per-segment metrics say exactly what was lost).
    */
  def check(repair: Boolean = false): CheckReport = {
    if (repair) ensureWritable()
    val live = Lineage.read(spark, dir).live
    val results: Seq[(LiveSegment, Option[String])] = live.map { m =>
      val id = m.id
      val err =
        try {
          IndexBuilder.asBlocks(IndexBuilder.readPostings(spark, s"$dir/postings/segment=$id"))
            .foreach { b: PostingBlock =>
              val ps = PostingCodec.decodeBlock(b, withPositions = true)
              require(ps.length == b.numDocs, s"numDocs mismatch in ${b.field}:${b.term}")
              require(ps.head.docId == b.firstDocId && ps.last.docId == b.lastDocId,
                s"skip-pointer mismatch in ${b.field}:${b.term}")
              ps.sliding(2).foreach {
                case Array(a, c) => require(a.docId < c.docId, "non-monotone docIds")
                case _           =>
              }
              require(ps.map(_.tf).max == b.maxTf && ps.map(_.tf.toLong).sum == b.sumTf,
                s"block-max metadata mismatch in ${b.field}:${b.term}")
            }
          spark.read.parquet(s"$dir/docs/segment=$id").select("docId").count()
          None
        } catch {
          case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        }
      (m, err)
    }
    val bad = results.collect { case (m, Some(e)) => (m, e) }
    if (bad.isEmpty) return CheckReport(live.map(_.id), Seq.empty, 0L, Map.empty)
    if (!repair)
      throw new java.io.IOException(
        s"corrupt segments [${bad.map(_._1.id).mkString(",")}] in $dir — " +
          s"first failure: ${bad.head._2}; run check(repair = true) to exorcise them")
    bad.foreach { case (m, _) =>
      Seq("docs", "postings").foreach { sub =>
        val src = new Path(s"$dir/$sub/segment=${m.id}")
        if (fs.exists(src)) {
          fs.mkdirs(new Path(s"$dir/corrupt/$sub"))
          require(fs.rename(src, new Path(s"$dir/corrupt/$sub/segment=${m.id}")),
            s"quarantine rename failed: $src")
        }
      }
    }
    import spark.implicits._
    val markers = bad.map { case (m, _) =>
      CheckpointedBuild.SegmentMeta(m.id.toInt, 0L, 0L, 0L, 0L, 0.0, "superseded", 0L)
    }
    spark.createDataset(markers).coalesce(1).write.mode("append").parquet(s"$dir/segments")
    refresh()
    CheckReport(live.map(_.id), bad.map(_._1.id), bad.map(_._1.docsIndexed).sum,
      bad.map { case (m, e) => m.id -> e }.toMap)
  }

  /** Fold the given segments into ONE new segment. docIds are global (each
    * append rebased them past all priors), so the fold is file-level: union
    * the docs, union the posting blocks — no re-tokenize, no docId remap.
    * Docs tombstoned at merge time are PURGED from both (Lucene merges drop
    * deleted docs; docFreq/docCount/avgdl shrink accordingly, exactly as a
    * fresh index over the live rows would report). Purging the blocks is an
    * EQUI-join: blocks never span a salt bucket, so each block meets only
    * its own bucket's tombstones — no broadcast of the full delete set, no
    * range join. Sources are marked `superseded` in the lineage; their
    * directories stay on disk so pinned commits keep resolving
    * ([[snapshot]]/[[copy]]), and [[compact]] remains the vacuum.
    *
    * Crash-safe: the new segment's directories are fully written BEFORE the
    * single lineage append that publishes them — a crash in between leaves
    * an orphan directory that open() never serves (it reads live lineage
    * ids only) and that a retry overwrites.
    */
  private def mergeSegments(metas: Seq[LiveSegment], newId: Long): Unit = {
    require(metas.nonEmpty)
    import spark.implicits._
    val ids = metas.map(_.id)
    val t0 = System.nanoTime()
    val delOpt =
      if (fs.exists(new Path(s"$dir/deletes")))
        Some(IndexBuilder.readDeletes(spark, s"$dir/deletes").distinct())
      else None
    val docs0 = spark.read.option("mergeSchema", "true").parquet(s"$dir/docs")
      .filter(col("segment").isin(ids: _*)).drop("segment")
    val docs = delOpt.fold(docs0)(d => docs0.join(d, Seq("docId"), "left_anti"))
    val n = CheckpointedBuild.writeDocs(docs, s"$dir/docs/segment=$newId")

    val blockCols = IndexBuilder.PostingColumns
    val blocks0 = IndexBuilder.readPostings(spark, s"$dir/postings")
      .filter(col("segment").isin(ids: _*))
      .select(blockCols.map(col): _*)
    val blocks = delOpt.fold(blocks0) { d =>
      val delB = d
        .groupBy(shiftrightunsigned(col("docId"), IndexBuilder.SaltShift).as("bucket"))
        .agg(sort_array(collect_list(col("docId"))).as("dels"))
      blocks0
        .withColumn("bucket", shiftrightunsigned(col("firstDocId"), IndexBuilder.SaltShift))
        .join(delB, Seq("bucket"), "left")
        .select(struct(blockCols.map(col): _*).as("b"), col("dels"))
        .as[(PostingBlock, Array[Long])]
        .flatMap { case (b, dels) =>
          if (dels == null || dels.isEmpty) Iterator.single(b)
          else {
            val keep = PostingCodec.decodeBlock(b, withPositions = true,
                withPayloads = true, withOffsets = true)
              .filterNot(p => java.util.Arrays.binarySearch(dels, p.docId) >= 0)
            if (keep.isEmpty) Iterator.empty
            else if (keep.length == b.numDocs) Iterator.single(b)
            else Iterator.single(PostingCodec.encodeBlock(b.field, b.term, keep.toSeq))
          }
        }
        .toDF(blockCols: _*)
    }
    val m = CheckpointedBuild.writeBlocks(blocks, schema, s"$dir/postings/segment=$newId")
    val rows = CheckpointedBuild.SegmentMeta(newId.toInt, metas.map(_.firstDocId).min, n,
        m.postingsWritten, m.bytesCompressed, (System.nanoTime() - t0) / 1e9, "merged",
        maxDocId = metas.map(_.maxDocId).max, // union of source intervals, metadata-only
        fieldStats = Some(m.fieldStats)) +:
      ids.map(id => CheckpointedBuild.SegmentMeta(id.toInt, 0L, 0L, 0L, 0L, 0.0, "superseded", 0L))
    // ONE append publishes the merge atomically (merged row + all markers in
    // a single part-file): readers see the fold entirely or not at all
    spark.createDataset(rows).coalesce(1).write.mode("append").parquet(s"$dir/segments")
    refresh()
  }

  /** Drop the CONTENT of all archived (pre-compaction) commits — releases
    * every pin taken before the last compact (Lucene snapshot release +
    * deletion policy). The empty generation directories remain as markers so
    * generation numbering stays monotone: a stale pin must fail loudly, not
    * resolve against an unrelated commit that re-used its generation number.
    */
  def vacuum(): Unit = {
    val arch = new Path(s"$dir/archive")
    // delete only the CONTENTS of each generation dir — the marker dir never
    // disappears, so a crash mid-vacuum cannot shrink the generation count
    // (copy() resolves pins by epoch == count; a lost marker would let a
    // later compact re-use the number and a stale pin resolve wrongly)
    if (fs.exists(arch)) fs.listStatus(arch).foreach { g =>
      fs.listStatus(g.getPath).foreach(c => fs.delete(c.getPath, true))
    }
  }

  /** Pin the current commit (reference IndexWriter.snapshot,
    * indexers.py:594-601): segments are immutable directories, so a pin is
    * just the set of committed segment ids — the writer keeps advancing and
    * the pinned files stay valid (nothing deletes committed segments).
    */
  def snapshot(): IndexPin = {
    def ls(sub: String): Seq[String] = {
      val p = new Path(s"$dir/$sub")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName).filterNot(_.startsWith("_")).sorted.toSeq
    }
    val segs = Lineage.read(spark, dir).liveIds // merged-away dirs stay pinned via old pins only
    // epoch = the archive generation the NEXT compact would move this commit
    // to; segment ids restart per compaction, so the epoch disambiguates a
    // pre-compact pin's segment=0 from a post-compact live segment=0
    val epoch = {
      val p = new Path(s"$dir/archive")
      if (!fs.exists(p)) 0 else fs.listStatus(p).length
    }
    IndexPin(segs, ls("deletes"), ls("dvupdates"), epoch)
  }

  /** Copy a pinned commit to `dst` as a standalone index directory
    * (reference `engine.indexers.copy(commit, path)`,
    * indexers.py:60-77 / tests/test_engine.py:265-273) — only the pinned
    * segments' files are copied; segments committed after the pin are not.
    */
  def copy(pin: IndexPin, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // A pinned file lives in the live tree ONLY while no compact has run
    // since the pin (pin.epoch == current archive-gen count); after a
    // compact it lives at archive/gen=<pin.epoch> exactly. Segment ids
    // restart per compaction, so falling back from a missing archive to the
    // live tree would silently copy a DIFFERENT commit's segment=0 — a
    // vacuumed pin must throw instead.
    val currentGens = {
      val p = new Path(s"$dir/archive")
      if (!fs.exists(p)) 0 else fs.listStatus(p).length
    }
    def resolve(rel: String): Path = {
      val p =
        if (pin.epoch == currentGens) new Path(s"$dir/$rel") // pin IS the live commit
        else new Path(f"$dir/archive/gen=${pin.epoch}%06d/$rel")
      if (!fs.exists(p))
        throw new java.io.IOException(s"pinned file missing (vacuumed?): $p")
      p
    }
    def copyPath(rel: String): Unit =
      org.apache.hadoop.fs.FileUtil.copy(fs, resolve(rel),
        fs, new Path(s"$dst/$rel"), false, conf)
    pin.segmentIds.foreach { id =>
      Seq("docs", "postings").foreach(sub => copyPath(s"$sub/segment=$id"))
    }
    // the commit point includes its tombstones and dv-update generations
    // (Lucene .liv / dv-gen files); files appended after the pin are not seen
    pin.deleteFiles.foreach(f => copyPath(s"deletes/$f"))
    pin.dvGens.foreach(g => copyPath(s"dvupdates/$g"))
    // keep only the pinned segments' COMMIT rows: a "superseded" marker is
    // a post-pin merge publishing — copying it would make the destination
    // read its own pinned segments as dead (and open empty)
    spark.read.schema(Lineage.Schema).parquet(resolve("segments").toString)
      .filter(col("segmentId").isin(pin.segmentIds.map(_.toInt): _*) &&
        col("status") =!= "superseded")
      .write.mode("overwrite").parquet(s"$dst/segments")
  }

  /** Re-resolve the serving view; for NRT, also capture the current buffer
    * as the new point-in-time overlay (Lucene NRT reopen).
    */
  /** Committed segments: segmentId → docs indexed (reference
    * `indexer.segments`, tests/test_engine.py:673,684 — observable proof
    * that docvalue-only updates do NOT write segments).
    */
  def segments: Map[Int, Long] =
    Lineage.read(spark, dir).live.map(m => m.id.toInt -> m.docsIndexed).toMap

  def refresh(): Unit = {
    if (nrt) { nrtBuf = buf.toList; nrtDeletes = pendingDeletes.toList }
    cachedSearcher = None
  }

  def count(q: Query): Long = searcher.count(q)
  def search(q: Query, k: Int = 10) = searcher.search(q, k)
  def version: Long = Lineage.read(spark, dir).version

  /** Wall-clock of the last durable commit, epoch seconds (reference
    * IndexReader.timestamp, indexers.py:117-126 — Lucene reads the commit's
    * segments-file mtime; here, the newest part-file mtime across the
    * commit-bearing trees: segment lineage, tombstones, dv-update
    * generations — each durable write advances it, as each Lucene commit
    * writes a new segments_N). 0.0 for a never-committed directory.
    */
  def timestamp: Double = {
    def mtimes(sub: String): Seq[Long] = {
      val p = new Path(s"$dir/$sub")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).map(_.getModificationTime).toSeq
        else Seq(s.getModificationTime)
      }
    }
    val all = Seq("segments", "deletes", "dvupdates").flatMap(mtimes)
    if (all.isEmpty) 0.0 else all.max / 1000.0
  }
}

object Indexer {
  /** Lucene's lock-file name, verbatim — operators recognize it. */
  val LockName = "write.lock"

  /** True when a writer currently holds the directory's lock
    * (Lucene IndexWriter.isLocked).
    */
  def isLocked(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/$LockName")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Forcibly remove a stale lock after a writer crash (Lucene's classic
    * IndexWriter.unlock). Returns true when a lock file was removed. ONLY
    * safe when the holding process is known dead — removing a live writer's
    * lock reintroduces the two-writer lineage race the lock exists to stop.
    */
  def unlock(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/$LockName")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }
}
