package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.index._
import graft.query._
import graft.streaming.StreamingIndexer

/** Incremental segment merging — Lucene forceMerge(N) / forceMergeDeletes
  * (reference `Indexer.commit(merge=)`, indexers.py:648-661): folding must
  * never change the visible state, must purge tombstoned docs like a Lucene
  * merge, and must leave pinned commits resolvable.
  */
class MergeSpec extends SparkTestBase {

  val srcSchema = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("lang", StringType),
    StructField("content", StringType)))

  val idxSchema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map("content" -> TextField("standard", positions = true), "lang" -> KeywordField))

  private def writer(dir: String) = new Indexer(spark, dir, idxSchema, srcSchema)

  private def addDoc(w: Indexer, p: String, text: String, lang: String = "en"): Unit =
    w.add("repo" -> "r", "path" -> p, "commit" -> "c", "lang" -> lang, "content" -> text)

  /** (path, quantized score) of a top-k search — docId-independent. */
  private def hits(w: Indexer, q: Query, k: Int = 20): Seq[(String, Long)] =
    w.search(q, k).join(w.searcher.index.docs, "docId")
      .select(col("path"), (col("score") * 10000).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq

  test("forceMerge(N): folds smallest segments, state identical, lineage supersedes") {
    val dir = Files.createTempDirectory("graft-merge").toString
    val w = writer(dir)
    // four commits = four segments of different sizes
    for (s <- 0 until 4) {
      for (d <- 0 to s) addDoc(w, s"p$s-$d", s"alpha seg$s common term$d data")
      w.commit()
    }
    assert(StreamingIndexer.liveSegmentIds(spark, dir).length === 4)
    val v0 = w.version
    val before = (w.count(AllDocs), w.count(Term("content", "alpha")),
      hits(w, Term("content", "common")), hits(w, Term("content", "seg2")))

    w.forceMerge(2)
    assert(StreamingIndexer.liveSegmentIds(spark, dir).length === 2)
    assert(w.segments.size === 2)
    assert(w.version > v0) // monotone: the merged segment is a new id
    val after = (w.count(AllDocs), w.count(Term("content", "alpha")),
      hits(w, Term("content", "common")), hits(w, Term("content", "seg2")))
    assert(after === before)
    // the biggest segment (seg 3: 4 docs) was NOT folded
    val liveDocs = w.segments.values.toSeq.sorted
    assert(liveDocs === Seq(4L, 6L))

    // a fresh handle serves the merged lineage identically
    w.close()
    val r = writer(dir)
    assert((r.count(AllDocs), r.count(Term("content", "alpha")),
      hits(r, Term("content", "common")), hits(r, Term("content", "seg2"))) === before)

    // appends after a merge keep docIds collision-free
    addDoc(r, "pNew", "alpha fresh")
    r.commit()
    assert(r.count(AllDocs) === before._1 + 1)
    assert(r.count(Term("content", "fresh")) === 1L)
    // scores legitimately shift with the new doc (docCount/avgdl grew) —
    // the HIT SET stays right
    assert(hits(r, Term("content", "seg2")).map(_._1) === before._4.map(_._1))
    // noop below the target count
    val liveNow = StreamingIndexer.liveSegmentIds(spark, dir).length
    r.forceMerge(liveNow)
    assert(StreamingIndexer.liveSegmentIds(spark, dir).length === liveNow)
    r.close()
  }

  test("forceMergeDeletes: purges tombstoned docs from docs AND blocks; equals a fresh index") {
    val dir = Files.createTempDirectory("graft-mergedel").toString
    val w = writer(dir)
    val texts = (0 until 30).map(i => s"doc$i shared data ${if (i % 3 == 0) "drop" else "keep"} x$i")
    texts.zipWithIndex.foreach { case (t, i) =>
      addDoc(w, s"p$i", t)
      if (i % 10 == 9) w.commit() // three segments
    }
    w.delete(Term("content", "drop"))
    w.commit()
    val liveBefore = w.count(AllDocs)
    assert(liveBefore === 20L)

    w.forceMergeDeletes()
    // every segment held deletes ⇒ one merged segment
    assert(StreamingIndexer.liveSegmentIds(spark, dir).length === 1)
    assert(w.count(AllDocs) === 20L)
    assert(w.count(Term("content", "drop")) === 0L)

    // physical purge: the merged docs dir has no tombstoned rows, and the
    // blocks shed them too (the sentinel term "" counts docs per field)
    val mergedId = StreamingIndexer.liveSegmentIds(spark, dir).head
    val rawDocs = spark.read.parquet(s"$dir/docs/segment=$mergedId")
    assert(rawDocs.count() === 20L)
    val sentinelDocs = spark.read.parquet(s"$dir/postings/segment=$mergedId")
      .filter(col("term") === "" && col("field") === "content")
      .agg(org.apache.spark.sql.functions.sum("numDocs"))
      .collect()(0).getLong(0)
    assert(sentinelDocs === 20L)

    // CheckIndex on the purged view: re-encoded blocks must keep exact
    // numDocs/skip-pointer/maxTf/sumTf metadata and agree with the termDict
    w.searcher.index.check()

    // post-purge scoring equals a FRESH index over only the live rows
    // (docFreq/docCount/avgdl shrink exactly like a Lucene merge)
    val freshDir = Files.createTempDirectory("graft-mergedel-fresh").toString
    val f = writer(freshDir)
    texts.zipWithIndex.filterNot(_._2 % 3 == 0).foreach { case (t, i) => addDoc(f, s"p$i", t) }
    f.commit()
    for (q <- Seq(Term("content", "shared"), Term("content", "keep"),
        Query.phrase("content", "shared", "data"))) {
      assert(hits(w, q) === hits(f, q), q.toString)
    }
    f.close(); w.close()
  }

  test("pins survive merges; commit(merge=) reference forms") {
    val dir = Files.createTempDirectory("graft-mergepin").toString
    val w = writer(dir)
    addDoc(w, "p0", "alpha one"); w.commit()
    addDoc(w, "p1", "alpha two"); w.commit()
    val pin = w.snapshot() // pins the two pre-merge segments
    addDoc(w, "p2", "alpha three")
    w.commit(merge = 1) // reference commit(merge=N): fold everything live
    assert(StreamingIndexer.liveSegmentIds(spark, dir).length === 1)
    assert(w.count(Term("content", "alpha")) === 3L)
    // the pinned (superseded) segment dirs are still on disk — copy() works
    val dst = Files.createTempDirectory("graft-mergepin-dst").toString
    w.copy(pin, dst)
    val r = new Indexer(spark, dst, idxSchema, srcSchema, readOnly = true)
    assert(r.count(Term("content", "alpha")) === 2L) // the pinned commit, pre-merge
    // merge=0 is the reference's falsy form: commit only, no merge
    addDoc(w, "p3", "alpha four")
    w.commit(merge = 0)
    assert(StreamingIndexer.liveSegmentIds(spark, dir).length === 2)
    // commit(mergeDeletes = true) — bool form folds only segments with deletes
    w.delete(Term("content", "three"))
    w.commit(mergeDeletes = true)
    assert(w.count(Term("content", "alpha")) === 3L)
    assert(w.count(Term("content", "three")) === 0L)
    w.close()
  }
  test("autoMergeSegments: commit() keeps the live segment tail bounded (MergePolicy)") {
    val dir = Files.createTempDirectory("graft-automerge").toString
    val w = writer(dir)
    w.autoMergeSegments = 2
    for (i <- 0 until 6) {
      addDoc(w, s"p$i", s"alpha doc$i")
      w.commit()
      assert(StreamingIndexer.liveSegmentIds(spark, dir).length <= 2, s"after commit $i")
    }
    assert(w.count(Term("content", "alpha")) === 6L)
    (0 until 6).foreach(i => assert(w.count(Term("content", s"doc$i")) === 1L))
    w.close()
  }
  test("forceMergeDeletes is incremental: segments without deletes are untouched on disk") {
    val dir = Files.createTempDirectory("graft-mergeincr").toString
    val w = writer(dir)
    // one BIG segment (no deletes will land here) ...
    for (i <- 0 until 50) addDoc(w, s"big$i", s"alpha stable bulk$i")
    w.commit()
    // ... then three small segments, deletes only among these
    for (s <- 0 until 3) {
      for (d <- 0 until 4) addDoc(w, s"s$s-$d", s"alpha tail ${if (d == 0) "drop" else "keep"} t$s$d")
      w.commit()
    }
    w.delete(Term("content", "drop"))
    w.commit()
    val bigId = StreamingIndexer.liveSegmentIds(spark, dir).min
    def fileState(sub: String) = {
      val d = new java.io.File(s"$dir/$sub/segment=$bigId")
      d.listFiles.map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    }
    val docsBefore = fileState("docs")
    val postsBefore = fileState("postings")

    w.forceMergeDeletes()
    // the big segment is still served AS-IS — its files were never rewritten
    // (merge cost ∝ segments holding deletes, not the index: the 100-TB story)
    val live = StreamingIndexer.liveSegmentIds(spark, dir)
    assert(live.contains(bigId))
    assert(live.length === 2) // big + one purged fold of the three tails
    assert(fileState("docs") === docsBefore)
    assert(fileState("postings") === postsBefore)
    assert(w.count(Term("content", "alpha")) === 50L + 9L)
    assert(w.count(Term("content", "drop")) === 0L)
    assert(w.count(Term("content", "stable")) === 50L)
    // DISCOVERY never scanned the corpus: the lineage interval lookup named
    // exactly the three tail segments as candidates — the untouched big
    // segment was excluded from even the partition-pruned verify read
    assert(!w.lastDeleteDiscoveryCandidates.contains(bigId))
    assert(w.lastDeleteDiscoveryCandidates.length === 3)
    // and the verify read IS partition-pruned: an isin on the partition
    // column reaches the scan as a PartitionFilter, not a data filter
    val verifyPlan = spark.read.parquet(s"$dir/docs")
      .filter(col("segment").isin(w.lastDeleteDiscoveryCandidates.map(_.toInt): _*))
      .queryExecution.executedPlan.toString
    assert(verifyPlan.contains("PartitionFilters") && verifyPlan.contains("segment"),
      s"expected partition-pruned scan:\n$verifyPlan")
    // idempotent: the already-purged tombstones are vacuous — a second call
    // must not re-fold anything (interval candidates verify to empty)
    val liveAfter = StreamingIndexer.liveSegmentIds(spark, dir).sorted
    w.forceMergeDeletes()
    assert(StreamingIndexer.liveSegmentIds(spark, dir).sorted === liveAfter)
    w.close()
  }

  test("vacuumDeletes: drops vacuous tombstones after a purge, keeps live ones, honors pins") {
    val dir = Files.createTempDirectory("graft-vacdel").toString
    val w = writer(dir)
    for (i <- 0 until 6) addDoc(w, s"p$i", s"alpha ${if (i < 2) "drop" else "keep"} w$i")
    w.commit()
    w.delete(Term("content", "drop")); w.commit()
    w.forceMergeDeletes() // purges the 2 dropped docs — their tombstones go vacuous
    w.delete(Term("content", "w5")); w.commit() // a LIVE tombstone (not purged)
    assert(w.count(AllDocs) === 3L)
    assert(spark.read.parquet(s"$dir/deletes").select("docId").distinct().count() === 3L)
    // a declared pin names the current delete files: vacuum refuses
    val pin = w.snapshot()
    assert(w.vacuumDeletes(Seq(pin)) === -1L)
    // unpinned: the 2 vacuous rows drop, the live one stays, the view is identical
    assert(w.vacuumDeletes() === 2L)
    assert(spark.read.parquet(s"$dir/deletes").select("docId").distinct().count() === 1L)
    assert(w.count(AllDocs) === 3L)
    assert(w.count(Term("content", "w5")) === 0L) // live tombstone still applies
    assert(w.vacuumDeletes() === 0L) // idempotent: nothing vacuous left
    // purge the last tombstone too: the table empties and the dir drops
    w.forceMergeDeletes()
    assert(w.vacuumDeletes() === 1L)
    assert(!new java.io.File(s"$dir/deletes").exists)
    assert(w.count(AllDocs) === 3L)
    // writer keeps working afterwards
    addDoc(w, "pZ", "alpha fresh"); w.commit()
    assert(w.count(AllDocs) === 4L)
    w.close()
  }

  test("forceMergeDeletes(autoVacuum): purge + tombstone reclaim in one call; " +
      "the reopened view's WAND liveDocs shrink to empty") {
    val dir = Files.createTempDirectory("graft-autovac").toString
    val w = writer(dir)
    for (i <- 0 until 6) addDoc(w, s"p$i", s"alpha ${if (i < 2) "drop" else "keep"} w$i")
    w.commit()
    w.delete(Term("content", "drop")); w.commit()
    assert(spark.read.parquet(s"$dir/deletes").select("docId").distinct().count() === 2L)
    // one call: purge the tombstoned docs AND reclaim the now-vacuous rows
    w.forceMergeDeletes(autoVacuum = true)
    assert(!new java.io.File(s"$dir/deletes").exists,
      "auto-vacuum should have emptied (and dropped) the tombstone table")
    assert(w.count(AllDocs) === 4L)
    // pins-aware: with a declared pin the purge still runs but the vacuum
    // refuses — tombstones survive for the pinned commit's copy()
    w.delete(Term("content", "w5")); w.commit()
    val pin = w.snapshot()
    w.forceMergeDeletes(autoVacuum = true, pins = Seq(pin))
    assert(new java.io.File(s"$dir/deletes").exists,
      "a pinned tombstone table must not be vacuumed")
    assert(w.count(AllDocs) === 3L)
    // the surviving (pinned) tombstone is VACUOUS — the purge half did run;
    // once the pin is no longer declared, a vacuum drops exactly that row
    // and the next searcher's WAND liveDocs broadcast is empty
    assert(w.vacuumDeletes() === 1L)
    assert(!new java.io.File(s"$dir/deletes").exists)
    w.close()
  }

  test("check(repair=true): quarantines a corrupt segment, remaining index consistent " +
      "(indexers.py:528-536 CheckIndex/exorcise)") {
    val dir = Files.createTempDirectory("graft-repair").toString
    val w = writer(dir)
    for (i <- 0 until 8) addDoc(w, s"a$i", s"alpha keepme word$i")
    w.commit() // segment 0
    for (i <- 0 until 5) addDoc(w, s"b$i", s"alpha other data$i")
    w.commit() // segment 1
    assert(w.check().clean) // green pre-corruption; returns, never throws
    val victims = StreamingIndexer.liveSegmentIds(spark, dir).sorted
    val victim = victims.head
    // corrupt one posting part-file of segment 0 wholesale (lost footer)
    val part = new java.io.File(s"$dir/postings/segment=$victim").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.write(part.toPath, Array.fill[Byte](128)(0x5a.toByte))
    // without repair: loud failure naming the segment
    val ex = intercept[java.io.IOException] { w.check() }
    assert(ex.getMessage.contains(victim.toString))
    // with repair: the segment is exorcised, the rest serves consistently
    val report = w.check(repair = true)
    assert(report.badSegments === Seq(victim))
    assert(report.droppedDocs === 8L)
    assert(report.errors.keySet === Set(victim))
    assert(StreamingIndexer.liveSegmentIds(spark, dir) === victims.tail)
    assert(w.count(AllDocs) === 5L)
    assert(w.count(Term("content", "alpha")) === 5L)
    assert(w.count(Term("content", "keepme")) === 0L)
    // quarantined for forensics, not deleted
    assert(new java.io.File(s"$dir/corrupt/postings/segment=$victim").exists)
    // post-repair sweeps are green (both the facade's and the block-level one)
    assert(w.check(repair = true).clean)
    assert(w.check().clean)
    w.searcher.index.check()
    // and the writer keeps working: appends after a repair stay consistent
    addDoc(w, "c0", "alpha fresh")
    w.commit()
    assert(w.count(AllDocs) === 6L)
    assert(w.count(Term("content", "fresh")) === 1L)
    w.close()
  }
  test("vacuumMerged reclaims superseded dirs but never a declared pin's") {
    val dir = Files.createTempDirectory("graft-vacmerge").toString
    val w = writer(dir)
    addDoc(w, "p0", "alpha one"); w.commit()
    addDoc(w, "p1", "alpha two"); w.commit()
    val pin = w.snapshot()
    addDoc(w, "p2", "alpha three"); w.commit()
    w.forceMerge(1)
    // pin still declared: its two segments survive, the unpinned one drops
    val dropped = w.vacuumMerged(Seq(pin))
    assert(dropped.length === 1 && !pin.segmentIds.contains(dropped.head))
    assert(w.count(Term("content", "alpha")) === 3L) // live view unaffected
    val dst = Files.createTempDirectory("graft-vacmerge-dst").toString
    w.copy(pin, dst) // the declared pin still resolves
    // pin released: everything superseded reclaims; a stale copy now throws
    val dropped2 = w.vacuumMerged()
    assert(dropped2.toSet === pin.segmentIds.toSet)
    intercept[java.io.IOException] { w.copy(pin, Files.createTempDirectory("graft-x").toString) }
    assert(w.count(Term("content", "alpha")) === 3L)
    w.close()
  }

  /** The reopened view's stats, which come from lineage rows, equal an
    * aggregate over the view's own posting blocks.
    */
  private def assertLineageStats(w: Indexer, step: String): Unit = {
    val ix = w.searcher.index
    assert(ix.fieldStats.nonEmpty, step)
    assert(ix.fieldStats === IndexBuilder.fieldStatsOf(ix.blocks), step)
  }

  test("lineage field stats equal the view's block aggregate after every write path") {
    val dir = Files.createTempDirectory("graft-linstats").toString
    val w = writer(dir)
    for (d <- 0 until 6) addDoc(w, s"a$d", s"alpha one common word$d", if (d % 2 == 0) "en" else "de")
    w.commit(); assertLineageStats(w, "add + commit")
    for (d <- 0 until 4) addDoc(w, s"b$d", s"beta two common extra$d words here")
    w.commit(); assertLineageStats(w, "second commit")
    w.update(Term("content", "word1"),
      "repo" -> "r", "path" -> "a1", "commit" -> "c", "lang" -> "en", "content" -> "alpha replaced")
    w.commit(); assertLineageStats(w, "update")
    w.delete(Term("content", "extra2"))
    w.commit(); assertLineageStats(w, "delete")
    w.forceMerge(2); assertLineageStats(w, "forceMerge")
    w.forceMergeDeletes(); assertLineageStats(w, "forceMergeDeletes")
    // a merge that purges every doc of its only source writes an empty segment
    for (d <- 0 until 3) addDoc(w, s"d$d", s"delta gone$d")
    w.commit()
    w.delete(Term("content", "delta"))
    w.commit()
    w.forceMergeDeletes(); assertLineageStats(w, "forceMergeDeletes of an all-deleted segment")
    assert(w.segments.values.toSeq.contains(0L))
    for (d <- 0 until 3) addDoc(w, s"c$d", s"gamma three common tail$d")
    w.commit()
    // corrupt the newest segment so the repair really drops its stats
    val victim = StreamingIndexer.liveSegmentIds(spark, dir).max
    val part = new java.io.File(s"$dir/postings/segment=$victim").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.write(part.toPath, Array.fill[Byte](128)(0x5a.toByte))
    assert(w.check(repair = true).badSegments === Seq(victim))
    assertLineageStats(w, "check(repair = true)")
    // 6 + 4 docs + 1 re-add, less the 2 tombstoned docs the merges purged
    assert(w.searcher.index.fieldStats("content").docCount === 9L)
    w.compact(); assertLineageStats(w, "compact")
    w.close()
  }

  test("lineage rows without field stats (older layout) open with the same stats and scores") {
    val dir = Files.createTempDirectory("graft-linlegacy").toString
    val w = writer(dir)
    for (s <- 0 until 3) {
      for (d <- 0 to s + 2) addDoc(w, s"p$s-$d", s"alpha seg$s common term$d data", if (d % 2 == 0) "en" else "de")
      w.commit()
    }
    w.delete(Term("content", "term1")); w.commit()
    val queries = Seq(Term("content", "common"), Term("content", "seg1"),
      Query.any(Term("content", "alpha"), Term("content", "term2")), Term("lang", "de"))
    def top10(x: Indexer): Seq[Seq[(Long, Double)]] = queries.map(q =>
      x.search(q, 10).collect().map(r => (r.getLong(0), r.getAs[Double]("score"))).toSeq)
    assertLineageStats(w, "before the rewrite")
    val stats0 = w.searcher.index.fieldStats
    val scores0 = top10(w)
    w.close()
    // rewrite the lineage in the older shape: the same rows, no stats column
    val tmp = s"$dir/segments-legacy"
    spark.read.parquet(s"$dir/segments").drop("fieldStats").write.parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/segments"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(s"$dir/segments")))
    assert(!spark.read.parquet(s"$dir/segments").columns.contains("fieldStats"))

    val r = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    assert(r.searcher.index.fieldStats === stats0)
    assert(top10(r) === scores0)
    // a segment written beside legacy rows: both kinds feed one sum
    val w2 = writer(dir)
    addDoc(w2, "fresh", "alpha fresh common")
    w2.commit()
    assertLineageStats(w2, "legacy + new rows")
    assert(w2.searcher.index.fieldStats("content").docCount === stats0("content").docCount + 1)
    w2.close()
  }

  test("commit with a pending delete plus the reopen reads lineage, not postings: job budget") {
    val dir = Files.createTempDirectory("graft-linjobs").toString
    val w = writer(dir)
    for (s <- 0 until 3) {
      for (d <- 0 until 4) addDoc(w, s"p$s-$d", s"alpha seg$s common uniq$s$d")
      w.commit()
    }
    assert(StreamingIndexer.liveSegmentIds(spark, dir).length === 3)
    w.searcher // the view a serving loop already holds
    addDoc(w, "new", "alpha fresh")
    w.delete(Term("content", "uniq01"))
    val jobs = jobsOf { w.commit(); w.searcher }
    assert(w.count(Term("content", "uniq01")) === 0L && w.count(Term("content", "fresh")) === 1L)
    // measured: 17 jobs; 43 when each lineage question ran its own
    // schema-inferred aggregate and the reopen aggregated every posting block
    assert(jobs <= 17, s"commit + reopen ran $jobs Spark jobs")
    w.close()
  }

  /** Spark jobs `body` submits from this thread. Jobs are tagged by job
    * group; a tagged sentinel job drains the asynchronous listener bus
    * before the count is read.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group`                      => counted.incrementAndGet(); ()
          case g if g == s"$group-sentinel" => drained.countDown()
          case _                            =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      counted.get()
    } finally sc.removeSparkListener(listener)
  }
}
