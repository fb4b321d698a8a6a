package graftbench

import scala.collection.mutable

import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.fixtures.CodeCorpus
import graft.index.{Indexer, IndexSchema, KeywordField, TextField}
import graft.query.AllDocs

/** `ingest`: writes beside reads through the Indexer facade. Each round adds
  * a batch, updates and deletes earlier docs by key, commits, and searches
  * the reopened view: first for the batch just committed (read-your-writes),
  * then with ordinary queries. A merge folds segments at a fixed cadence.
  * Small segments, tombstones and a reopen per commit are costs a bulk
  * build never shows.
  */
object IngestWorkload {
  val InitialDocs = 200
  val Batch = 500
  val Updates = 1
  val Deletes = 2
  val SearchesPerRound = 1
  val MergeEvery = 2
  val MergeTo = 2
  val SetupReps = 3

  val schema: IndexSchema = IndexSchema(Seq("path"),
    Map("content" -> TextField("code", positions = true), "path" -> KeywordField,
      "lang" -> KeywordField))
  val source: StructType = StructType(Seq("path", "lang", "content").map(StructField(_, StringType)))

  /** Marker token carried by every doc written in batch `b`. */
  def marker(b: Int): String = s"mk${b}q"

  def run(r: Run): Unit = {
    val spark = r.spark
    val off = Corpus.rowOffset(r.seed)
    val rnd = new java.util.Random(r.seed * 7919L + 3)
    var nextRow = off
    // live docs: path -> batch whose marker its current version carries
    val live = mutable.LinkedHashMap.empty[String, Int]
    def add(ix: Indexer, b: Int, path: String, update: Boolean): Unit = {
      val text = CodeCorpus.content(nextRow) + " " + marker(b)
      val lang = CodeCorpus.Langs((nextRow % CodeCorpus.Langs.length).toInt)
      nextRow += 1
      if (update) ix.update(graft.query.Term("path", path), "path" -> path, "lang" -> lang, "content" -> text)
      else ix.add("path" -> path, "lang" -> lang, "content" -> text)
      live(path) = b
    }
    def fresh(ix: Indexer, b: Int, n: Int): Unit =
      (0 until n).foreach(i => add(ix, b, s"b$b/d$i", update = false))

    var ix: Indexer = null
    for (rep <- 0 until SetupReps) r.setup {
      if (ix != null) { ix.close(); r.rmrf(ix.dir) }
      nextRow = off
      live.clear()
      ix = new Indexer(spark, s"${r.work}/ingest-$rep", schema, source)
      fresh(ix, 0, InitialDocs)
      ix.commit()
      val s = ix.searcher
      s.search(s.parse(marker(0), "content"), 10).collect()
    }
    val vocab = (CodeCorpus.Keywords ++ CodeCorpus.IdentStems).toIndexedSeq
    val zipf = new Corpus.Zipf(vocab.length, 1.0, rnd)
    val drawn = mutable.ArrayBuffer.empty[String]

    r.loop() { round =>
      val b = round + 1
      val traced = r.tracedRound(round)
      // victims: docs of one earlier batch, some updated and some deleted
      val vb = rnd.nextInt(b)
      val victims = new scala.util.Random(rnd.nextLong())
        .shuffle(live.collect { case (p, `vb`) => p }.toSeq).take(Updates + Deletes)
      val (upd, del) = victims.splitAt(math.min(Updates, victims.length))
      r.timed("add", Batch + upd.length, traced) {
        r.tracer.span("indexer.add") {
          fresh(ix, b, Batch)
          upd.foreach(p => add(ix, b, p, update = true))
          if (del.nonEmpty) ix.delete(graft.query.TermSet("path", del))
          del.foreach(live.remove)
        }
      }
      val expected = Batch + upd.length
      var commitMs = 0.0
      var firstMs = 0.0
      val (hits, vis) = r.timed("visible", expected, traced) {
        val c0 = System.nanoTime()
        r.tracer.span("indexer.commit")(ix.commit())
        commitMs = (System.nanoTime() - c0) / 1e6
        val s = r.tracer.span("indexer.reopen")(ix.searcher)
        val f0 = System.nanoTime()
        val h = Search.run(r, s, marker(b), expected)
        firstMs = (System.nanoTime() - f0) / 1e6
        h
      }
      vis.parts("commit_ms") = commitMs
      vis.parts("first_search_ms") = firstMs
      hits.foreach { h =>
        if (h.length != expected)
          r.fail(Some(vis), s"round $b: first search saw ${h.length} of $expected committed docs")
      }
      if (traced) {
        vis.parts("segments") = ix.segments.size.toDouble
        vis.parts("tombstones") = ix.searcher.index.deletes.map(_.count()).getOrElse(0L).toDouble
      }
      (0 until SearchesPerRound).foreach { _ =>
        val n = 1 + rnd.nextInt(3)
        val q = (0 until n).map(_ => vocab(zipf.next())).distinct.mkString(" ")
        drawn += q
        r.timed("search", live.size, traced)(Search.run(r, ix.searcher, q, 10))
      }
      if (b % MergeEvery == 0)
        r.timed("merge", live.size, traced)(r.tracer.span("indexer.merge")(ix.forceMerge(MergeTo)))
    }
    // the live view holds every committed doc exactly once, at its latest
    // version: no deleted doc, no updated-away version
    val s = ix.searcher
    val seen = s.search(AllDocs, 0, select = Seq("path")).collect().map(_.getAs[String]("path"))
    val dups = seen.length - seen.distinct.length
    if (dups != 0 || seen.toSet != live.keySet)
      r.fail(None, s"live view: ${seen.length} docs ($dups duplicated), expected ${live.size}")
    r.counts("live_docs") = seen.length.toDouble
    r.inputs("queries") = drawn.toList
    r.inputs("first_row") = off
    ix.close()
  }
}
