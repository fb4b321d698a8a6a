package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.exec.Searcher
import graft.fixtures.CodeCorpus
import graft.index.IndexBuilder

/** `search`: top-10 queries against a saved index, read back the way a
  * serving process opens one (postings stay in parquet; only the term
  * dictionary is cached). graft.exec does nearly all the work of the timed
  * loop; the set-up is the bulk build (graft.analysis, graft.index). Four query
  * classes, drawn from the seed: `term` and `or` route through block-max
  * WAND, `and` and `phrase` through exhaustive evaluation, so a change to one
  * path always has a sibling class that bypasses it.
  */
object SearchWorkload {
  val Docs = 16000L
  /** Docs of the untimed warm-up build that compiles the build path (JIT). */
  val WarmupDocs = 2000L
  val SetupReps = 2
  val WarmupRounds = 1
  /** Query CPU falls round by round through a run, by about a quarter from
    * the first round to the fourth, and more untimed warm-up rounds did not
    * flatten it. A run that stopped after three rounds read high, so every
    * run makes at least four.
    */
  val MinRounds = 4
  val K = 10
  val PoolRounds = 400

  final case class Q(kind: String, text: String, terms: Seq[String], mustNot: Seq[String] = Nil,
      slop: Int = 0)

  /** One round of the closed loop. WAND classes make up two thirds of the
    * traffic, so the median query sits inside the WAND cluster instead of
    * on the boundary between the two evaluation paths.
    */
  val RoundMix = Seq("term", "or", "and", "term", "or", "phrase")

  /** Draws the query pool from the index's own term dictionary (Zipf over
    * docFreq rank, one sequence per class) and from seeded documents
    * (phrases).
    */
  def draw(vocab: Array[String], off: Long, rnd: java.util.Random, rounds: Int): Seq[Q] = {
    val zipf = Seq("term", "or", "and").map(k => k -> new Corpus.Zipf(vocab.length, 1.0, rnd)).toMap
    def distinct(kind: String, n: Int): Seq[String] = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < n) s += vocab(zipf(kind).next())
      s.toSeq
    }
    def one(kind: String): Q = kind match {
      case "term" => val t = distinct(kind, 1); Q("term", t.head, t)
      case "or"   => val t = distinct(kind, 2 + rnd.nextInt(3)); Q("or", t.mkString(" "), t)
      case "and" =>
        val t = distinct(kind, 2 + rnd.nextInt(2))
        val not = if (rnd.nextBoolean()) distinct(kind, 1).filterNot(t.contains) else Nil
        Q("and", (t.map("+" + _) ++ not.map("-" + _)).mkString(" "), t, not)
      case "phrase" =>
        val toks = Corpus.terms(CodeCorpus.content(off + rnd.nextInt(Docs.toInt)))
        val len = 2 + rnd.nextInt(2)
        val start = rnd.nextInt(toks.length - len + 1)
        val t = toks.slice(start, start + len)
        val slop = if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(2) else 0
        Q("phrase", "\"" + t.mkString(" ") + "\"" + (if (slop > 0) s"~$slop" else ""), t, slop = slop)
    }
    (0 until rounds).flatMap(_ => RoundMix.map(one))
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val off = Corpus.rowOffset(r.seed)
    val rnd = new java.util.Random(r.seed * 1000003L + 1)
    var searcher: Searcher = null
    var dir: String = null
    var pool: Seq[Q] = Nil
    var vocab: Array[String] = Array.empty
    var buildRec: OpRec = null
    def query(s: Searcher, q: Q, traced: Boolean): (Option[Array[(Long, Double)]], OpRec) = {
      val before = if (traced) s.wandDecoded.value.longValue else 0L
      val out = r.timed(q.kind, Docs, traced)(Search.run(r, s, q.text, K))
      if (traced) out._2.parts("wand_decoded") = (s.wandDecoded.value - before).toDouble
      out
    }

    // The first build in a JVM spends most of its time compiling (JIT), and
    // that share varies from run to run. So a smaller build of the same rows
    // runs first, untimed, and set-up times warm builds only.
    val warm = s"${r.work}/search-warmup"
    val w0 = System.nanoTime()
    val w = IndexBuilder.build(Corpus.frame(spark, off, WarmupDocs, r.parts), Corpus.schema, r.parts)
    w.save(warm)
    w.docs.unpersist(); w.blocks.unpersist()
    IndexBuilder.load(spark, warm).termDict.count()
    r.rmrf(warm)
    r.counts("warmup_build_s") = (System.nanoTime() - w0) / 1e9

    // Each set-up repetition builds, saves and loads the index. In a traced
    // run the last repetition runs the staged build under spans.
    for (rep <- 0 until SetupReps) r.setup {
      if (searcher != null) { searcher.index.termDict.unpersist(); r.rmrf(dir) }
      dir = s"${r.work}/search-index-$rep"
      val traced = r.trace && rep == SetupReps - 1
      val (built, rec) = r.timed("build", Docs, traced) {
        Build(r, Corpus.frame(spark, off, Docs, r.parts), dir, traced)
      }
      built.foreach { b => b.docs.unpersist(); b.blocks.unpersist() }
      val (loaded, _) = r.timed("load", 0, traced) {
        r.tracer.span("index.load") {
          val idx = IndexBuilder.load(spark, dir)
          idx.termDict.cache().count()
          idx
        }
      }
      val idx = loaded.getOrElse(sys.error("index load failed"))
      buildRec = rec
      searcher = new Searcher(idx)
      searcher.wandDecoded.reset()
      vocab = idx.termDict.filter(col("field") === "content")
        .select("term", "docFreq").collect()
        .map(row => (row.getString(0), row.getLong(1)))
        .sortBy { case (t, df) => (-df, t) }.map(_._1)
      r.counts("index.terms") = vocab.length.toDouble
      rnd.setSeed(r.seed * 1000003L + 1)
      pool = draw(vocab, off, rnd, PoolRounds)
    }
    // warm-up rounds of the mix, drawn apart from the timed pool
    draw(vocab, off, new java.util.Random(~r.seed), WarmupRounds)
      .foreach(q => searcher.search(searcher.parse(q.text, "content"), K).collect())

    val s = searcher
    val results = mutable.LinkedHashMap.empty[Int, (Q, Array[(Long, Double)])]
    var next = 0
    r.loop(MinRounds) { round =>
      val traced = r.tracedRound(round)
      RoundMix.indices.foreach { _ =>
        val q = pool(next % pool.length)
        next += 1
        val (res, rec) = query(s, q, traced)
        res.foreach(hits => results(rec.id) = (q, hits))
        if (traced && (q.kind == "term" || q.kind == "or"))
          r.timed("termstats", 0, traced = true) {
            r.tracer.span("exec.termstats")(new Searcher(s.index).termStats("content", q.terms))
          }
      }
    }
    r.inputs("queries") = results.toList.map { case (id, (q, _)) =>
      Map("op" -> id, "kind" -> q.kind, "q" -> q.text)
    }
    // every repetition builds the same index; the last one is still on disk
    Build.check(r, s.index, off, Docs, buildRec)
    check(r, s, results)
    if (!r.trace) return

    // WAND candidates: every block of the query's terms, counted outside the loop
    val blocksPerTerm = s.index.blocks.filter(col("field") === "content")
      .groupBy("term").count().collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    r.ops.filter(o => o.traced && o.parts.contains("wand_decoded")).foreach { o =>
      results.get(o.id).foreach { case (q, _) =>
        if (q.kind == "term" || q.kind == "or")
          o.parts("wand_candidates") = q.terms.distinct.map(blocksPerTerm.getOrElse(_, 0L)).sum.toDouble
        else o.parts.remove("wand_decoded")
      }
    }
    Search.recordIndexSize(r, dir, (off until off + Docs).iterator.map(CodeCorpus.content(_).length.toLong).sum)
  }

  /** Equal top-k lists: scores agree rank by rank to 1e-4, and every doc
    * above the last rank's score is in both lists with the same score. Docs
    * whose scores tie may swap places, and a tie at the last rank may admit
    * either doc.
    */
  def sameTopK(a: Array[(Long, Double)], b: Array[(Long, Double)]): Boolean = {
    val eps = 1e-4
    val inB = b.toMap
    a.length == b.length &&
      a.zip(b).forall { case ((_, x), (_, y)) => math.abs(x - y) <= eps } &&
      a.forall { case (d, x) =>
        x <= a.last._2 + eps || inB.get(d).exists(y => math.abs(x - y) <= eps)
      }
  }

  /** Output checks; a wrong answer fails the operation that produced it. */
  private def check(r: Run, s: Searcher, results: mutable.LinkedHashMap[Int, (Q, Array[(Long, Double)])]): Unit = {
    def op(id: Int) = r.ops.find(_.id == id)
    results.foreach { case (id, (q, hits)) =>
      val sorted = hits.sortBy { case (d, sc) => (-sc, d) }
      if (!(sorted sameElements hits)) r.fail(op(id), s"${q.kind} '${q.text}': hits not ordered by (score desc, docId asc)")
      if (q.kind == "phrase" && hits.isEmpty) r.fail(op(id), s"phrase '${q.text}' lifted from a corpus doc found nothing")
    }
    // WAND top-k must equal exhaustive evaluation, for every distinct
    // term/or query the run drew
    val exhaustive = new Searcher(s.index)
    exhaustive.wandEnabled = false
    val wand = results.toSeq.filter { case (_, (q, _)) => q.kind == "term" || q.kind == "or" }
      .distinctBy(_._2._1.text)
    wand.foreach { case (id, (q, hits)) =>
      val ref = exhaustive.search(exhaustive.parse(q.text, "content"), K).collect()
        .map(row => (row.getLong(0), row.getDouble(1)))
      if (!sameTopK(hits, ref)) r.fail(op(id), s"${q.kind} '${q.text}': WAND top-$K differs from exhaustive evaluation")
    }
    r.counts("wand_checked") = wand.length
    // every and/phrase hit's stored content must hold its terms
    val exact = results.toSeq.filter { case (_, (q, _)) => q.kind == "and" || q.kind == "phrase" }
    val ids = exact.flatMap(_._2._2.map(_._1)).distinct
    val content: Map[Long, IndexedSeq[String]] =
      if (ids.isEmpty) Map.empty
      else s.index.docs.filter(col("docId").isin(ids: _*)).select("docId", "content").collect()
        .map(row => row.getLong(0) -> Corpus.terms(row.getString(1))).toMap
    exact.foreach { case (id, (q, hits)) =>
      hits.foreach { case (d, _) =>
        val toks = content.getOrElse(d, IndexedSeq.empty)
        val ok =
          q.terms.forall(toks.contains) && !q.mustNot.exists(toks.contains) &&
            (q.kind != "phrase" || q.slop > 0 || toks.sliding(q.terms.length).exists(_ == q.terms))
        if (!ok) r.fail(op(id), s"${q.kind} '${q.text}': doc $d does not match")
      }
    }
  }
}

/** Helpers shared by the workloads that search. */
object Search {
  /** One query as a client runs it: parse, plan, collect (docId, score). */
  def run(r: Run, s: Searcher, text: String, k: Int): Array[(Long, Double)] = {
    val parsed = r.tracer.span("query.parse")(s.parse(text, "content"))
    val df = r.tracer.span("exec.plan")(s.search(parsed, k))
    r.tracer.span("exec.collect")(df.collect()).map(row => (row.getLong(0), row.getDouble(1)))
  }

  /** Sizes of the saved index tables and their ratio to the content bytes. */
  def recordIndexSize(r: Run, dir: String, contentBytes: Long): Unit = {
    val tables = Seq("postings", "docs", "termdict", "termgrams")
    tables.foreach(t => r.counts(s"index.${t}_bytes") = r.du(s"$dir/$t").toDouble)
    r.counts("content_bytes") = contentBytes.toDouble
  }
}
