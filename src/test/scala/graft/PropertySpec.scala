package graft

import graft.exec.{Bm25, PhraseMatcher, Searcher}
import graft.index._
import graft.query.{Query => Q, _}
import graft.util.SmallFloat

/** Randomized equivalence sweep: the DISTRIBUTED engine (encode → salted
  * shuffle → blocks → intersects/aggregates) against a trivial driver-side
  * reference evaluator over the same analyzed corpus, for ~150 random query
  * trees across the whole algebra. The matchers/scoring objects
  * (PhraseMatcher, SpanEval, Bm25, SmallFloat) are shared on purpose — the
  * property targets the distributed plumbing, where the bugs hide; the
  * semantics themselves are pinned by the reference golds elsewhere.
  * Fixed seed: failures reproduce.
  */
class PropertySpec extends SparkTestBase {

  // fixed seed for CI reproducibility; override for stress sweeps with
  // GRAFT_PROP_SEED (and GRAFT_PROP_N for the query count)
  val rnd = new scala.util.Random(sys.env.getOrElse("GRAFT_PROP_SEED", "20260816").toLong)
  val numQueries: Int = sys.env.getOrElse("GRAFT_PROP_N", "150").toInt
  val vocab: Vector[String] = Vector(
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
    "iota", "kappa", "the", "of", "and", "scan", "merge", "join")

  // ~90 docs, 0..14 tokens each — zero-token docs exercise the sentinel/
  // docCount exclusion (they stay in the doc store but not in the field)
  val corpusTokens: Vector[(Long, Vector[String])] = {
    val docs = (0 until 90).map { i =>
      val n = rnd.nextInt(15)
      i.toLong -> Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
    }
    docs.toVector
  }

  lazy val searcher: Searcher = {
    val s = spark
    import s.implicits._
    val df = corpusTokens.map { case (id, toks) =>
      ("r", f"p$id%04d", "c", toks.mkString(" "))
    }.toDF("repo", "path", "commit", "content")
    val schema = IndexSchema(Seq("repo", "path", "commit"),
      Map("content" -> TextField("standard", positions = true)))
    new Searcher(IndexBuilder.build(df, schema, numPartitions = 5))
  }

  // ---------------------------------------------------------- local reference

  object LocalRef {
    val byDoc: Map[Long, Vector[String]] = corpusTokens.toMap
    val docCount: Long = corpusTokens.count(_._2.nonEmpty).toLong
    val avgdl: Double = corpusTokens.map(_._2.length).sum.toDouble / docCount
    def dlq(id: Long): Int = SmallFloat.quantizeLength(byDoc(id).length)
    def df(t: String): Long = corpusTokens.count(_._2.contains(t)).toLong
    def positions(id: Long, t: String): Array[Int] =
      byDoc(id).zipWithIndex.collect { case (`t`, p) => p }.toArray
    def tf(id: Long, t: String): Int = byDoc(id).count(_ == t)
    val dictionary: Vector[String] = corpusTokens.flatMap(_._2).distinct.sorted

    def termScores(t: String, boost: Double): Map[Long, Double] = {
      val d = df(t)
      if (d == 0) Map.empty
      else {
        val w = boost * Bm25.idf(docCount, d)
        corpusTokens.collect {
          case (id, toks) if toks.contains(t) =>
            id -> Bm25.score(tf(id, t).toDouble, dlq(id), w, avgdl)
        }.toMap
      }
    }

    def constantOver(terms: Seq[String]): Map[Long, Double] =
      corpusTokens.collect {
        case (id, toks) if terms.exists(toks.contains) => id -> 1.0
      }.toMap

    def eval(q: graft.query.Query): Map[Long, Double] = q match {
      case Term(_, t)    => termScores(t, 1.0)
      case TermSet(_, ts) => constantOver(ts.distinct.filter(_.nonEmpty))
      case Prefix(_, p)  => constantOver(dictionary.filter(_.startsWith(p)))
      case Fuzzy(_, t, maxE, prefLen, trans) =>
        constantOver(dictionary.filter { w =>
          math.abs(w.length - t.length) <= maxE &&
          (prefLen == 0 || w.startsWith(t.take(prefLen))) &&
          (if (trans) graft.util.EditDistance.damerau(w, t) <= maxE
           else levenshtein(w, t) <= maxE)
        })
      case TermRange(_, lo, hi, il, iu) =>
        constantOver(dictionary.filter { w =>
          lo.forall(v => if (il) w >= v else w > v) &&
          hi.forall(v => if (iu) w <= v else w < v)
        })
      case Wildcard(_, pat) =>
        val re = ("^" + pat.flatMap {
          case '*' => ".*"
          case '?' => "."
          case c   => java.util.regex.Pattern.quote(c.toString)
        } + "$").r
        constantOver(dictionary.filter(w => re.pattern.matcher(w).matches))
      case Bool(clauses) =>
        val parts = clauses.map { case (o, sub) => (o, eval(sub)) }
        val required = parts.collect { case (Occur.Must | Occur.Filter, m) => m }
        val nots = parts.collect { case (Occur.MustNot, m) => m }
        val candidates: Set[Long] =
          if (required.nonEmpty) required.map(_.keySet).reduce(_ intersect _)
          else parts.collect { case (Occur.Should, m) => m.keySet }
            .foldLeft(Set.empty[Long])(_ union _)
        val excluded = nots.map(_.keySet).foldLeft(Set.empty[Long])(_ union _)
        (candidates diff excluded).map { id =>
          id -> parts.collect {
            case (Occur.Should, m) => m.getOrElse(id, 0.0)
            case (Occur.Must, m)   => m.getOrElse(id, 0.0)
          }.sum
        }.toMap
      case DisMax(tie, qs) =>
        val parts = qs.map(eval)
        parts.flatMap(_.keySet).toSet.map { (id: Long) =>
          val ss = parts.flatMap(_.get(id))
          id -> (ss.max + tie * (ss.sum - ss.max))
        }.toMap
      case Phrase(f, terms, slop) =>
        val withOff = terms.zipWithIndex.collect { case (Some(t), i) => (t, i) }
        if (withOff.isEmpty || withOff.exists { case (t, _) => df(t) == 0 }) Map.empty
        else {
          val w = withOff.map { case (t, _) => Bm25.idf(docCount, df(t)) }.sum
          corpusTokens.flatMap { case (id, _) =>
            val lists = withOff.map { case (t, off) => positions(id, t).map(_ - off) }.toArray
            if (lists.exists(_.isEmpty)) None
            else {
              val termId = withOff.map(_._1).distinct.zipWithIndex.toMap
              val freq = PhraseMatcher.phraseFreq(lists, slop,
                withOff.map(_._2).toArray, withOff.map(x => termId(x._1)).toArray)
              if (freq <= 0) None else Some(id -> Bm25.score(freq, dlq(id), w, avgdl))
            }
          }.toMap
        }
      case Near(f, terms, slop, inOrder) =>
        if (terms.exists(df(_) == 0)) Map.empty
        else {
          val w = terms.map(t => Bm25.idf(docCount, df(t))).sum
          corpusTokens.flatMap { case (id, _) =>
            val lists = terms.map(positions(id, _)).toArray
            if (lists.exists(_.isEmpty)) None
            else {
              val freq = PhraseMatcher.nearFreq(lists, slop, inOrder)
              if (freq <= 0) None else Some(id -> Bm25.score(freq, dlq(id), w, avgdl))
            }
          }.toMap
        }
      case SpanWrap(sq) =>
        val leaves = SpanQ.leaves(sq).distinct
        if (SpanQ.requiredLeaves(sq).exists { case (_, t) => df(t) == 0 }) Map.empty
        else {
          val w = leaves.map { case (_, t) =>
            val d = df(t); if (d == 0) 0.0 else Bm25.idf(docCount, d)
          }.sum
          val slots = leaves.zipWithIndex.toMap
          corpusTokens.flatMap { case (id, _) =>
            val lists = leaves.map { case (_, t) => positions(id, t) }.toArray
            val freq = SpanEval.freq(SpanEval.eval(sq, slots, lists))
            if (freq <= 0) None else Some(id -> Bm25.score(freq, dlq(id), w, avgdl))
          }.toMap
        }
      case Boost(sub, b)  => eval(sub).view.mapValues(_ * b).toMap
      case Constant(sub)  => eval(sub).view.mapValues(_ => 1.0).toMap
      case AllDocs        => corpusTokens.map(_._1 -> 1.0).toMap
      case NoDocs         => Map.empty
      case _              => Map.empty
    }

    private def levenshtein(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
  }

  // --------------------------------------------------------- query generator

  def word(): String =
    if (rnd.nextInt(10) == 0) "zzmissing" else vocab(rnd.nextInt(vocab.length))

  def genSpan(depth: Int): SpanQ = {
    val choice = if (depth <= 0) 0 else rnd.nextInt(7)
    choice match {
      case 0 => SpanTerm("content", word())
      case 1 => SpanNearQ(Seq(genSpan(depth - 1), genSpan(depth - 1)),
        rnd.nextInt(4), rnd.nextBoolean())
      case 2 => SpanOrQ(Seq(genSpan(depth - 1), genSpan(depth - 1)))
      case 3 => SpanNotQ(genSpan(depth - 1), genSpan(depth - 1))
      case 4 => SpanContainingQ(genSpan(depth - 1), genSpan(depth - 1))
      case 5 => SpanWithinQ(genSpan(depth - 1), genSpan(depth - 1))
      case 6 => SpanSlice(genSpan(depth - 1), rnd.nextInt(3), 3 + rnd.nextInt(10))
    }
  }

  def gen(depth: Int): graft.query.Query = {
    val choice = if (depth <= 0) rnd.nextInt(3) else rnd.nextInt(14)
    choice match {
      case 0 => Term("content", word())
      case 1 => TermSet("content", Seq.fill(rnd.nextInt(3) + 1)(word()))
      case 2 => Prefix("content", word().take(rnd.nextInt(3) + 1))
      case 3 | 4 => Bool(Seq.fill(rnd.nextInt(3) + 1) {
        val o = rnd.nextInt(4) match {
          case 0 => Occur.Should
          case 1 => Occur.Must
          case 2 => Occur.Filter
          case 3 => Occur.MustNot
        }
        o -> gen(depth - 1)
      })
      case 5 => Phrase("content",
        Seq.fill(rnd.nextInt(2) + 2)(if (rnd.nextInt(6) == 0) None else Some(word())),
        rnd.nextInt(3))
      case 6 => Near("content", Seq.fill(rnd.nextInt(2) + 2)(word()),
        rnd.nextInt(4), rnd.nextBoolean())
      case 7 => DisMax(rnd.nextDouble(), Seq.fill(rnd.nextInt(2) + 1)(gen(depth - 1)))
      case 8 => Boost(gen(depth - 1), 1.0 + rnd.nextInt(3))
      case 9 => Constant(gen(depth - 1))
      case 10 => Fuzzy("content", word(), rnd.nextInt(2) + 1,
        rnd.nextInt(2), rnd.nextBoolean())
      case 11 => SpanWrap(genSpan(rnd.nextInt(2) + 1))
      case 12 =>
        val w = word()
        val i = rnd.nextInt(w.length)
        Wildcard("content", w.updated(i, if (rnd.nextBoolean()) '?' else '*'))
      case 13 =>
        val (a, b) = (word(), word())
        TermRange("content", Some(if (a < b) a else b), Some(if (a < b) b else a),
          rnd.nextBoolean(), rnd.nextBoolean())
    }
  }

  /** Random queries of the shapes the top-k kernel routes serve: terms,
    * SHOULD-of-terms (boosted), DisMax, term conjunctions with FILTER and
    * MUST_NOT terms, phrases (gapped, sloppy, repeated terms) and near.
    */
  def genKernel(r: scala.util.Random): graft.query.Query = {
    def w(): String = if (r.nextInt(10) == 0) "zzmissing" else vocab(r.nextInt(vocab.length))
    def t(): graft.query.Query = Term("content", w())
    r.nextInt(7) match {
      case 0 => t()
      case 1 => Bool(Seq.fill(2 + r.nextInt(3))(Occur.Should -> t()))
      case 2 => DisMax(r.nextDouble(), Seq.fill(1 + r.nextInt(3))(t()))
      case 3 => Boost(Bool(Seq.fill(2)(Occur.Should -> Boost(t(), 1.0 + r.nextInt(3)))),
        1.0 + r.nextInt(2))
      case 4 => Bool(Seq.fill(2 + r.nextInt(2))((if (r.nextBoolean()) Occur.Must else Occur.Filter) -> t()) ++
        Seq.fill(r.nextInt(2))(Occur.MustNot -> t()))
      case 5 => Phrase("content",
        Seq.fill(2 + r.nextInt(2))(if (r.nextInt(6) == 0) None else Some(w())), r.nextInt(3))
      case 6 => Near("content", Seq.fill(2 + r.nextInt(2))(w()), r.nextInt(4), r.nextBoolean())
    }
  }

  private def normalize(m: Map[Long, Double]): Map[Long, Long] =
    m.collect { case (id, s) => id -> math.round(s * 1e7) }

  test("150 random query trees: distributed engine ≡ local reference evaluator") {
    searcher // force build once
    var checked = 0
    var nonEmpty = 0
    (1 to numQueries).foreach { i =>
      val q = gen(3)
      val expected = normalize(LocalRef.eval(q))
      val rows = searcher.search(q, 0).collect().map(r => r.getLong(0) -> r.getDouble(1))
      // join-fanout guard: the engine must emit each docId exactly once
      assert(rows.length === rows.map(_._1).distinct.length, s"duplicate docIds in query #$i: $q")
      val got = normalize(rows.toMap)
      assert(got === expected, s"query #$i: $q")
      checked += 1
      if (expected.nonEmpty) nonEmpty += 1
    }
    assert(checked === numQueries)
    assert(nonEmpty > numQueries * 2 / 3, s"only $nonEmpty non-empty results — generator too weak")
  }

  test("random kernel-shaped top-k: local route and distributed route ≡ local reference top-k") {
    val r = new scala.util.Random(sys.env.getOrElse("GRAFT_PROP_SEED", "20260816").toLong + 1)
    def top(m: Map[Long, Double], k: Int): Seq[(Long, Long)] =
      m.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(k).map { case (id, sc) => id -> math.round(sc * 1e7) }
    def got(q: graft.query.Query, k: Int): Seq[(Long, Long)] =
      searcher.search(q, k).collect().map(x => x.getLong(0) -> math.round(x.getDouble(1) * 1e7)).toSeq
    var nonEmpty = 0
    (1 to 40).foreach { i =>
      val q = genKernel(r)
      val expected = LocalRef.eval(q)
      if (expected.nonEmpty) nonEmpty += 1
      for (k <- Seq(1, 10, 100)) {
        assert(searcher.search(q, k).isLocal, s"query #$i: $q took the distributed route")
        assert(got(q, k) === top(expected, k), s"query #$i k=$k: $q")
      }
      val cap = searcher.maxLocalTopKPostings
      searcher.maxLocalTopKPostings = 0
      try assert(got(q, 10) === top(expected, 10), s"query #$i distributed: $q")
      finally searcher.maxLocalTopKPostings = cap
    }
    assert(nonEmpty > 20, s"only $nonEmpty non-empty results — generator too weak")
  }
}
