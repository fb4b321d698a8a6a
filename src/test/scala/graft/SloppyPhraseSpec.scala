package graft

import graft.exec.{Bm25, PhraseMatcher, Searcher}
import graft.index._
import graft.query.{Query => Q, _}

/** Lucene-exact sloppy phrase matching, including repeated-term phrases —
  * values hand-traced through the published SloppyPhraseMatcher algorithm
  * (repeat groups start staggered on their j-th occurrences; collisions
  * advance the lesser slot; overlapping windows each count 1/(1+len)).
  * The greedy matcher this replaced miscounted all four pinned cases.
  */
class SloppyPhraseSpec extends SparkTestBase {

  private def freq(lists: Seq[Array[Int]], slop: Int, offsets: Seq[Int],
      terms: Seq[Int]): Double =
    PhraseMatcher.phraseFreq(lists.toArray, slop, offsets.toArray, terms.toArray)

  test("repeated-term phrase 'a b a' on doc 'a b a': one exact window, not a sloppy artifact") {
    // slots (a@0, b@1, a@2); a raw [0,2], b raw [1]; shifted lists below.
    // The two 'a' slots must sit on DISTINCT occurrences: the only legal
    // alignment is (0,1,2) — matchLength 0, freq 1.0. The greedy matcher
    // aligned both 'a' slots on occurrence 0 and scored 1/3.
    val f = freq(Seq(Array(0, 2), Array(0), Array(-2, 0)), 2, Seq(0, 1, 2), Seq(0, 1, 0))
    assert(f === 1.0)
    // exact form agrees
    assert(freq(Seq(Array(0, 2), Array(0), Array(-2, 0)), 0, Seq(0, 1, 2), Seq(0, 1, 0)) === 1.0)
  }

  test("'a a' slop 1 on 'a x a': one match of length 1 (0.5), not a double-count") {
    // a raw [0,2]; shifted s0=[0,2], s1=[-1,1]. Only alignment occ(0,2):
    // positions (0,1) → matchLength 1 → 1/(1+1). Greedy counted 1.0 by
    // reusing each occurrence for both slots.
    assert(freq(Seq(Array(0, 2), Array(-1, 1)), 1, Seq(0, 1), Seq(0, 0)) === 0.5)
  }

  test("'a a' on 'a a a': two matches, exact and sloppy") {
    assert(freq(Seq(Array(0, 1, 2), Array(-1, 0, 1)), 0, Seq(0, 1), Seq(0, 0)) === 2.0)
    assert(freq(Seq(Array(0, 1, 2), Array(-1, 0, 1)), 2, Seq(0, 1), Seq(0, 0)) === 2.0)
  }

  test("distinct terms, overlapping windows both count ('x y' slop 5, x@[4], y@[1,6])") {
    // windows (x4,y1) length 4 → 1/5 and (x4,y6) length 1 → 1/2; the greedy
    // matcher consumed x after the first and scored only 0.2
    val f = freq(Seq(Array(4), Array(0, 5)), 5, Seq(0, 1), Seq(0, 1))
    assert(math.abs(f - 0.7) < 1e-12)
  }

  test("near freq carries SpanScorer sloppy weights (ordered + unordered enumeration)") {
    import graft.exec.PhraseMatcher.nearFreq
    // ordered: one chain a@0 → b@3, slack (3-0+1)-2 = 2 → 1/(1+2)
    assert(math.abs(nearFreq(Array(Array(0), Array(3)), 5, inOrder = true) - 1.0 / 3) < 1e-12)
    // unordered enumerates min-start windows (NearSpansUnordered): (a0,b1)
    // slack 0 → 1.0, advance a → (a5,b1) slack 3 → 0.25; overlapping windows
    // each count (the greedy matcher consumed both pointers after the first)
    assert(math.abs(nearFreq(Array(Array(0, 5), Array(1)), 5, inOrder = false) - 1.25) < 1e-12)
    // non-fitting windows advance without counting
    assert(nearFreq(Array(Array(0), Array(10)), 3, inOrder = false) === 0.0)
    // ordered chains too wide contribute nothing
    assert(nearFreq(Array(Array(0), Array(10)), 3, inOrder = true) === 0.0)
  }

  test("matcher invariants: slop-monotone and shift-invariant (120 random shapes)") {
    val rnd = new scala.util.Random(42L)
    def randLists(n: Int): Array[Array[Int]] =
      Array.fill(n)(Array.fill(1 + rnd.nextInt(5))(rnd.nextInt(30)).distinct.sorted)
    (1 to 120).foreach { _ =>
      val n = 2 + rnd.nextInt(3)
      val lists = randLists(n)
      val offs = Array.tabulate(n)(identity)
      val terms = Array.tabulate(n)(i => if (rnd.nextInt(4) == 0) 0 else i) // some repeats
      val shift = rnd.nextInt(50)
      for (slop <- 1 until 6) {
        val a = PhraseMatcher.phraseFreq(lists, slop, offs, terms)
        // the window enumeration is slop-independent; only the ≤ slop gate
        // changes, so freq is monotone in slop…
        assert(a <= PhraseMatcher.phraseFreq(lists, slop + 1, offs, terms) + 1e-12)
        // …and invariant under a uniform position shift
        val shifted = lists.map(_.map(_ + shift))
        assert(math.abs(a - PhraseMatcher.phraseFreq(shifted, slop, offs, terms)) < 1e-12)
        val u = PhraseMatcher.nearFreq(lists, slop, inOrder = false)
        assert(u <= PhraseMatcher.nearFreq(lists, slop + 1, inOrder = false) + 1e-12)
        assert(math.abs(u - PhraseMatcher.nearFreq(shifted, slop, inOrder = false)) < 1e-12)
        val o = PhraseMatcher.nearFreq(lists, slop, inOrder = true)
        assert(o <= PhraseMatcher.nearFreq(lists, slop + 1, inOrder = true) + 1e-12)
        assert(math.abs(o - PhraseMatcher.nearFreq(shifted, slop, inOrder = true)) < 1e-12)
      }
    }
  }

  test("end-to-end: distributed sloppy phrase and matchDoc agree with the matcher") {
    val s = spark
    import s.implicits._
    val src = Seq(
      ("r", "p0", "c", "a b a"),
      ("r", "p1", "c", "a x a"),
      ("r", "p2", "c", "b x b a")).toDF("repo", "path", "commit", "content")
    val schema = IndexSchema(Seq("repo", "path", "commit"),
      Map("content" -> TextField("standard", positions = true)))
    val searcher = new Searcher(IndexBuilder.build(src, schema, 2))
    // "a b a" slop 2: only p0 (p2 lacks a second 'a'; p1 lacks 'b')
    val q = Phrase("content", Seq(Some("a"), Some("b"), Some("a")), slop = 2)
    val hits = searcher.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(hits.map(_._1).toSeq === Seq(0L))
    // score = (2·idf_a + idf_b) · freq/(freq + K) with freq 1.0
    val st = searcher.index.fieldStats("content")
    val stats = searcher.termStats("content", Seq("a", "b"))
    val w = 2 * Bm25.idf(st.docCount, stats("a")._1) + Bm25.idf(st.docCount, stats("b")._1)
    assert(math.abs(hits(0)._2 - Bm25.score(1.0, 3, w, st.avgdl)) < 1e-12)
    // "a a" slop 1 matches p1 with freq 0.5 (and p0 with freq... a@[0,2] same shape)
    val q2 = Phrase("content", Seq(Some("a"), Some("a")), slop = 1)
    val hits2 = searcher.search(q2, 10).collect().map(_.getLong(0)).toSet
    assert(hits2 === Set(0L, 1L))
    // matchDoc (single-doc scorer) routes through the same matcher
    val md = searcher.matchDoc(Map("content" -> "a x a"), Seq(q2))
    val expected = Bm25.idf(1, 1) * 2 * 0.5 / (0.5 + Bm25.k1 * (1 - Bm25.b + Bm25.b *
      graft.util.SmallFloat.quantizeLength(3).toDouble / 3))
    assert(math.abs(md(0) - expected) < 1e-12)
    // the local top-k route, the distributed route (cap 0) and exhaustive
    // evaluation agree bit for bit on repeated-term, gapped and near shapes
    val shapes = Seq(q, q2, Phrase("content", Seq(Some("b"), None, Some("b")), slop = 0),
      Phrase("content", Seq(Some("a"), Some("a")), slop = 0),
      Near("content", Seq("a", "b"), slop = 1, inOrder = false))
    for (pq <- shapes; k <- Seq(1, 10, 100)) {
      def run() = searcher.search(pq, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val local = run()
      val cap = searcher.maxLocalTopKPostings
      searcher.maxLocalTopKPostings = 0
      val distributed = try run() finally searcher.maxLocalTopKPostings = cap
      searcher.wandEnabled = false
      val exhaustive = try run() finally searcher.wandEnabled = true
      assert(local === distributed && local === exhaustive, s"$pq k=$k")
    }
  }
}
