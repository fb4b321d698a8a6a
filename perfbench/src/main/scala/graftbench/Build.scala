package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.exec.Searcher
import graft.index.{Index, IndexBuilder}

/** The bulk build the search workload sets its index up with, and its checks. */
object Build {

  /** Build and save an index of `source`. Untraced, this is the public
    * IndexBuilder.build followed by Index.save. Traced, it runs the same
    * public stages one at a time, each materialized so its span holds its
    * own work: docId assignment plus the content hash (prepareDocs),
    * tokenize (tokensOf), salted shuffle plus block encode (blocksOf), save.
    */
  def apply(r: Run, source: DataFrame, dir: String, traced: Boolean): Index =
    if (!traced) {
      val ix = IndexBuilder.build(source, Corpus.schema, r.parts)
      ix.save(dir)
      ix
    } else {
      val t = r.tracer
      val level = StorageLevel.MEMORY_AND_DISK
      val docs = t.span("index.prepare_docs") {
        val d = IndexBuilder.prepareDocs(source, Corpus.schema, r.parts).repartition(r.parts).persist(level)
        d.count()
        d
      }
      val tokens = t.span("analysis.tokenize") {
        val k = IndexBuilder.tokensOf(docs, Corpus.schema).persist(level)
        r.counts("analysis.tokens") = k.count().toDouble
        k
      }
      val (blocks, stats) = t.span("index.blocks") {
        val b = IndexBuilder.blocksOf(tokens, Corpus.schema, r.parts).persist(level)
        r.counts("index.blocks") = b.count().toDouble
        (b, IndexBuilder.fieldStatsOf(b))
      }
      tokens.unpersist()
      val ix = new Index(r.spark, Corpus.schema, docs, blocks, IndexBuilder.termDictOf(blocks), stats)
      t.span("index.save")(ix.save(dir))
      ix
    }

  /** A loaded index must hold every generated doc, and the planted terms
    * ("people" on every 10th row, "wand" on every 7th) must have the
    * docFreq the generator implies.
    */
  def check(r: Run, loaded: Index, off: Long, n: Long, rec: OpRec): Unit = {
    val docs = loaded.docs.count()
    if (docs != n) r.fail(Some(rec), s"index holds $docs docs, generator made $n")
    val want = (Corpus.multiples(off, n, 10), Corpus.multiples(off, n, 7))
    val st = new Searcher(loaded).termStats("content", Seq("people", "wand"))
    val got = (st.get("people").map(_._1).getOrElse(0L), st.get("wand").map(_._1).getOrElse(0L))
    if (got != want) r.fail(Some(rec), s"docFreq(people, wand) = $got, planted $want")
  }
}
