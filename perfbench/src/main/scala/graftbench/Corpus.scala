package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analysis.Analyzers
import graft.fixtures.CodeCorpus
import graft.index.{IndexSchema, KeywordField, TextField}

/** Seeded inputs. Every document's text is `CodeCorpus.content(rowId)` over a
  * row range offset by the seed, so distinct seeds below 2^30 never share
  * documents and one seed always yields the same corpus.
  */
object Corpus {
  /** Rows reserved per seed; far above any corpus size used here. */
  val SeedStride = 100000000L

  def rowOffset(seed: Long): Long = (seed & 0x3fffffffL) * SeedStride

  val schema: IndexSchema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map("content" -> TextField("code", positions = true), "lang" -> KeywordField))

  /** The CodeCorpus table shape over rows [off, off + n). */
  def frame(spark: SparkSession, off: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(off, off + n, 1, parts).map { id =>
      val lang = CodeCorpus.Langs((id % CodeCorpus.Langs.length).toInt)
      (s"org${id % 97}/repo${id % 1003}", f"src/pkg${id % 31}/File$id%012d.$lang",
        f"${(id * 0x517cc1b727220a95L) & 0xffffffffL}%08x", lang, CodeCorpus.content(id))
    }.toDF("repo", "path", "commit", "lang", "content")
  }

  /** Terms as the `code` analyzer indexes them. */
  def terms(text: String): IndexedSeq[String] = Analyzers.code.terms(text)

  /** Rows in [off, off + n) divisible by `m`: CodeCorpus plants "we the
    * people" on every 10th row and "block max wand" on every 7th.
    */
  def multiples(off: Long, n: Long, m: Long): Long = {
    def upTo(x: Long): Long = if (x < 0) 0 else x / m + 1 // multiples in [0, x]
    upTo(off + n - 1) - upTo(off - 1)
  }

  /** Zipf-weighted pick over ranks 0 until n (rank 0 most likely). The
    * uniform draws follow a golden-ratio sequence from a seeded start, so
    * every stretch of consecutive picks covers the weights evenly: the seed
    * moves which ranks come up, not how representative a short run is.
    */
  final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private var u = rnd.nextDouble()
    def next(): Int = {
      u = (u + Zipf.Golden) % 1.0
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  object Zipf {
    val Golden: Double = (math.sqrt(5) - 1) / 2
  }
}
