package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark operation as measured by the closed-loop client. `docs` is
  * the number of documents the operation covered; `parts` holds named
  * sub-timings the workload reports (for example the commit inside a
  * commit-to-visible operation).
  */
final class OpRec(val id: Int, val kind: String, val ms: Double, val cpuMs: Double,
    val docs: Long, val traced: Boolean) {
  var ok = true
  val parts = mutable.LinkedHashMap.empty[String, Double]
}

/** State of one run: the session, the seed, the tracer and everything the run
  * record will hold. One client thread drives it, so nothing is shared.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String) {
  val tracer = new Tracer(spark.sparkContext)
  val parts: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt
  val setupS = mutable.ArrayBuffer.empty[Double]
  val setupCpuS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Per-run scalars (sizes, counts) the report derives metrics from. */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** The seeded inputs actually used, as JSON-ready maps, lists and scalars. */
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  private var nextOp = 0

  /** Rounds alternate untraced/traced in a traced run, so both halves see the
    * same warmth and the difference bounds the tracing overhead.
    */
  def tracedRound(round: Int): Boolean = trace && round % 2 == 1

  /** Failed checks that belong to no single operation. */
  var unattributedFailures = 0

  def fail(op: Option[OpRec], msg: String): Unit = {
    op match {
      case Some(o) => o.ok = false
      case None    => unattributedFailures += 1
    }
    failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** Time one operation; a throw marks it failed and yields None. */
  def timed[A](kind: String, docs: Long, traced: Boolean)(body: => A): (Option[A], OpRec) = {
    val id = nextOp
    nextOp += 1
    val c0 = Host.processCpuNs
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.op(id, kind, traced)(body))
      catch { case e: Exception => Left(e) }
    val rec = new OpRec(id, kind, (System.nanoTime() - t0) / 1e6,
      (Host.processCpuNs - c0) / 1e6, docs, traced)
    rec.parts("round") = round
    ops += rec
    res match {
      case Right(v) => (Some(v), rec)
      case Left(e)  => fail(Some(rec), s"$kind op $id threw ${e.getClass.getSimpleName}: ${e.getMessage}"); (None, rec)
    }
  }

  /** Time one set-up repetition (seconds, wall and CPU). */
  def setup[A](body: => A): A = {
    val c0 = Host.processCpuNs
    val t0 = System.nanoTime()
    val r = body
    setupS += (System.nanoTime() - t0) / 1e9
    setupCpuS += (Host.processCpuNs - c0) / 1e9
    r
  }

  /** Round of the closed loop the next operation belongs to; -1 in set-up. */
  private var round = -1

  /** Closed loop: start the next round only after the previous completes,
    * and make at least `minRounds`. A traced run makes at least three rounds
    * (untraced, traced, untraced), so the tracing overhead compares warm
    * rounds of both kinds.
    */
  def loop(minRounds: Int = 1)(body: Int => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val least = if (trace) math.max(minRounds, 3) else minRounds
    round = 0
    while (System.nanoTime() < end || round < least) { body(round); round += 1 }
  }

  def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Bytes of the data files under a local directory, leaving out hidden
    * checksum files (0 when absent).
    */
  def du(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".")) 0L
      else f.length()
    walk(new java.io.File(path))
  }
}
