package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fixtures.CodeCorpus
import graft.ops.{Dedup, TextOps}

/** `pipelines`: training-data corpus ops over a seeded multi-partition doc
  * table with planted exact copies, near-duplicates, shared boilerplate,
  * e-mail addresses and documents copied into an evaluation set.
  * graft.ops and graft.functions do all the work; graft.index and
  * graft.exec do none. Every pass calls each op afresh; nothing is memoized
  * between passes.
  */
object PipelinesWorkload {
  val Docs = 1500
  /** Docs of the untimed warm-up pass's table. */
  val WarmupDocs = 100
  val Planted = 15 // per kind: exact copies, near-duplicates, boilerplate, e-mails
  val EvalDocs = 15
  val SetupReps = 5
  val Boilerplate =
    "licensed under the apache license version two see the notice file distributed with this work"

  final case class Plan(exact: Seq[(Long, Long)], near: Seq[(Long, Long)], boiler: Seq[Long],
      pii: Seq[Long], eval: Seq[Long]) {
    def pairs: Seq[(Long, Long)] = exact ++ near
  }

  /** Base rows 0 until n, then one exact copy and one near-duplicate
    * (three tokens appended) per planted source. Disjoint seeded picks.
    */
  def generate(off: Long, seed: Long, n: Int): (Seq[(Long, String)], Plan) = {
    val picks = new scala.util.Random(seed).shuffle((0L until n).toVector)
    val Seq(exactSrc, nearSrc, boiler, pii) = picks.take(4 * Planted).grouped(Planted).toSeq
    val eval = picks.slice(4 * Planted, 4 * Planted + EvalDocs)
    val boilerSet = boiler.toSet
    val piiSet = pii.toSet
    val base = (0L until n).map { i =>
      val t = CodeCorpus.content(off + i) +
        (if (boilerSet(i)) " " + Boilerplate else "") +
        (if (piiSet(i)) s" contact dev$i@example.org" else "")
      i -> t
    }
    val rnd = new java.util.Random(seed)
    val copies = exactSrc.zipWithIndex.map { case (s, k) => (n + k.toLong) -> base(s.toInt)._2 }
    val nears = nearSrc.zipWithIndex.map { case (s, k) =>
      (n + Planted + k.toLong) -> (base(s.toInt)._2 + Seq.fill(3)(s" zq${rnd.nextInt(100000)}").mkString)
    }
    val plan = Plan(exactSrc.zipWithIndex.map { case (s, k) => (s, n + k.toLong) },
      nearSrc.zipWithIndex.map { case (s, k) => (s, n + Planted + k.toLong) }, boiler, pii, eval)
    (base ++ copies ++ nears, plan)
  }

  /** Generates the seeded table of `n` base docs as `nproc` parquet files,
    * and its evaluation table; returns what was planted.
    */
  private def write(r: Run, n: Int, table: String, evalTable: String): Plan = {
    val spark = r.spark
    import spark.implicits._
    val (rows, p) = generate(Corpus.rowOffset(r.seed), r.seed, n)
    rows.toDF("id", "text").repartition(r.parts).write.mode("overwrite").parquet(table)
    p.eval.map(i => rows(i.toInt)._2).toDF("text").write.mode("overwrite").parquet(evalTable)
    p
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val table = s"${r.work}/pipelines-docs"
    val evalTable = s"${r.work}/pipelines-eval"
    var plan: Plan = null
    for (_ <- 0 until SetupReps) r.setup { plan = write(r, Docs, table, evalTable) }
    val total = Docs + 2L * Planted
    r.inputs("planted") = Map(
      "exact_pairs" -> plan.exact.map { case (a, b) => List(a, b) },
      "near_pairs" -> plan.near.map { case (a, b) => List(a, b) },
      "boilerplate_docs" -> plan.boiler,
      "pii_docs" -> plan.pii,
      "eval_docs" -> plan.eval)
    val docs = spark.read.parquet(table)
    val evalSet = spark.read.parquet(evalTable)
    if (docs.rdd.getNumPartitions < r.parts)
      r.fail(None, s"doc table has ${docs.rdd.getNumPartitions} partitions, want ${r.parts}")
    // The first pass in a JVM spends most of its CPU compiling (JIT): about
    // twice a warm pass, and the share varies from run to run. So one pass
    // over a smaller table of the same seed runs first, untimed, with its
    // ops recorded as `warmup.<kind>` and still checked.
    val warmPlan = write(r, WarmupDocs, s"$table-warmup", s"$evalTable-warmup")
    pass(r, spark.read.parquet(s"$table-warmup"), spark.read.parquet(s"$evalTable-warmup"), warmPlan,
      WarmupDocs + 2L * Planted, traced = false, prefix = "warmup.")
    r.loop()(round => pass(r, docs, evalSet, plan, total, r.tracedRound(round)))
  }

  /** One pass over every op. An op's output check failing fails that op. */
  private def pass(r: Run, docs: DataFrame, evalSet: DataFrame, plan: Plan, total: Long,
      traced: Boolean, prefix: String = ""): Unit = {
    val spark = r.spark
    import spark.implicits._
    val t = r.tracer
    val sigDir = s"${r.work}/pipelines-sigs"
    def op[A](kind: String)(body: => A)(check: (A, OpRec) => Unit): Option[A] = {
      val (res, rec) = r.timed(prefix + kind, total, traced)(t.span(s"ops.$kind")(body))
      res.foreach(v => check(v, rec))
      res
    }
    def expect(rec: OpRec, ok: Boolean, msg: => String): Unit = if (!ok) r.fail(Some(rec), msg)
    def norm(a: Long, b: Long) = (math.min(a, b), math.max(a, b))

    op("minhash_sig") {
      docs.select(col("id"), TextOps.shingles(col("text"), 3).as("sh"))
        .withColumn("sig", Dedup.minhash(col("sh"), 16))
        .write.mode("overwrite").parquet(sigDir)
    }((_, _) => ())
    val sigs = spark.read.parquet(sigDir)
    val cand = op("lsh_candidates") {
      val c = Dedup.lshCandidates(sigs, "id", "sig", bands = 8).localCheckpoint(true)
      (c, c.count())
    } { case ((_, n), rec) => rec.parts("pairs") = n.toDouble }
    val verified = cand.flatMap { case (c, _) =>
      op("jaccard") {
        Dedup.jaccard(c, sigs, "id", "sh").filter(col("jaccard") >= 0.8)
          .select("id_a", "id_b").as[(Long, Long)].collect().map { case (a, b) => norm(a, b) }.toSet
      } { (v, rec) =>
        rec.parts("verified") = v.size.toDouble
        val missing = plan.pairs.filterNot(v.contains)
        expect(rec, missing.isEmpty, s"minhash chain missed planted pairs ${missing.take(5)}")
      }
    }
    cand.foreach(_._1.unpersist())

    op("passage_dups") {
      Dedup.passageDups(docs, "id", "text", window = 8).filter(col("ndocs") >= Planted).count()
    } { (n, rec) =>
      val windows = Boilerplate.split(" ").length - 8 + 1
      expect(rec, n >= windows, s"passageDups found $n boilerplate windows, planted $windows")
    }
    val locs = op("passage_locations") {
      val l = Dedup.passageDupLocations(docs, "id", "text", window = 8)
      (l, l.select("doc_id").distinct().as[Long].collect().toSet)
    } { case ((_, ids), rec) =>
      val want = plan.boiler ++ plan.pairs.flatMap(p => Seq(p._1, p._2))
      expect(rec, want.forall(ids.contains), "passageDupLocations missed planted docs")
    }
    locs.foreach { case (l, _) =>
      op("excise") {
        Dedup.excisePassages(docs, "id", "text", l, window = 8)
          .filter(col("doc_id").isin(plan.boiler: _*)).agg(min(col("removed")), count(lit(1)))
          .as[(Long, Long)].collect().head
      } { case ((least, n), rec) =>
        val words = Boilerplate.split(" ").length
        expect(rec, n == plan.boiler.length && least >= words,
          s"excisePassages removed at least $least tokens from $n boilerplate docs, want >= $words")
      }
    }
    op("simhash") {
      val sim = docs.select(col("id"), Dedup.simhash64(TextOps.tokens(col("text"))).as("sim"))
      Dedup.hammingNeighbors(sim, "id", "sim").select("id_a", "id_b").as[(Long, Long)]
        .collect().map { case (a, b) => norm(a, b) }.toSet
    } { (v, rec) =>
      expect(rec, plan.exact.forall(v.contains), "hammingNeighbors missed planted exact copies")
    }
    op("quality") {
      val q = TextOps.quality(col("text"))
      docs.select(q.as("q")).agg(min(col("q.n_tokens")), count(lit(1))).as[(Int, Long)].collect().head
    } { case ((least, n), rec) =>
      expect(rec, n == total && least > 0, s"quality over $n docs, min tokens $least")
    }
    op("redact_pii") {
      docs.select(TextOps.redactPii(col("text")).as("r")).agg(sum(col("r.n_emails"))).as[Long].collect().head
    } { (n, rec) =>
      expect(rec, n == plan.pii.length, s"redactPii counted $n e-mails, planted ${plan.pii.length}")
    }
    op("decontaminate") {
      Dedup.decontaminate(docs, "id", "text", evalSet, "text", window = 8).select("id").as[Long]
        .collect().toSet
    } { (kept, rec) =>
      expect(rec, !plan.eval.exists(kept.contains) && kept.size >= total - 2 * plan.eval.length,
        s"decontaminate kept ${kept.size} of $total docs, eval copies kept ${plan.eval.count(kept.contains)}")
    }
    // dropNearDuplicates clusters the pairs with connectedComponents and
    // keeps each component's smallest id
    verified.foreach { v =>
      op("components") {
        Dedup.dropNearDuplicates(docs, "id", v.toSeq.toDF("id_a", "id_b")).select("id").as[Long]
          .collect().toSet
      } { (kept, rec) =>
        val dropped = plan.pairs.forall { case (a, b) => kept.contains(a) && !kept.contains(b) }
        expect(rec, dropped && kept.size == total - plan.pairs.length,
          s"dropNearDuplicates kept ${kept.size} of $total docs, planted ${plan.pairs.length} copies")
      }
    }
    locs.foreach(_._1.unpersist())
  }
}
