package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry queries as timed ops: each op fully materializes one query's
  * result (Bench's noop write, so no operator is pruned away). */
final class QueryRunner(spark: SparkSession, tracer: Option[Tracer]) {
  private val registry = graft.SparkEntry.queries

  def materialize(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Run `name` over `dir` as one op, dropping cache residue after it
    * (Bench's between-query hygiene). A query that throws is a failed
    * op: no time, named in the log. */
  def op(name: String, dir: String): OpResult = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    def run(): Unit = materialize(registry(name)(spark, dir))
    val failed =
      try { tracer.fold(run())(_.op(run())); false } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: ${e.toString.take(300)}")
          true
      }
    val secs = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
    tracer.foreach(_.spans.add(s"query.$name", secs))
    OpResult(name, if (failed) Double.NaN else secs, Nil, failed)
  }

  /** Untimed run of `name` (warm-up); a failure is logged, and the timed
    * ops of the same query will count it. */
  def warm(name: String, dir: String): Unit =
    try materialize(registry(name)(spark, dir)) catch {
      case e: Throwable => System.err.println(s"[perfbench] warm-up $name FAILED: ${e.toString.take(300)}")
    }

  /** Write `name`'s result over `dir` as one parquet file for the checks
    * (a failure leaves no file, which the checks report). */
  def dump(name: String, dir: String, out: String): Unit =
    try registry(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out) catch {
      case e: Throwable => System.err.println(s"[perfbench] $name FAILED: ${e.toString.take(300)}")
    }

  /** Drop everything cached: run between set-up and the timed region. */
  def clearResidue(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
  }
}

/** Per-row cost of graft's SQL functions: the time to materialize the
  * function over a cached input, less the time of a plain projection of
  * the same input, per row — wall time with every task thread busy. */
object Kernels {
  /** graft's text kernels against `length(text)` and its JSON kernels
    * against `length(properties)`, over `input` (see [[Workload.kernelInput]]). */
  def all(input: DataFrame, reachPath: String): Map[String, (Double, String)] = {
    val cached = input.persist()
    val rows = cached.count().toDouble
    val m = nsPerRow(cached, rows, Seq(
        "functions.tokens_ns_per_row" -> "graft_tokens(text)",
        "functions.shingles_ns_per_row" -> "graft_shingles(text, 3)",
        "functions.minhash_ns_per_row" -> "graft_minhash(text, 16, 3)",
        "functions.simhash_ns_per_row" -> "graft_simhash(text)"), baseline = "length(text)") ++
      nsPerRow(cached, rows, Seq(
        "functions.reach_ns_per_row" -> s"graft_reach(properties, '$reachPath')",
        "functions.doc_content_ns_per_row" -> "graft_doc_content(properties, derivatives, id)"),
        baseline = "length(properties)")
    cached.unpersist(blocking = true)
    m.map { case (k, v) => k -> (v -> "ns") }
  }

  /** Median of five timings per expression, after one that compiles it. */
  private def nsPerRow(cached: DataFrame, rows: Double, exprs: Seq[(String, String)],
                       baseline: String): Map[String, Double] = {
    def time(e: String): Double = {
      val ts = (0 to 5).map { _ =>
        val t0 = System.nanoTime()
        cached.selectExpr(e).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0).toDouble
      }
      Main.median(ts.drop(1))
    }
    val base = time(baseline)
    exprs.map { case (name, e) => name -> (time(e) - base) / rows }.toMap
  }
}
