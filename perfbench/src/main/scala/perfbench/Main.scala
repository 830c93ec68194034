package perfbench

import java.nio.file.{Files, Paths}

/** One timed operation: its wall seconds and the check failures found
  * in its output (empty when correct). A failed op threw; it carries no
  * time and is left out of every latency metric. */
final case class OpResult(kind: String, seconds: Double, problems: Seq[String],
                          failed: Boolean = false)

/** The JVM half of the benchmark: runs one workload in one session and
  * writes a JSON record for `run.py`, which adds the checks made outside
  * the JVM and prints the result line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *        <dataDir> <outFile> <threads> <setupStartEpochMs> */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, dataDir, outFile, threadsS, startS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val setupStart = startS.toLong
    val spark = Session.build(threadsS.toInt, workDir)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val w: Workload = workload match {
      case "lifecycle" => new LifecycleWorkload(spark, workDir, seed, tracer)
      case "heavy_sf0.05" => new HeavyWorkload(spark, dataDir, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - setupStart) / 1e3
    tracer.foreach(_.start())
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val roundSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    // whole rounds only: every run attempts the same ops in the same
    // proportion, whatever its length
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val r0 = System.nanoTime()
      ops ++= w.round()
      roundSeconds += (System.nanoTime() - r0) / 1e9
    }
    val ok = ops.filterNot(_.failed).toSeq
    val (metrics, record) = tracer match {
      case None =>
        val lat = w.latencies(ok)
        (Map(
          "setup_s" -> (setupS -> "s"),
          "run_s" -> (roundSeconds.min -> "s"),
          "op_p50_s" -> (Main.median(lat) -> "s"),
          "docs_per_s" -> (w.docsPerOp * lat.size / lat.sum -> "docs/s"),
          "heap_retained_mb" -> (Main.heapRetainedMb() -> "MB")), Map.empty[String, (Double, String)])
      case Some(t) =>
        // layers every workload exercises go on the result line; the
        // workload's own layers go to its trace record
        val spark0 = t.sparkMetrics().map { case (k, v) => k -> (v -> Trace.unit(k)) }
        val kernels = Kernels.all(w.kernelInput(), w.reachPath)
        (spark0.filter(_._1 != "spark.spill_mb") ++ kernels, spark0 ++ kernels ++ w.layerRecord(ok))
    }
    val problems = ops.flatMap(o => o.problems.map(p => s"${o.kind}: $p"))
    def metricsJson(m: Map[String, (Double, String)]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*)
    val json = Json.obj(
      "attempted" -> Json.num(ops.size.toDouble),
      "failed" -> Json.num(ops.count(_.failed).toDouble),
      "problems" -> Json.arr(problems.toSeq.map(Json.str)),
      "metrics" -> metricsJson(metrics),
      "record" -> metricsJson(record),
      "extra" -> w.extra())
    Files.writeString(Paths.get(outFile), json)
    spark.stop()
  }

  /** Heap in use after full collections, in MB. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory - rt.freeMemory) / 1e6
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** What each workload provides to the shared timing loop. */
trait Workload {
  /** Untimed: warm-up and anything the checks need written. */
  def setup(): Unit
  /** One round of ops; the loop runs whole rounds. */
  def round(): Seq[OpResult]
  /** Documents each op processes (docs_per_s). */
  def docsPerOp: Int
  /** The op latencies op_p50_s is the median of. */
  def latencies(ok: Seq[OpResult]): Seq[Double] = ok.map(_.seconds)
  /** Input for the per-row kernel timings of a traced run: columns id,
    * properties, derivatives and text. */
  def kernelInput(): org.apache.spark.sql.DataFrame
  /** The `properties` path the reach kernel is timed on. */
  def reachPath: String
  /** The workload's own layer metrics, for its trace record. */
  def layerRecord(ok: Seq[OpResult]): Map[String, (Double, String)]
  /** Extra JSON for run.py (e.g. where results were written). */
  def extra(): String = "{}"
}

/** Minimal JSON writer for the record run.py reads. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

