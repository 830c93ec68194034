package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eight of the heavy family (`ScaleCurveProbe.DefaultQueries`): the four
  * checked ones, the LSH audit, containment, CJK curation and the
  * embedding gate — four registry modules, and the shingle, MinHash,
  * connected-components, PageRank and ANN kernels.
  *
  * Set-up is an untimed warm pass over the measured tables (JIT, codegen,
  * table metadata) that also writes the checked queries' results for
  * run.py's checks; a round runs every query twice. */
final class HeavyWorkload(spark: SparkSession, dataDir: String, tracer: Option[Tracer])
    extends Workload {
  val queries: Seq[String] = graft.tools.ScaleCurveProbe.DefaultQueries.filter(Set(
    "q22_ngram_jaccard", "q39_dedup_clusters", "q50_deduplicate", "q79_pagerank_dangling",
    "q91_lsh_audit", "q103_containment", "q47_cjk_curation", "q149_embedding_gate"))
  /** Queries whose results run.py checks, written under `out/<name>`. */
  val checked: Set[String] = Set("q50_deduplicate", "q22_ngram_jaccard",
    "q39_dedup_clusters", "q79_pagerank_dangling")
  private val runner = new QueryRunner(spark, tracer)
  private val measured = s"$dataDir/measured"
  private def documents = graft.Tables.load(spark, measured, "documents")

  /** Measured documents per query. */
  val docsPerOp: Int = documents.count().toInt

  def setup(): Unit = {
    queries.foreach { q =>
      if (checked(q)) runner.dump(q, measured, s"$dataDir/out/$q")
      else runner.warm(q, measured)
    }
    runner.clearResidue()
  }

  /** Two passes over the queries, so every run has two repetitions of
    * each query whatever its length. */
  def round(): Seq[OpResult] = (queries ++ queries).map(q => runner.op(q, measured))

  /** A query's latency is the fastest of its repetitions: on a shared
    * host a slow repetition measures the neighbours (Bench's protocol). */
  override def latencies(ok: Seq[OpResult]): Seq[Double] =
    ok.groupBy(_.kind).values.map(_.map(_.seconds).min).toSeq

  override def extra(): String = Json.obj("out" -> Json.str(s"$dataDir/out"))

  def layerRecord(ok: Seq[OpResult]): Map[String, (Double, String)] = {
    val t = tracer.get
    val perQuery = queries.map(q => s"heavy.${q}_s" -> (t.spans.get(s"query.$q") -> "s"))
    // query time summed per registry module that holds a heavy query
    val perModule = graft.queries.RegistryModules.all.flatMap { case (m, names) =>
      val qs = queries.filter(names)
      if (qs.isEmpty) None
      else Some(s"queries.${m}_s" -> (qs.map(q => t.spans.get(s"query.$q")).sum -> "s"))
    }
    (perQuery ++ perModule).toMap
  }

  val reachPath = "$.text"

  /** The measured documents repeated 10 times (enough rows to time),
    * with each row's columns as its JSON properties. */
  def kernelInput(): DataFrame =
    documents.select(col("doc_id").as("id"),
        to_json(struct(col("doc_id").as("id"), col("text"), col("lang"), col("source")))
          .as("properties"),
        lit("{}").as("derivatives"), col("text"))
      .withColumn("rep", explode(sequence(lit(1), lit(10)))).drop("rep").repartition(4)
}
