package perfbench

import org.apache.spark.sql.SparkSession

/** The one session every workload runs in: `local[threads]` with Bench's
  * shuffle and writer settings, a UTC session clock, the graft SQL
  * extensions, and `GraftFunctions.register` (the cache-key UDFs that
  * `DatasetRunner.grow` resolves by name are not installed by the
  * extensions alone). Scratch space stays under `workDir`. */
object Session {
  def build(threads: Int, workDir: String): SparkSession = {
    val local = new java.io.File(workDir, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.buffer.pageSize", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "warehouse").getAbsolutePath)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
