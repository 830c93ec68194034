package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Objective, PyJson}
import graft.functions.GraftFunctions
import graft.model.{CollectionSpec, Documents}
import graft.pipeline._
import graft.sources.{AuthConfig, CacheStore, FetchResponse, Fetcher, ResourceCache}

/** The benchmark's own entity source: a seeded table of papers with
  * nested authors, served as precomputed EntityApi-shaped responses — a
  * paginated list endpoint and a per-paper detail endpoint — after a
  * fixed per-request latency. */
final class SourceTable(seed: Long, val n: Int, val pageSize: Int) {
  val Host = "http://bench.local"
  private val rng = new scala.util.Random(seed)
  private val words = Vector("graph", "growth", "data", "lattice", "signal", "cache",
    "stream", "model", "sparse", "vector", "kernel", "query", "index", "sample",
    "entropy", "protein", "galaxy", "neuron", "market", "climate")
  private val firstNames = Vector("Marie", "Isaac", "Daniel", "Niels", "Albert", "Ada", "Alan")
  private val lastNames = Vector("Curie", "Newton", "Kahneman", "Bohr", "Lovelace", "Turing")

  /** Distinct paper ids drawn from the seed, in serving order. */
  val ids: Vector[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (seen.size < n) seen += 1L + rng.nextInt(1000000)
    seen.toVector
  }
  private def phrase(k: Int): String = Seq.fill(k)(words(rng.nextInt(words.size))).mkString(" ")
  /** The grown value the detail endpoint serves per paper. */
  val doi: Map[Long, String] =
    ids.map(id => id -> s"https://doi.org/10.${1000 + rng.nextInt(9000)}/$id").toMap
  val citations: Map[Long, Int] = ids.map(id => id -> rng.nextInt(500)).toMap

  private val m = PyJson.mapper
  private def dumps(n: com.fasterxml.jackson.databind.JsonNode): String =
    PyJson.dumps(n, itemSep = ",", kvSep = ":", ensureAscii = false)

  private val paperNodes = ids.map { id =>
    val o = m.createObjectNode()
    o.put("id", id).put("state", "open")
    o.put("title", phrase(3 + rng.nextInt(5))).put("abstract", phrase(20 + rng.nextInt(30)))
    val authors = m.createArrayNode()
    (0 until 1 + rng.nextInt(3)).foreach { _ =>
      val a = m.createObjectNode()
      val first = firstNames(rng.nextInt(firstNames.size))
      val last = lastNames(rng.nextInt(lastNames.size))
      a.put("id", rng.nextInt(100000)).put("first_name", first).put("last_name", last)
      a.put("email", s"${first.toLowerCase}.${last.toLowerCase}@example.org")
      authors.add(a)
    }
    o.set[com.fasterxml.jackson.databind.JsonNode]("authors", authors)
    o.put("url", s"https://papers.example.org/$id.pdf")
    o
  }

  val pages: Int = math.max(1, (n + pageSize - 1) / pageSize)
  def pageUrl(p: Int): String = s"$Host/entities/paper/?page=$p"
  private val pageBodies: Vector[String] = (1 to pages).toVector.map { p =>
    val o = m.createObjectNode()
    o.put("count", n)
    if (p < pages) o.put("next", pageUrl(p + 1)) else o.putNull("next")
    if (p > 1) o.put("previous", pageUrl(p - 1)) else o.putNull("previous")
    val results = m.createArrayNode()
    paperNodes.slice((p - 1) * pageSize, p * pageSize).foreach(results.add)
    o.set[com.fasterxml.jackson.databind.JsonNode]("results", results)
    dumps(o)
  }
  private val detailBodies: Map[Long, String] = ids.map { id =>
    val o = m.createObjectNode()
    o.put("id", id).put("doi", doi(id)).put("citations", citations(id))
    id -> dumps(o)
  }.toMap

  private val Json = """{"content-type":"application/json"}"""
  private val PageRe = """.*/entities/paper/\?page=(\d+)$""".r
  private val DetailRe = """.*/entities/paper/(\d+)/(\?.*)?$""".r

  /** Detail requests served: the growth calls a grow made. */
  val detailCalls = new AtomicLong

  def serve(url: String): FetchResponse = url match {
    case PageRe(p) if p.toInt >= 1 && p.toInt <= pages =>
      FetchResponse(200, Json, pageBodies(p.toInt - 1))
    case DetailRe(id, _) if detailBodies.contains(id.toLong) =>
      detailCalls.incrementAndGet(); FetchResponse(200, Json, detailBodies(id.toLong))
    case _ => FetchResponse(404, Json, """{"detail":"Not found."}""")
  }
}

object SourceTable {
  /** Tasks deserialize their Fetcher copy in this JVM (local mode), so
    * the fetcher carries only a key into this registry. */
  val registry = new java.util.concurrent.ConcurrentHashMap[String, SourceTable]()
  /** Per-request latency of the source, in microseconds. */
  val LatencyMicros = 2000L
}

/** The source as a `Fetcher`: sleeps the fixed latency, then serves. */
final class BenchSource(key: String) extends Fetcher {
  def fetch(method: String, url: String, requestBody: String): FetchResponse = {
    java.util.concurrent.locks.LockSupport.parkNanos(SourceTable.LatencyMicros * 1000L)
    SourceTable.registry.get(key).serve(url)
  }
}

/** Traced wrapper around any `Fetcher`: source calls and wait time. */
final class TracedFetcher(inner: Fetcher, spansKey: String) extends Fetcher {
  def fetch(method: String, url: String, requestBody: String): FetchResponse = {
    val spans = Lifecycle.spansRegistry.get(spansKey)
    val t0 = System.nanoTime()
    try inner.fetch(method, url, requestBody)
    finally {
      spans.add("sources.source_calls", 1)
      spans.add("sources.source_wait_s", (System.nanoTime() - t0) / 1e9)
    }
  }
}

/** Delegating `ResourceCache` that times each fetch round and counts its
  * hits and misses (one extra count job over the already-materialized
  * round). Fetch-round boundaries are also the lifecycle's span marks. */
final class TracedCache(inner: ResourceCache, spans: Spans, marks: Marks) extends ResourceCache {
  def read(): DataFrame = inner.read()
  def append(resources: DataFrame): Unit = inner.append(resources)
  def compact(): Unit = inner.compact()
  def purgePrefix(uriPrefix: String): Unit = inner.purgePrefix(uriPrefix)
  def fetch(requests: DataFrame, fetcher: Fetcher, cacheOnly: Boolean,
            maxConcurrency: Int, auth: AuthConfig): DataFrame = {
    marks.mark("fetch_start")
    val out = spans.time("sources.cache_fetch_s")(
      inner.fetch(requests, fetcher, cacheOnly, maxConcurrency, auth))
    val hits = out.filter(col("from_cache")).count()
    spans.add("sources.cache_hits", hits.toDouble)
    spans.add("sources.cache_misses", (out.count() - hits).toDouble)
    marks.mark("fetch_counted")
    out
  }
}

/** Time marks within one grow: the first mark of each name wins. */
final class Marks {
  private val at = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  def mark(name: String): Unit = synchronized { if (!at.contains(name)) at(name) = System.nanoTime() }
  def get(name: String): Option[Long] = synchronized(at.get(name))
  def clear(): Unit = synchronized(at.clear())
}

/** `VersionStore` whose public methods leave marks and time spans. */
final class TracedStore(root: String, spark: SparkSession, spans: Spans, marks: Marks)
    extends VersionStore(root, spark) {
  override def transact[T](sig: String)(f: Seq[VersionMeta] => (Seq[VersionMeta], T)): T = {
    val r = spans.time("pipeline.manifest_s")(super.transact(sig)(f))
    marks.mark("claimed")
    r
  }
  override def writeCollection(sig: String, v: Int, name: String, df: DataFrame): Unit = {
    marks.mark("write_start")
    spans.time("pipeline.version_write_s")(super.writeCollection(sig, v, name, df))
    marks.mark("write_end")
  }
  override def updateVersion(sig: String, v: VersionMeta): Unit = {
    marks.mark("update_start")
    super.updateVersion(sig, v)
  }
}

/** The paper's workload: `DatasetRunner.grow` over the benchmark source.
  * One round grows a new signature twice: a cold grow (empty cache:
  * every growth URL is fetched and appended) and a cached re-grow (RESET
  * of that signature: every growth URL hits the cache the cold grow
  * filled). */
final class Lifecycle(spark: SparkSession, workDir: String, seed: Long, docs: Int,
                      tracer: Option[Tracer], name: String = "lifecycle") {
  val table = new SourceTable(seed, docs, pageSize = 100)
  private val key = s"$name-$seed"
  SourceTable.registry.put(key, table)
  private val spans = tracer.map(_.spans).getOrElse(new Spans)
  Lifecycle.spansRegistry.put(key, spans)
  private val marks = new Marks
  private val fetcher: Fetcher =
    if (tracer.isDefined) new TracedFetcher(new BenchSource(key), key) else new BenchSource(key)
  private val root = Paths.get(workDir, name)
  private val storeRoot = root.resolve("store").toString
  private val store: VersionStore =
    if (tracer.isDefined) new TracedStore(storeRoot, spark, spans, marks)
    else new VersionStore(storeRoot, spark)
  private val collection = CollectionSpec("paper", identifier = Some("id"), referee = Some("id"))
  private var rounds = 0

  val seedingPhase: PhaseSpec = PhaseSpec(
    phase = "papers", strategy = "initial", batchSize = 100,
    retrieve = RetrieveSpec(urlTemplate = s"${table.Host}/entities/{}/",
      parameters = Seq("page" -> "1"), continuationLimit = table.pages + 1),
    contribute = ContributeSpec(objective = Some(Objective("$.results",
      Seq("id", "state", "title", "abstract", "authors", "url").map(k => k -> s"$$.$k")))))

  /** A growth phase whose URLs carry `generation`: a new generation is
    * a set of URLs no cache has seen. */
  private def spec(generation: String) = DatasetSpec(
    name = "papers",
    collections = Seq(CollectionDef(collection, Seq(seedingPhase), Seq(GrowthSpec(
      growthPhase = "detail",
      urlTemplate = s"${table.Host}/entities/paper/{}/?gen=$generation",
      argTemplates = Seq("$.id"),
      objective = Objective("$", Seq("doi" -> "$.doi", "citations" -> "$.citations")))))),
    growthStrategy = GrowthStrategy.Reset)

  private def cache(path: String): ResourceCache = {
    val c = new CacheStore(path, spark)
    if (tracer.isDefined) new TracedCache(c, spans, marks) else c
  }

  /** One timed grow of `tag`'s signature through the cache at `cachePath`,
    * checked afterwards against the source table. */
  private def grow(kind: String, tag: String, cachePath: String, expectedCalls: Long): OpResult = {
    val s = spec(tag)
    val args = Seq("paper", tag)
    val runner = new DatasetRunner(store, fetcher, resourceCache = Some(cache(cachePath)))
    val calls0 = table.detailCalls.get
    marks.clear()
    val t0 = System.nanoTime()
    val attempt = scala.util.Try(tracer.fold(runner.grow(s, args))(_.op(runner.grow(s, args))))
    val t1 = System.nanoTime()
    attempt match {
      case scala.util.Success(v) =>
        if (tracer.isDefined) windows()
        val calls = table.detailCalls.get - calls0
        OpResult(kind, (t1 - t0) / 1e9, check(v, s.signature(args), calls -> expectedCalls))
      case scala.util.Failure(e) =>
        System.err.println(s"[perfbench] $kind grow FAILED: ${e.toString.take(300)}")
        OpResult(kind, Double.NaN, Nil, failed = true)
    }
  }

  /** Layer windows from span boundaries: claim → first cache fetch is
    * seeding; fetch return → version write is the growth merge; write
    * end → version update is the evaluation. */
  private def windows(): Unit = {
    def span(a: String, b: String, name: String): Unit =
      for (x <- marks.get(a); y <- marks.get(b)) spans.add(name, (y - x) / 1e9)
    span("claimed", "fetch_start", "pipeline.seeding_s")
    span("fetch_counted", "write_start", "pipeline.growth_merge_s")
    span("write_end", "update_start", "pipeline.evaluate_s")
  }

  /** One round: cold grow, cached re-grow, then the bytes the signature's
    * versions and its cache hold on disk (both removed afterwards). */
  def round(): (OpResult, OpResult, Double) = {
    rounds += 1
    val tag = s"g$rounds"
    val cachePath = root.resolve(s"cache-$tag").toString
    val cold = grow("cold_grow", tag, cachePath, expectedCalls = table.n.toLong)
    val re = grow("regrow", tag, cachePath, expectedCalls = 0L)
    val sigDir = Paths.get(storeRoot, spec(tag).signature(Seq("paper", tag)))
    val bytes = Lifecycle.du(sigDir) + Lifecycle.du(Paths.get(cachePath))
    if (tracer.isDefined)
      spans.add("pipeline.store_files", (Lifecycle.files(sigDir) + Lifecycle.files(Paths.get(cachePath))).toDouble)
    Lifecycle.rm(sigDir); Lifecycle.rm(Paths.get(cachePath))
    (cold, re, bytes)
  }

  /** Seeding alone, through `SeedingProcessor.run`'s `onBatch`: the
    * first and last batch's time and the partition count the seeded
    * frame ends with. Traced runs only. */
  var seeding: Map[String, Double] = Map.empty
  def directSeeding(): DataFrame = {
    val proc = new SeedingProcessor(collection, Seq(seedingPhase), fetcher)
    var last = System.nanoTime()
    val batchTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var parts = 0
    val seeded = proc.run(Documents.empty(spark), Seq("paper"), onBatch = { df =>
      val now = System.nanoTime()
      batchTimes += (now - last) / 1e9
      parts = df.rdd.getNumPartitions
      last = System.nanoTime()
    })
    seeding = Map(
      "pipeline.seed_batch_first_s" -> batchTimes.headOption.getOrElse(0.0),
      "pipeline.seed_batch_last_s" -> batchTimes.lastOption.getOrElse(0.0),
      "model.seeded_partitions" -> parts.toDouble)
    seeded
  }

  /** Checks against the benchmark's own source table. */
  def check(v: VersionMeta, sig: String, calls: (Long, Long)): Seq[String] = {
    val rows = store.readCollection(sig, v.version, collection.name)
      .select(GraftFunctions.reach(col("properties"), "$.id").as("id"),
        GraftFunctions.reach(col("derivatives"), "$.detail.doi").as("doi"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    Lifecycle.checkVersion(rows, v.errors, store.versions(sig), v.version, table.doi, calls)
  }
}

object Lifecycle {
  val spansRegistry = new java.util.concurrent.ConcurrentHashMap[String, Spans]()

  /** The lifecycle checks as a pure function, so a test can feed them
    * corrupted results: `rows` are (id, grown doi) as stored. */
  def checkVersion(rows: Seq[(String, String)], errors: String, versions: Seq[VersionMeta],
                   version: Int, served: Map[Long, String],
                   calls: (Long, Long)): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val ids = rows.map(_._1)
    val servedIds = served.keySet.map(_.toString)
    if (ids.size != ids.distinct.size) problems += s"duplicate ids in version $version"
    if (ids.toSet != servedIds)
      problems += s"version $version holds ${ids.toSet.size} ids, served ${servedIds.size}; " +
        s"${(servedIds -- ids).size} missing, ${(ids.toSet -- servedIds).size} extra"
    val wrong = rows.count { case (id, d) =>
      Option(id).flatMap(_.toLongOption).flatMap(served.get).forall(_ != d)
    }
    if (wrong > 0) problems += s"$wrong documents carry a grown doi that differs from the served one"
    val tree = PyJson.tryParse(errors)
    def count(field: String): Long = tree
      .flatMap(t => Option(t.at(s"/tasks/detail/$field"))).filter(!_.isMissingNode)
      .map(_.asLong).getOrElse(-1L)
    if (count("success") != served.size || count("fail") != 0)
      problems += s"version errors read success=${count("success")} fail=${count("fail")}, " +
        s"expected success=${served.size} fail=0"
    val current = versions.filter(_.isCurrent).map(_.version)
    val latest = versions.map(_.version).maxOption.getOrElse(-1)
    if (current != Seq(version) || latest != version)
      problems += s"current versions $current, latest $latest, grown $version"
    if (calls._1 != calls._2) problems += s"growth made ${calls._1} source calls, expected ${calls._2}"
    problems.toSeq
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
  def files(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(Files.isRegularFile(_)).toLong finally s.close()
    }
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** The lifecycle as a benchmark workload. */
final class LifecycleWorkload(spark: SparkSession, workDir: String, seed: Long,
                              tracer: Option[Tracer]) extends Workload {
  /** Documents per grow: seven seeding batches of 100, enough for the
    * seeded frame's partition doubling to show (127 partitions, the last
    * batch slower than the first). */
  val docsPerOp = 700
  private val life = new Lifecycle(spark, workDir, seed, docsPerOp, tracer)
  private val storeBytes = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var seeded: Option[DataFrame] = None

  /** Warm-up: one untimed round over a one-batch table of its own; a
    * traced run also seeds once through `SeedingProcessor.run`. */
  def setup(): Unit = {
    val warm = new Lifecycle(spark, workDir, seed + 1000003L, 100, None, "lifecycle-warm")
    val (c, r, _) = warm.round()
    val problems = Seq(c, r).flatMap(o => o.problems ++ (if (o.failed) Seq("failed") else Nil))
    require(problems.isEmpty, s"lifecycle warm-up failed: ${problems.mkString("; ")}")
    if (tracer.isDefined) seeded = Some(life.directSeeding())
  }

  def round(): Seq[OpResult] = {
    val (cold, re, bytes) = life.round()
    storeBytes += bytes
    Seq(cold, re)
  }

  def layerRecord(ok: Seq[OpResult]): Map[String, (Double, String)] = {
    val s = tracer.get.spans
    val hits = s.get("sources.cache_hits")
    val misses = s.get("sources.cache_misses")
    def p50(kind: String) = Main.median(ok.filter(_.kind == kind).map(_.seconds))
    Seq("pipeline.seeding_s", "sources.cache_fetch_s", "sources.cache_hits",
      "sources.cache_misses", "sources.source_calls", "sources.source_wait_s",
      "pipeline.growth_merge_s", "pipeline.evaluate_s", "pipeline.manifest_s",
      "pipeline.version_write_s", "pipeline.store_files")
      .map(k => k -> (s.get(k) -> Trace.unit(k))).toMap ++
      life.seeding.map { case (k, v) => k -> (v -> Trace.unit(k)) } ++ Map(
        "sources.cache_hit_ratio" -> (hits / math.max(1.0, hits + misses) -> "ratio"),
        "ops.cold_grow_s" -> (p50("cold_grow") -> "s"),
        "ops.regrow_s" -> (p50("regrow") -> "s"),
        "pipeline.store_mb" -> (Main.median(storeBytes.toSeq) / 1e6 -> "MB"))
  }

  val reachPath = "$.authors"

  /** The seeded documents repeated 100 times (enough rows to time), with
    * each paper's abstract as the text. */
  def kernelInput(): DataFrame =
    seeded.get.select(col("id"), col("properties"), col("derivatives"),
        GraftFunctions.reach(col("properties"), "$.abstract").as("text"))
      .withColumn("rep", explode(sequence(lit(1), lit(100)))).drop("rep").repartition(4)
}
