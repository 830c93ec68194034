package perfbench

import graft.pipeline.VersionMeta

/** Feeds the lifecycle checks a correct result and corrupted ones (a
  * dropped row, an altered value, ...); exits 1 if a corruption passes
  * or the correct result fails. Run by test_checks.py. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val served = Map(11L -> "https://doi.org/10.1/11", 22L -> "https://doi.org/10.2/22",
      33L -> "https://doi.org/10.3/33")
    val rows = served.toSeq.map { case (id, d) => (id.toString, d) }
    val errors = """{"seeding":{},"tasks":{"detail":{"success":3,"fail":0,"skipped":0}}}"""
    def v(n: Int, current: Boolean) =
      VersionMeta(n, "complete", current, "reset", errors)
    val versions = Seq(v(1, current = false), v(2, current = true))
    def run(rows: Seq[(String, String)] = rows, errors: String = errors,
            versions: Seq[VersionMeta] = versions, calls: (Long, Long) = 3L -> 3L) =
      Lifecycle.checkVersion(rows, errors, versions, 2, served, calls)

    val cases = Seq(
      "a dropped row" -> run(rows = rows.tail),
      "a duplicated row" -> run(rows = rows :+ rows.head),
      "an extra id" -> run(rows = rows :+ ("44" -> "https://doi.org/10.4/44")),
      "an altered grown value" -> run(rows = rows.updated(1, rows(1)._1 -> "https://doi.org/x")),
      "a missing grown value" -> run(rows = rows.updated(0, rows(0)._1 -> null)),
      "a failed growth count" -> run(errors = errors.replace("\"fail\":0", "\"fail\":1")),
      "a short success count" -> run(errors = errors.replace("\"success\":3", "\"success\":2")),
      "two current versions" -> run(versions = Seq(v(1, current = true), v(2, current = true))),
      "a stale current version" -> run(versions = Seq(v(1, current = true), v(2, current = false))),
      "a later version" -> run(versions = versions :+ v(3, current = false)),
      "growth calls on a cached re-grow" -> run(calls = 5L -> 0L))
    val clean = run()
    var ok = clean.isEmpty
    if (!ok) println(s"FAIL correct result rejected: ${clean.mkString("; ")}")
    cases.foreach { case (name, problems) =>
      if (problems.isEmpty) { ok = false; println(s"FAIL $name passed the checks") }
      else println(s"ok   $name: ${problems.head}")
    }
    if (!ok) sys.exit(1)
  }
}
