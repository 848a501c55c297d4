package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A plan's shape depends only on the query and its session: every
  * session in `src/main` is built by [[GraftSession.configure]], and no
  * JVM system property or mutable global steers what the engine plans.
  * Knn keeps one copy each of the LSH band geometry and the per-query
  * rank, and SparkEntry one copy each of the ANN query batch and the
  * recall score, that the DuckDB oracles mirror. `graft.streaming`
  * keeps one per-series fold and one event-time prologue, and
  * `graft.sources.Parquet` is the one parquet reader. Outside
  * [[GraftSession]] no code writes a session conf, and the dedup
  * family pairs ids in one bit-band and one posting-list self-join.
  * Checked over the source text, so a new main or toggle fails here
  * before it can reach a measurement.
  */
class SessionInvariantSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def offenders(files: Seq[(Path, String)], re: String): Seq[String] =
    files.flatMap { case (p, text) =>
      re.r.findAllMatchIn(text).map { m =>
        s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }

  test("every SparkSession.builder() in src/main is an argument of configure(") {
    // GraftSession.local calls its own configure unqualified
    val bare = offenders(sources, """(?<!configure\()SparkSession\.builder\(\)""")
    assert(bare.isEmpty, bare.mkString(", "))
  }

  test("src/main sets no JVM system property") {
    val sets = offenders(sources, """System\.setProperty\b""")
    assert(sets.isEmpty, sets.mkString(", "))
  }

  test("SparkEntry and the operators hold no @volatile var") {
    val planning = sources.filter { case (p, _) =>
      p.endsWith("graft/SparkEntry.scala") ||
        p.startsWith(root.resolve("graft/operators"))
    }
    assert(planning.exists(_._1.endsWith("graft/SparkEntry.scala")))
    val vars = offenders(planning, """@volatile\b[^=\n]*\bvar\b""")
    assert(vars.isEmpty, vars.mkString(", "))
  }

  test("src/main reads parquet only through graft.sources.Parquet") {
    // any other batch read infers its schema with a Spark job while the
    // query's plan is built (a streaming read must state its schema)
    val reads = offenders(
      sources.filterNot(_._1.endsWith("graft/sources/Parquet.scala")),
      """\bread\b(?:\s*\.\w+\([^()]*\))*\s*\.(?:parquet\(|format\("parquet"\))""")
    assert(reads.isEmpty, reads.mkString(", "))
  }

  test("src/main sets no session conf outside GraftSession") {
    // a conf written on a shared session changes every later plan of
    // its other callers, and a save/set/restore races with them (Lake's
    // dynamic partition overwrite is a per-write option for this
    // reason); a query that needs a conf plans on GraftSession.withConfs
    val sets = offenders(
      sources.filterNot(_._1.endsWith("graft/GraftSession.scala")),
      """\bconf\s*\.\s*(?:set|unset)\b""")
    assert(sets.isEmpty, sets.mkString(", "))
  }

  /** One chunk per top-level member of an object in `file`, up to the
    * next member: (member name, source text).
    */
  private def members(file: String): Seq[(String, String)] = {
    val text = sources.collectFirst { case (p, t) if p.endsWith(file) => t }.get
    val starts = """(?m)^  (?:private(?:\[\w+\])? )?(?:def|val) (\w+)""".r
      .findAllMatchIn(text).toList
    starts.zip(starts.drop(1).map(_.start) :+ text.length)
      .map { case (m, end) => m.group(1) -> text.substring(m.start, end) }
  }

  private def callers(members: Seq[(String, String)], re: String): Seq[String] =
    members.collect { case (name, body) if re.r.findFirstIn(body).nonEmpty => name }

  private val queryWindow = """Window\.partitionBy\((?:col\()?"query_id""""

  test("Knn bands LSH tables and ranks per-query top-k in one helper each") {
    // the DuckDB oracles mirror one band geometry (sqlLshCtes) and one
    // rank order; a second copy in Knn could drift from both unseen
    val knn = members("graft/operators/Knn.scala")
    assert(callers(knn, """(?<!def )\bbucketCode\(""") == Seq("lshBand"))
    assert(callers(knn, queryWindow) == Seq("topK"))
  }

  test("SparkEntry picks ANN query batches, ranks and scores recall in one helper each") {
    // the oracles mirror one batch (sqlAnnQueries), one rank (sqlTopK)
    // and one recall (sqlRecall); a query-local copy could drift unseen
    val entry = members("graft/SparkEntry.scala")
    assert(callers(entry, queryWindow).isEmpty)
    assert(callers(entry, """count\(col\("__h"\)\)""") == Seq("recallAgg"))
    assert(callers(entry, """col\("vec_id"\) % (?:100|AnnQueryEvery)\b""") ==
      Seq("annQueries"))
  }

  test("dedup pairs come from bandPairs and postingPairs only") {
    // the oracles mirror one banded-bit pair join (sqlBandPairs) and one
    // posting-list pair join (sqlPostingPairs); MinHash banding keys on
    // signature slots, not bits, and keeps its own
    val pairJoin = """col\("(?:id|ph)_a"\) < col\("(?:id|ph)_b"\)"""
    val sites = Seq("Dedup", "Multimodal").flatMap { o =>
      callers(members(s"graft/operators/$o.scala"), pairJoin).map(m => s"$o.$m")
    }
    val one = Set("Dedup.bandPairs", "Dedup.postingPairs",
      "Dedup.candidatesFromSigs")
    assert(sites.toSet == one, sites.filterNot(one).mkString(", "))
    assert(sites.size == one.size)
  }

  test("graft.streaming folds per series and stamps event time in one helper each") {
    // one batch sort order and state-row contract per key (SeriesFold),
    // one event-time column (StreamRollup.eventTime); the EventTimeTimeout
    // operators and the range join's two time columns keep their own
    def outside(re: String, keep: String*): Seq[String] = offenders(
      sources.filterNot { case (p, _) =>
        keep.exists(k => p.endsWith(s"graft/streaming/$k.scala"))
      }, re)
    val fold = outside("""flatMapGroupsWithState\(""",
      "SeriesFold", "StreamChurn", "StreamFunnel", "StreamTopK")
    assert(fold.isEmpty, fold.mkString(", "))
    val ev = outside("""case class Ev\(user_id: Long, ts: Long, value: Double\)""",
      "SeriesFold")
    assert(ev.isEmpty, ev.mkString(", "))
    val time = outside("""timestamp_micros\(""", "StreamRollup", "StreamRangeJoin")
      .filter(_.contains("graft/streaming/"))
    assert(time.isEmpty, time.mkString(", "))
    assert(callers(members("graft/streaming/StreamRollup.scala"),
      """timestamp_micros\(""") == Seq("eventTime"))
  }
}
