package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Lake, Parquet}

object ParquetSpec {
  /** The smallest scale of the sf test tables (TESTDATA.md). */
  val Sf = "/root/testdata/sf0.001"
}

/** [[Parquet.read]] gives the frame `spark.read.parquet` gives — same
  * schema, field metadata and physical plan — on every layout graft
  * writes, and leaves Spark's errors to Spark.
  */
class ParquetSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = ParquetSpec.Sf
  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.schema.json == want.schema.json) // field metadata included
    def plan(df: DataFrame) = df.queryExecution.sparkPlan.toString.replaceAll("#\\d+", "#")
    assert(plan(got) == plan(want))
  }

  private def assertParity(paths: String*): Unit =
    assertSame(Parquet.read(spark, paths: _*), spark.read.parquet(paths: _*))

  test("single files: the sf tables") {
    Seq("documents", "embeddings", "events").foreach(t => assertParity(s"$sf/$t.parquet"))
  }

  test("events written as TIMESTAMP(NANOS) read as the same epoch-ns long") {
    val file = s"${tmp("graft_pq_nanos")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf).build()
    try Seq(1L -> 1704067200123456789L, 2L -> 1704067201000000001L).foreach {
      case (u, ts) => w.write(new SimpleGroupFactory(schema).newGroup()
        .append("user_id", u).append("ts", ts))
    } finally w.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assertParity(file)
    val got = Parquet.read(spark, file)
    assert(got.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(got.orderBy("user_id").select("ts").as[Long].collect().toSeq ==
      Seq(1704067200123456789L, 1704067201000000001L))
  }

  test("a Spark-written directory keeps its field metadata") {
    val dir = tmp("graft_pq_meta") + "/t"
    val meta = new MetadataBuilder().putString("unit", "us").build()
    Seq((1L, 2.0)).toDF("ts", "v").select(col("ts").as("ts", meta), col("v"))
      .write.parquet(dir)
    assertParity(dir)
    assert(Parquet.read(spark, dir).schema("ts").metadata == meta)
  }

  test("the persisted IVF index: cell-partitioned cells and the centroids") {
    val dir = tmp("graft_pq_ivf")
    graft.operators.Knn.writeIvfIndex(spark.read.parquet(s"$sf/embeddings.parquet"), 64, dir)
    assertParity(s"$dir/cells")
    assertParity(s"$dir/centroids")
    assert(Parquet.read(spark, s"$dir/cells").columns.contains("cell"))
  }

  test("the daily lake, a manifest-pruned read and a rollup") {
    val ev = graft.functions.TimeIndex.normalizeUs(
      spark.read.parquet(s"$sf/events.parquet"), "ts").select("user_id", "ts", "value")
    val dir = tmp("graft_pq_lake")
    Lake.writeDaily(ev, "ts", dir)
    assertParity(dir)
    assert(Parquet.read(spark, dir).columns.contains("dt"))
    Lake.writeManifest(spark, dir, Seq("user_id"))
    val files = spark.read.parquet(s"$dir/_graft_manifest").select("file_path")
      .as[String].collect().sorted.take(2).toSeq
    assertSame(Parquet.readUnder(spark, dir, files: _*),
      spark.read.option("basePath", dir).parquet(files: _*))
    val roll = tmp("graft_pq_roll") + "/r"
    Lake.mergeIntoRollup(ev, "ts", "value", Seq("user_id"), "1h", roll)
    assertParity(roll)
  }

  test("a file-sink directory reads the files its sink log lists") {
    val ev = graft.functions.TimeIndex.normalizeUs(
      spark.read.parquet(s"$sf/events.parquet"), "ts").select("user_id", "ts", "value")
    val src = tmp("graft_pq_ssrc")
    val out = tmp("graft_pq_sink")
    ev.write.mode("overwrite").parquet(src)
    val q = Lake.streamAppendDaily(spark.readStream.schema(ev.schema).parquet(src),
      "ts", out, tmp("graft_pq_sck"))
    try q.processAllAvailable() finally q.stop()
    // a stray file the log does not list, first in name order: Spark
    // never reads it, so neither may its schema
    val stray = tmp("graft_pq_stray")
    Seq("x").toDF("stray").coalesce(1).write.mode("overwrite").parquet(stray)
    val part = new java.io.File(stray).listFiles.filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(out, "a_stray.parquet"))
    assertParity(out)
    assert(!Parquet.read(spark, out).columns.contains("stray"))
  }

  test("a snapshot's manifest and its explicit file list") {
    val path = tmp("graft_pq_snap") + "/t"
    Lake.snapshotAppend((1L to 5L).map(i => (i, i * 1.5)).toDF("id", "v"), path)
    Lake.snapshotAppend((6L to 8L).map(i => (i, i * 1.5)).toDF("id", "v"), path)
    val manifest = s"$path/_graft_snapshots/v=2"
    assertParity(manifest)
    val files = spark.read.parquet(manifest).select("file_path").as[String].collect().toSeq
    assert(files.size >= 2)
    assertParity(files: _*)
    assert(Lake.readSnapshot(spark, path).count() == 8L)
  }

  test("a missing path, an empty directory and a glob stay Spark's to answer") {
    val missing = tmp("graft_pq_missing") + "/nope"
    val e1 = intercept[AnalysisException](Parquet.read(spark, missing))
    val e2 = intercept[AnalysisException](spark.read.parquet(missing))
    assert(e1.getCondition == e2.getCondition)
    val empty = tmp("graft_pq_empty")
    intercept[AnalysisException](Parquet.read(spark, empty))
    assertParity(s"$sf/doc*.parquet")
  }
}

/** Building a query's plan runs no schema-inference job: a job started
  * inside `DataFrameReader.parquet` is one, and every graft read goes
  * through [[Parquet.read]], which starts none.
  */
class BuildInferenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("building the train_data queries and a Lake read infers no parquet schema") {
    val sf = ParquetSpec.Sf
    val ev = graft.functions.TimeIndex.normalizeUs(
      spark.read.parquet(s"$sf/events.parquet"), "ts")
    val lake = Files.createTempDirectory("graft_build_lake").toString
    Lake.writeDaily(ev, "ts", lake)

    val sc = spark.sparkContext
    val key = "graft.test.build"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(key)).foreach {
          case "build" => j.stageInfos.filter(_.details.contains("DataFrameReader.parquet"))
            .foreach(s => seen.add(s"${s.name}\n${s.details.take(600)}"))
          case "end" => done.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "build")
      try (1 to 2).foreach { _ => // cold, then warm
        Seq("doc_dedup_minhash", "doc_topic_cluster", "emb_knn_ivf_indexed", "emb_kmeans")
          .foreach(n => SparkEntry.queries(n)(spark, sf))
        Lake.read(spark, lake, "ts", Seq("user_id"))
      } finally sc.setLocalProperty(key, null)
      // the listener sees jobs in submission order: once the marker
      // job arrives, every build job has been seen
      sc.setLocalProperty(key, "end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(seen.isEmpty, seen.toArray.mkString("\n---\n"))
  }
}

/** [[Parquet.rowCount]] reads a scan's row count from its footers and
  * declines every plan that can drop or add rows; the auto-sized seed
  * strides of a parquet corpus fold to literals through it.
  */
class ParquetRowCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sf = ParquetSpec.Sf
  private def emb = Parquet.read(spark, s"$sf/embeddings.parquet")

  test("rowCount: a scan's footers, None where the plan can change the rows") {
    val n = emb.count()
    assert(Parquet.rowCount(emb).contains(n))
    assert(Parquet.rowCount(emb.select("vec_id").repartition(3)).contains(n))
    val dir = Files.createTempDirectory("graft_pq_rows").toString + "/t"
    spark.range(0, 1000, 1, 4).write.parquet(dir)
    assert(Parquet.rowCount(Parquet.read(spark, dir)).contains(1000L))
    val even = emb.where(col("vec_id") % 2 === 0)
    for (df <- Seq(even, emb.limit(3), emb.union(emb), emb.localCheckpoint(false)))
      assert(Parquet.rowCount(df).isEmpty, df.queryExecution.analyzed)
    assert(Parquet.countRows(even) == even.count())
  }

  test("an auto-sized seed stride over a parquet scan is a literal, not a subquery") {
    import graft.operators.Knn
    def subqueries(df: DataFrame) = df.queryExecution.optimizedPlan.subqueriesAll.size
    val scan = Knn.pqCodes(emb, 64)
    val counted = Knn.pqCodes(emb.localCheckpoint(false), 64)
    assert(subqueries(scan) == 0)
    assert(subqueries(counted) > 0)
    assert(scan.exceptAll(counted).isEmpty && counted.exceptAll(scan).isEmpty)
  }
}
