package graft

import org.apache.spark.sql.SparkSession
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** Opinionated SparkSession factory with the configuration graft's
  * operators assume, sized for either local iteration or a real
  * cluster.
  *
  * Cluster posture (the knobs that matter at 100 TB):
  *  - AQE on: runtime coalescing of the static shuffle-partition count,
  *    skew-join splitting for hot series keys, dynamic broadcast demotion
  *  - batch shuffle partitions 2x total executor cores (`AqeHeadroom`):
  *    AQE coalesces down; too few cannot be split up without AQE skew
  *    handling
  *  - stateful streams run without AQE (Spark disables it for them), so
  *    their shuffles and state stores keep half the batch width, one per
  *    core, instead of tasks AQE would have coalesced away. A query
  *    records that width in its checkpoint and keeps it across restarts
  *  - UTC session timezone: graft's index strings and the wire format
  *    are UTC by contract (pypond/index.py renders UTC)
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: one Verify pass over every
    * registered query (sf0.01, local[4]) compiles 3,113 distinct
    * (loader, source) entries, so the whole surface stays warm.
    */
  val CodegenCacheEntries = 4096

  /** Batch shuffle partitions per core: the room AQE coalesces down from. */
  val AqeHeadroom = 2

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores * AqeHeadroom)
      .getOrCreate()

  /** A new session on `s`'s context with `confs` set: a query that
    * needs a conf builds its plan there instead of writing the conf
    * on a session its caller shares. The new session shares the
    * executor class loader (see configure), so it recompiles nothing.
    */
  def withConfs(s: SparkSession, confs: (String, String)*): SparkSession = {
    val d = s.newSession()
    confs.foreach { case (k, v) => d.conf.set(k, v) }
    d
  }

  /** Apply graft's required/recommended confs to any builder.
    *
    * `shufflePartitions` is the batch width, `AqeHeadroom` x cores for
    * AQE to coalesce. Stateful streams run without AQE and get
    * `shufflePartitions / AqeHeadroom` state stores (at least 1): one per
    * core at that width. Spark copies the store count into a query's
    * checkpoint when it first starts, so a resumed query keeps the width
    * it started with whatever the session says. No batch plan reads it.
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.streaming.internal.stateStore.partitions",
        math.max(1, shufflePartitions / AqeHeadroom).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events-style nanosecond parquet reads as epoch-ns longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fork-free `file:` binding (graft.sources.LocalFs): stock Hadoop
      // without libhadoop spawns chmod/readlink per local file op
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      // JVM-wide codegen cache, keyed by (class loader, source): driver
      // and executor threads compile under different loaders, so a
      // query's classes can take two entries each. The default 100
      // evicts classes a warm rerun needs and recompiles them
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // one executor class loader for every session: with isolation on,
      // each session (a newSession(), the clone every streaming query
      // runs in) gets its own, and its tasks recompile every generated
      // class. graft adds no per-session artifact (jar, file, class), so
      // this changes which loader runs a task, not what it can see.
      // Read only when a session is created
      .config("spark.sql.artifact.isolation.enabled", "false")
}
