package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-visible query: a Spark implementation plus (optionally) an
  * equivalent ANSI SQL string the driver runs in DuckDB over the same
  * parquet tables. Column names MUST match between the two (the driver
  * sorts columns by name before hashing values).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Per-sample scratch-dir ledger (guide §6 small-files hygiene, applied
  * to the HARNESS itself): every per-call scratch dir a query creates is
  * registered here, and Bench/Verify/ProfileQuery sweep the ledger AFTER
  * each sample's result is fully consumed — outside the timed region.
  * Without the sweep a full 154-query bench leaves ~10 GB of dead Delta
  * tables on disk-backed /tmp, and their dirty-page writeback contends
  * with the NEXT queries' commit fsyncs (measured: lifecycle queries ran
  * 1.5-2.5x their isolated-JVM mins late in a run; the io canary's floor
  * sat at 0.43 s vs 0.35 idle). Deleting promptly also lets the kernel
  * DROP still-dirty pages instead of flushing them.
  *
  * Cross-query memoized state must NOT register: the dv-stage table, the
  * per-catalog warehouses, and IndexCache's warmed artifacts live for the
  * whole run by design. */
object ScratchDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def register(path: String): String = { dirs.add(path); path }

  /** Delete every registered dir; safe to call between samples (queries
    * recreate their scratch on each invocation). */
  def sweep(): Unit = {
    var p = dirs.poll()
    while (p != null) {
      try deleteRec(new java.io.File(p)) catch { case _: Throwable => }
      p = dirs.poll()
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRec)
    f.delete()
  }
}

object Tables {
  import org.apache.spark.sql.functions._

  /** Fresh scratch dir for a query's table/artifact writes — registered
    * for the post-sample sweep ([[ScratchDirs]]). */
  def tmpDir(prefix: String): String =
    ScratchDirs.register(
      java.nio.file.Files.createTempDirectory(s"graft_$prefix").toString)

  /** Source-table schemas, inferred once per (dir, name):
    * `spark.read.parquet` otherwise infers the schema on EVERY call, a
    * footer-reading Spark job (profiled ~30-40 ms driver-side per call,
    * 2-4 calls per query). Only the schema is memoized, never a frame: a
    * DataFrame reaches its session strongly, so a session-keyed frame
    * memo could never release a dropped session. Every call builds a
    * fresh frame, and every execution still scans the parquet files. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      org.apache.spark.sql.types.StructType]()

  /** Load one of the driver-generated tables from an sf directory.
    *
    * `events.ts` has been generated as either parquet TIMESTAMP(NANOS)
    * (which Spark 4 only reads via the nanosAsLong legacy conf — then a
    * LongType of nanos since epoch) or plain TIMESTAMP(MICROS), depending
    * on the driver generation. Handle both: when it loads as a long,
    * convert to a micros timestamp with integer division (same
    * floor-truncation DuckDB applies; nanos since epoch overflow double's
    * 53-bit mantissa, so no floating-point division); when it loads as a
    * timestamp it is already micros — use it as is.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val schema = schemaMemo.computeIfAbsent((dir, name),
      _ => spark.read.parquet(path).schema)
    val raw = spark.read.schema(schema).parquet(path)
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // naive micros: the mains pin the session timezone to UTC, so
        // this cast is micros-identity and downstream unix_micros /
        // window functions see the same instants DuckDB computes on
        // the naive values
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
