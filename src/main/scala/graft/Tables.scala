package graft

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}

/** Typed loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)` and reads
  * through here so scans stay uniform: parquet, schema-on-read, with
  * filters/projections pushed down by Catalyst.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    open(spark, s"$dir/$name.parquet")

  /** Open one parquet path. An existing regular file's schema is read
    * from its footer on the driver and handed to the reader, so opening
    * it runs no Spark job (`spark.read.parquet` runs a one-task job to
    * read that same footer). Anything else (a directory, a glob, a
    * missing or unreadable file) goes to `spark.read.parquet` unchanged,
    * errors included. No schema is kept: each call reads the footer as
    * the file stands now. */
  def open(spark: SparkSession, path: String): DataFrame =
    open(spark, path, footer(spark, path))

  private def open(spark: SparkSession, path: String,
      footer: Option[Footer]): DataFrame =
    footer.flatMap(f => Try(GraftSqlBridge.parquetSchema(spark, f)).toOption) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The footer of `path` when it names an existing regular file. */
  private def footer(spark: SparkSession, path: String): Option[Footer] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else Try {
      val p = new Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      if (st.isFile) Some(GraftSqlBridge.parquetFooter(spark, st)) else None
    }.toOption.flatten

  /** Construction-time memo for the few queries that need a
    * driver-side scan while BUILDING the plan (LSH width gate,
    * source-overlap bitmask index). Keyed by (session identity, path,
    * path mtime) so a table regenerated in place within a session is
    * re-read instead of served stale; a dead session's entries are
    * harmless (identity keys never match a live session). */
  private val planMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String, Long), Any]
  def memoizedAtConstruction[T](s: SparkSession, dir: String,
      table: String, tag: String = "")(compute: => T): T =
    planMemo.getOrElseUpdate(
      (System.identityHashCode(s), s"$dir/$table.parquet#$tag",
        tableStamp(s, dir, table)), compute)
      .asInstanceOf[T]

  /** Remove (and return) this session's memo entries whose path key
    * starts with `"$dir/$table.parquet#$tagPrefix"`, ANY stamp — the
    * release hook for entries that hold persisted DataFrames
    * ([[graft.operators.GraphQueries.releaseAdjacency]]). Prefix (not
    * exact-stamp) matching frees entries memoized against an earlier
    * table vintage too, which an exact lookup against the CURRENT
    * mtime could never reach again. */
  def evictMemoMatching(s: SparkSession, dir: String, table: String,
      tagPrefix: String): Seq[Any] = {
    val id = System.identityHashCode(s)
    val prefix = s"$dir/$table.parquet#$tagPrefix"
    planMemo.keys.toSeq
      .filter(k => k._1 == id && k._2.startsWith(prefix))
      .flatMap(planMemo.remove)
  }

  /** Source-table mtime (0 when unreadable) — the freshness stamp the
    * construction memo and the scratch layout share; a memo over MORE
    * than one input table folds the extra tables' stamps into `tag`
    * so regenerating any of them invalidates the entry. */
  def tableStamp(s: SparkSession, dir: String, table: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    scala.util.Try(
      path.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getFileStatus(path).getModificationTime).getOrElse(0L)
  }

  /** Scratch-parquet directory for a construction-memoized
    * materialization: distinct per (session, FULL sanitized dir, source
    * table mtime, tag). The mtime stamp matches the memo key above, so
    * a table regenerated in place mid-session gets a FRESH directory —
    * plans built from the old memo entry keep reading their old files
    * instead of racing a same-path overwrite — and two corpora can
    * never share one materialization via a dir.hashCode collision. */
  def scratchDir(s: SparkSession, dir: String, table: String,
      tag: String): String = {
    val stamp = tableStamp(s, dir, table)
    // the readable form is LOSSY ("/d/sf 1" and "/d/sf_1" both
    // sanitize to "_d_sf_1"), so an md5 of the exact dir string is
    // the collision-proof part of the key — two distinct corpora must
    // never share one materialization (a later overwrite would delete
    // files the earlier corpus's constructed plans still read)
    val sane = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft-$tag-" +
      s"${System.identityHashCode(s)}-$sane-${dirDigest(dir)}-$stamp"
  }

  /** Collision-proof short digest of an exact corpus-dir string — ONE
    * definition, shared by [[scratchDir]] and every caller that keys
    * catalog names on the corpus (a second copy could silently drift
    * from the scratch-path digest). */
  def dirDigest(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Schema-adaptive `events.ts` loader. Earlier testdata generations
    * stored `ts` as parquet TIMESTAMP(NANOS), which Spark's reader
    * rejects unless read as long ns (legacy.parquet.nanosAsLong); in
    * that case convert to microsecond TimestampType with exact integer
    * division (ns since epoch overflows double precision). Current
    * generations store timestamp[us] WITHOUT timezone, which Spark
    * loads as TIMESTAMP_NTZ — cast it to TimestampType (all harness
    * sessions run UTC, so the instant is unchanged) because streaming
    * watermarks and the unix_micros-family functions require TIMESTAMP.
    * Branch on the loaded type so either vintage of the file works. */
  def events(s: SparkSession, d: String): DataFrame =
    tsShim(openEvents(s, s"$d/events.parquet"))

  /** The events file as stored, before [[tsShim]]. Only the old
    * vintage needs `spark.sql.legacy.parquet.nanosAsLong`, for its
    * schema and again when its scan runs, so the conf is set in the
    * session only when the footer stores `ts` as INT64 TIMESTAMP(NANOS),
    * or when there is no single footer to tell (a directory); a
    * current-vintage file leaves the session's conf as it was. */
  def openEvents(s: SparkSession, path: String): DataFrame = {
    val f = footer(s, path)
    if (f.forall(storesNanos(_, "ts")))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    open(s, path, f)
  }

  private def storesNanos(f: Footer, column: String): Boolean = {
    val schema = f.getParquetMetadata.getFileMetaData.getSchema
    schema.containsField(column) && {
      val t = schema.getType(schema.getFieldIndex(column))
      t.isPrimitive &&
        t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
        (t.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
          case _ => false
        })
    }
  }

  /** The vintage shim itself, shared by the batch loader above and the
    * streaming reader (`EventStream.readStream`) so a future vintage
    * fix cannot land on one side only and silently desync the
    * batch/stream parity tests. */
  def tsShim(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views (for spark.sql-driven paths).
    * Routed through the typed loaders so the SQL-view path and the
    * DataFrame path share one loader (events gets its ts shim here too). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
