package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the TPC-H-ish star schema the driver generates.
  *
  * All loads are plain parquet scans so Catalyst's predicate pushdown /
  * column pruning reach the file format; never cache here — callers
  * decide lifetime. Only the SCHEMA is remembered ([[schemaOf]]).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema supplied from
    * [[schemaOf]]: same frame, same scan, but a warm read launches no
    * schema-inference job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** SESSION-SCOPED PARQUET SCHEMA RESOLUTION. A bare
    * `spark.read.parquet(path)` infers the schema by reading footers in
    * a Spark job, on every call — driver-side control that a warm
    * request pays per table (three per `HierarchyAgg.salesFacts`). The
    * inferred schema is remembered per (session, path) together with
    * what it was inferred FROM:
    *   - a fingerprint of the path's recursive file listing (every
    *     file's path, length and mtime), taken with the Hadoop
    *     `FileSystem` on the driver — no Spark job;
    *   - the session's parquet-related conf entries (every set key
    *     containing `parquet`, e.g. `legacy.parquet.nanosAsLong`,
    *     `parquet.binaryAsString`).
    * A read whose listing or conf differs re-infers and replaces the
    * entry (one entry per path, so a directory rewritten in place
    * never accumulates stale schemas); a stale schema is never
    * served. A missing path, a glob, or a path holding no files falls
    * through to the plain inferring read, so its error is Spark's own.
    * Directories whose listing changes on every write (the MV stores)
    * gain nothing here and keep their plain read.
    */
  def schemaOf(spark: SparkSession, path: String): StructType =
    listingFingerprint(spark, path) match {
      case None => spark.read.parquet(path).schema
      case Some(listing) =>
        val conf = parquetConf(spark)
        val slot = schemas(spark, path)(new AtomicReference[Resolved]())
        val cur = slot.get
        if (cur != null && cur.listing == listing && cur.conf == conf)
          cur.schema
        else {
          val schema = spark.read.parquet(path).schema
          slot.set(Resolved(listing, conf, schema))
          schema
        }
    }

  private final case class Resolved(listing: String,
      conf: Seq[(String, String)], schema: StructType)

  private val schemas = new SessionCache[String, AtomicReference[Resolved]]()

  private def parquetConf(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.iterator
      .filter(_._1.toLowerCase(java.util.Locale.ROOT).contains("parquet"))
      .toSeq.sorted

  /** SHA-256 over the sorted (path, length, mtime) of every file under
    * `path`; None when the path is a glob, cannot be listed, or holds
    * no files. */
  private def listingFingerprint(spark: SparkSession, path: String)
      : Option[String] =
    if (path.exists("*?[{\\".contains(_))) None
    else {
      val all = try {
        val p = new Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def files(st: FileStatus): Iterator[FileStatus] =
          if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(files)
          else Iterator(st)
        files(fs.getFileStatus(p)).toVector
      } catch {
        case _: java.io.IOException | _: IllegalArgumentException => Vector.empty
      }
      if (all.isEmpty) None
      else {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        all.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
          .sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
        Some(md.digest().map("%02x".format(_)).mkString)
      }
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeNtz(load(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeNtz(load(s, d, "lineitem"), "l_shipdate")
  /** SCHEMA-DRIFT GUARD for event time: the driver has shipped `ts`
    * under three physical encodings so far — TIMESTAMP(NANOS) (surfacing
    * as a long under `spark.sql.legacy.parquet.nanosAsLong`),
    * `timestamp[us]` without a timezone (surfacing as TIMESTAMP_NTZ),
    * and plain TIMESTAMP. Every consumer (batch, streaming source,
    * spec harness) MUST see exactly one logical type, TimestampType,
    * or gap arithmetic / watermarking breaks at analysis time on the
    * next regeneration. This is the single normalization point; never
    * re-derive the ts type downstream.
    *
    * The NTZ→TIMESTAMP cast is instant-preserving because every graft
    * session pins `spark.sql.session.timeZone=UTC` (GraftSession).
    */
  def normalizeTs(df: DataFrame, col: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(col).dataType match {
      case LongType =>          // legacy nanos-as-long encoding
        df.withColumn(col, timestamp_micros(expr(s"$col div 1000")))
      case TimestampNTZType =>  // timestamp[us] with no zone; session is UTC
        df.withColumn(col, c(col).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.$col arrived as unsupported type $other — extend Tables.normalizeTs")
    }
  }

  /** Same drift guard for the date-like columns whose ESTABLISHED
    * surface type is TIMESTAMP_NTZ (orders.o_orderdate,
    * lineitem.l_shipdate — every oracle was written against NTZ
    * semantics, so unlike events.ts these normalize TOWARD NTZ): a
    * re-encode to nanos-long or tz-aware timestamp folds back to the
    * same wall-clock NTZ value (session pinned UTC).
    */
  def normalizeNtz(df: DataFrame, col: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(col).dataType match {
      case LongType =>
        df.withColumn(col,
          timestamp_micros(expr(s"$col div 1000")).cast(TimestampNTZType))
      case TimestampType => df.withColumn(col, c(col).cast(TimestampNTZType))
      case TimestampNTZType => df
      case other => throw new IllegalStateException(
        s"$col arrived as unsupported type $other — extend Tables.normalizeNtz")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
