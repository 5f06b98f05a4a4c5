package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SCHEMA CONTRACT for the driver-generated tables.
  *
  * The driver has re-encoded a physical column type once already
  * (events.ts: nanos-long → timestamp[us]), which silently broke a
  * whole operator family at analysis time. This suite pins the
  * NORMALIZED schema of every table — as seen through Tables.* — for
  * all three sf dirs, so the next regeneration fails HERE with a
  * one-line diff instead of deep inside an operator; and it proves the
  * normalization helpers fold every known physical encoding to the
  * same logical type and instant.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1").filter(d => new java.io.File(d).exists())

  // the contract: normalized (name -> type) per table
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  private def loader(name: String) = name match {
    case "region" => Tables.region _
    case "nation" => Tables.nation _
    case "customer" => Tables.customer _
    case "supplier" => Tables.supplier _
    case "part" => Tables.part _
    case "orders" => Tables.orders _
    case "lineitem" => Tables.lineitem _
    case "events" => Tables.events _
    case "documents" => Tables.documents _
    case "embeddings" => Tables.embeddings _
  }

  test("every table at every sf dir matches the normalized schema contract") {
    assert(sfDirs.nonEmpty)
    for (d <- sfDirs; name <- Tables.all) {
      val got = loader(name)(spark, d).schema
        .map(f => f.name -> f.dataType)
      val want = expected(name).map { case (n, t) => n -> t }
      assert(got == want,
        s"SCHEMA DRIFT in $d/$name.parquet — regenerate-proof the loader " +
          s"(Tables.normalizeTs/normalizeNtz) or update the contract.\n" +
          s"  got:  $got\n  want: $want")
    }
  }

  // what each loader applies on top of the raw parquet read
  private def normalized(name: String, raw: org.apache.spark.sql.DataFrame) =
    name match {
      case "orders" => Tables.normalizeNtz(raw, "o_orderdate")
      case "lineitem" => Tables.normalizeNtz(raw, "l_shipdate")
      case "events" => Tables.normalizeTs(raw)
      case _ => raw
    }

  test("resolved schemas equal Spark's inferred schemas, nullability included") {
    assert(sfDirs.nonEmpty)
    for (d <- sfDirs; name <- Tables.all) {
      val path = s"$d/$name.parquet"
      val inferred = spark.read.parquet(path)
      assert(Tables.schemaOf(spark, path) == inferred.schema, path)
      assert(Tables.load(spark, d, name).schema == inferred.schema, path)
      assert(loader(name)(spark, d).schema ==
        normalized(name, inferred).schema, path)
    }
  }

  /** Spark jobs started while `body` runs (listener bus drained before
    * and after, so the count is exact). */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("a warm Tables.lineitem starts no Spark job") {
    Tables.lineitem(spark, sf).schema // warm: the first read infers
    val warm = jobsDuring(Tables.lineitem(spark, sf).schema)
    assert(warm == 0, s"warm Tables.lineitem started $warm Spark jobs")
    // control: the counter does see the inferring read's footer job
    val bare = jobsDuring(spark.read.parquet(s"$sf/lineitem.parquet").schema)
    assert(bare >= 1, "the job counter saw no job for a bare parquet read")
  }

  private def tempParquetDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  test("a directory rewritten under the same path resolves to the new schema") {
    import spark.implicits._
    val dir = tempParquetDir("tables_rewrite")
    Seq((1, "a"), (2, "b")).toDF("a", "b").write.parquet(dir)
    assert(Tables.schemaOf(spark, dir).fieldNames.toSeq == Seq("a", "b"))
    Seq((1L, 2.5, "x")).toDF("x", "y", "z").write.mode("overwrite").parquet(dir)
    assert(Tables.schemaOf(spark, dir) == spark.read.parquet(dir).schema)
    assert(Tables.schemaOf(spark, dir).fieldNames.toSeq == Seq("x", "y", "z"))
    assert(Tables.parquet(spark, dir).as[(Long, Double, String)].collect()
      .toSeq == Seq((1L, 2.5, "x")))
    // a partitioned directory resolves like the inferring read too
    val parted = tempParquetDir("tables_parted")
    Seq((1L, "p", 7), (2L, "q", 8)).toDF("id", "s", "k")
      .write.partitionBy("k").parquet(parted)
    assert(Tables.schemaOf(spark, parted) == spark.read.parquet(parted).schema)
    assert(Tables.parquet(spark, parted).schema ==
      spark.read.parquet(parted).schema)
  }

  test("toggling spark.sql.parquet.binaryAsString re-infers the binary column") {
    import spark.implicits._
    // written with the bare parquet writer: Spark's own files carry the
    // Spark schema in their footer, which overrides binaryAsString
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val dir = tempParquetDir("tables_binary")
    val pschema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { optional int64 id; optional binary payload; }")
    val hconf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"), hconf))
      .withType(pschema).withConf(hconf).build()
    try w.write(new SimpleGroupFactory(pschema).newGroup()
      .append("id", 1L).append("payload", "hi"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val was = spark.conf.getOption(key)
    try {
      assert(Tables.schemaOf(spark, dir)("payload").dataType == BinaryType)
      spark.conf.set(key, "true")
      assert(Tables.schemaOf(spark, dir)("payload").dataType == StringType)
      assert(Tables.parquet(spark, dir).select("payload").as[String]
        .collect().toSeq == Seq("hi"))
      assert(Tables.schemaOf(spark, dir) == spark.read.parquet(dir).schema)
      spark.conf.set(key, "false")
      assert(Tables.schemaOf(spark, dir)("payload").dataType == BinaryType)
    } finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a missing path fails with Spark's own error") {
    val missing = java.nio.file.Files.createTempDirectory("tables_missing")
      .resolve("nope.parquet").toString
    val plain = intercept[Exception](spark.read.parquet(missing))
    val viaTables = intercept[Exception](Tables.parquet(spark, missing))
    assert(viaTables.getClass == plain.getClass)
    assert(viaTables.getMessage == plain.getMessage)
  }

  test("normalizeTs folds all three known ts encodings to the same instants") {
    import spark.implicits._
    // 2024-03-01 12:34:56.789012 UTC, expressed three ways
    val micros = 1709296496789012L
    val asLong = Seq((1L, micros * 1000L)).toDF("id", "ts") // nanos-long
    val asTs = Seq((1L, micros)).toDF("id", "us")
      .select(col("id"), timestamp_micros(col("us")).as("ts"))
    val asNtz = asTs.select(col("id"), col("ts").cast(TimestampNTZType).as("ts"))
    val outs = Seq(asLong, asTs, asNtz).map { df =>
      val n = Tables.normalizeTs(df)
      assert(n.schema("ts").dataType == TimestampType, n.schema.treeString)
      n.select(unix_micros(col("ts"))).head().getLong(0)
    }
    assert(outs.toSet == Set(micros), s"instants diverged: $outs")
  }

  test("normalizeNtz folds all three known encodings to the same wall clock") {
    import spark.implicits._
    val micros = 1709296496789012L
    val asLong = Seq((1L, micros * 1000L)).toDF("id", "d")
    val asTs = Seq((1L, micros)).toDF("id", "us")
      .select(col("id"), timestamp_micros(col("us")).as("d"))
    val asNtz = asTs.select(col("id"), col("d").cast(TimestampNTZType).as("d"))
    val outs = Seq(asLong, asTs, asNtz).map { df =>
      val n = Tables.normalizeNtz(df, "d")
      assert(n.schema("d").dataType == TimestampNTZType, n.schema.treeString)
      n.select(date_format(col("d"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).head().getString(0)
    }
    assert(outs.toSet.size == 1, s"wall clocks diverged: $outs")
    assert(outs.head == "2024-03-01 12:34:56.789012")
  }

  test("unknown ts encodings fail loudly, not silently") {
    import spark.implicits._
    val bad = Seq((1L, "2024-01-01")).toDF("id", "ts")
    val e = intercept[IllegalStateException](Tables.normalizeTs(bad))
    assert(e.getMessage.contains("normalizeTs"))
    val e2 = intercept[IllegalStateException](Tables.normalizeNtz(bad, "ts"))
    assert(e2.getMessage.contains("normalizeNtz"))
  }
}
