package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The benchmark's JVM side: runs one workload closed-loop on one client
  * thread and writes every measurement to `<out>/result.json`.
  *
  *   Harness --workload <rollup_read|dim_build> --seed <n>
  *     --seconds <s> --trace <0|1> --data <sfDir> --out <dir>
  *
  * A run is: one set-up from JVM start (input registration, the cold
  * anchor request, the warm hooks of the artifacts the workload reads, and
  * one warm-up pass of every request type, which also writes each type's
  * result for the DuckDB check, untimed), then the timed phase of
  * whole request passes, then the end-of-phase heap and storage readings.
  * With `--trace 1` the timed phase is split: the first half runs
  * untraced, the second half traced, so the report can state the tracing
  * overhead.
  *
  * Correctness: every request's result is fingerprinted (order-free sum of
  * XXH64 over the result's UnsafeRows, plus the row count) and must equal
  * the fingerprint of its type's first execution; run.py checks the
  * written results against DuckDB after the JVM exits. Writing them is
  * excluded from every timed figure.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String)

  /** One executed request: its result's row count, its per-layer timings
    * (ms) and counts (the scheduler counts in traced runs only), and the
    * index of the pass entry it belongs to. */
  final case class Req(name: String, ms: Double, ok: Boolean, rows: Long,
      layers: Map[String, Double], entry: Int)

  /** Ends a pass entry after one of its requests failed. */
  final class StepFailed extends Exception

  val RollupTypes: Seq[String] = Seq("h4_hier_agg", "h6_hier_agg_parts",
    "h33_sql_rollup", "h35_shuffle_dim_rollup", "st9_incremental_rollup_stream")


  /** Request order for pass `p`: a permutation seeded by (seed, p). */
  def permutation(types: Seq[String], seed: Long, p: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + p).shuffle(types)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"))
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    Files.createDirectories(Paths.get(o.out))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.out, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, o, t0)
    try run.go()
    finally spark.stop()
  }

  // ---- small statistics helpers ---------------------------------------

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** Order-free fingerprint of a query's full result: the sum of XXH64
    * over each row's UnsafeRow bytes, and the row count. Executes the
    * physical plan exactly once (this is the request's final action). */
  def fingerprint(qe: QueryExecution): (Long, Long) = {
    val schema = qe.executedPlan.schema
    qe.toRdd.mapPartitions(it => Iterator.single(hashRows(schema, it)))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** The fingerprint's sum and count over `rows`. */
  def hashRows(schema: StructType, rows: Iterator[InternalRow]): (Long, Long) = {
    val proj = UnsafeProjection.create(schema)
    var h = 0L
    var n = 0L
    rows.foreach { r =>
      val u = proj(r)
      h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      n += 1
    }
    (h, n)
  }
}

/** One benchmark run (one JVM). */
final class Run(spark: SparkSession, o: Harness.Opts, t0: Long) {
  import Harness._

  private val sc = spark.sparkContext
  private val tracer = new Tracer
  private val exec = new ExecListener
  private val stream = new StreamListener
  private val dumps = Paths.get(o.out, "results")
  private val refFp = scala.collection.mutable.Map.empty[String, (Long, Long)]
  // time spent writing results for the DuckDB check; subtracted from the
  // set-up and request times
  private var untimedNs = 0L
  private val hookSecs = scala.collection.mutable.Map.empty[String, Double]
  private val notes = ArrayBuffer.empty[String]
  // requests and pass entries started so far (span and entry ids)
  private var nReq = 0
  private var entries = 0
  private val dim = if (o.workload == "dim_build") Some(new DimBuild(o.seed)) else None

  private val types: Seq[String] = o.workload match {
    case "rollup_read" => RollupTypes
    case "dim_build" => Seq("dim_cycle")
    case w => sys.error(s"unknown workload $w")
  }
  // the timed phase's floor (15 rollups, 20 dim_build steps) keeps the
  // sample count, and the order statistic a percentile lands on, the same
  // from run to run: a pass takes 4-7 s on a 4-core host, so without it a
  // slow stretch of the host could end the phase a pass early
  private val minPasses = if (dim.isDefined) 2 else 3
  // the cold-path request the set-up runs first
  private val anchor: String = types.head
  // the public warm hooks of the artifacts the workload reads
  private val hooks: Seq[(String, (SparkSession, String) => Unit)] =
    if (dim.isEmpty) Seq("warm_dims" -> graft.operators.HierarchyQueries.warmDims) else Nil

  def permutation(p: Int): Seq[String] = Harness.permutation(types, o.seed, p)

  private def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  private def untimed[T](body: => T): T = {
    val s = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - s
  }

  // ---- set-up -----------------------------------------------------------

  /** Input registration: `dim_build` generates and counts its inputs;
    * registry entries read their parquet tables by path, so they need none. */
  private def register(): Unit =
    dim.foreach(_.inputs(spark).foreach { case (_, df) => df.count() })

  /** The set-up, from JVM start: input registration, the cold anchor
    * request (its completion time since JVM start is `cold_s`), the warm
    * hooks of the artifacts the workload reads, each timed on its own, and
    * one pass of every type, the JIT warm-up (a type's latency keeps
    * falling over its first few executions). That pass also writes each
    * type's result for the DuckDB check; the writes are untimed and
    * subtracted. Returns (set-up s, cold s). */
  private def setUp(): (Double, Double) = {
    if (o.trace) spark.streams.addListener(stream)
    register()
    run(anchor, dump = false)
    entries += 1
    val cold = since(t0)
    hooks.foreach { case (h, fn) =>
      val s = System.nanoTime()
      fn(spark, o.data)
      hookSecs(h) = since(s)
      System.err.println(f"[perfbench] hook $h ${since(s)}%.2f s")
    }
    permutation(-1).foreach { t =>
      run(t, dump = true)
      entries += 1
    }
    (since(t0) - untimedNs / 1e9, cold)
  }

  // ---- requests -------------------------------------------------------

  private def phase(p: String): Unit = sc.setLocalProperty("perfbench.phase", p)

  /** Runs one pass entry: a registry request, or a `dim_build` cycle whose
    * ten steps are each a request (each calls one layer function and
    * builds on the previous steps' results). Returns the requests in
    * order; a request that throws ends the entry. `dump` writes the
    * results (and `dim_build`'s inputs) for the DuckDB check, untimed. */
  private def run(entry: String, dump: Boolean): Seq[Req] = {
    val out = ArrayBuffer.empty[Req]
    def step(key: String, build: () => DataFrame): DataFrame = {
      val (r, df) = request(key, build, dump)
      out += r
      df.getOrElse(throw new StepFailed)
    }
    try dim match {
      case Some(d) =>
        if (dump) untimed(d.inputs(spark).foreach { case (k, df) =>
          df.coalesce(1).write.mode("overwrite").parquet(dumps.resolve(k).toString)
        })
        d.cycle(spark, step)
      case None => step(entry, () => SparkEntry.queries(entry)(spark, o.data))
    } catch {
      case _: StepFailed => // noted by the request
      case e: Throwable =>
        notes += s"$entry failed: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    out.toSeq
  }

  /** One request: builds and executes one DataFrame, under a span named
    * `name`, and checks its result's fingerprint against the first
    * execution's. In traced runs it also collects the request's scheduler
    * counts. Returns the request and, unless it failed, its DataFrame. */
  private def request(name: String, build: () => DataFrame, dump: Boolean): (Req, Option[DataFrame]) = {
    val layers = scala.collection.mutable.Map.empty[String, Double]
    var rows = 0L
    if (tracer.enabled) {
      tracer.req = nReq
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      exec.reset()
    }
    nReq += 1
    val t = System.nanoTime()
    val u0 = untimedNs
    val df = try {
      val (df, result) = tracer.span(name) {
        phase("build")
        val df = add(layers, "driver.build")(build())
        phase("exec")
        val (fp, result) = execute(df, layers, collect = dump)
        rows = fp._2
        refFp.get(name) match {
          case None => refFp(name) = fp
          case Some(ref) =>
            if (ref != fp) throw new IllegalStateException(s"result fingerprint $fp differs from first run $ref")
        }
        (df, result)
      }
      if (dump) untimed(write(name, df.queryExecution.executedPlan.schema, result))
      Some(df)
    } catch {
      case e: Throwable =>
        notes += s"$name failed: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    } finally phase(null)
    val ms = (System.nanoTime() - t - (untimedNs - u0)) / 1e6
    if (tracer.enabled) {
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      layers ++= execCounters()
      tracer.req = -1
    }
    System.err.println(f"[perfbench] $name%-28s $ms%10.1f ms ok=${df.isDefined}")
    (Req(name, ms, df.isDefined, rows, layers.toMap, entries), df)
  }

  /** Times `body` under a span named `key` and adds the time to `<key>_ms`. */
  private def add[T](layers: scala.collection.mutable.Map[String, Double], key: String)(body: => T): T = {
    val s = System.nanoTime()
    val r = tracer.span(key)(body)
    layers(key + "_ms") = layers.getOrElse(key + "_ms", 0.0) + (System.nanoTime() - s) / 1e6
    r
  }

  /** The request's final action, with Catalyst's phases forced one at a
    * time. Analysis already ran when the DataFrame was built; its time
    * is read from the plan's own QueryPlanningTracker. With `collect` the
    * action also returns the result rows, so they can be written for the
    * DuckDB check without executing the plan a second time. */
  private def execute(df: DataFrame, layers: scala.collection.mutable.Map[String, Double],
      collect: Boolean): ((Long, Long), Array[InternalRow]) = {
    val qe = df.queryExecution
    add(layers, "catalyst.analyze") { qe.analyzed }
    layers("catalyst.analyze_ms") += qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
    add(layers, "catalyst.optimize") { qe.optimizedPlan }
    add(layers, "catalyst.plan") { qe.executedPlan }
    add(layers, "exec.run") {
      if (!collect) (fingerprint(qe), Array.empty[InternalRow])
      else {
        val rows = qe.executedPlan.executeCollect()
        (hashRows(qe.executedPlan.schema, rows.iterator), rows)
      }
    }
  }

  /** Writes a request's collected result to parquet for the DuckDB check. */
  private def write(name: String, schema: StructType, rows: Array[InternalRow]): Unit = {
    val toRow = ExpressionEncoder(RowEncoder.encoderFor(schema)).resolveAndBind().createDeserializer()
    spark.createDataFrame(java.util.Arrays.asList(rows.map(toRow): _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dumps.resolve(name).toString)
  }

  // ---- timed phase ------------------------------------------------------

  /** Whole passes, at least `floor`, until `seconds` have elapsed;
    * returns (requests, wall s). */
  private def timedPhase(seconds: Double, passBase: Int, floor: Int): (Seq[Req], Double) = {
    val out = ArrayBuffer.empty[Req]
    val s = System.nanoTime()
    var p = passBase
    while (p - passBase < floor || since(s) < seconds) {
      permutation(p).foreach { t =>
        out ++= run(t, dump = false)
        entries += 1
      }
      p += 1
    }
    (out.toSeq, since(s))
  }

  private def execCounters(): Map[String, Double] = exec.synchronized {
    Map(
      "driver.jobs" -> exec.buildJobs.toDouble,
      "exec.jobs" -> exec.execJobs.toDouble,
      "exec.stages" -> exec.execStages.toDouble,
      "exec.stages_skipped" -> exec.execStagesSkipped.toDouble,
      "exec.tasks" -> exec.execTasks.toDouble,
      "exec.task_p50_ms" -> median(exec.taskMs.map(_.toDouble).toSeq),
      "exec.task_max_ms" -> (if (exec.taskMs.isEmpty) 0.0 else exec.taskMs.max.toDouble),
      "exec.sched_delay_ms" -> exec.schedDelayMs.toDouble,
      "exec.shuffle_write_mb" -> exec.shuffleWriteBytes / 1048576.0,
      "exec.shuffle_read_mb" -> exec.shuffleReadBytes / 1048576.0,
      "exec.spill_mb" -> exec.spillBytes / 1048576.0,
      "exec.failed_tasks" -> exec.failedTasks.toDouble)
  }

  // ---- the run ----------------------------------------------------------

  def go(): Unit = {
    Files.createDirectories(dumps)
    val (setup, cold) = setUp()
    System.err.println(f"[perfbench] set-up $setup%.2f s (anchor done at $cold%.2f s)")
    val (plain, plainWall) =
      if (o.trace) timedPhase(o.seconds / 2, 0, minPasses / 2) else timedPhase(o.seconds, 0, minPasses)
    var traced: Seq[Req] = Nil
    var tracedWall = 0.0
    if (o.trace) {
      sc.addSparkListener(exec)
      tracer.enabled = true
      stream.reset()
      val (t, w) = timedPhase(o.seconds / 2, 1000, minPasses / 2)
      traced = t
      tracedWall = w
      tracer.enabled = false
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(exec)
    }
    // end-of-phase readings, after full GCs: retained heap, then the
    // storage still held once Spark's ContextCleaner has dropped the
    // cached blocks of frames that are no longer reachable
    val heapMb = retainedHeapMb()
    Thread.sleep(1000)
    val storage = sc.getRDDStorageInfo.map(i => i.name -> (i.memSize + i.diskSize)).toSeq
    val cacheMb = storage.map(_._2).sum / 1048576.0
    val persisted = sc.getPersistentRDDs.size
    writeResult(setup, cold, plain, plainWall, traced, tracedWall,
      cacheMb, storage, persisted, heapMb)
  }

  /** Driver heap in use after full GCs, repeated until it stops falling
    * (a single System.gc() can leave reclaimable objects behind). */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = Long.MaxValue - 1
    var i = 0
    while (i < 6 && used < last) {
      last = used
      System.gc()
      Thread.sleep(100)
      used = mem.getHeapMemoryUsage.getUsed
      i += 1
    }
    math.min(used, last) / 1048576.0
  }

  private def writeResult(setup: Double, cold: Double,
      plain: Seq[Req], plainWall: Double, traced: Seq[Req], tracedWall: Double,
      cacheMb: Double, storage: Seq[(String, Long)], persisted: Int, heapMb: Double): Unit = {
    val okPlain = plain.filter(_.ok)
    val lat = okPlain.map(_.ms)
    val e2e = scala.collection.immutable.ListMap(
      "setup_s" -> setup,
      "cold_s" -> cold,
      "throughput_rps" -> okPlain.size / plainWall,
      "latency_p50_ms" -> quantile(lat, 0.5),
      "latency_p90_ms" -> quantile(lat, 0.9),
      "cache_mb" -> cacheMb,
      "heap_retained_mb" -> heapMb)
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (o.trace) {
      val okT = traced.filter(_.ok)
      def med(k: String) = median(okT.flatMap(_.layers.get(k)))
      def avg(k: String) = mean(okT.flatMap(_.layers.get(k)))
      Seq("catalyst.analyze_ms", "catalyst.optimize_ms", "catalyst.plan_ms",
        "driver.build_ms", "exec.run_ms").foreach(k => layer(k) = med(k))
      Seq("driver.jobs", "exec.jobs", "exec.stages", "exec.stages_skipped",
        "exec.tasks", "exec.sched_delay_ms", "exec.shuffle_write_mb",
        "exec.shuffle_read_mb", "exec.spill_mb").foreach(k => layer(k) = avg(k))
      layer("exec.task_p50_ms") = med("exec.task_p50_ms")
      layer("exec.task_max_ms") = med("exec.task_max_ms")
      layer("exec.failed_tasks") = okT.flatMap(_.layers.get("exec.failed_tasks")).sum
      def named(n: String) = okT.filter(_.name == n)
      DimBuild.LayerKeys.foreach(k => layer(k) = median(named(k.stripSuffix("_ms")).map(_.ms)))
      layer("hierarchy.closure_rows") = median(named("hierarchy.closure").map(_.rows.toDouble))
      layer("session_cache.warm_dims_s") = hookSecs.getOrElse("warm_dims", 0.0)
      layer("session_cache.persisted_rdds") = persisted.toDouble
      val (bm, br) = stream.synchronized((stream.batchMs.toSeq, stream.batchRows.toSeq))
      layer("streaming.batches") = bm.size.toDouble
      layer("streaming.batch_p50_ms") = median(bm.map(_.toDouble))
      layer("streaming.rows_per_batch") = mean(br.map(_.toDouble))
      RollupTypes.foreach(t => layer(s"req.$t.p50_ms") = median(named(t).map(_.ms)))
      // a dim_build cycle: the sum of its steps, over fully correct cycles
      layer("req.dim_cycle.p50_ms") = median(traced.groupBy(_.entry).values
        .filter(rs => dim.isDefined && rs.forall(_.ok)).map(_.map(_.ms).sum).toSeq)
      val tracedRps = okT.size / tracedWall
      val plainRps = okPlain.size / plainWall
      layer("trace.overhead_frac") = if (plainRps > 0) 1.0 - tracedRps / plainRps else 0.0
    }
    val all = plain ++ traced
    val result = scala.collection.immutable.ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> all.size, "failed" -> all.count(!_.ok),
      "samples" -> plain.size, "traced_samples" -> traced.size,
      "untimed_s" -> untimedNs / 1e9,
      "by_type" -> all.groupBy(_.name).map { case (k, rs) =>
        k -> Map("attempted" -> rs.size, "failed" -> rs.count(!_.ok)) },
      "timed_wall_s" -> plainWall, "traced_wall_s" -> tracedWall,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "master" -> sc.master,
      "end_to_end" -> e2e, "per_layer" -> layer, "storage_bytes" -> storage,
      "self_time_ms" -> tracer.selfTimesMs,
      "dim_spec" -> dim.map(_.spec).orNull,
      "fingerprints" -> refFp,
      "oracle_sql" -> types.flatMap(t => SparkEntry.oracleSql.get(t).map(t -> _)).toMap,
      "notes" -> notes)
    Files.write(Paths.get(o.out, "result.json"), toJson(result).getBytes(StandardCharsets.UTF_8))
    if (o.trace) {
      val lines = tracer.spans.map { s =>
        toJson(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
          "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0),
          "parent" -> s.parent, "req" -> s.req)) + "\n"
      }
      Files.write(Paths.get(o.out, "spans.jsonl"), lines.mkString.getBytes(StandardCharsets.UTF_8))
    }
  }
}
