package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Mysql2Parquet, Mysql2ParquetMain, SparkEntry}

/** One workload run in one JVM: set up, warm up (and collect what the
  * output checks need), time operations in a closed loop for the
  * stated seconds, check outputs, and write `result.json` (plus
  * `trace.json` when traced) into the work directory.
  *
  * `--gen-data <dir>` instead writes the catalog tables and exits.
  */
object Main {
  val ExportRows = 100000L

  /** The catalog pass: the lowest-numbered entry of each relational
    * module, the plainest form of its operator family, then a
    * driver-iterated checkpoint chain (q199) and a serve from stored
    * state whose build runs in set-up (q303). One pass has to fit the
    * run budget: the whole 174-entry relational set does not, nor does
    * the stored IVFADC index, whose build alone takes longer than a
    * run may.
    */
  val CatalogList: Seq[String] = Seq(graft.ops.Relational.queries, graft.ops.Joins.queries,
    graft.ops.Aggregates.queries, graft.ops.Windows.queries, graft.ops.SortSetOps.queries,
    graft.ops.ScalarFns.queries).map(_.keys.minBy(_.drop(1).takeWhile(_.isDigit).toInt)) ++
    Seq("q199_label_propagation", "q303_incremental_containment_stored")

  val Modules: Seq[(String, Map[String, _])] = Seq(
    "Relational" -> graft.ops.Relational.queries, "Joins" -> graft.ops.Joins.queries,
    "Aggregates" -> graft.ops.Aggregates.queries, "Windows" -> graft.ops.Windows.queries,
    "SortSetOps" -> graft.ops.SortSetOps.queries, "ScalarFns" -> graft.ops.ScalarFns.queries,
    "GraphOps" -> graft.ops.GraphOps.queries, "Dedup" -> graft.ops.Dedup.queries)
  def moduleOf(q: String): String = Modules.find(_._2.contains(q)).map(_._1).getOrElse("other")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, data: String, launchedMs: Long, mainMs: Long)

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("gen-data")) {
      val spark = session(kv("work"))
      try CatalogData.write(spark, kv("gen-data"), kv("scale").toDouble) finally spark.stop()
      return
    }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv.getOrElse("data", ""), kv("launched-ms").toLong, mainMs)
    val run = new Run(a)
    val json = try run.go() finally run.close()
    Files.writeString(Paths.get(a.work, "result.json"), json)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed JVM-only compute loop (sorting the same 2^20 longs),
    * timed three times; the median tracks how busy the host is.
    */
  def canary(): Double = median((1 to 3).map { round =>
    val a = Array.tabulate(1 << 20)(i => i.toLong * 0x9E3779B97F4A7C15L)
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    if (a(round) == 42) println()
    (System.nanoTime() - t0) / 1e9
  })

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1); val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }
  def partFiles(dir: String): Seq[File] = Option(new File(dir).listFiles()).toSeq.flatten
    .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
}

/** State and steps of one workload run. */
final class Run(a: Main.Args) {
  import Main._

  private val canaryT0 = System.nanoTime()
  private val canaryBefore = canary()
  private val canaryS = seconds(canaryT0)
  private val cpus = Runtime.getRuntime.availableProcessors
  private val setupT0 = System.nanoTime()
  private val spark = session(a.work)
  private val sessionS = (System.nanoTime() - setupT0) / 1e9
  private val counters = new Counters(spark.sparkContext)
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(counters)
  private val tracer = new Tracer(s"${a.workload}-${a.seed}", counters)

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val setup = mutable.LinkedHashMap.empty[String, Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, String]

  def close(): Unit = spark.stop()

  private def timeIt[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, seconds(t0))
  }
  /** Runs one operation; a throw is counted as a failed operation. */
  private def attempt(label: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch { case e: Throwable =>
      failures += s"$label: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      false
    }
  }

  def go(): String = {
    if (!Seq("export", "catalog").contains(a.workload))
      throw new IllegalArgumentException(s"unknown workload ${a.workload}")
    setup("setup.jvm_s") = (a.mainMs - a.launchedMs) / 1000.0
    setup("setup.session_s") = sessionS
    val m = if (a.workload == "export") exportWorkload() else catalogWorkload()
    val canaryAfter = canary()
    layers("host.canary_s") = math.max(canaryBefore, canaryAfter)
    info("canary_before_s") = canaryBefore.toString
    info("canary_after_s") = canaryAfter.toString
    if (a.trace) Files.writeString(Paths.get(a.work, "trace.json"), tracer.toJson)
    Json.obj(Seq(
      "attempted" -> attempted.toString, "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.nums(m), "layers" -> Json.nums(setup ++ layers),
      "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) })))
  }

  /** Launch to ready, less the canary, which is not set-up work. */
  private def readyS(): Double =
    (System.currentTimeMillis() - a.launchedMs) / 1000.0 - canaryS

  /** Whether the closed loop runs another pass: at least `min`, then
    * until the stated seconds are up; a traced run alternates untraced
    * and traced passes and ends on a traced one.
    */
  private def more(pass: Int, min: Int, t0: Long): Boolean =
    pass < math.max(min, if (a.trace) 2 else 1) || (a.trace && pass % 2 == 1) ||
      seconds(t0) < a.seconds

  // ---------------------------------------------------------------- export

  /** One pass exports the table through the CLI twice: the paper's
    * path (one connection, stringify and NULL→"", one file) and the
    * typed, partitioned path over `nproc` connections.
    */
  private def exportWorkload(): Map[String, Double] = {
    val db = s"${a.work}/derby/src"
    val (src, genS) = timeIt(Source.generate(db, ExportRows, a.seed, cpus))
    setup("setup.source_s") = genS
    layers("state.build_s") = 0.0
    val setupS = readyS()
    info("source_rows") = src.rows.toString
    info("source_bytes") = src.bytes.toString
    info("partition_histogram") = src.histogram.mkString(",")

    val paths = Seq(
      "single" -> Seq("--compat", "--single-file"),
      "partitioned" -> Seq("--partition-column=ID", s"--num-partitions=$cpus",
        "--lower-bound=0", s"--upper-bound=${src.upper}"))
    def config(flags: Seq[String], out: String): Mysql2Parquet.Config =
      Mysql2ParquetMain.parse((Seq("--user=root", "--password=bench", "--database=bench",
        "--query=SELECT * FROM APP.SRC", s"--parquet=$out", s"--url=${Source.url(db)}") ++ flags).toArray)
        .fold(e => throw new IllegalStateException(e._1), identity)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val outRoot = s"${a.work}/out"
    val last = mutable.Map.empty[String, String]

    // one untimed pass first: JIT, codegen and the committers warm up
    for ((name, flags) <- paths)
      attempt(s"$name warm-up")(Mysql2ParquetMain.execute(spark, config(flags, s"$outRoot/warm-$name")))
    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, wall)
    val passLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var pass = 0
    val t0 = System.nanoTime()
    tracer.on = a.trace
    tracer("workload:export")(while (more(pass, 2, t0)) {
      val traceThis = a.trace && pass % 2 == 1
      tracer.on = traceThis
      var passS = 0.0
      val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      tracer(s"pass:$pass")(for ((name, flags) <- paths) {
        val out = s"$outRoot/$name-$pass"
        val start = System.nanoTime()
        val ok = attempt(s"$name export, pass $pass") {
          // untraced, the CLI surface itself; traced, the same calls one
          // layer at a time
          if (!traceThis) Mysql2ParquetMain.execute(spark, config(flags, out))
          else tracer(s"export:$name") {
            val c = tracer("parse")(config(flags, out))
            val df = tracer("schema")(Mysql2Parquet.reader(spark, c).load())
            val projected = tracer("compat")(if (c.compat) Mysql2Parquet.compatProjection(df) else df)
            tracer("write")(Mysql2Parquet.write(projected, c))
          }
        }
        val wall = seconds(start)
        if (ok) {
          passS += wall
          if (!traceThis) walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wall
          last.get(name).foreach(d => rmTree(new File(d)))
          last(name) = out
        }
        if (traceThis && ok) {
          val c = config(flags, s"$outRoot/probe")
          // probes: JDBC fetch alone, then fetch plus the compat mapping
          tracer("probe.fetch")(noop(Mysql2Parquet.reader(spark, c).load()))
          if (c.compat) tracer("probe.compat")(noop(
            Mysql2Parquet.compatProjection(Mysql2Parquet.reader(spark, c).load())))
          for ((k, v) <- exportLayers(name, out, c.compat)) acc(k) += v
        }
      })
      passes += ((traceThis, passS))
      if (traceThis) passLayers += acc.toMap
      pass += 1
    })
    tracer.on = false
    for ((name, flags) <- paths) {
      attempted += 1
      val want = if (flags.contains("--compat")) src.compat else src.typed
      last.get(name) match {
        case Some(out) => ExportCheck(spark, want, out, singleFile = flags.contains("--single-file"))
          .foreach(f => failures += s"$name export check ($out): $f")
        case None => failures += s"$name export check: no export succeeded"
      }
    }
    Source.shutdown(db)

    val untraced = passes.filter(!_._1)
    for ((name, w) <- walls) {
      info(s"$name.export_rows_per_s") = (src.rows / median(w.toSeq)).toString
      layers(s"$name.export_s") = median(w.toSeq)
    }
    if (a.trace) {
      for (k <- passLayers.head.keys) layers(k) = median(passLayers.map(_(k)).toSeq)
      for (k <- catalogKeys) layers(k) = 0.0
      layers("trace.overhead") = median(passes.filter(_._1).map(_._2).toSeq) / median(untraced.map(_._2).toSeq)
    }
    info("passes") = untraced.size.toString
    val bytes = last.values.flatMap(partFiles).map(_.length).sum.toDouble
    Map("setup_s" -> setupS, "pass_s" -> median(untraced.map(_._2).toSeq),
      "parquet_bytes_per_row" -> bytes / (paths.size * src.rows))
  }

  /** Per-layer numbers of one traced export and its probes. */
  private def exportLayers(name: String, out: String, compat: Boolean): Map[String, Double] = {
    val op = tracer.named(s"export:$name").last
    val write = tracer.children(op).find(_.name == "write").get
    // the write's job window, split from the commit that follows it
    val jobs = counters.jobsIn(write.start, write.end)
    val (jobStart, jobEnd) = if (jobs.isEmpty) (write.start, write.start)
      else (jobs.map(_._1).min, jobs.map(_._2).max)
    tracer.spans += Span(tracer.spans.size, write.id, "write.job", jobStart, jobEnd, Snap())
    tracer.spans += Span(tracer.spans.size, write.id, "write.commit", jobEnd, write.end, Snap())
    val selfSum = tracer.spans.filter(s => s.id == op.id || isBelow(s, op.id)).map(tracer.selfSeconds).sum
    info(s"$name.trace_self_sum_minus_wall_s") = (selfSum - op.seconds).toString
    val fetch = tracer.named("probe.fetch").last
    val compatS = if (compat) tracer.named("probe.compat").last.seconds - fetch.seconds else 0.0
    val scan = counters.tasksIn(fetch.start, fetch.end)
    val scanJobs = counters.jobsIn(fetch.start, fetch.end)
    val scanWall = if (scanJobs.isEmpty) 0L else scanJobs.map(_._2).max - scanJobs.map(_._1).min
    val records = scan.map(_._3.toDouble)
    val files = partFiles(out)
    val layer = Map(
      "reader.schema_s" -> tracer.children(op).find(_.name == "schema").get.seconds,
      "reader.fetch_s" -> fetch.seconds,
      "write.encode_s" -> ((jobEnd - jobStart) / 1000.0 - fetch.seconds - compatS),
      "write.commit_s" -> (write.end - jobEnd) / 1000.0,
      "write.files" -> files.size.toDouble,
      "write.mb" -> files.map(_.length).sum / 1e6) ++ (
      if (compat) Map("compatProjection.s" -> compatS)
      else Map("reader.task_overlap" -> (if (scanWall > 0) scan.map(t => t._2 - t._1).sum.toDouble / scanWall else 0.0),
        "reader.partition_skew" -> (if (records.sum > 0) records.max / (records.sum / records.size) else 0.0)))
    layer.map { case (k, v) => s"$name.$k" -> v } ++ stageLayers(op.counts)
  }

  private def isBelow(s: Span, root: Int): Boolean =
    s.parent >= 0 && (s.parent == root || isBelow(tracer.spans(s.parent), root))

  private def stageLayers(c: Snap): Map[String, Double] = Map(
    "stage.cpu_s" -> c.cpuNs / 1e9, "stage.gc_s" -> c.gcMs / 1e3,
    "stage.input_mb" -> c.inputBytes / 1e6, "stage.shuffle_read_mb" -> c.shuffleReadBytes / 1e6,
    "stage.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6, "stage.spill_mb" -> c.spillBytes / 1e6)

  private val catalogKeys = Seq("query.build_s", "query.build_jobs", "query.write_s",
    "query.stages", "query.tasks", "query.driver_only_s", "query.exchanges",
    "checkpoint.rdds", "checkpoint.mb") ++ Modules.map(m => s"ops.${m._1}.s")
  private val exportKeys = for (p <- Seq("single", "partitioned");
    k <- Seq("export_s", "reader.schema_s", "reader.fetch_s", "write.encode_s", "write.commit_s",
      "write.files", "write.mb") ++ (if (p == "single") Seq("compatProjection.s")
      else Seq("reader.task_overlap", "reader.partition_skew"))) yield s"$p.$k"

  // --------------------------------------------------------------- catalog

  /** One pass runs the catalog list in the seed's order, each entry as
    * `SparkEntry.queries(q)(spark, sf)` plus a noop write.
    */
  private def catalogWorkload(): Map[String, Double] = {
    val queries = SparkEntry.queries
    val order = new scala.util.Random(a.seed).shuffle(CatalogList)
    info("queries") = order.mkString(",")
    // the tables are Parquet files each query reads itself
    setup("setup.source_s") = 0.0
    layers("state.build_s") = timeIt(graft.ops.Dedup.ensureCanonState(spark, a.data))._2
    val setupS = readyS()

    def sweep(): Unit = spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // One untimed pass first warms the JVM and writes each result for
    // the DuckDB oracle compare that follows the run.
    val verify = s"${a.work}/verify"
    var checkedRows = 0L
    for (q <- order) {
      attempt(s"$q (checked run)") {
        counters.drain()
        val c0 = counters.snap()
        queries(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"$verify/$q")
        counters.drain()
        checkedRows += (counters.snap() - c0).outputRecords
      }
      sweep()
    }
    Files.writeString(Paths.get(verify, "oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.filter(e => order.contains(e._1)).toSeq.map { case (k, v) => k -> Json.str(v) }))

    val opWalls = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, wall)
    val passLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var pass = 0
    val t0 = System.nanoTime()
    tracer.on = a.trace
    tracer("workload:catalog")(while (more(pass, 1, t0)) {
      val traceThis = a.trace && pass % 2 == 1
      tracer.on = traceThis
      var passS = 0.0
      val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      tracer(s"pass:$pass")(for (q <- order) {
        val start = System.nanoTime()
        val ok = attempt(s"$q, pass $pass") {
          tracer(s"op:$q") {
            val df = tracer("build")(queries(q)(spark, a.data))
            tracer("write")(df.write.format("noop").mode("overwrite").save())
          }
        }
        val wall = seconds(start)
        if (ok) {
          passS += wall
          if (!traceThis) {
            opWalls += wall
            perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += wall
          }
        }
        if (traceThis && ok) {
          val op = tracer.named(s"op:$q").last
          def kid(n: String) = tracer.children(op).find(_.name == n).get
          acc("query.build_s") += kid("build").seconds
          acc("query.build_jobs") += kid("build").counts.jobs
          acc("query.write_s") += kid("write").seconds
          acc("query.stages") += op.counts.stages
          acc("query.tasks") += op.counts.tasks
          val busy = Counters.covered(counters.tasksIn(op.start, op.end).map(t => (t._1, t._2)), op.start, op.end)
          acc("query.driver_only_s") += (op.end - op.start - busy) / 1000.0
          acc("query.exchanges") += op.counts.exchanges
          val sc = spark.sparkContext
          acc("checkpoint.rdds") += sc.getPersistentRDDs.size
          acc("checkpoint.mb") += sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
          acc(s"ops.${moduleOf(q)}.s") += op.seconds
          for ((k, v) <- stageLayers(op.counts)) acc(k) += v
        }
        sweep()
      })
      passes += ((traceThis, passS))
      if (traceThis) passLayers += acc.toMap
      pass += 1
    })
    tracer.on = false
    val untraced = passes.filter(!_._1)
    if (a.trace) {
      for (k <- catalogKeys ++ stageLayers(Snap()).keys) layers(k) = median(passLayers.map(_.getOrElse(k, 0.0)).toSeq)
      for (k <- exportKeys) layers(k) = 0.0
      layers("trace.overhead") = median(passes.filter(_._1).map(_._2).toSeq) / median(untraced.map(_._2).toSeq)
    }
    info("passes") = untraced.size.toString
    info("query_samples") = opWalls.size.toString
    info("query_s") = perQuery.map { case (q, w) => f"$q=${median(w.toSeq)}%.3f" }.mkString(",")
    info("pass_walls") = untraced.map(p => f"${p._2}%.3f").mkString(",")
    info("query_p50_s") = median(opWalls.toSeq).toString
    info("query_p90_s") = quantile(opWalls.toSeq, 0.9).toString
    val bytes = order.flatMap(q => partFiles(s"$verify/$q")).map(_.length).sum
    Map("setup_s" -> setupS, "pass_s" -> median(untraced.map(_._2).toSeq),
      "parquet_bytes_per_row" -> bytes.toDouble / checkedRows)
  }
}
