package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // fail loudly on a malformed value — a silent fallback would record
    // min-of-2 numbers as if they were the requested repeat count
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .map(v => v.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_RUNS must be a positive integer, got '$v'")))
      .getOrElse(2)
    // Session recycling (round-9): a single long-lived SparkContext
    // accumulates state across hundreds of queries — AQE stage
    // registries, listener-bus backlog, accumulator tables — and the
    // round-5 "Bench noise envelope" measurements plus the round-8
    // driver-vs-builder gap (334 s vs 238.5 s at the same HEAD) pin
    // 3-6x per-query inflation on that buildup. Tearing the session
    // down every RECYCLE queries resets the SQL/context state while
    // keeping the JVM (and its JIT-compiled code) warm; each fresh
    // session is re-warmed with the untimed entry query so the first
    // timed query after a recycle doesn't absorb startup cost.
    val recycleN = sys.env.get("SPARK_GRAFT_BENCH_RECYCLE")
      .map(v => v.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_RECYCLE must be a positive integer, got '$v'")))
      .getOrElse(32)
    def newSession(): SparkSession = {
      val s = Sessions.local(cpus.toInt)
      s.sparkContext.setLogLevel("WARN")
      // Warm the session (codegen, parquet footers, shuffle machinery)
      // so the first timed query doesn't absorb startup cost.
      SparkEntry.entry(s).count()
      s
    }
    // Round-16 (r15 verdict item 5): recycling every 32 QUERIES let the
    // vector-heavy stretch accumulate ~200+ s of stage state in one
    // session (q295 read 16.8 s in-run vs 3.5 s isolated — the largest
    // single contributor to headline noise). The buildup tracks work
    // done, not query count, so the recycle trigger is now ALSO keyed
    // on accumulated timed seconds since the last recycle: tiny
    // queries still amortize one session across 32 of them, heavy
    // stretches get a fresh session every ~recycleSec of measured
    // work. Recycling happens outside the timed region, so per-query
    // numbers and the stdout contract are untouched.
    val recycleSec = sys.env.get("SPARK_GRAFT_BENCH_RECYCLE_SEC")
      .map(v => v.toDoubleOption.filter(_ > 0).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_RECYCLE_SEC must be a positive number, got '$v'")))
      .getOrElse(60.0)
    var spark = newSession()
    var sinceRecycle = 0
    var secsSinceRecycle = 0.0
    // noop write forces full computation of every output column —
    // count() lets Catalyst prune projections, understating queries
    // whose cost IS the projection (hashes, regex, string fns). Each
    // query runs `runs` times (default 2); min is reported, since
    // local-mode noise is one-sided (GC, JIT, page cache).
    // Optional args name a query subset — same contract as Verify —
    // for fast local iteration; the driver passes none (full catalog).
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }
    val results = selected.map { case (name, fn) =>
      if (sinceRecycle >= recycleN || secsSinceRecycle >= recycleSec) {
        spark.stop()
        spark = newSession()
        sinceRecycle = 0
        secsSinceRecycle = 0.0
      }
      sinceRecycle += 1
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => None }
        finally {
          // r16 ADVICE: count elapsed time toward the recycle trigger on
          // the FAILURE path too — a stretch of long-failing queries
          // otherwise accumulates JVM state without ever tripping the
          // time-keyed recycle. The finally block sees both outcomes.
          secsSinceRecycle += (System.nanoTime() - t0) / 1e9
          // Round-11 (driver r10: q271 39.8 s in-run vs 2.97 s
          // isolated): 55 eager localCheckpoint sites leave their RDD
          // blocks cached forever in a one-JVM run — by the vector
          // chain the block manager holds hundreds of checkpoint sets
          // and every query pays the memory pressure. Each run builds
          // its own checkpoints, so sweeping between runs (outside the
          // timed region) frees them without breaking any lineage.
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      }
      val best = if (times.isEmpty) -1.0 else times.min
      // live progress on STDERR only — stdout stays exactly the parsed
      // contract (BENCHQ lines + JSON, machine line last); a hung query
      // is attributable from the stderr trail instead of a jstack hunt
      System.err.println(f"[bench] $name $best%.3f")
      name -> best
    }
    // Truncation-proof artifact (round-3 verdict item 4): the driver
    // captures a TAIL of stdout whose size we don't control — two
    // rounds running, one big machine line got cut mid-map ("parsed":
    // null). Three redundant layers, cheapest-to-parse last:
    //   1. BENCHQ lines, one query each (greppable, any prefix loss
    //      only drops individual queries);
    //   2. the per-query map split into independently-parseable ≤1 KB
    //      {"metric":"queries_part",...} lines — any chunk that
    //      survives the tail cut parses on its own;
    //   3. the FULL JSON written to BENCH_FULL_c<cpus>.json next to
    //      the repo, and a tiny totals-only JSON as the very last line
    //      (< 200 B, whole under any plausible tail window) pointing at
    //      it.
    // Locale.ROOT: an f-interpolator uses the JVM default locale, so a
    // comma-decimal locale (de_DE) would emit "1,234" and corrupt every
    // machine-parsed number here.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Stop Spark BEFORE printing the machine lines: nothing (shutdown
    // hooks, executor teardown) may write to stdout after the final
    // JSON line, because the driver parses the process's LAST line.
    spark.stop()
    val sorted = results.toSeq.sortBy(_._1)
    // BENCH_ISOLATED layer (round-13 item 5; REBUILT round-14, r13
    // verdict item 1): in-run numbers carry one-JVM noise even with
    // recycling + RDD sweeps — rounds 10-12 adjudicated every
    // "regression" by hand via graft.One in a fresh JVM. Ship that
    // adjudication WITH the artifact. Round 13 passed all 10 heavies to
    // ONE shared graft.One child, which reintroduced the very
    // contamination the layer exists to remove (judge-measured: q193
    // 40.2 s in the shared child vs 5.4 s clean) — so now each heavy
    // query gets ITS OWN fresh child JVM (adjudication wants isolation;
    // nothing is amortized on purpose), spawned with this fork's own
    // JVM args (the JDK-17 add-opens + heap) and classpath. Full-catalog
    // runs only (a named-subset run is local iteration);
    // SPARK_GRAFT_BENCH_ISOLATED=0 disables. A hung child is killed at
    // 6 min; any kill/error marks the layer truncated (r13 ADVICE: a
    // partial isolated map must be distinguishable from a complete one)
    // via a BENCHI-TRUNCATED stdout marker + "isolated_truncated":true.
    // "force" enables the layer even on a named-subset run so the
    // child-fork plumbing is smoke-testable without a full catalog.
    //
    // Noise control (round-15, r14 verdict item 2): the mechanism was
    // right but the driver artifact still couldn't be compared blind —
    // BENCH_r14's isolated q193/q283 read 14.7/9.6 s where clean
    // fresh-JVM runs measure 5.4/6.9 s (host load during the
    // post-bench isolated phase; min-of-2 can't hide a window where
    // BOTH runs land hot). Two additions, both per child JVM:
    //   (a) a fixed CANARY query (q61 — mid-weight, state-free, no
    //       stored index, no checkpoint accumulation) is timed FIRST
    //       in every child, so any host-drift multiplier during that
    //       child's window is visible and normalizable: a heavy whose
    //       canary reads 2x the other children's canaries is a hot
    //       host, not a regression;
    //   (b) ALL run timings ship (not just the min), so a JIT-cold-
    //       dominated child (run1 >> run2) is identifiable.
    // A KILLED child contributes nothing to the isolated map (r14
    // ADVICE: a partial min from a child that died mid-run is not an
    // adjudication-grade number) — the kill marks the artifact
    // truncated and the entry is absent.
    var isolatedTruncated = false
    val isoEnv = sys.env.get("SPARK_GRAFT_BENCH_ISOLATED")
    val canaryQ = "q61_neardup_jaccard"
    // (query, own runs, canary runs) per surviving child
    val isolated: Seq[(String, Seq[Double], Seq[Double])] =
      if ((args.nonEmpty && !isoEnv.contains("force")) || isoEnv.contains("0")) Nil
      else {
        val heavy = sorted.filter(_._2 >= 0).sortBy(-_._2).take(10).map(_._1)
        import scala.jdk.CollectionConverters._
        val javaBin = new java.io.File(
          new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
        heavy.flatMap { q =>
          try {
            // Round-16 (r15 verdict item 3): the canary now ALSO runs
            // AFTER the heavy query (lead pair + trail pair), so a hot-
            // host window anywhere in the child's life brackets the
            // heavy runs — BENCH_r15 shipped q199 as 13.1 s with a
            // clean LEADING canary because the window hit during run2,
            // after the canary had finished. The canary-as-heavy child
            // ships an EMPTY canary list instead of its own runs
            // (r15 ADVICE: self-reference reads as ratio-1.0 "never
            // hot" to a normalizing consumer).
            val childQs = if (q == canaryQ) Seq(q) else Seq(canaryQ, q, canaryQ)
            val cmd = (Seq(javaBin) ++ jvmArgs ++
              Seq("-cp", sys.props("java.class.path"), "graft.One") ++
              childQs).asJava
            val pb = new ProcessBuilder(cmd)
            pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
            pb.environment().put("SPARK_GRAFT_CPUS", cpus)
            pb.redirectError(ProcessBuilder.Redirect.INHERIT)
            val proc = pb.start()
            // watchdog FIRST: readAllBytes blocks until child EOF, so a
            // hung child must be killed from a side thread to unblock it
            val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
            val killer = new Thread(() => {
              // 8 min (was 6): the kill window now also covers the
              // trailing canary pair (r15 ADVICE: the unchanged budget
              // raised kill risk for heavies near the limit once the
              // canary shared it).
              if (!proc.waitFor(8, java.util.concurrent.TimeUnit.MINUTES)) {
                killed.set(true)
                proc.destroyForcibly()
              }
            })
            killer.setDaemon(true)
            killer.start()
            val out = new String(proc.getInputStream.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8)
            proc.waitFor()
            if (killed.get) {
              isolatedTruncated = true
              System.err.println(s"[bench] isolated child for $q killed at 8 min")
              None  // a killed child's partial timings never enter the map
            } else {
              def runsOf(name: String): Seq[Double] =
                out.linesIterator.collect {
                  case l if l.startsWith(s"TIMING $name ") =>
                    l.split("\\s+")(3).toDouble
                }.toSeq
              val own = runsOf(q)
              if (own.isEmpty) { isolatedTruncated = true; None }
              // canary list = [lead1, lead2, trail1, trail2] (file
              // order); empty for the canary-as-heavy child (sentinel,
              // not self-reference)
              else Some((q, own, if (q == canaryQ) Nil else runsOf(canaryQ)))
            }
          } catch { case e: Throwable =>
            isolatedTruncated = true
            System.err.println(s"[bench] isolated child for $q failed: $e")
            None
          }
        }
      }
    isolated.foreach { case (k, runs, can) =>
      println(s"BENCHI $k ${r3(runs.min)}")
      // r16 ADVICE: the canary-as-heavy child has no canary runs; emit
      // an explicit "-" placeholder so a whitespace-splitting consumer
      // never sees a dangling "canary" token at end of line.
      val canTok = if (can.isEmpty) "-" else can.map(r3).mkString(",")
      println(s"BENCHI-RUNS $k ${runs.map(r3).mkString(",")} canary $canTok")
    }
    // stdout marker (parsed with the BENCHI lines): a kill/parse
    // failure anywhere in the layer makes the isolated map partial
    if (isolatedTruncated) println("BENCHI-TRUNCATED")
    val isoEntries = isolated.map { case (k, runs, _) =>
      "\"" + k + "\":" + r3(runs.min) }
    val isoRunEntries = isolated.map { case (k, runs, _) =>
      "\"" + k + "\":[" + runs.map(r3).mkString(",") + "]" }
    val isoCanaryEntries = isolated.map { case (k, _, can) =>
      "\"" + k + "\":[" + can.map(r3).mkString(",") + "]" }
    sorted.foreach { case (k, v) => println(s"BENCHQ $k ${r3(v)}") }
    val entries = sorted.map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val fullJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${entries.mkString("{", ",", "}")},"isolated":${isoEntries.mkString("{", ",", "}")},"isolated_runs":${isoRunEntries.mkString("{", ",", "}")},"isolated_canary":${isoCanaryEntries.mkString("{", ",", "}")},"isolated_truncated":$isolatedTruncated,"sf":"$sfDir"}"""
    // per-config name: a second run under another cpus config must not
    // overwrite this run's per-query map
    val outFile = new java.io.File(s"BENCH_FULL_c$cpus.json").getAbsoluteFile
    java.nio.file.Files.write(outFile.toPath,
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ≤1 KB chunks: ~25 entries of ≤40 B each per line.
    val chunks = entries.grouped(25).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_part","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    }
    // Second-to-last: the full contract line (metric/value/unit/
    // queries/sf) for a parser that requires the "queries" map; last:
    // the tiny totals line for a parser that takes exactly the final
    // line and a tail window too small for the full map. Tail
    // truncation eats the HEAD of the window, so the lines closest to
    // EOF survive first.
    println(fullJson)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${sorted.size},"queries_file":"$outFile","sf":"$sfDir"}""")
    System.out.flush()
  }
}
