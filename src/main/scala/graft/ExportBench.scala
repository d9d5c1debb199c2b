package graft

import java.sql.DriverManager
import org.apache.spark.sql.SparkSession

/** Throughput benchmark for the export surface itself — the
  * reference's actual workload (one SQL statement → parquet,
  * /root/reference/main.go:87-204). The relational/corpus operator
  * suite is timed by [[Bench]]; this measures the N1-N5 pipeline
  * end-to-end against a live JDBC endpoint (embedded Derby — the
  * sandbox has no MySQL), in both the reference's envelope (ONE
  * connection, row-at-a-time cursor) and the partitioned-scan upgrade
  * the reference lacks.
  *
  * The reference publishes no numbers (BASELINE.md documents the
  * absence); its structural envelope is one connection, one goroutine
  * row loop, and a per-row marshal through TWO JSON codecs
  * (main.go:106, 170, 181-192). This main turns the "any vectorized
  * reader beats that" argument into a measured rows/s figure on the
  * same machine the operator bench runs on.
  *
  * Env: SPARK_GRAFT_EXPORT_ROWS (default 300000). Like the CLI, it runs
  * `local[nproc]` and the partitioned scan opens one connection per core.
  * Output: one JSON line, schema {"metric":"export_rows_per_sec",
  * "single":N,"partitioned":N,"rows":N}.
  */
object ExportBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_EXPORT_ROWS", "300000").toInt
    val cpus = Runtime.getRuntime.availableProcessors
    val url = "jdbc:derby:memory:exportbench"

    val c = DriverManager.getConnection(url + ";create=true;user=root")
    c.setAutoCommit(false)
    val st = c.createStatement()
    st.execute(
      """CREATE TABLE t (
        |  id BIGINT NOT NULL, v INT, s VARCHAR(64), d DOUBLE, ts TIMESTAMP
        |)""".stripMargin)
    val ps = c.prepareStatement("INSERT INTO t VALUES (?, ?, ?, ?, ?)")
    var i = 0
    while (i < n) {
      ps.setLong(1, i.toLong)
      ps.setInt(2, i % 1000)
      ps.setString(3, s"row-$i-${"x" * (i % 32)}")
      ps.setDouble(4, i * 0.25)
      ps.setTimestamp(5, new java.sql.Timestamp(1700000000000L + i * 1000L))
      ps.addBatch()
      i += 1
      if (i % 5000 == 0) { ps.executeBatch(); c.commit() }
    }
    ps.executeBatch(); c.commit(); ps.close(); st.close(); c.close()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def export(c: Mysql2Parquet.Config): Double = {
      val t0 = System.nanoTime()
      Mysql2Parquet.run(Mysql2Parquet.reader(spark, c).load(), c)
      (System.nanoTime() - t0) / 1e9
    }
    def out() = java.nio.file.Files
      .createTempDirectory("graft-export").resolve("t").toString

    // Reference envelope: one connection, whole query, single stream.
    val single = Mysql2Parquet.Config(
      password = "pw", database = "memory:exportbench",
      query = "SELECT * FROM t", parquet = out(), url = Some(url))
    // Scale path: the same query over one partition per core.
    val parted = single.copy(parquet = out(),
      partitionColumn = Some("ID"), numPartitions = cpus,
      lowerBound = 0L, upperBound = n.toLong)

    // warm (JIT, codegen, parquet committers), then measure best-of-2
    export(single.copy(parquet = out()))
    val ts = (1 to 2).map(_ => export(single.copy(parquet = out()))).min
    val tp = (1 to 2).map(_ => export(parted.copy(parquet = out()))).min
    def r0(v: Double): Long = math.round(n / v)
    println(s"""{"metric":"export_rows_per_sec","single":${r0(ts)},""" +
      s""""partitioned":${r0(tp)},"rows":$n}""")
    spark.stop()
  }
}
