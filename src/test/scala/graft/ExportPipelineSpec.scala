package graft

import java.io.{File, IOException}
import java.sql.{DriverManager, SQLException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The export pipeline under load and under failure, on a live Derby
  * table: [[Pipeline]]'s FIFO boundaries keep the query's row order, a
  * database error raised mid-scan reaches the caller as itself, a sink
  * that cannot write stops the producers and closes the connections,
  * no failed export leaves a `_SUCCESS`, and no pipeline thread outlives
  * an export. The reference leaves a partial file behind instead
  * (BASELINE.md). The written footers show zstd pages, a dictionary kept
  * only while it stays small, and a session codec that still wins.
  */
class ExportPipelineSpec extends SparkSpec {

  private val dbUrl = "jdbc:derby:memory:graftpipe"
  private val Rows = 20000

  private lazy val seeded: Unit = {
    val c = DriverManager.getConnection(dbUrl + ";create=true;user=root")
    c.setAutoCommit(false)
    c.createStatement().execute("CREATE TABLE t (id BIGINT NOT NULL, v INT, s VARCHAR(40))")
    val ps = c.prepareStatement("INSERT INTO t VALUES (?, ?, ?)")
    for (i <- 0 until Rows) {
      ps.setLong(1, i.toLong)
      if (i % 7 == 0) ps.setNull(2, java.sql.Types.INTEGER) else ps.setInt(2, i % 1000)
      ps.setString(3, s"row-$i-${"x" * (i % 23)}")
      ps.addBatch()
    }
    ps.executeBatch(); c.commit(); ps.close(); c.close()
  }

  private val DictRows = 40000

  /** `D`: a 10-value column and a column of 5,000 distinct 30-character
    * values (a ~170 KB dictionary), each value repeated so that a
    * dictionary under parquet-mr's 1 MiB default would pay for itself,
    * in the whole table and in each of four key ranges.
    */
  private lazy val dictSeeded: Unit = {
    seeded
    val c = DriverManager.getConnection(dbUrl + ";user=root")
    c.setAutoCommit(false)
    c.createStatement().execute("CREATE TABLE d (id BIGINT NOT NULL, k10 VARCHAR(8), k5000 VARCHAR(30))")
    val ps = c.prepareStatement("INSERT INTO d VALUES (?, ?, ?)")
    for (i <- 0 until DictRows) {
      ps.setLong(1, i.toLong)
      ps.setString(2, s"k${i % 10}")
      ps.setString(3, f"v${i % 5000}%05d".padTo(30, 'y'))
      ps.addBatch()
    }
    ps.executeBatch(); c.commit(); ps.close(); c.close()
  }

  private def out(): String =
    java.nio.file.Files.createTempDirectory("graft-pipe-out").resolve("t").toString

  private def args(query: String, parquet: String, flags: String*): Mysql2Parquet.Config = {
    val Right(c) = Mysql2ParquetMain.parse((Seq(s"--url=$dbUrl", "--user=root",
      "--password=pw", "--database=memory:graftpipe", s"--query=$query",
      s"--parquet=$parquet") ++ flags).toArray): @unchecked
    c
  }

  private val singleFlags = Seq("--compat", "--single-file")
  private def partitionedFlags(rows: Int) = Seq("--partition-column=ID", "--num-partitions=4",
    "--lower-bound=0", s"--upper-bound=$rows")

  private def pipelineThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith(Pipeline.ThreadPrefix)).toSet

  /** User connections Derby holds open, this probe's own included. */
  private def openConnections(): Int = {
    val c = DriverManager.getConnection(dbUrl + ";user=root")
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT count(*) FROM SYSCS_DIAG.TRANSACTION_TABLE WHERE TYPE = 'UserTransaction'")
      rs.next(); rs.getInt(1)
    } finally c.close()
  }

  private def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten.filter(_.getName.startsWith("part-"))

  /** The column chunks of every row group in `dir`'s part files. */
  private def chunks(dir: String): Seq[ColumnChunkMetaData] = partFiles(dir).flatMap { f =>
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
    try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala) finally r.close()
  }

  /** Every exception in `t`'s cause chain. */
  private def chain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  /** After a failed export: the caller got the cause it should, no
    * `_SUCCESS` marks the output complete, and every producer is gone
    * with its connection closed (sibling tasks are cancelled
    * asynchronously, hence the wait).
    */
  private def assertCleanFailure(e: Throwable, dir: String, connectionsBefore: Int): Unit = {
    assert(!chain(e).exists(_.isInstanceOf[InterruptedException]), e)
    assert(!new File(dir, "_SUCCESS").exists, s"failed export left $dir/_SUCCESS")
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(pipelineThreads.isEmpty)
      assert(openConnections() === connectionsBefore)
    }
  }

  test("a database error mid-scan fails the export with that error, on both paths") {
    seeded
    // Derby raises 22012 when the row with ID 15000 is fetched, deep
    // into the stream and after many batches have crossed the pipeline.
    val query = "SELECT ID, V, S, 100 / (ID - 15000) AS X FROM T"
    for (flags <- Seq(singleFlags, partitionedFlags(Rows))) {
      val before = openConnections()
      val dir = out()
      val e = intercept[Exception](Mysql2ParquetMain.execute(spark, args(query, dir, flags: _*)))
      val db = chain(e).collectFirst { case s: SQLException => s }
      assert(db.exists(_.getSQLState == "22012"), s"${flags.mkString(" ")}: no Derby 22012 in $e")
      assertCleanFailure(e, dir, before)
    }
  }

  test("an unwritable output path stops the producers and closes the connections") {
    seeded
    spark.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[ExportPipelineSpec.UnwritableCommitProtocol].getName)
    try for (flags <- Seq(singleFlags, partitionedFlags(Rows))) {
      val before = openConnections()
      val dir = out()
      val e = intercept[Exception](
        Mysql2ParquetMain.execute(spark, args("SELECT * FROM T", dir, flags: _*)))
      assert(chain(e).exists(_.getMessage == ExportPipelineSpec.Unwritable), e)
      assertCleanFailure(e, dir, before)
    } finally spark.conf.unset("spark.sql.sources.commitProtocolClass")
  }

  test("--compat --single-file keeps an ORDER BY query's row order in the one part file") {
    seeded
    // a permutation of the ids, far from the insertion order
    val query = "SELECT ID, V, S FROM T ORDER BY MOD(ID * 7919, 10007), ID"
    val want = {
      val c = DriverManager.getConnection(dbUrl + ";user=root")
      try {
        val rs = c.createStatement().executeQuery(query)
        val b = mutable.ArrayBuffer.empty[String]
        while (rs.next()) b += rs.getString(1)
        b.toSeq
      } finally c.close()
    }
    val dir = out()
    Mysql2ParquetMain.execute(spark, args(query, dir, singleFlags: _*))
    assert(pipelineThreads.isEmpty)
    val files = partFiles(dir)
    assert(files.size === 1)
    val got = spark.read.parquet(files.head.getPath).collect().map(_.getString(0)).toSeq
    assert(got.size === Rows)
    assert(got === want)
  }

  test("both paths write zstd pages and keep a dictionary only while it stays small") {
    dictSeeded
    val query = "SELECT ID, K10, K5000 FROM D"
    val want = {
      val c = DriverManager.getConnection(dbUrl + ";user=root")
      try {
        val rs = c.createStatement().executeQuery(query)
        val b = mutable.ArrayBuffer.empty[Seq[String]]
        while (rs.next()) b += (1 to 3).map(rs.getString)
        b.toSeq.sortBy(_.head.toLong)
      } finally c.close()
    }
    for (flags <- Seq(singleFlags, partitionedFlags(DictRows))) {
      val dir = out()
      Mysql2ParquetMain.execute(spark, args(query, dir, flags: _*))
      val cs = chunks(dir)
      assert(cs.nonEmpty)
      assert(cs.map(_.getCodec).toSet === Set(CompressionCodecName.ZSTD))
      def encodings(column: String): Seq[Set[Encoding]] =
        cs.filter(_.getPath.toDotString == column).map(_.getEncodings.asScala.toSet)
      assert(encodings("K10").forall(_.contains(Encoding.PLAIN_DICTIONARY)), encodings("K10"))
      assert(encodings("K5000").forall(e => e.contains(Encoding.PLAIN) &&
        !e.contains(Encoding.PLAIN_DICTIONARY) && !e.contains(Encoding.RLE_DICTIONARY)), encodings("K5000"))
      val got = spark.read.parquet(dir).collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(got.sortBy(_.head.toLong) === want, flags.mkString(" "))
    }
  }

  test("a codec the session sets wins over zstd on both paths") {
    dictSeeded
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    try for (flags <- Seq(singleFlags, partitionedFlags(DictRows))) {
      val dir = out()
      Mysql2ParquetMain.execute(spark, args("SELECT ID, K10, K5000 FROM D", dir, flags: _*))
      assert(chunks(dir).map(_.getCodec).toSet === Set(CompressionCodecName.SNAPPY), flags.mkString(" "))
    } finally spark.conf.unset("spark.sql.parquet.compression.codec")
  }

  test("a task interrupted before it completes still stops and joins its producers") {
    // two partitions, far more rows than a boundary holds: each producer
    // is blocked on its full queue when the task ends
    val df = Pipeline.prefetch(spark.range(0, 1000000, 1, 2).toDF("id"))
    val firsts = df.queryExecution.toRdd.mapPartitions { it =>
      val first = if (it.hasNext) it.next().getLong(0) else -1L
      // a task kill interrupts the task thread; set after the last read,
      // the flag is still set when the completion listeners run
      Thread.currentThread().interrupt()
      Iterator(first)
    }.collect()
    assert(firsts.toSeq === Seq(0L, 500000L))
    assert(pipelineThreads.isEmpty)
  }
}

object ExportPipelineSpec {
  val Unwritable = "output path is not writable"

  /** A sink whose every data file fails to open, inside the task, after
    * the scan's producer thread has started.
    */
  class UnwritableCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
      extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
    override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String], spec: FileNameSpec): String =
      throw new IOException(Unwritable)
  }
}
