package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.sql.DriverManager
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** What the generator wrote: row count, bytes Derby allocated for the
  * table and its key index, the key range, the rows each JDBC partition
  * of that range holds, and the summaries a correct typed and a correct
  * compat export of the table must have.
  */
final case class SourceInfo(rows: Long, bytes: Long, upper: Long, histogram: Seq[Long],
                            typed: Summary, compat: Summary)

/** The export workloads' source: one on-disk Derby table with a
  * MySQL-shaped column mix (BIGINT key, INT, SMALLINT, DECIMAL, DOUBLE,
  * VARCHAR of 0 to 200 chars, DATE, TIMESTAMP) and about 10% NULLs in
  * every nullable column. Values come from the seed alone.
  *
  * The key is spread unevenly over [0, 4n): half the rows sit in the
  * lowest quarter, so a partitioned scan over that range gets one
  * partition twice the mean size.
  */
object Source {
  val Table = "SRC"
  /** Columns with the Spark types the JDBC source gives them. */
  val Schema: Seq[(String, DataType)] = Seq("ID" -> LongType, "C_INT" -> IntegerType,
    "C_SMALLINT" -> IntegerType, "C_DECIMAL" -> DecimalType(12, 2), "C_DOUBLE" -> DoubleType,
    "C_VARCHAR" -> StringType, "C_DATE" -> DateType, "C_TIMESTAMP" -> TimestampType)

  def key(r: Long, n: Long): Long = if (r < n / 2) 2 * r else n + (r - n / 2) * 6

  /** Rows per partition under Spark's JDBC stride rule for [0, upper). */
  def histogram(n: Long, parts: Int): Seq[Long] = {
    val stride = 4 * n / parts
    val h = new Array[Long](parts)
    var r = 0L
    while (r < n) { h(math.min(parts - 1, (key(r, n) / stride).toInt)) += 1; r += 1 }
    h.toSeq
  }

  def url(dir: String): String = s"jdbc:derby:$dir"

  /** Writes the rows as CSV and bulk-imports them, Derby's fastest load
    * path (an empty field is NULL, a quoted empty string is "").
    */
  def generate(dir: String, n: Long, seed: Long, parts: Int): SourceInfo = {
    val csv = new File(dir + ".csv")
    csv.getParentFile.mkdirs()
    val (typed, compat) = writeCsv(csv, n, seed)
    val c = DriverManager.getConnection(url(dir) + ";create=true")
    try {
      val st = c.createStatement()
      st.execute(s"""CREATE TABLE $Table (ID BIGINT NOT NULL PRIMARY KEY,
        |C_INT INT, C_SMALLINT SMALLINT, C_DECIMAL DECIMAL(12,2), C_DOUBLE DOUBLE,
        |C_VARCHAR VARCHAR(200), C_DATE DATE, C_TIMESTAMP TIMESTAMP)""".stripMargin)
      st.execute(s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '$Table', '${csv.getAbsolutePath}', null, null, 'UTF-8', 0)")
      val rs = st.executeQuery("SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM " +
        s"TABLE(SYSCS_DIAG.SPACE_TABLE('APP', '$Table')) T")
      rs.next()
      val bytes = rs.getLong(1)
      st.close()
      SourceInfo(n, bytes, 4 * n, histogram(n, parts), typed, compat)
    } finally { c.close(); csv.delete() }
  }

  /** Writes the CSV and returns the summaries of the rows' typed and
    * compat renderings, computed from the generated values themselves.
    */
  private def writeCsv(f: File, n: Long, seed: Long): (Summary, Summary) = {
    val rnd = new SplittableRandom(seed)
    val chars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
    val tsText = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)
    val typed = new Summary.Builder(Schema)
    val compat = new Summary.Builder(Schema.map(_._1 -> StringType))
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), "UTF-8"), 1 << 20)
    try {
      var r = 0L
      while (r < n) {
        // (CSV text, Spark value) per column; every nullable column is
        // NULL one time in ten
        def maybe(v: => (String, Any)): (String, Any) = if (rnd.nextInt(10) != 0) v else ("", null)
        val id = key(r, n)
        val row = Seq[(String, Any)](id.toString -> id,
          maybe { val i = rnd.nextInt(); i.toString -> i },
          maybe { val i = rnd.nextInt(65536) - 32768; i.toString -> i },
          maybe {
            val d = java.math.BigDecimal.valueOf(rnd.nextLong(-99999999999L, 100000000000L), 2)
            d.toString -> Decimal(d, 12, 2)
          },
          maybe { val d = rnd.nextDouble() * 1e6 - 5e5; d.toString -> d },
          maybe {
            val sb = new java.lang.StringBuilder
            var i = rnd.nextInt(201)
            while (i > 0) { sb.append(chars.charAt(rnd.nextInt(chars.length))); i -= 1 }
            ("\"" + sb + "\"") -> UTF8String.fromString(sb.toString)
          },
          maybe { val d = rnd.nextLong(0, 20000); LocalDate.ofEpochDay(d).toString -> d.toInt },
          maybe {
            val t = Instant.ofEpochSecond(rnd.nextLong(0, 2000000000L), rnd.nextInt(1000000) * 1000L)
            tsText.format(t) -> (t.getEpochSecond * 1000000L + t.getNano / 1000)
          })
        w.write(row.map(_._1).mkString(","))
        w.write('\n')
        typed.add(row.map(_._2))
        compat.add(row.zip(Schema).map { case ((_, v), (_, t)) =>
          if (v == null) UTF8String.EMPTY_UTF8
          else Cast(Literal(v, t), StringType, Some("UTC")).eval()
        })
        r += 1
      }
    } finally w.close()
    (typed.result, compat.result)
  }

  /** Shuts the embedded database down so its files are released. */
  def shutdown(dir: String): Unit =
    try DriverManager.getConnection(url(dir) + ";shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby reports shutdown as an exception
}

/** Order-independent summary of a table: its schema, its row count
  * and, per column, the NULL count and the sum of a 31-bit hash
  * (Spark's xxhash64) of each non-NULL value. Two tables with equal
  * summaries hold the same multiset of values per column, up to hash
  * collisions.
  */
final case class Summary(schema: Seq[(String, DataType)], rows: Long, nulls: Seq[Long], sums: Seq[Long])

object Summary {
  private val M = 2147483647L

  def of(df: DataFrame): Summary = {
    val aggs: Seq[Column] = count(lit(1)) +: df.columns.toSeq.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)),
        coalesce(sum(when(col(c).isNotNull, pmod(xxhash64(col(c)), lit(M)))), lit(0L)))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val k = df.columns.length
    Summary(df.schema.map(f => f.name -> f.dataType), r.getLong(0),
      (0 until k).map(i => r.getLong(1 + 2 * i)), (0 until k).map(i => r.getLong(2 + 2 * i)))
  }

  /** The same summary, accumulated row by row from Spark values. */
  final class Builder(schema: Seq[(String, DataType)]) {
    private var rows = 0L
    private val nulls = new Array[Long](schema.size)
    private val sums = new Array[Long](schema.size)
    def add(values: Seq[Any]): Unit = {
      rows += 1
      for (((v, (_, t)), i) <- values.zip(schema).zipWithIndex)
        if (v == null) nulls(i) += 1
        else sums(i) += Math.floorMod(XxHash64Function.hash(v, t, 42L), M)
    }
    def result: Summary = Summary(schema, rows, nulls.toSeq, sums.toSeq)
  }
}

/** Output checks for one export: each failure is one line naming what
  * differs.
  */
object ExportCheck {
  def apply(spark: SparkSession, want: Summary, outDir: String, singleFile: Boolean): Seq[String] = {
    val parts = Main.partFiles(outDir)
    val fails = Seq.newBuilder[String]
    if (!new File(outDir, "_SUCCESS").isFile) fails += "no _SUCCESS marker"
    if (singleFile && parts.size != 1) fails += s"${parts.size} part files, expected 1"
    if (parts.isEmpty) fails += "no Parquet part files"
    else {
      val got = Summary.of(spark.read.parquet(outDir))
      if (got.schema != want.schema) fails += s"schema ${got.schema.mkString(",")} expected ${want.schema.mkString(",")}"
      else {
        if (got.rows != want.rows) fails += s"rows ${got.rows} expected ${want.rows}"
        for (((c, _), i) <- want.schema.zipWithIndex) {
          if (got.nulls(i) != want.nulls(i)) fails += s"$c: ${got.nulls(i)} NULLs expected ${want.nulls(i)}"
          if (got.sums(i) != want.sums(i)) fails += s"$c: checksum ${got.sums(i)} expected ${want.sums(i)}"
        }
      }
    }
    fails.result()
  }
}
