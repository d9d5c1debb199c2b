package graft

import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.codec.ZstandardCodec
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The reference's own end-to-end surface, re-expressed Spark-first:
  * one SQL query against MySQL → one Parquet output
  * (/root/reference/main.go:57-204), as a configured pipeline instead of
  * a hand-rolled row loop.
  *
  *  reference                               | here
  *  ----------------------------------------|---------------------------
  *  CLI flags (main.go:29-40,57-85)         | [[Config]] + [[Config.validate]]
  *  DSN + Ping + Query (main.go:87-110)     | spark.read jdbc options ([[reader]])
  *  multiStatements SET prefix (main.go:89) | sessionInitStatement option
  *  schema inference (main.go:112-163)      | JDBC source ResultSetMetaData (see [[TypeMap]])
  *  row stringify + NULL→"" (main.go:175-195)| opt-in [[compatProjection]]
  *  single local parquet file (main.go:165) | [[write]] (coalesce(1) in compat, partitioned otherwise)
  *  SNAPPY pages, parquet-go (SURVEY N5)    | zstd pages, small dictionaries only ([[write]]);
  *                                          | --compat reproduces the values, not the codec
  *  one row loop (main.go:175-195)          | fetch | mapping | encode overlapped per scan task ([[Pipeline]])
  *
  * Where the reference reads on ONE connection and one thread
  * (main.go:106,175), [[reader]] accepts partitionColumn/num-partitions
  * so the scan fans out across executors — the structural upgrade that
  * makes the same export viable at 100 TB. Inside each scan task the
  * layers overlap too: the JDBC fetch runs on a producer thread, the
  * compat mapping (when on) on a second, and the Parquet encode on the
  * task thread, joined by bounded FIFO queues of copied row batches, so
  * memory in flight is fixed and row order is kept. The test suite has
  * no MySQL server, so the live path is exercised end-to-end against
  * embedded Derby (JdbcDerbySpec: real connections, schema from
  * ResultSetMetaData, sessionInitStatement, partitioned scans, NULLs),
  * with the MySQL DSN as the default URL construction.
  */
object Mysql2Parquet {

  /** Mirror of the reference's 8 CLI flags (main.go:29-40). */
  final case class Config(
      user: String = "root",                      // main.go:31 default
      host: String = "127.0.0.1",                 // main.go:32 default
      port: Int = 3306,                           // main.go:33 default
      password: String = "",
      database: String = "",
      query: String = "",
      parquet: String = "",
      sessionInit: Option[String] = None,         // SET ... prefix, main.go:41-47
      partitionColumn: Option[String] = None,     // parallel-scan upgrade
      numPartitions: Int = 1,
      lowerBound: Long = 0L,
      upperBound: Long = 0L,
      compat: Boolean = false,                    // reproduce main.go stringify/NULL→""
      singleFile: Boolean = false,
      url: Option[String] = None,                 // non-MySQL JDBC endpoint (engine upgrade)
      driver: Option[String] = None) {            // explicit JDBC driver class

    /** Required-flag validation, same four as main.go:68-85, plus the
      * partitioned-scan flag group: a partition column with the default
      * numPartitions=1 or empty bounds would silently run the very
      * single-connection scan the flag exists to avoid.
      */
    def validate: Either[String, Config] = {
      val missing = Seq(
        "password" -> password, "database" -> database,
        "query" -> query, "parquet" -> parquet).collect { case (n, "") => n }
      if (missing.nonEmpty)
        Left(missing.mkString("missing required flags: ", ", ", ""))
      else if (partitionColumn.isDefined && numPartitions < 2)
        Left("partition-column requires num-partitions >= 2 " +
          "(a 1-partition 'parallel' scan is a single connection)")
      else if (partitionColumn.isDefined && upperBound <= lowerBound)
        Left("partition-column requires lower-bound < upper-bound")
      else Right(this)
    }

    /** MySQL DSN by default (the reference's only dialect,
      * main.go:87-89); `url` overrides for any other JDBC endpoint —
      * the engine itself is dialect-agnostic (Spark ships the
      * dialects), and tests exercise the live path on embedded Derby.
      * The query params are the Connector/J spelling of the reference
      * DSN's `charset=utf8&multiStatements=true` (main.go:89) — without
      * allowMultiQueries the reference's own documented three-SET
      * inline-init workflow would fail at scan time, because
      * [[splitInlineInit]] joins multiple SETs into one batched
      * sessionInitStatement.
      */
    def jdbcUrl: String = url.getOrElse(
      s"jdbc:mysql://$host:$port/$database" +
        "?characterEncoding=utf8&allowMultiQueries=true")
  }

  /** Reference parity for the documented multi-statement workflow
    * (help text main.go:41-47, enabled by multiStatements=true in the
    * DSN at main.go:89): users prefix `SET ...;` statements INSIDE the
    * query string. JDBC's query/dbtable options take exactly one
    * statement, so leading SET statements are split out here and run as
    * sessionInitStatement on each scan connection — same connection,
    * same ordering as the reference. Splitting is on the first ';' of
    * each leading SET (a quoted ';' inside a SET value is not
    * supported — pass such statements via --session-init). Multiple
    * statements are joined with ';', which executes as-is on endpoints
    * that allow multi-statement batches (MySQL's multiStatements — the
    * reference's own requirement). Spark applies sessionInitStatement
    * on SCAN connections only, not during output-schema resolution, so
    * session variables (the reference's documented use) work but a SET
    * that redirects name resolution (SET SCHEMA) does not.
    */
  def splitInlineInit(c: Config): Config = {
    var q = c.query.trim
    val inits = scala.collection.mutable.ArrayBuffer.empty[String]
    c.sessionInit.foreach(inits += _)
    while (q.length >= 4 && q.substring(0, 4).equalsIgnoreCase("SET ") && q.indexOf(';') >= 0) {
      val i = q.indexOf(';')
      inits += q.substring(0, i).trim
      q = q.substring(i + 1).trim
    }
    if (inits.isEmpty) c
    else c.copy(query = q, sessionInit = Some(inits.mkString("; ")))
  }

  /** JDBC reader with the reference's connection semantics plus the
    * parallel-scan options the reference lacks.
    *
    * Partitioned scans wrap the query as a dbtable subquery: Spark
    * rejects `query` and `partitionColumn` together (the partition
    * predicates must be injectable into the relation's WHERE clause),
    * a constraint the live Derby spec exercises end-to-end.
    */
  def reader(spark: SparkSession, c0: Config): DataFrameReader = {
    val c = splitInlineInit(c0)
    var r = spark.read.format("jdbc")
      .option("url", c.jdbcUrl)
      .option("user", c.user)
      .option("password", c.password)
    c.driver.foreach(d => r = r.option("driver", d))
    c.sessionInit.foreach(s => r = r.option("sessionInitStatement", s))
    c.partitionColumn match {
      case Some(pc) =>
        // The query becomes a derived table, where a trailing ';' (legal
        // as a top-level statement) is a syntax error — strip it so the
        // user sees a real scan, not an opaque database parse error.
        val q = c.query.trim.stripSuffix(";").trim
        r = r.option("dbtable", s"($q) graft_subq")
          .option("partitionColumn", pc)
          .option("numPartitions", c.numPartitions)
          .option("lowerBound", c.lowerBound)
          .option("upperBound", c.upperBound)
      case None =>
        // Same trailing-';' hazard as the partitioned branch: Spark
        // wraps the `query` option as a derived table too
        // (SELECT * FROM (q) SPARK_GEN_SUBQ), so the reference's
        // documented 'SET ...; SELECT * FROM users;' example would die
        // with a database parse error after splitInlineInit strips the
        // SETs and leaves the final ';' behind.
        r = r.option("query", c.query.trim.stripSuffix(";").trim)
    }
    r
  }

  /** Opt-in reproduction of the reference's output semantics
    * (main.go:175-195): every value cast to string and SQL NULL
    * collapsed to "" — the OPTIONAL/empty-string ambiguity documented in
    * SURVEY.md §1.3. Never the default: the engine's default output
    * keeps real types and real nulls.
    */
  def compatProjection(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      coalesce(col(c).cast("string"), lit("")).as(c)).toIndexedSeq: _*)

  /** Page codec of every export whose session names none, and its
    * level: zstd 1 encoded the export source faster than zstd 3 on
    * both paths, and into fewer bytes over the two (DESIGN "Parquet
    * encode").
    */
  private val ZstdOptions = Map("compression" -> "zstd", ZstandardCodec.PARQUET_COMPRESS_ZSTD_LEVEL -> "1")

  /** Bytes a column's dictionary may reach before the column falls back
    * to plain pages (parquet-mr's own default is 1 MiB). Past this bound
    * the encoder stops hashing values into a dictionary it would drop.
    */
  private val DictionaryBytes = 64L * 1024

  /** Parquet sink. compat/singleFile reproduces the reference's one
    * local file (main.go:165); otherwise the write stays partitioned —
    * at scale a single output file is the bottleneck, not a feature.
    * Pages are zstd-compressed unless the session sets
    * `spark.sql.parquet.compression.codec`, and dictionaries stop at
    * [[DictionaryBytes]].
    */
  def write(df: DataFrame, c: Config): Unit = {
    val out = if (c.singleFile) df.coalesce(1) else df
    val codecSet = df.sparkSession.conf.getAll.contains(SQLConf.PARQUET_COMPRESSION.key)
    out.write.mode("overwrite")
      .option(ParquetOutputFormat.DICTIONARY_PAGE_SIZE, DictionaryBytes)
      .options(if (codecSet) Map.empty[String, String] else ZstdOptions)
      .parquet(c.parquet)
  }

  /** Whole pipeline over an already-loaded source frame (used by tests
    * and by the parquet-backed harness; the JDBC path plugs in the same
    * way: reader(spark, c).load()). Every thread boundary of the export
    * is placed here: with compat on, the fetch runs one thread ahead of
    * the mapping, and whatever feeds [[write]] runs one thread ahead of
    * the encode.
    */
  def run(source: DataFrame, c: Config): Unit = {
    val projected = if (c.compat) compatProjection(Pipeline.prefetch(source)) else source
    write(Pipeline.prefetch(projected), c)
  }
}
