package graft

/** CLI surface parity with the reference binary (main.go:52-85): flag
  * parsing, --help/--version short-circuits, required-flag validation
  * with help text and exit code 1, and the parsed config driving the
  * real pipeline end to end against embedded Derby.
  */
class CliSpec extends SparkSpec {

  private val required = Array(
    "--password=pw", "--database=db", "--query=SELECT 1", "--parquet=/tmp/x")

  test("--version prints the version with exit code 0") {
    assert(Mysql2ParquetMain.parse(Array("--version")) ===
      Left((Mysql2ParquetMain.Version, 0)))
  }

  test("--help prints usage with exit code 0") {
    val Left((text, rc)) = Mysql2ParquetMain.parse(Array("--help")): @unchecked
    assert(rc === 0)
    assert(text.contains("Usage:") && text.contains("--parquet"))
  }

  test("missing required flags produce help text and exit code 1") {
    val Left((text, rc)) = Mysql2ParquetMain.parse(Array("--password=pw")): @unchecked
    assert(rc === 1)
    assert(text.contains("missing required flags: database, query, parquet"))
    assert(text.contains("Usage:"))
  }

  test("no arguments at all is a usage error, like the reference") {
    val Left((_, rc)) = Mysql2ParquetMain.parse(Array.empty[String]): @unchecked
    assert(rc === 1)
  }

  test("unknown flags and malformed ints are usage errors") {
    val Left((t1, rc1)) = Mysql2ParquetMain.parse(Array("--frobnicate=1")): @unchecked
    assert(rc1 === 1 && t1.contains("unknown flag: --frobnicate"))
    val Left((t2, rc2)) =
      Mysql2ParquetMain.parse(required :+ "--port=abc"): @unchecked
    assert(rc2 === 1 && t2.contains("not an integer"))
  }

  test("defaults match the reference (user=root, host=127.0.0.1, port=3306)") {
    val Right(c) = Mysql2ParquetMain.parse(required): @unchecked
    assert(c.user === "root" && c.host === "127.0.0.1" && c.port === 3306)
    assert(c.jdbcUrl === "jdbc:mysql://127.0.0.1:3306/db?characterEncoding=utf8&allowMultiQueries=true")
  }

  test("boolean flags honor inline values and reject non-booleans") {
    val Right(c) = Mysql2ParquetMain.parse(required :+ "--compat=false"): @unchecked
    assert(!c.compat, "--compat=false must not enable compat mode")
    val Right(c2) = Mysql2ParquetMain.parse(
      required ++ Seq("--compat=true", "--single-file=false")): @unchecked
    assert(c2.compat && !c2.singleFile)
    val Left((t, rc)) = Mysql2ParquetMain.parse(required :+ "--compat=maybe"): @unchecked
    assert(rc === 1 && t.contains("not a boolean"))
    // Go strconv.ParseBool forms
    val Right(c3) = Mysql2ParquetMain.parse(
      required ++ Seq("--compat=1", "--single-file=F")): @unchecked
    assert(c3.compat && !c3.singleFile)
  }

  test("partition-column without a real partition count is a usage error") {
    val Left((t1, rc1)) = Mysql2ParquetMain.parse(
      required ++ Seq("--partition-column=id", "--lower-bound=0",
        "--upper-bound=100")): @unchecked
    assert(rc1 === 1 && t1.contains("num-partitions"))
    val Left((t2, rc2)) = Mysql2ParquetMain.parse(
      required ++ Seq("--partition-column=id", "--num-partitions=8")): @unchecked
    assert(rc2 === 1 && t2.contains("lower-bound < upper-bound"))
  }

  test("--flag value and --flag=value forms both parse") {
    val Right(c) = Mysql2ParquetMain.parse(Array(
      "--password", "pw", "--database=db", "--query", "SELECT 1",
      "--parquet=/tmp/x", "--port", "3307", "--compat")): @unchecked
    assert(c.port === 3307 && c.compat)
  }

  test("leading SET statements split out of --query into session init") {
    val c = Mysql2Parquet.Config(query =
      "SET SQL_BIG_SELECTS=1; SET SQL_BUFFER_RESULT=1; SELECT * FROM users")
    val split = Mysql2Parquet.splitInlineInit(c)
    assert(split.query === "SELECT * FROM users")
    assert(split.sessionInit === Some("SET SQL_BIG_SELECTS=1; SET SQL_BUFFER_RESULT=1"))
  }

  test("inline SETs append after an explicit --session-init, order preserved") {
    val c = Mysql2Parquet.Config(
      sessionInit = Some("SET TRANSACTION ISOLATION LEVEL READ UNCOMMITTED"),
      query = "set sql_big_selects=1; SELECT 1")
    val split = Mysql2Parquet.splitInlineInit(c)
    assert(split.query === "SELECT 1")
    assert(split.sessionInit === Some(
      "SET TRANSACTION ISOLATION LEVEL READ UNCOMMITTED; set sql_big_selects=1"))
  }

  test("queries without a SET prefix pass through untouched") {
    val c = Mysql2Parquet.Config(query = "SELECT offset_date FROM t WHERE note = 'SET x; y'")
    assert(Mysql2Parquet.splitInlineInit(c) === c)
    // SETTINGS is not SET — prefix match is on the word, not the letters
    val c2 = Mysql2Parquet.Config(query = "SETTINGS_DUMP; SELECT 1")
    assert(Mysql2Parquet.splitInlineInit(c2) === c2)
  }

  test("parsed argv drives the real export pipeline end to end") {
    // Same embedded Derby database the JdbcDerbySpec seeds.
    val url = "jdbc:derby:memory:graftcli"
    val conn = java.sql.DriverManager.getConnection(url + ";create=true;user=root")
    val st = conn.createStatement()
    st.execute("CREATE TABLE t (id INT, name VARCHAR(10))")
    st.execute("INSERT INTO t VALUES (1, 'a'), (2, NULL)")
    st.close(); conn.close()

    // Per-run temp dir — a fixed /tmp path survives aborted runs and can
    // hand a stale schema to a later debugging session.
    val out = java.nio.file.Files.createTempDirectory("graft-cli-out")
      .resolve("t").toString
    val Right(c) = Mysql2ParquetMain.parse(Array(
      s"--url=$url", "--password=pw", "--database=memory:graftcli",
      "--query=SELECT id, name FROM t", s"--parquet=$out",
      "--compat", "--single-file")): @unchecked
    Mysql2ParquetMain.execute(spark, c)

    val back = spark.read.parquet(out)
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).sorted ===
      Array(("1", "a"), ("2", "")))
    // --single-file: exactly one part file, like the reference's one
    // local parquet output (main.go:165).
    val parts = new java.io.File(out).listFiles.count(_.getName.startsWith("part-"))
    assert(parts === 1)
  }

  test("a failing query exits the CLI process non-zero and leaves no output") {
    // The whole process, as a shell sees it: the child JVM runs main
    // on the test classpath against a fresh on-disk Derby database.
    // User APP owns the one schema a fresh database has, so the error
    // is the missing table (42X05), not a missing schema (42Y07).
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cli-fail")
    val out = tmp.resolve("out").toFile
    val stderr = tmp.resolve("stderr.txt").toFile
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"), "graft.Mysql2ParquetMain",
      s"--url=jdbc:derby:${tmp.resolve("db")};create=true", "--user=APP", "--password=pw",
      "--database=db", "--query=SELECT * FROM no_such_table", s"--parquet=$out")
    val pb = new ProcessBuilder(cmd.asJava)
      .directory(tmp.toFile)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(stderr)
    pb.environment().put("SPARK_MASTER", "local[1]")
    val proc = pb.start()
    val exited = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly().waitFor()
    assert(exited, "the CLI did not exit within 180 s")
    assert(proc.exitValue() !== 0)
    val err = new String(java.nio.file.Files.readAllBytes(stderr.toPath))
    assert(err.contains("42X05"), s"no Derby SQLState 42X05 on stderr:\n$err")
    val left = Option(out.list()).toSeq.flatten
      .filter(f => f == "_SUCCESS" || f.startsWith("part-"))
    assert(left.isEmpty, s"a failed export left $left in $out")
  }
}
