package perfbench

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Mysql2ParquetMain

/** The export check passes a correct export and catches a dropped row
  * or a changed value, for the typed and for the compat output.
  */
class ExportCheckSpec extends AnyFunSuite {
  private lazy val tmp = Files.createTempDirectory(
    Files.createDirectories(java.nio.file.Paths.get("target")), "spec").toString
  private lazy val spark = Main.session(tmp)
  private lazy val db = s"$tmp/db"
  private lazy val src = Source.generate(db, 2000, seed = 7, parts = 4)

  private def rewrite(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  for (compat <- Seq(false, true)) test(s"export check, compat=$compat") {
    val out = s"$tmp/out-$compat"
    val flags = if (compat) Seq("--compat", "--single-file")
      else Seq("--partition-column=ID", "--num-partitions=4", "--lower-bound=0", s"--upper-bound=${src.upper}")
    val argv = Seq("--password=x", "--database=x", "--query=SELECT * FROM APP.SRC",
      s"--parquet=$out", s"--url=${Source.url(db)}") ++ flags
    Mysql2ParquetMain.execute(spark, Mysql2ParquetMain.parse(argv.toArray).toOption.get)
    val want = if (compat) src.compat else src.typed
    assert(ExportCheck(spark, want, out, singleFile = compat) === Nil)

    val got = spark.read.parquet(out)
    val dropped = rewrite(got.filter(col("ID") =!= got.agg(max("ID")).head().get(0)), s"$tmp/dropped-$compat")
    assert(ExportCheck(spark, want, dropped, singleFile = false).exists(_.startsWith("rows 1999 ")))

    val changed = rewrite(got.withColumn("C_VARCHAR",
      when(col("ID") === got.agg(min("ID")).head().get(0), concat(col("C_VARCHAR"), lit("x")))
        .otherwise(col("C_VARCHAR"))), s"$tmp/changed-$compat")
    assert(ExportCheck(spark, want, changed, singleFile = false)
      .exists(_.startsWith("C_VARCHAR: checksum")))
  }
}
