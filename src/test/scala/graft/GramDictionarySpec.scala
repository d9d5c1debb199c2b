package graft

import graft.functions.TextSim
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** The one int-gid dictionary ([[Dedup.rankedGid]]): dense from its
  * offset, loudly guarded at Int.MaxValue, and the same dictionary
  * inline ([[Dedup.gramIds]]) and stored (`vocab/`, `gramsid/`).
  */
class GramDictionarySpec extends SparkSpec {
  import spark.implicits._

  test("extending an empty dictionary (maxgid NULL) yields gids 1..n, never NULL") {
    val vmeta = Seq.empty[Int].toDF("gid").agg(max(col("gid")).as("maxgid"))
    assert(vmeta.head().isNullAt(0))
    val grams = Seq("c", "a", "d", "b").toDF("g")
    val gids = Dedup.rankedGid(grams.crossJoin(broadcast(vmeta)), Seq(col("g")),
      coalesce(col("maxgid"), lit(0L))).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Integer]("gid"))).sortBy(_._1)
    assert(gids.toSeq === Seq("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4))
  }

  test("an offset that pushes a gid past Int.MaxValue fails loudly") {
    val grams = Seq("a", "b").toDF("g")
    val e = intercept[Exception] {
      Dedup.rankedGid(grams, Seq(col("g")), lit(Int.MaxValue.toLong - 1)).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("overflows the int gid"))),
      s"overflow did not raise the guard's error: $e")
  }

  test("gramIds and the stored vocab/ and gramsid/ carry the same dictionary") {
    val root = Dedup.ensureCanonState(spark, sf001)
    val oldDocs = T.documents(spark, sf001)
      .crossJoin(spark.read.parquet(s"$root/meta"))
      .filter(col("doc_id") <= col("cut")).drop("cut")
    val sh = TextSim.shingles(oldDocs, 3)
    def pairs(df: org.apache.spark.sql.DataFrame, a: String) =
      df.select(col(a), col("gid")).collect().map(r => (r.get(0), r.getInt(1))).toSet
    val stored = pairs(spark.read.parquet(s"$root/vocab"), "g")
    assert(stored.nonEmpty)
    assert(pairs(Dedup.gramVocab(sh), "g") === stored)
    assert(pairs(Dedup.gramIds(sh), "doc_id") ===
      pairs(spark.read.parquet(s"$root/gramsid"), "doc_id"))
  }
}
