package graft

import graft.functions.TextSim
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame

/** The prefix-filter lemmas on adversarial inputs: the prefix tiers
  * (containmentPairsPrefix, jaccardPairsPrefix) must equal their
  * all-pairs references (containmentPairs, TextSim.jaccardPairs) at
  * the loose, production and 100% thresholds, on tiny corpora built
  * to sit on the lemmas' edges.
  */
class PrefixFilterSpec extends SparkSpec {

  import spark.implicits._

  private val thresholds = Seq((1, 2), (9, 10), (1, 1))

  /** Hand-placed edges. Each doc's prefix order is (df asc, gram asc),
    * so a gram only that doc carries ranks before every shared one.
    */
  private val edges: Seq[String] = {
    val w = (1 to 11).map(i => s"w$i").mkString(" ")
    val s = (1 to 7).map(i => s"s$i").mkString(" ")
    val c = "c1 c2 c3 c4 c5"
    Seq(
      // 10 grams, 9 shared with the next doc: its one unique gram is
      // rank 1, so the first common gram sits at rank 2 = L at 9/10,
      // and 9·10 is a multiple of 10 (the ceiling edge)
      s"x0 $w",
      s"$w y1 y2 y3",
      // 10 grams whose last 5 are the 5 grams of the next doc: the
      // first common gram sits at rank 6 = L at 1/2, and the pair's
      // Jaccard is exactly 1/2
      s"p1 p2 p3 p4 p5 $s",
      s,
      // exact twins of 10 grams
      "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12",
      "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12",
      // one doc contained in three containers
      c, s"a1 a2 $c", s"$c b1 b2 b3", s"d1 $c d2",
      // shorter than the shingle width: no grams, never paired
      "", "z1", "z1 z2", "z1 z2")
  }

  /** Seeded corpus over a tiny vocabulary, so grams collide heavily:
    * a stop phrase in every doc, exact twins, one doc pasted into
    * several others, and docs shorter than the shingle width.
    */
  private def seeded(seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    def words(n: Int) = Seq.fill(n)(s"v${r.nextInt(6)}").mkString(" ")
    val base = Seq.fill(16)(s"${words(r.nextInt(9))} stop gram here ${words(r.nextInt(6))}")
    val pasted = base.head
    base ++ base.take(3) ++
      Seq.fill(3)(s"${words(2)} $pasted ${words(r.nextInt(3))}") ++
      Seq("", "v1", "v1 v2")
  }

  private def docs(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }.toDF("doc_id", "text")

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  for ((name, texts) <- Seq("edges" -> edges, "seed 7" -> seeded(7), "seed 11" -> seeded(11)))
    test(s"prefix tiers equal their all-pairs references on the $name corpus") {
      val d = docs(texts).cache()
      val sh = TextSim.shingles(d, 3).cache()
      val refs = thresholds.map { case (num, den) =>
        val cont = rows(Dedup.containmentPairs(d, 3, num, den))
        val jacc = rows(TextSim.jaccardPairs(sh, num.toDouble / den))
        assert(rows(Dedup.containmentPairsPrefix(d, 3, num, den)) === cont,
          s"containment prefix tier diverges at $num/$den")
        assert(rows(Dedup.jaccardPairsPrefix(sh, num, den)) === jacc,
          s"Jaccard prefix tier diverges at $num/$den")
        (num, den) -> (cont, jacc)
      }.toMap
      if (name == "edges") {
        // the placed pairs are really in the reference relations
        val cont = refs((9, 10))._1
        assert(cont.contains(Seq(1L, 2L, 9000L)), "the rank-L containment pair")
        assert(Seq(8L, 9L, 10L).forall(b => cont.contains(Seq(7L, b, 10000L))),
          "the doc contained in three containers")
        assert(refs((1, 2))._2.contains(Seq(3L, 4L, 0.5)), "the rank-L Jaccard pair")
      }
      sh.unpersist(); d.unpersist()
    }
}
