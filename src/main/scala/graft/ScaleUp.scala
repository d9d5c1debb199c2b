package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diagnostic corpus scaler for scale-growth measurement (NOT an
  * operator): replicates the variable-size tables of a driver testdata
  * dir N× so graft.One can measure another decade of data growth above
  * sf0.1 (DESIGN.md "Measured scaling" tables stop at sf0.1 because the
  * driver generates no larger SF).
  *
  * Replication semantics are chosen so the dup/pair-join substrate sees
  * a REALISTIC 10× corpus, not a pathological one:
  *  - documents: replica r != 0 gets every key offset and a per-replica
  *    salt token injected after every 2nd word. The dedup family's pair
  *    joins key on 3-gram word shingles (TextSim.shingles(_, 3)), so a
  *    max run of 2 original words means NO original 3-shingle survives
  *    in a salted replica: cross-replica shingle collisions are zero,
  *    while two docs inside one replica get identical salts at aligned
  *    positions and keep their original near-dup structure. Result: dup
  *    cliques scale linearly with the corpus (each replica carries its
  *    own copy of the original clique structure) instead of
  *    quadratically (exact replication would multiply every clique by
  *    N and measure an adversarial regime, not scaling).
  *  - embeddings: key offset, vectors kept (cell populations scale
  *    uniformly; the IVF substrate re-derives nlist = ceil(sqrt(N)) so
  *    the stored index regenerates under the larger corpus).
  *  - events: key offsets on user_id/event_id, timestamps kept — 10×
  *    the users over the same wall-clock range, the shape a production
  *    event stream grows in.
  *  - TPC-H-style tables are copied unchanged (the heavy tail being
  *    measured is the documents/embeddings/events families).
  *
  * Usage: runMain graft.ScaleUp <inDir> <outDir> <replicas>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <inDir> <outDir> <replicas>")
    val Array(in, out, repsStr) = args
    val reps = repsStr.toInt
    require(reps >= 1 && reps <= 100, "replicas in [1, 100]")
    require(out.startsWith("/tmp/"), "outDir must live under /tmp")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"))
      write(T.load(spark, in, t), t)

    // Key offset far above any real key range at these SFs.
    val OFF = 10000000L

    val docs = T.documents(spark, in)
    val docReps = (0 until reps).map { r =>
      if (r == 0) docs
      else {
        // Inject token "zqr<r>" after every 2nd word: chunk the word
        // array in twos and append the salt to each chunk.
        val salted = docs
          .withColumn("ws", split(col("text"), " "))
          .withColumn("text", expr(
            s"""concat_ws(' ', flatten(transform(
               |  sequence(0, CAST(ceil(size(ws) / 2.0) AS INT) - 1),
               |  i -> concat(slice(ws, i * 2 + 1, 2), array('zqr$r')))))"""
              .stripMargin))
        salted.select(
          (col("doc_id") + lit(r * OFF)).as("doc_id"),
          col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
      }
    }
    write(docReps.reduce(_ unionByName _), "documents")

    val emb = T.embeddings(spark, in)
    val embReps = (0 until reps).map { r =>
      emb.select((col("vec_id") + lit(r * OFF)).as("vec_id"),
        col("embedding"), col("label"))
    }
    write(embReps.reduce(_ unionByName _), "embeddings")

    val ev = T.events(spark, in)
    val evReps = (0 until reps).map { r =>
      ev.select((col("event_id") + lit(r * OFF)).as("event_id"),
        col("ts"), (col("user_id") + lit(r * OFF)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    write(evReps.reduce(_ unionByName _), "events")

    println(s"SCALEUP done: $in -> $out x$reps")
    spark.stop()
  }
}
