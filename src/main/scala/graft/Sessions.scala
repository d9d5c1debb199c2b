package graft

import org.apache.spark.sql.SparkSession

/** The one session posture of the catalog harnesses (Bench, One,
  * Verify, ScaleUp, Explain, ExportBench and the test base), so plan
  * pins audit the configuration that actually runs. The export CLI
  * keeps Spark's defaults: it runs the user's SQL.
  */
object Sessions {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    // Scale posture: no operator forces a hash build (a static
    // shuffle_hash hint OOM'd at 100× sf0.1 — DESIGN); instead AQE
    // converts sort-merge→shuffled-hash from real map stats when
    // every partition's build side fits under the threshold. The
    // threshold compares COMPRESSED map bytes while the build needs
    // raw heap (~4-6× that, hash-table overhead included), so it is
    // sized to the per-task execution-memory share — 8g heap / 32
    // tasks ≈ 145 MB ÷ 6 ≈ 16m — not to the naive "what fits in an
    // executor". 128m (first attempt) still OOM'd at 100× data.
    // advisoryPartitionSizeInBytes rides along because Spark only
    // honors a threshold ≥ advisory; 16m targets also split big
    // post-shuffle work finer, which local[32]'s thin per-core
    // memory wants anyway.
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "16m")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet carries TIMESTAMP(NANOS) which the Spark reader
    // rejects by default; read as long and convert in T.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
