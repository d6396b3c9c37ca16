package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage cost breakdown for `pairsAboveBanded` at the 10× derived corpus —
  * answers "where do the 17 s at sf1 go": the signature pass, the candidate
  * band join, or the exact verification join-back. Scratch instrument,
  * not part of the library surface. The `graft.tools`
  * package is the repo's ACCEPTED home for such probe mains — they ship in
  * the jar with machine-specific defaults (local[32], /root/repo paths) by
  * convention, because a separate bench source set would cost more build
  * machinery than a tiny main justifies; nothing in the library depends
  * on this package.
  */
object BandedProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/repo/target/sf1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val scaled = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.25)).as("embedding"))
    val pert = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 300000L).as("vec_id"),
        transform(col("embedding"), x => x + x * x / lit(128.0)).as("embedding"))
    val corpus = e.unionByName(scaled).unionByName(pert)
    println(s"corpus rows: ${corpus.count()}")
    val exact = graft.ops.Similarity.srpGeometryFor(0.9)
    val mp = graft.ops.Similarity.srpPlanFor(0.9)
    println(s"small-corpus geometry: $exact; large-corpus plan: $mp")
    for (rep <- 1 to 2; (label, nb, b, pr) <- Seq(
        ("exact", exact._1, exact._2, 0), ("multiprobe", mp._1, mp._2, mp._3))) {
      time(s"[$rep][$label] signature pass only") {
        corpus.select(col("vec_id"),
          org.apache.spark.sql.graftfns.VectorFunctions
            .srpBandSigs(col("embedding"), 64, nb, b).as("sigs"))
          .write.mode("overwrite").format("noop").save()
      }
      var nCand = 0L
      time(s"[$rep][$label] candidates (band join + distinct)") {
        nCand = graft.ops.Similarity.candidateCount(corpus, 64, nb, b, pr)
      }
      println(s"[$rep][$label] candidate pairs: $nCand")
      time(s"[$rep][$label] full pairsAboveBanded (forced plan)") {
        graft.ops.Similarity
          .pairsAboveBanded(corpus, 0.9, 64, nb, b, probes = pr)
          .write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
