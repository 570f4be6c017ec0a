package graft.tools

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.Dedup

/** Dev utility: stage-by-stage timing of the dedup pipelines (run with
  * `runMain graft.tools.Profile <sfDir>`). Not part of the driver contract.
  */
object Profile {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.SparkEntry.session("graft-profile", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val t = new Tables(spark, dir)
    val docs = t.documents

    time("warmup")(docs.count())
    time("tokens only")(docs.select(Dedup.tokens(col("text")).as("t")).selectExpr("sum(size(t))").collect())
    time("shingles")(docs.select(Dedup.shingles(col("text"), 3).as("s")).selectExpr("sum(size(s))").collect())
    time("shingles+explode")(docs.select(explode(Dedup.shingles(col("text"), 3)).as("s")).count())
    val sh = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    val inv = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
    time("inverted join+group") {
      val a = inv.select(col("shingle"), col("id").as("id_a"), col("n_sh").as("na"))
      val b = inv.select(col("shingle").as("shingle_r"), col("id").as("id_b"), col("n_sh").as("nb"))
      a.join(b, col("shingle") === col("shingle_r") && col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("common")).count()
    }
    time("full ngram pairs")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text").count())
    time("minhash sig (staged)")(
      Dedup.shingleFrame(docs, "doc_id", "text", 3)
        .select(Dedup.minhashSignature(col("sh"), 16).as("sig"))
        .selectExpr("sum(size(sig))").collect())
    time("full minhash pairs")(
      Dedup.minhashPairs(docs, "doc_id", "text", jaccardThreshold = 0.2).count())
    time("full simhash pairs")(
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6).count())
    time("nearDupClusters")(
      Dedup.nearDupClusters(docs, "doc_id", "text", n = 3,
        threshold = 0.2, minCommon = 2).count())
    spark.stop()
  }
}
