package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Rows/s of the seven `graft_*` functions GraftExtensions injects, each
 * called through `spark.sql` on an in-memory frame built from the documents
 * and embeddings tables. The frames are cached and materialized before any
 * timing, so scan and shuffle cost stay out of the figure.
 */
object Kernels {
  /** fn -> (frame, SQL select list). */
  val Calls: Seq[(String, (String, String))] = Seq(
    "graft_simhash64" -> ("kdocs", "graft_simhash64(toks)"),
    "graft_simhash_p60" -> ("kdocs", "graft_simhash_p60(toks)"),
    "graft_phash60" -> ("kdocs", "graft_phash60(text)"),
    "graft_bpe_count" -> ("kdocs", "graft_bpe_count(text)"),
    "graft_bpe_encode" -> ("kdocs", "graft_bpe_encode(text)"),
    "graft_hyperplane_bucket" -> ("kvecs", "graft_hyperplane_bucket(embedding, 16)"),
    "graft_type_set" -> ("kdocs", "graft_type_set(word)"))

  val Reps = 5
  val Copies = 8

  def run(spark: SparkSession, sfDir: String, rec: Records): Unit = {
    val copies = explode(sequence(lit(1), lit(Copies)))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(copies.as("copy"), col("text"))
      .select(col("text"), split(col("text"), " ").as("toks"),
        element_at(split(col("text"), " "), col("copy")).as("word"))
      .repartition(4).cache()
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(copies.as("copy"), col("embedding"))
      .repartition(4).cache()
    docs.createOrReplaceTempView("kdocs")
    vecs.createOrReplaceTempView("kvecs")
    val rows = Map("kdocs" -> docs.count(), "kvecs" -> vecs.count())
    Calls.foreach { case (fn, (frame, call)) =>
      val q = spark.sql(s"SELECT $call AS v FROM $frame")
      q.write.format("noop").mode("overwrite").save() // untimed first call
      val secs = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      rec.write("kernel", "fn" -> fn, "rows" -> rows(frame), "secs" -> secs)
    }
    docs.unpersist(blocking = true)
    vecs.unpersist(blocking = true)
  }
}
