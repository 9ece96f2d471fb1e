package perfbench

import org.apache.spark.sql.SparkSession
import graft.Tables

/** Per-row cost of the custom expressions the curation plans call, each
  * over `documents.text` (or its tokens) repeated to 20k rows: the median
  * of 3 materialisations, minus the same scan projecting `length(text)`. */
object Functions {
  private val Calls = Seq(
    "graft_poly_hash" -> "graft_poly_hash(text, 31, 1000000007)",
    "graft_charwindow_hash64" -> "graft_charwindow_hash64(text, 50)",
    "graft_chargram_hash64" -> "graft_chargram_hash64(text, 5, xxhash64(text))",
    "graft_chargram_counts64" -> "graft_chargram_counts64(text, 5, xxhash64(text))",
    "graft_cdc_boundaries" -> "graft_cdc_boundaries(text, 63, 16)",
    "graft_shingle_hash64" -> "graft_shingle_hash64(split(text, ' '), 3)",
    "graft_poly_gram_hash" -> "graft_poly_gram_hash(split(text, ' '), 3)",
    "graft_gram_stats" -> "graft_gram_stats(split(text, ' '), 3)",
    "graft_minhash_sig" -> ("graft_minhash_sig(transform(split(text, ' '), " +
      "t -> graft_poly_hash(t, 31, 2147483647)), 16, 2147483647)"),
    "graft_simhash_sig" -> ("graft_simhash_sig(transform(split(text, ' '), " +
      "t -> graft_poly_hash(t, 31, 2147483647)), 31)"))

  def nsPerRow(spark: SparkSession, dataDir: String): Map[String, Any] = {
    val docs = Tables.documents(spark, dataDir).select("text")
      .crossJoin(spark.range(4)).select("text").localCheckpoint()
    val rows = docs.count()
    def medianNs(sql: String): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        docs.selectExpr(s"$sql AS r").write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0).toDouble
      }.sorted
      ts(1)
    }
    val base = medianNs("length(text)")
    Calls.map { case (name, sql) =>
      name -> (try {
        val gross = medianNs(sql)
        Map("ns_per_row" -> (gross - base) / rows, "gross_ns_per_row" -> gross / rows)
      } catch { case e: Exception => Map("error" -> String.valueOf(e.getMessage).take(300)) })
    }.toMap + ("rows" -> rows)
  }
}
