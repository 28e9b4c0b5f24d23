package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** nprobe sweep for e_knn_ivf_filtered's recall floor: filtered IVF vs the
  * exact filtered baseline. Low-selectivity predicates (1/|labels| here)
  * spread each query's true same-label neighbors across MORE cells than the
  * unfiltered case concentrates its global neighbors in, so the filtered
  * contract needs its own measured floor — plain IVF's would be borrowed
  * from a different geometry. */
object FilteredProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val base = Similarity.filteredKnn(emb, q, k = 3)
      .select("query_id", "corpus_id")
    for (np <- Seq(3, 4, 6, 8, 10)) {
      val perQ = Similarity.filteredIvfKnn(emb, q, k = 3, nCells = 16,
          nprobe = np)
        .select("query_id", "corpus_id")
        .join(base.withColumn("_hit", lit(1)), Seq("query_id", "corpus_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_ret"), sum(coalesce(col("_hit"), lit(0))).as("n_hit"))
        .collect()
      println(s"[fprobe] np=$np queries=${perQ.length} " +
        s"min_ret=${perQ.map(_.getLong(1)).min} " +
        s"total_hits=${perQ.map(_.getLong(2)).sum}/30 " +
        s"hits=${perQ.map(_.getLong(2)).sorted.mkString(",")}")
    }
    spark.stop()
  }
}
