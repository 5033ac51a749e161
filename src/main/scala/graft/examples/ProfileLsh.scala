package graft.examples

import graft.core.Sessions
import graft.operators.Dedup
import graft.sources.Tables

/** Is dd_embed_lsh compile-bound or execution-bound? Run it twice. */
object ProfileLsh {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("profile-lsh", Some("local[32]"), Some(32))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val e = Tables.load(spark, dir, "embeddings")
    e.count()
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = Dedup.embeddingPairs(e, "vec_id", "embedding",
        threshold = 0.3, tables = 8, bits = 8).count()
      println(f"pairs run $i: ${(System.nanoTime() - t0) / 1e9}%6.2fs pairs=$n")
    }
    val b = Dedup.embeddingBuckets(e, "vec_id", "embedding", 8, 8, 64)
    val tb = System.nanoTime()
    b.count()
    println(f"buckets only: ${(System.nanoTime() - tb) / 1e9}%6.2fs")
    import org.apache.spark.sql.functions.col
    val l = b.select(col("table"), col("bucket"), col("vec_id").as("id_a"))
    val r = b.select(col("table"), col("bucket"), col("vec_id").as("id_b"))
    val t0 = System.nanoTime()
    val nc = l.join(r, Seq("table", "bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()
    println(f"candidates: ${(System.nanoTime() - t0) / 1e9}%6.2fs n=$nc")
    spark.stop()
  }
}
