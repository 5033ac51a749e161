package graft.examples

import graft.operators.Dedup
import graft.core.Sessions
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Where do dd_incremental_idx's seconds go — the agg for the cut, the
  * index write (3 frames), the read, or the probe? */
object ProfileMhIdx {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("profile-mhidx", Some("local[32]"), Some(32))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val d = Tables.load(spark, dir, "documents")
    d.count()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label%-24s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
      r
    }
    for (i <- 1 to 3) {
      val cut = t(s"run$i cut agg") {
        (d.agg(max(col("doc_id"))).head().getLong(0) + 1) * 4 / 5
      }
      val path = s"/tmp/graft_profile_mh_$i"
      t(s"run$i writeMinhashIndex") {
        Dedup.writeMinhashIndex(d.filter(col("doc_id") < cut),
          "doc_id", "text", path, sourceTag = dir)
      }
      val idx = t(s"run$i readMinhashIndex") {
        Dedup.readMinhashIndex(spark, path, expectedSource = Some(dir))
      }
      t(s"run$i probe") {
        Dedup.incrementalSurvivors(d.filter(col("doc_id") >= cut),
            idx, "doc_id", "text", threshold = 0.8)
          .select("doc_id").orderBy("doc_id")
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
