package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.PlanCounters._
import graft.operators.Dedup

/** Connected components on the planted worst-case rigs at test scale:
  * 8,200 nodes as 200 permuted-id chains of 41 (diameter 40), and the
  * skew twin of the same node count whose 80% star is one hub-and-spoke
  * component. The driver/distributed crossover, the log-round bound,
  * the skew containment and the pre-pass are all asserted on counts:
  * labels, rounds, jobs and shuffle records. */
class CcRigSpec extends RigSpec {

  private val Nodes = 8200L
  private val Size = 41
  private val StarFrac = 0.8

  private lazy val chains =
    Dedup.syntheticComponentEdges(spark, Nodes, Size).localCheckpoint()
  private lazy val skew =
    Dedup.syntheticSkewedEdges(spark, Nodes, StarFrac, Size)
      .localCheckpoint()

  private def labelsOf(cc: DataFrame): Map[Long, Long] =
    cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def dist(edges: DataFrame, pre: Boolean = true) =
    measured(spark) {
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(edges,
        preContract = pre)
      (labelsOf(labels), rounds)
    }

  // each distributed run is reused by several of the checks below
  private lazy val chainsPre = dist(chains)
  private lazy val chainsRaw = dist(chains, pre = false)
  private lazy val skewPre = dist(skew)
  private lazy val skewRaw = dist(skew, pre = false)

  test("driver union-find and distributed contraction give equal labels; " +
      "the driver path launches fewer jobs") {
    val (drv, drvWork) =
      measured(spark)(labelsOf(Dedup.connectedComponents(chains)))
    val ((labels, _), distWork) = chainsPre
    assert(drv.size == Nodes && labels == drv)
    info(s"jobs: driver=${drvWork.jobs} distributed=${distWork.jobs}")
    // measured 3 vs 20; the bound carries a 1.3x margin
    assert(drvWork.jobs * 5 < distWork.jobs)
  }

  test("rounds <= ceil(log2 diameter) + 3 without the pre-pass, and the " +
      "pre-pass never adds rounds") {
    val diameter = Size - 1
    val bound = (64 - java.lang.Long.numberOfLeadingZeros(
      diameter.toLong - 1)) + 3
    val ((_, raw), _) = chainsRaw
    val ((_, pre), _) = chainsPre
    info(s"rounds raw=$raw pre=$pre bound=$bound")
    assert(raw <= bound)
    assert(pre <= raw)
  }

  test("the skew rig contracts to its planted components; its largest " +
      "reduce task stays within 2x of the uniform rig's") {
    val nStar = (Nodes * StarFrac).toLong
    val rest = Nodes - nStar
    val planted = 1 + rest / Size + (if (rest % Size >= 2) 1 else 0)
    val ((labels, _), skewWork) = skewPre
    assert(labels.values.toSet.size == planted)
    val (_, uniWork) = chainsPre
    info(s"largest reduce task records: skew=" +
      s"${skewWork.maxTaskShuffleRead} uniform=${uniWork.maxTaskShuffleRead}")
    assert(skewWork.maxTaskShuffleRead <= 2 * uniWork.maxTaskShuffleRead)
  }

  test("on the skew rig the pre-pass shuffles no more records in the " +
      "first round than the raw edge path, and far fewer over the run") {
    def firstShuffle(w: Work) = w.shuffleWrittenByJob.find(_ > 0).get
    val (pre, raw) = (firstShuffle(skewPre._2), firstShuffle(skewRaw._2))
    val (preAll, rawAll) =
      (skewPre._2.shuffleWritten, skewRaw._2.shuffleWritten)
    info(s"shuffle records, first round: pre=$pre raw=$raw; whole run: " +
      s"pre=$preAll raw=$rawAll")
    assert(pre <= raw)
    // measured 2.2x fewer; the bound carries a 1.3x margin
    assert(preAll * 1.67 < rawAll)
  }
}
