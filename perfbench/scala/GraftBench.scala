package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.core.Sessions
import graft.sources.Tables

/** Benchmark harness for graft's contract queries.
  *
  * Modes (the first argument):
  *   run       time one workload: set-up, one cold pass, steady passes
  *   digest    print the order-insensitive digest of parquet result dirs
  *   plancheck check that the timed noop action keeps the query's joins,
  *             aggregates, windows and generates
  *
  * Every mode writes one JSON document to the `--out` file. The harness
  * calls only graft's public surface: `Sessions.build`, `Tables.load` and
  * `SparkEntry.queries`; everything it measures is taken at those call
  * boundaries or from a SparkListener it registers itself.
  */
object Main {

  // ---------------------------------------------------------------- args

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] =
      apply(k).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def parse(rest: Seq[String]): Args = Args(rest.grouped(2).map {
    case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }.toMap)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq.drop(1))
    val out = argv.headOption match {
      case Some("run")       => Runner(args).run()
      case Some("digest")    => digestDirs(args)
      case Some("plancheck") => planCheck(args)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Files.write(Paths.get(args("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------- session

  /** Build the session and register every table, timing the two halves. */
  def setup(dataDir: String, cores: Int): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = Sessions.build("graftbench", master = Some(s"local[$cores]"))
    val t1 = System.nanoTime()
    Tables.all.foreach(n => Tables.load(spark, dataDir, n).createOrReplaceTempView(n))
    val t2 = System.nanoTime()
    (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // -------------------------------------------------------------- digest

  /** Canonical text of one value. Doubles keep 10 significant digits so a
    * last-bit difference in a floating-point sum does not flip the digest;
    * arrays keep their order, maps are sorted by key text. */
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toPlainString

  /** Row count plus an order-insensitive digest over every column: the sum
    * (mod 2^64) of a 64-bit hash of each row's canonical text, prefixed by
    * the column names. */
  def digest(df: DataFrame): (Long, String) = {
    var n = 0L
    var sum = 0L
    df.collect().foreach { r =>
      val s = canon(r)
      val h = (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
      sum += h
      n += 1
    }
    val cols = MurmurHash3.stringHash(df.columns.mkString(","))
    (n, f"$cols%08x-$sum%016x")
  }

  private def digestDirs(args: Args): Any = {
    val (spark, _, _) = setup(args("data"), args.int("cores"))
    val res = args.list("queries").map { q =>
      val (rows, d) = digest(spark.read.parquet(s"${args("results")}/$q"))
      q -> Map("rows" -> rows, "digest" -> d)
    }
    stop(spark)
    res.toMap
  }

  // --------------------------------------------------------------- plans

  /** Every physical node, looking through adaptive wrappers and into
    * subqueries. */
  def physicalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.initialPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(physicalNodes)
  }

  final case class PlanShape(nodes: Int, joins: Int, exchanges: Int)

  def planShape(p: SparkPlan): PlanShape = {
    val ns = physicalNodes(p)
    PlanShape(ns.size,
      ns.count(n => n.nodeName.contains("Join") || n.nodeName == "CartesianProduct"),
      ns.count(_.isInstanceOf[Exchange]))
  }

  /** Hash of the physical plan text with expression ids, plan ids and
    * per-run paths stripped, so it changes only when the plan does. */
  def fingerprint(p: SparkPlan, runDir: String): String = {
    val text = p.toString
      .replace(runDir, "<run>")
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("_p\\d+", "_p")
    f"${MurmurHash3.stringHash(text)}%08x"
  }

  /** Count of the node kinds a count()-style pruning would remove. */
  def keptKinds(p: LogicalPlan): Map[String, Int] = {
    val kinds = p.collectWithSubqueries {
      case _: Join => "Join"
      case _: Aggregate => "Aggregate"
      case _: Window => "Window"
      case _: Generate => "Generate"
    }
    kinds.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Captures the QueryExecution of the next action on the session. */
  final class CaptureQe extends QueryExecutionListener {
    @volatile var last: Option[QueryExecution] = None
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = last = Some(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def planCheck(args: Args): Any = {
    val (spark, _, _) = setup(args("data"), args.int("cores"))
    val cap = new CaptureQe
    spark.listenerManager.register(cap)
    val res = args.list("queries").map { q =>
      val verdict = try {
        val df = SparkEntry.queries(q)(spark, args("data"))
        val own = keptKinds(df.queryExecution.optimizedPlan)
        cap.last = None
        noop(df)
        val deadline = System.currentTimeMillis() + 30000
        while (cap.last.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(5)
        val timed = keptKinds(cap.last.getOrElse(
          throw new IllegalStateException("noop action's QueryExecution not observed")).optimizedPlan)
        val lost = own.collect { case (k, n) if timed.getOrElse(k, 0) < n =>
          s"$k ${timed.getOrElse(k, 0)}/$n" }
        Map("own" -> own, "timed" -> timed, "lost" -> lost.toSeq.sorted, "ok" -> lost.isEmpty)
      } catch { case e: Throwable =>
        Map("ok" -> false, "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
      System.err.println(s"[plancheck] $q ok=${verdict("ok")}")
      q -> verdict
    }
    stop(spark)
    res.toMap
  }
}

/** Tiny JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(render)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case p: Product => render(p.productElementNames.zip(p.productIterator).toMap)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
