package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.analytics.GraphAnalytics
import graft.core.GraphSnapshot
import graft.operators.Components

/** Graph analytics over seeded R-MAT graph versions. Requests come in
  * threes: publish the next graph version (a write), then run the next
  * two of the ten jobs on it (reads). Every version is published fresh,
  * so no program cache holds it, and the two jobs that go through the
  * GraphX graph cache never share one.
  */
final class Analytics(spark: SparkSession, input: String, work: String) {
  // two jobs per published version; the two GraphX-backed jobs
  // (connectedComponents, pageRank) sit in different pairs
  val Jobs = Seq("connectedComponents", "minLabel", "personalizedPageRank", "labelPropagation",
    "kCore", "pageRank", "hits", "hyperANF", "multiSourceDistances", "maximalIndependentSet")
  private val versions = new java.io.File(s"$input/graphs").list().count(_.endsWith(".parquet"))
  private val params: Seq[Map[String, Any]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.readValue(new java.io.File(s"$input/params.json"), classOf[java.util.List[java.util.Map[String, Any]]])
      .asScala.map(_.asScala.toMap).toSeq
  }
  private val JobsPerVersion = 2
  private var published = 0
  private var ran = 0
  private var dir: String = _
  private val results = new ConcurrentLinkedQueue[String]()
  private val rounds = new ConcurrentLinkedQueue[(String, Int, Boolean)]()
  private val publishedDirs = new ConcurrentLinkedQueue[(Int, String)]()

  private def snapshot(v: Int): GraphSnapshot = {
    val e = spark.read.parquet(s"$input/graphs/v$v.parquet")
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
      .select(col("id"), lit("v").as("label"),
        lit(null).cast(graft.model.PropValues.propsType).as("props"),
        lit(0L).as("tx_min"), lit(null).cast(LongType).as("tx_max"))
    val edges = e.select(monotonically_increasing_id().as("id"), col("src"), lit("v").as("srcLabel"),
      col("dst"), lit("v").as("dstLabel"), lit("e").as("label"),
      lit(null).cast(graft.model.PropValues.propsType).as("props"),
      lit(0L).as("tx_min"), lit(null).cast(LongType).as("tx_max"))
    GraphSnapshot(nodes, edges)
  }

  private def publish(t: Tracer, v: Int, dir: String): Unit =
    t.span("core.GraphSnapshot.write")(snapshot(v).write(dir))

  /** The store the loop starts from: the first graph version. */
  def setup(rep: Int): Unit = snapshot(0).write(s"$work/setup_$rep")

  /** Requests in one cycle: every job once, plus the publishes it reads. */
  val cycleLength: Int = Jobs.size + Jobs.size / JobsPerVersion

  /** The job's result as check lines, plus its rounds where returned. */
  private def job(t: Tracer, name: String, v: Int, dir: String): (Seq[String], Option[Int]) = {
    val g = t.span("core.GraphSnapshot.open")(GraphSnapshot.open(spark, dir))
    val p = params(v)
    def edges = g.live.edges.select(col("src"), col("dst"))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq
    t.span(s"analytics.GraphAnalytics.$name") {
      name match {
        case "connectedComponents" => (rows(GraphAnalytics.connectedComponents(spark, g)), None)
        case "minLabel" =>
          val r = Components.minLabelManaged(g.live.nodes.select(col("id")),
            g.live.edges.select(col("src").as("u"), col("dst").as("v")))
          try (rows(r.components), Some(r.rounds)) finally r.release()
        case "pageRank" => (rows(GraphAnalytics.pageRank(spark, g, 3)), None)
        case "personalizedPageRank" =>
          (rows(GraphAnalytics.personalizedPageRank(edges, p("ppr_seed").toString.toLong, 3)), None)
        case "labelPropagation" => (rows(GraphAnalytics.labelPropagation(edges, 2)), None)
        case "kCore" =>
          val (df, r) = GraphAnalytics.kCore(edges, p("kcore_k").toString.toInt)
          (rows(df), Some(r))
        case "hits" => (rows(GraphAnalytics.hits(edges, 2)), None)
        case "hyperANF" => (rows(GraphAnalytics.hyperANF(edges, 2)), None)
        case "multiSourceDistances" =>
          val src = p("msd_sources").asInstanceOf[java.util.List[Any]].asScala.map(_.toString.toLong).toSeq
          val w = spark.read.parquet(s"$input/graphs/v$v.parquet").select("src", "dst", "w")
          val (df, r) = GraphAnalytics.multiSourceDistances(w, src)
          (rows(df), Some(r))
        case "maximalIndependentSet" =>
          val (df, r) = GraphAnalytics.maximalIndependentSet(edges)
          (rows(df), Some(r))
      }
    }
  }

  def request(t: Tracer, req: Long): Done =
    if (ran == published * JobsPerVersion) {
      val v = published % versions
      dir = s"$work/loop/p$published"
      publish(t, v, dir)
      publishedDirs.add((v, dir))
      published += 1
      Done("publish", "write", 0)
    } else {
      val name = Jobs(ran % Jobs.size)
      val v = (published - 1) % versions
      ran += 1
      val (res, r) = job(t, name, v, dir)
      r.foreach(x => rounds.add((name, x, t.on)))
      results.add(s"$name\t$v\t${res.mkString(",")}")
      Done(name, "read", res.size)
    }

  def finish(out: String): Seq[(String, Double)] = {
    Main.writeLines(s"$out/analytics_results.tsv", results.asScala.iterator)
    val store = publishedDirs.asScala.toSeq.map(d => Main.bytes(d._2)).sum.toDouble
    val traced = rounds.asScala.toSeq.filter(_._3)
    val byJob = traced.groupBy(_._1).map { case (j, rs) =>
      s"analytics.GraphAnalytics.$j.rounds" -> rs.map(_._2).sum.toDouble / rs.size
    }
    Seq("analytics.store_bytes" -> store, "traced_rounds_total" -> traced.map(_._2).sum.toDouble) ++ byJob
  }
}
