package perfbench

import org.apache.spark.sql.SparkSession

/** The two batch-shaped loads in one workload, one client: each cycle
  * runs the ten graph-analytics jobs (with the graph versions they read
  * published fresh), then one curation ingest batch and one kNN request.
  * Every run measures whole cycles.
  */
final class Batch(spark: SparkSession, input: String, work: String) extends Workload {
  val clients = 1
  private val analytics = new Analytics(spark, input, work)
  private val curation = new Curation(spark, input, work)
  val cycleLength: Int = analytics.cycleLength + 2
  private var pos = 0

  def setup(rep: Int): Unit = { analytics.setup(rep); curation.setup(rep) }

  def prepare(t: Tracer): Unit = curation.prepare()

  def claim(): Int = { val p = pos; pos = (pos + 1) % cycleLength; p }

  def request(t: Tracer, req: Long, ticket: Int): Done =
    if (ticket < analytics.cycleLength) analytics.request(t, req) else curation.request(t, req)

  def finish(out: String): Seq[(String, Double)] = analytics.finish(out) ++ curation.finish(out)
}
