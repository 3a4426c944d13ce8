package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one request reports back to the closed loop. */
final case class Done(kind: String, cls: String, rows: Long)

/** A workload: set-up that publishes its stores, then requests drawn
  * in order from its seeded stream by `clients` closed-loop threads.
  * Requests form fixed cycles of `cycleLength` claims; every run
  * measures whole cycles, so its mix does not hang on where it stops.
  */
trait Workload {
  def clients: Int
  def cycleLength: Int
  def setup(rep: Int): Unit
  /** After the timed set-ups: open the live stores and warm caches. */
  def prepare(t: Tracer): Unit
  /** Reserves the next request of the stream and returns its ticket.
    * Called under the loop's lock, in stream order. */
  def claim(): Int
  def request(t: Tracer, req: Long, ticket: Int): Done
  /** After the timed loop: write check data; return extra figures. */
  def finish(out: String): Seq[(String, Double)]
}

object Main {
  val SetupReps = 3

  final case class Rec(req: Long, kind: String, cls: String, t0: Long, t1: Long,
      ok: Boolean, rows: Long, traced: Boolean, err: String)

  def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  /** Bytes on disk under `path`. */
  def bytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(x => bytes(x.getPath)).sum).getOrElse(0L)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val Array(workload, input, work, out, secondsS, traceS) = args
    val seconds = secondsS.toDouble
    val born = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"perfbench: $name at ${(System.nanoTime() - born) / 1e9}%.2f s")
    val trace = traceS == "1"
    val spark = graft.core.Graft.session("perfbench", "4")
    phase("session ready")
    val counters = if (trace) Some(SparkCounters.install(spark)) else None
    val wl: Workload = workload match {
      case "oltp"      => new Oltp(spark, input, work)
      case "batch"     => new Batch(spark, input, work)
    }
    val setup = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    phase("set-up done")
    val off = new Tracer(spark.sparkContext, on = false)
    val traced = new Tracer(spark.sparkContext, on = true)
    wl.prepare(off)

    phase("prepared")
    val recs = new ConcurrentLinkedQueue[Rec]()
    val reqIds = new AtomicLong(0)
    var claimed = 0L
    val claims = new Object
    // peak RSS once the first measured cycle is claimed: the heap's high
    // water mark climbs with the work done, so it is read after the same
    // work (set-up, warm-up, one cycle) in every run, however fast
    var rssMb = 0.0
    // a traced run measures its first half untraced, its second traced:
    // the difference is the tracing overhead
    def loop(t: Tracer, secs: Double): Unit = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      // the loop stops on a cycle boundary, and does not start a cycle
      // the last one says would end past the deadline (at least one cycle
      // runs); deciding and claiming under one lock keeps every client
      // on the same side of that decision
      var cycleStart = System.nanoTime()
      var lastCycle = 0L
      var cyclesSeen = claimed / wl.cycleLength
      var stop = false
      def next(): Option[Int] = claims.synchronized {
        if (!stop && claimed % wl.cycleLength == 0) {
          val now = System.nanoTime()
          if (rssMb == 0.0 && claimed > 0) rssMb = peakRssMb()
          if (claimed / wl.cycleLength != cyclesSeen) {
            lastCycle = now - cycleStart
            cycleStart = now
            cyclesSeen = claimed / wl.cycleLength
          }
          stop = now + lastCycle >= deadline
        }
        if (stop) None
        else { claimed += 1; Some(wl.claim()) }
      }
      val threads = (0 until wl.clients).map { _ =>
        new Thread(() => {
          var ticket = next()
          while (ticket.isDefined) {
            val req = reqIds.incrementAndGet()
            val t0 = t.now()
            try {
              val d = t.request("request", req)(wl.request(t, req, ticket.get))
              recs.add(Rec(req, d.kind, d.cls, t0, t.now(), ok = true, d.rows, t.on, ""))
            } catch {
              case e: Throwable =>
                recs.add(Rec(req, "error", "error", t0, t.now(), ok = false, 0, t.on,
                  String.valueOf(e).replaceAll("\\s+", " ").take(300)))
            }
            ticket = next()
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    if (trace) { loop(off, seconds / 2); loop(traced, seconds / 2) }
    else loop(off, seconds)

    phase("loop done")
    new File(out).mkdirs()
    counters.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    val extra = wl.finish(out)
    writeLines(s"$out/setup.tsv", setup.iterator.map(_.toString))
    writeLines(s"$out/requests.tsv", recs.asScala.toSeq.sortBy(_.req).iterator.map { r =>
      Seq(r.req, r.kind, r.cls, r.t0, r.t1, if (r.ok) 1 else 0, r.rows,
        if (r.traced) 1 else 0, r.err).mkString("\t")
    })
    writeLines(s"$out/spans.tsv", traced.spans.iterator.map { s =>
      Seq(s.id, s.parent, s.name, s.req, s.t0, s.t1).mkString("\t")
    })
    counters.foreach { c =>
      writeLines(s"$out/counters.tsv", c.counts.asScala.iterator.map {
        case ((span, key), v) => s"$span\t$key\t$v"
      })
      writeLines(s"$out/jobs.tsv", c.jobs.asScala.iterator.map {
        case (span, a, b) => s"$span\t$a\t$b"
      })
    }
    val storage = counters.map(c => Seq("spark.storage.peak_bytes" -> c.storagePeak.toDouble))
      .getOrElse(Nil)
    writeLines(s"$out/extra.tsv",
      (extra ++ storage ++ Seq("peak_rss_mb" -> rssMb,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0))
        .iterator.map { case (k, v) => s"$k\t$v" } ++
        Iterator(s"spark_version\t${spark.version}"))
    phase("finished")
    // everything is written; skip the slow orderly Spark shutdown
    Runtime.getRuntime.halt(0)
  }
}
