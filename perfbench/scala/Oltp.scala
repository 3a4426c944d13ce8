package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{GraphSnapshot, TpchGraph}
import graft.model.PropValues
import graft.operators.{QueryStep, Traversal, TxLog, UniqueIndex}
import graft.streaming.EventStream

/** Point lookups, 1-hop steps and short traversals beside write
  * transactions, over a TpchGraph snapshot published once in set-up.
  *
  * Readers snapshot the committed set (TxLog) and read through the
  * merge-on-read delta view. Writes append deltas and commit; a fold
  * follows every `CompactEvery`-th write and holds the store
  * exclusively. Writes and folds run one at a time, in the order the
  * clients claimed them, so every run folds at the same points of the
  * stream.
  */
final class Oltp(spark: SparkSession, input: String, work: String) extends Workload {
  val clients = 2
  // every block of 20 ops holds 4 writes (gen.oltp_ops) and so makes
  // one fold due. A cycle is three blocks and their folds: 48 reads, so
  // the tail percentile falls inside the slow reads (see README)
  private val CompactEvery = 4
  val cycleLength = 3 * 21
  private val ops: Vector[Array[String]] =
    scala.io.Source.fromFile(s"$input/ops.tsv").getLines().map(_.split("\t", -1)).toVector
  private def snapDir(rep: Int) = s"$work/snap_$rep"
  private def indexDir(rep: Int) = s"$work/index_$rep"
  private var dir: String = _
  private var index: DataFrame = _

  // claim state, kept under the loop's lock
  private var nextOp = 0
  private var writesClaimed = 0
  private var foldsClaimed = 0
  private var writeSideClaimed = 0
  // ticket of a write or fold -> its place in the write-side order
  private val writeSideSeq = new ConcurrentHashMap[Int, Int]()
  private val turns = new Object
  private var turn = 0

  // shared by reads and delta appends; exclusive for the fold
  private val store = new ReentrantReadWriteLock(true)
  private val commitLock = new Object
  private var committed = 0 // writes committed so far, in commit order
  private var lastTx = 0L
  private var sinceCompact = 0
  private var deltaDirsMax = 0
  private val ampSamples = new ConcurrentLinkedQueue[Double]()
  private val readLog = new ConcurrentLinkedQueue[String]()
  private val writeLog = new ConcurrentLinkedQueue[String]()

  def setup(rep: Int): Unit = {
    TpchGraph.snapshot(spark, s"$input/tpch").write(snapDir(rep))
    UniqueIndex.build(GraphSnapshot.open(spark, snapDir(rep)).nodes,
      UniqueIndex.IndexInfo("customer_name", Seq("customer"), "name"))
      .write.mode("overwrite").parquet(indexDir(rep))
  }

  private def use(rep: Int): Unit = {
    dir = snapDir(rep)
    index = spark.read.parquet(indexDir(rep))
    committed = 0
    lastTx = 0L
    sinceCompact = 0
  }

  def prepare(t: Tracer): Unit = {
    // warm the JIT and Spark's code caches on set-up rep 1's copy, which
    // the loop never reads: a write and every read shape, on the two
    // clients' worth of threads. snap_0 stays untouched as the reference
    // the checker reads.
    use(1)
    def first(kind: String) = ops.find(_(0) == kind).get
    val node = first("step")(1)
    val reads = Seq(first("lookup")) ++ Seq("OUT", "IN", "BOTH").map(d => Array("step", node, d, "5")) ++
      Seq("orders_parts", "nation_peers", "followers_follow").map(p => Array("trav", p, node))
    val (mine, theirs) = reads.splitAt(reads.size / 2)
    val other = Future(theirs.foreach(op => read(t, view(t)._1, op)))
    write(t, -1, first("write"))
    mine.foreach(op => read(t, view(t)._1, op))
    Await.result(other, Duration.Inf)
    writeLog.clear()
    ampSamples.clear()
    deltaDirsMax = 0
    use(Main.SetupReps - 1)
  }

  private def view(t: Tracer): (GraphSnapshot, Int) = {
    val (pred, vis) = commitLock.synchronized {
      (t.span("operators.TxLog.visibleStore")(TxLog.visibleStore(dir, Long.MaxValue)), committed)
    }
    val g = t.span("core.GraphSnapshot.open")(GraphSnapshot.openWithDeltas(spark, dir))
    // the visible versions ARE the reader's snapshot: operators that
    // filter live rows (tx_max IS NULL) must not drop a version whose
    // closing transaction is not visible to this reader
    def visible(df: DataFrame) = df.filter(pred).withColumn("tx_max", lit(null).cast(LongType))
    (GraphSnapshot(visible(g.nodes), visible(g.edges)), vis)
  }

  private def ids(df: DataFrame, c: String): Seq[Long] =
    df.select(col(c)).collect().map(_.getLong(0)).toSeq

  /** Runs one read op; returns its result lines (sorted where the
    * operator promises no order) for the checker. */
  private def read(t: Tracer, g: GraphSnapshot, op: Array[String]): Seq[String] = op(0) match {
    case "lookup" =>
      val found = t.span("operators.UniqueIndex.lookup")(ids(UniqueIndex.lookup(index, op(1)), "id"))
      t.span("core.GraphSnapshot.fetch") {
        g.nodes.filter(col("id").isin(found: _*))
          .select(col("id"), col("label"), col("props").getItem("name").getItem(0).getField("vText"))
          .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}").toSeq.sorted
      }
    case "step" =>
      val step = QueryStep.RelationStep(direction = op(2) match {
        case "OUT" => QueryStep.OUT
        case "IN"  => QueryStep.IN
        case _     => QueryStep.BOTH
      }, limit = Some(op(3).toInt))
      t.span("operators.QueryStep.apply") {
        QueryStep.fromIds(g, Seq(op(1).toLong), step)
          .select("rel_id", "direction", "tgt_id").collect()
          .map(r => (r.getString(1), r.getLong(0), r.getLong(2))).toSeq
          .sortBy { case (d, rel, _) => (d != "OUT", -rel) }
          .map { case (d, rel, tgt) => s"$d|$rel|$tgt" }
      }
    case "trav" =>
      import Traversal._
      val c = op(2).toLong
      val prog = op(1) match {
        case "orders_parts"     => Seq(Out(Seq("placed")), Out(Seq("contains")))
        case "nation_peers"     => Seq(Out(Seq("in_nation")), In(Seq("in_nation")))
        case "followers_follow" => Seq(In(Seq("follows")), Out(Seq("follows")))
      }
      t.span("operators.Traversal.run") {
        ids(Traversal.run(g, Composed(Seq(Ns, NID(Seq(c))) ++ prog)).df, "id").sorted.map(_.toString)
      }
  }

  private val userSchema = StructType(Seq(StructField("user_id", LongType, nullable = false)))
  private val edgeInSchema = StructType(Seq(
    StructField("id", LongType), StructField("src", LongType), StructField("dst", LongType),
    StructField("w", LongType), StructField("deleted", BooleanType)))

  private def write(t: Tracer, opIdx: Int, op: Array[String]): Unit = {
    val users = op(1).split(",").map(u => Row(u.toLong)).toSeq
    val edges = op(2).split(";").filter(_.nonEmpty).map(_.split(":")).map { e =>
      Row(e(0).toLong, e(1).toLong, e(2).toLong, opIdx.toLong, e(3) == "1")
    }.toSeq
    store.readLock().lock()
    try {
      val tx = t.span("operators.TxLog.begin")(TxLog.begin(dir))
      t.span("streaming.EventStream.upsert") {
        EventStream.upsertUserBatch(spark.createDataFrame(users.asJava, userSchema), tx, dir)
        EventStream.upsertEdgeBatch(spark.createDataFrame(edges.asJava, edgeInSchema)
          .select(col("id"), col("src"), lit("user").as("srcLabel"), col("dst"),
            lit("customer").as("dstLabel"), lit("follows").as("label"),
            PropValues.propsMap("w" -> PropValues.pvInt(col("w"))).as("props"),
            col("deleted")), tx, dir)
      }
      commitLock.synchronized {
        t.span("operators.TxLog.commit")(TxLog.commit(dir, tx))
        committed += 1
        lastTx = tx
        writeLog.add(s"$committed\t$tx\t$opIdx\t${op(1)}\t${op(2)}")
      }
    } finally store.readLock().unlock()
    sinceCompact += 1
    ampSamples.add(storeBytes().toDouble / Main.bytes(snapDir(0)))
    deltaDirsMax = math.max(deltaDirsMax, 2 * sinceCompact)
  }

  /** Folds the deltas of every committed write into the base. */
  private def fold(t: Tracer): Unit = {
    store.writeLock().lock()
    try {
      // no reader is open while the store is held exclusively, so
      // versions closed by committed transactions can go
      t.span("core.GraphSnapshot.compactDeltas")(GraphSnapshot.compactDeltas(spark, dir, lastTx + 1))
      t.span("operators.TxLog.compact")(TxLog.compact(dir))
    } finally store.writeLock().unlock()
    sinceCompact = 0
  }

  /** Op index into the stream, or -n for the n-th fold, which follows
    * the write that makes it due. */
  def claim(): Int =
    if (writesClaimed / CompactEvery > foldsClaimed) {
      foldsClaimed += 1
      writeSideSeq.put(-foldsClaimed, writeSideClaimed)
      writeSideClaimed += 1
      -foldsClaimed
    } else {
      val i = nextOp
      nextOp += 1
      if (ops(i % ops.size)(0) == "write") {
        writesClaimed += 1
        writeSideSeq.put(i, writeSideClaimed)
        writeSideClaimed += 1
      }
      i
    }

  /** Runs a write or fold once every write-side ticket claimed before it has run. */
  private def inTurn(ticket: Int)(body: => Unit): Unit = {
    val seq = writeSideSeq.remove(ticket)
    turns.synchronized { while (turn != seq) turns.wait() }
    try body
    finally turns.synchronized { turn += 1; turns.notifyAll() }
  }

  def request(t: Tracer, req: Long, ticket: Int): Done = {
    if (ticket < 0) { inTurn(ticket)(fold(t)); return Done("compact", "maintenance", 0) }
    val op = ops(ticket % ops.size)
    if (op(0) == "write") { inTurn(ticket)(write(t, ticket, op)); Done("write", "write", 0) }
    else {
      store.readLock().lock()
      try {
        val (g, vis) = view(t)
        val res = read(t, g, op)
        readLog.add((Seq(ticket.toString, vis.toString) ++ op).mkString("\t") + "\t" + res.mkString(","))
        Done(op(0), "read", res.size)
      } finally store.readLock().unlock()
    }
  }

  private def storeBytes(): Long = Main.bytes(dir) + Main.bytes(indexDir(Main.SetupReps - 1))

  def finish(out: String): Seq[(String, Double)] = {
    Main.writeLines(s"$out/oltp_reads.tsv", readLog.asScala.iterator)
    Main.writeLines(s"$out/oltp_writes.tsv", writeLog.asScala.toSeq.sortBy(_.takeWhile(_ != '\t').toInt).iterator)
    // the published snapshot (snap_0, untouched) is the user's data, and
    // writes add a few hundred edges to it; the store is sampled after
    // every commit so the figure does not hang on where the run stops
    // in the compaction cadence
    val amp = ampSamples.asScala.toSeq
    Seq("space_amp" -> (if (amp.isEmpty) storeBytes().toDouble / Main.bytes(snapDir(0)) else amp.sum / amp.size),
      "core.delta_dirs.max" -> deltaDirsMax.toDouble)
  }
}
