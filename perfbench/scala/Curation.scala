package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Ivf, Pq, Sq}

/** Training-data curation: ingest batches deduplicated against the
  * standing corpus (exact + MinHash near duplicates), survivors appended
  * to the IVF, IVF-PQ and IVF-SQ8 layouts, alternating with kNN
  * requests that run one query batch on each of the three codecs.
  */
final class Curation(spark: SparkSession, input: String, work: String) {
  private val K = 10
  private val Nprobe = 4
  private val Nlist = 16
  private val Threshold = 0.7
  private val CompactEvery = 1 // ingest batches between layout compactions
  private val Codecs = Seq("Ivf", "Pq", "Sq")
  private val nBatches = new java.io.File(s"$input/batches").list().count(_.endsWith(".parquet"))
  private val nQueries = new java.io.File(s"$input/queries").list().count(_.endsWith(".parquet"))

  private var root: String = _
  private var ivf: Ivf.IvfIndex = _
  private var pq: Pq.PqIndex = _
  private var sq: Sq.SqIndex = _
  private val layout = scala.collection.mutable.Map.empty[String, String]
  private var generation = 0
  private var ingested = 0
  private var searched = 0
  private var req = 0
  private val ingestLog = new ConcurrentLinkedQueue[String]()
  private val knnLog = new ConcurrentLinkedQueue[String]()
  private val tracedBatches = new ConcurrentLinkedQueue[(Int, Int)]() // (batch, verified pairs)

  private def docsAt(r: String) = s"$r/docs"

  def setup(rep: Int): Unit = {
    root = s"$work/rep_$rep"
    // the corpus file is the user's document store as delivered
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(docsAt(root)))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$input/corpus.parquet"),
      java.nio.file.Paths.get(s"${docsAt(root)}/part-00000-corpus.parquet"))
    val docs = spark.read.parquet(docsAt(root))
    Dedup.exactIndexFull(docs, "doc_id", col("text")).write.mode("overwrite").parquet(s"$root/exact")
    Dedup.bandTable(docs, "doc_id", col("text")).write.mode("overwrite").parquet(s"$root/bands")
    ivf = Ivf.train(spark, docs, "doc_id", "emb", Nlist)
    pq = Pq.train(spark, docs, "doc_id", "emb", nsub = 8, ksub = 16)
    sq = Sq.train(spark, docs, "emb")
    Ivf.writePartitioned(docs.select("doc_id", "emb"), "emb", ivf, s"$root/Ivf_0")
    Pq.writePartitionedPq(docs, "doc_id", "emb", ivf, pq, s"$root/Pq_0")
    Sq.writePartitionedSq(docs, "doc_id", "emb", ivf, sq, s"$root/Sq_0")
  }

  def prepare(): Unit = Codecs.foreach(c => layout(c) = s"$root/${c}_0")

  private def ingest(t: Tracer): Done = {
    val b = ingested % nBatches
    val batch = spark.read.parquet(s"$input/batches/b$b.parquet")
    val docs = spark.read.parquet(docsAt(root))
    val keepers = Dedup.exactKeepers(spark.read.parquet(s"$root/exact")).select("content_hash", "keep_id")
    val exact = t.span("pipeline.Dedup.exactDuplicatesIncremental") {
      Dedup.exactDuplicatesIncremental(keepers, batch, "doc_id", col("text")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val near = t.span("pipeline.Dedup.nearDuplicatesIncremental") {
      Dedup.nearDuplicatesIncremental(docs, spark.read.parquet(s"$root/bands"), batch, "doc_id",
        col("text"), Threshold).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // a doc survives unless it copies an older doc or nearly does
    val dropped = exact.collect { case (id, keep) if keep != id => id }.toSet ++ near.map(_._2)
    val survivors = batch.filter(!col("doc_id").isin(dropped.toSeq: _*))
      .localCheckpoint()
    survivors.write.mode("append").parquet(docsAt(root))
    Dedup.exactIndexFull(survivors, "doc_id", col("text")).write.mode("append").parquet(s"$root/exact")
    Dedup.bandTable(survivors, "doc_id", col("text")).write.mode("append").parquet(s"$root/bands")
    val emb = survivors.select("doc_id", "emb")
    t.span("pipeline.Ivf.append")(Ivf.appendPartitioned(emb, "emb", ivf, layout("Ivf")))
    t.span("pipeline.Pq.append")(Pq.appendPartitionedPq(emb, "doc_id", "emb", ivf, pq, layout("Pq")))
    t.span("pipeline.Sq.append")(Sq.appendPartitionedSq(emb, "doc_id", "emb", ivf, sq, layout("Sq")))
    if (t.on) tracedBatches.add((b, near.size))
    ingested += 1
    if (ingested % CompactEvery == 0) {
      // Ivf.compactPartitioned carries the IVF and IVF-PQ sidecars only;
      // the SQ8 layout has no compaction that keeps its sidecar
      generation += 1
      Seq("Ivf", "Pq").foreach { c =>
        val dst = s"$root/${c}_$generation"
        t.span(s"pipeline.$c.compact")(Ivf.compactPartitioned(spark, layout(c), dst, "doc_id"))
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(layout(c)))
        layout(c) = dst
      }
    }
    val surv = survivors.select("doc_id").collect().map(_.getLong(0)).sorted
    survivors.unpersist()
    ingestLog.add(Seq(b, exact.toSeq.sorted.map { case (i, k) => s"$i:$k" }.mkString(","),
      near.map { case (a, c, j) => s"$a:$c:$j" }.mkString(","), surv.mkString(",")).mkString("\t"))
    Done("ingest", "write", surv.length)
  }

  /** One query batch against each of the three layouts. */
  private def knn(t: Tracer): Done = {
    val q = searched % nQueries
    val queries = spark.read.parquet(s"$input/queries/q$q.parquet")
    val n = Codecs.map { codec =>
      val path = layout(codec)
      val res = t.span(s"pipeline.$codec.search") {
        (codec match {
          case "Ivf" => Ivf.topKBatch(spark, path, queries, "q_id", "q_vec", "doc_id", "emb", ivf, K, Nprobe)
          case "Pq"  => Pq.topKBatchAdc(spark, path, queries, "q_id", "q_vec", "doc_id", ivf, pq, K, Nprobe)
          case "Sq"  => Sq.topKBatchSq(spark, path, queries, "q_id", "q_vec", "doc_id", ivf, sq, K, Nprobe)
        }).select("q_id", "doc_id").collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}")
      }
      knnLog.add(Seq(q, codec, ingested, res.mkString(",")).mkString("\t"))
      res.length
    }.sum
    searched += 1
    Done("knn", "read", n)
  }

  def request(t: Tracer, r: Long): Done = {
    req += 1
    if (req % 2 == 1) ingest(t) else knn(t)
  }

  def finish(out: String): Seq[(String, Double)] = {
    Main.writeLines(s"$out/curation_ingest.tsv", ingestLog.asScala.iterator)
    Main.writeLines(s"$out/curation_knn.tsv", knnLog.asScala.iterator)
    val store = Main.bytes(root).toDouble
    // raw: UTF-8 text + 8-byte id + 4-byte floats of every live doc
    val raw = spark.read.parquet(docsAt(root))
      .agg(sum(octet_length(col("text")) + lit(8) + size(col("emb")) * 4)).head().getLong(0)
    Seq("curation.store_bytes" -> store, "curation.raw_bytes" -> raw.toDouble) ++ (if (tracedBatches.isEmpty) Nil else {
      // LSH candidates of each traced batch against the corpus as it stood
      // (ids grow with every batch), recomputed after the timed loop
      val bands = spark.read.parquet(s"$root/bands")
      val cands = tracedBatches.asScala.toSeq.map { case (b, _) =>
        val batch = spark.read.parquet(s"$input/batches/b$b.parquet")
        val first = batch.agg(min("doc_id")).head().getLong(0)
        val nb = Dedup.bandTable(batch, "doc_id", col("text"))
        val all = bands.filter(col("id") < first).select("id", "band").unionAll(nb)
        nb.select(col("band"), col("id").as("na")).join(all.select(col("band"), col("id").as("ob")), "band")
          .filter(col("na") =!= col("ob"))
          .select(least(col("na"), col("ob")), greatest(col("na"), col("ob"))).distinct().count()
      }.sum
      Seq("dedup.candidates" -> cands.toDouble,
        "dedup.verified_pairs" -> tracedBatches.asScala.map(_._2).sum.toDouble)
    })
  }
}
