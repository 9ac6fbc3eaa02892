package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row => SRow, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Knn.SearchRequest
import graft.store.VectorStore

/** Drives one `VectorStore` through its public functions, timing each call
  * as a span and checking each answer against the [[Model]]. Outside the
  * measured phase a failure aborts the run; inside it, it is counted.
  */
final class StoreRun(spark: SparkSession, tr: Tracer, dir: Path, dim: Int) {
  val store = new VectorStore(spark, dir.toString, dim)
  val model = new Model

  /** Measured-phase latencies per store call. */
  val latency = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Latencies of every put and delete call, set-up loads included. */
  val writeLatency = ArrayBuffer.empty[Double]
  val recall = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0
  val failures = ArrayBuffer.empty[String]
  /** Time spent checking answers in the measured phase, kept out of its wall. */
  var checkNs = 0L

  /** Rows accepted by puts in the measured phase. */
  var measuredRows = 0L
  var userBytes = 0L
  var compactChecks = 0
  var compactions = 0
  var pendingCalls = 0
  var pendingRows = 0L

  private def measuring = tr.phase == "measure"

  private val schema = StructType(Seq(
    StructField("key", StringType), StructField("vector", ArrayType(DoubleType)),
    StructField("metadata", MapType(StringType, StringType)), StructField("ts", LongType)))

  /** One store call: timed, checked, and counted when measured. */
  private def op[A](call: String)(f: => A)(check: A => Option[String]): Unit = {
    if (measuring) attempted += 1
    val outcome =
      try {
        val (r, s) = tr.span(s"store.$call")(f)
        if (measuring) latency.getOrElseUpdate(call, ArrayBuffer.empty) += s
        if (StoreRun.WriteCalls(call)) writeLatency += s
        val t0 = System.nanoTime()
        try check(r) finally if (measuring) checkNs += System.nanoTime() - t0
      } catch { case e: Exception => Some(s"$call threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    outcome.foreach { why =>
      if (!measuring) throw new IllegalStateException(s"${tr.phase}: $why")
      failures += why
    }
  }

  def put(rows: Seq[Row]): Unit = {
    val df = spark.createDataFrame(rows.map(r =>
      SRow(r.key, r.vector.toSeq, Map("tag" -> r.tag), r.ts)).asJava, schema)
    op("put")(store.put(df)) { case (accepted, rejected) =>
      if (accepted != rows.size || rejected != 0) Some(s"put: accepted $accepted, rejected $rejected of ${rows.size}")
      else {
        rows.foreach(model.put)
        if (measuring) measuredRows += accepted
        userBytes += rows.map(r => r.key.getBytes("UTF-8").length + 8L * r.vector.length +
          "tag".length + r.tag.getBytes("UTF-8").length).sum
        None
      }
    }
  }

  def delete(keys: Seq[String], ts: Long): Unit =
    op("delete")(store.delete(keys, ts)) { _ => keys.foreach(model.delete); None }

  def get(key: String): Unit =
    op("get")(store.get(key).collect().toSeq)(rows =>
      model.checkGet(key, rows.map(_.getSeq[Double](1).toArray)))

  private def hits(rows: Array[SRow]): Seq[Hit] =
    rows.toSeq.map(r => Hit(r.getString(0), r.getDouble(1)))

  def search(q: Array[Double], k: Int, tag: Option[String], threshold: Option[Double]): Unit = {
    val req = SearchRequest(q, k, tag.map(t => Map("tag" -> t)).getOrElse(Map.empty), threshold)
    op("search")(hits(store.search(req).collect()))(got =>
      model.checkExact(got, model.topK(q, k, tag, threshold)))
  }

  /** One ANN call on `tier` (ivf, nsw, bq); its recall@k is recorded
    * against the brute-force top-k when measured.
    */
  def ann(tier: String, q: Array[Double], k: Int): Unit = {
    val req = SearchRequest(q, k)
    val call = "search" + tier.capitalize
    op(call)(hits(tier match {
      case "ivf" => store.searchIvf(req).collect()
      case "nsw" => store.searchNsw(req).collect()
      case "bq"  => store.searchBq(req).collect()
    })) { got =>
      val bad = model.checkAnn(call, q, k, got)
      if (measuring && bad.isEmpty)
        recall.getOrElseUpdate(tier, ArrayBuffer.empty) += model.recall(got, model.topK(q, k))
      bad
    }
  }

  def compact(): Unit = op("compact")(store.compact())(_ => None)

  def compactIfNeeded(minWalOps: Long): Unit =
    op("compactIfNeeded")(store.compactIfNeeded(minWalOps)) { due =>
      compactChecks += 1
      if (due) compactions += 1
      None
    }

  def indexPending(tier: String): Unit =
    op("indexPending")(store.indexPending(tier)) { n =>
      pendingCalls += 1
      pendingRows += n
      None
    }

  def build(tier: String): Unit = op(s"build${tier.capitalize}Index")(tier match {
    case "ivf" => store.buildIvfIndex()
    case "nsw" => store.buildNswIndex()
    case "bq"  => store.buildBqIndex()
  })(_ => None)

  /** Bytes under the store directory, split into WAL, snapshots and index
    * artifacts.
    */
  def diskBytes: (Long, Long, Long) = {
    def size(p: Path): Long =
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    val top = Files.list(dir).iterator().asScala.toSeq
    val wal = top.filter(_.getFileName.toString == "wal").map(size).sum
    val snap = top.filter(_.getFileName.toString.startsWith("snapshot_")).map(size).sum
    (wal, snap, top.map(size).sum - wal - snap)
  }
}

object StoreRun {
  val StoreCalls = Seq("put", "delete", "get", "search", "searchIvf", "searchNsw",
    "searchBq", "compact", "compactIfNeeded", "indexPending",
    "buildIvfIndex", "buildNswIndex", "buildBqIndex")
  val ReadCalls = Seq("get", "search", "searchIvf", "searchNsw", "searchBq")
  val WriteCalls = Set("put", "delete")
  val Tiers = Seq("ivf", "nsw", "bq")
}
