package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload serve|ingest --seed N --seconds S --trace 0|1 --out DIR
  *
  * Prints one `PERFBENCH_RESULT {json}` line; `perfbench/run.py` builds the
  * classes, starts this JVM and turns that line into the benchmark's result.
  * Untraced runs report the end-to-end metrics; traced runs attach a Spark
  * listener, record spans and report the per-layer metrics instead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out"))
    require(Set("serve", "ingest")(workload), s"unknown workload '$workload' (serve, ingest)")
    val sizes = Workloads.sizes(workload, seconds)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tr = new Tracer(spark.sparkContext, traced)
      val storeDir = Files.createDirectories(out.resolve("store"))
      val run = new StoreRun(spark, tr, storeDir, Workloads.Dim)
      workload match {
        case "serve"  => Workloads.serve(run, tr, seed, sizes)
        case "ingest" => Workloads.ingest(run, tr, seed, sizes)
      }
      val setupS = (tr.measureStartNs - t0) / 1e9
      val totalS = (System.nanoTime() - tr.measureStartNs - run.checkNs) / 1e9
      tr.finish()
      if (traced) tr.writeSpans(out.resolve(s"spans-$workload-$seed.jsonl"))

      val (metrics, samples) =
        if (traced) Metrics.perLayer(run, tr, totalS, cores)
        else Metrics.endToEnd(run, setupS, totalS)
      val json = Json.result(run.failures.isEmpty, run.attempted, run.failures.size,
        metrics, samples, totalS, run.failures.take(5).toSeq)
      println("PERFBENCH_RESULT " + json)
    } finally spark.stop()
  }
}

/** Turns a finished run into the named metrics (value, unit) and the number
  * of samples behind each.
  */
object Metrics {
  type Out = (Seq[(String, Double, String)], Map[String, Int])

  def endToEnd(run: StoreRun, setupS: Double, totalS: Double): Out = {
    val reads = StoreRun.ReadCalls.flatMap(c => run.latency.getOrElse(c, Nil))
    val (wal, snap, idx) = run.diskBytes
    def recall(t: String) = run.recall.get(t).map(r => r.sum / r.size)
      .getOrElse(throw new IllegalStateException(s"no $t searches were measured"))
    val m = Seq(
      ("setup_s", setupS, "s"),
      ("total_s", totalS, "s"),
      ("read_p50_s", Stats.median(reads), "s"),
      ("read_p75_s", Stats.tail("read_p75_s", reads, 0.75), "s"),
      ("write_p50_s", Stats.median(run.writeLatency.toSeq), "s"),
      ("bytes_per_user_byte", (wal + snap + idx).toDouble / run.userBytes, "ratio"),
      ("recall_ivf_at_10", recall("ivf"), "ratio"),
      ("recall_bq_at_10", recall("bq"), "ratio"))
    val n = Map("setup_s" -> 1, "total_s" -> 1, "read_p50_s" -> reads.size,
      "read_p75_s" -> reads.size, "write_p50_s" -> run.writeLatency.size,
      "bytes_per_user_byte" -> 1) ++
      Seq("ivf", "bq").map(t => s"recall_${t}_at_10" -> run.recall.get(t).map(_.size).getOrElse(0))
    (m, n)
  }

  def perLayer(run: StoreRun, tr: Tracer, totalS: Double, cores: Int): Out = {
    val log = tr.listener.get
    val stages = log.stages.asScala.toSeq
    val stagesBySpan = stages.groupBy(_.span)
    val jobsBySpan = log.jobsBySpan
    val byName = tr.spans.groupBy(_.name)
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    val n = mutable.Map.empty[String, Int]

    StoreRun.StoreCalls.foreach { c =>
      val spans = byName.getOrElse(s"store.$c", Nil).toSeq
      val st = spans.flatMap(s => stagesBySpan.getOrElse(s.id, Nil))
      val jobs = spans.map(s => jobsBySpan.getOrElse(s.id, 0)).sum
      val gapUs = spans.map(s => Intervals.driverGap(s.startUs, s.endUs,
        stagesBySpan.getOrElse(s.id, Nil).map(r => (r.submitUs, r.endUs)))).sum
      out += ((s"store.$c.busy_s", spans.map(_.seconds).sum, "s"))
      out += ((s"store.$c.jobs_per_call", if (spans.isEmpty) 0.0 else jobs.toDouble / spans.size, "jobs"))
      out += ((s"store.$c.driver_gap_s", gapUs / 1e6, "s"))
      out += ((s"store.$c.task_s", st.map(_.runS).sum, "s"))
      Seq("busy_s", "jobs_per_call", "driver_gap_s", "task_s").foreach(k => n(s"store.$c.$k") = spans.size)
    }
    (StoreRun.ReadCalls ++ Seq("put", "delete")).foreach { c =>
      val xs = run.latency.getOrElse(c, Nil).toSeq
      out += ((s"store.$c.p50_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s"))
      n(s"store.$c.p50_s") = xs.size
    }
    val nsw = run.recall.getOrElse("nsw", Nil).toSeq
    out += (("store.searchNsw.recall_at_10", if (nsw.isEmpty) 0.0 else nsw.sum / nsw.size, "ratio"))
    n("store.searchNsw.recall_at_10") = nsw.size
    val (wal, snap, idx) = run.diskBytes
    out += (("store.ingest_rows_per_s", run.measuredRows / totalS, "rows/s"))
    out += (("store.wal_bytes", wal.toDouble, "bytes"))
    out += (("store.snapshot_bytes", snap.toDouble, "bytes"))
    out += (("store.index_bytes", idx.toDouble, "bytes"))
    out += (("store.compactIfNeeded.due_ratio",
      if (run.compactChecks == 0) 0.0 else run.compactions.toDouble / run.compactChecks, "ratio"))
    out += (("store.indexPending.rows_per_call",
      if (run.pendingCalls == 0) 0.0 else run.pendingRows.toDouble / run.pendingCalls, "rows"))
    Seq("store.ingest_rows_per_s", "store.wal_bytes", "store.snapshot_bytes", "store.index_bytes")
      .foreach(n(_) = 1)
    n("store.compactIfNeeded.due_ratio") = run.compactChecks
    n("store.indexPending.rows_per_call") = run.pendingCalls

    // the Spark layer over the measured phase
    val measured = tr.spans.filter(_.phase == "measure").map(_.id).toSet
    val mst = stages.filter(s => measured(s.span))
    val taskS = mst.map(_.runS).sum
    out += (("spark.jobs", jobsBySpan.collect { case (s, j) if measured(s) => j }.sum.toDouble, "jobs"))
    out += (("spark.stages", mst.size.toDouble, "stages"))
    out += (("spark.single_task_stages", mst.count(_.tasks == 1).toDouble, "stages"))
    out += (("spark.task_s", taskS, "s"))
    out += (("spark.utilization", taskS / (totalS * cores), "ratio"))
    out += (("spark.shuffle_bytes", mst.map(_.shuffleBytes).sum.toDouble, "bytes"))
    out += (("spark.spill_bytes", mst.map(_.spillBytes).sum.toDouble, "bytes"))
    out += (("spark.gc_s", mst.map(_.gcS).sum, "s"))
    Seq("jobs", "stages", "single_task_stages", "task_s", "utilization", "shuffle_bytes",
      "spill_bytes", "gc_s").foreach(k => n(s"spark.$k") = mst.size)
    (out.toSeq, n.toMap)
  }
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"metric value $d is not a number")
    else java.lang.Double.toString(d)

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], samples: Map[String, Int],
      totalS: Double, failures: Seq[String]): String = {
    val m = metrics.map { case (k, v, u) => s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}" }
    val s = samples.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${m.mkString(",")}},"samples":{${s.mkString(",")}},""" +
      s""""total_s":${num(totalS)},"failures":[${failures.map(str).mkString(",")}]}"""
  }
}
