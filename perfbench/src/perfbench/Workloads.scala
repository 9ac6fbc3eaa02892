package perfbench

import scala.util.Random

/** Sizes of one workload. Request counts follow from the arguments, never
  * from a clock, so every run of one (seed, seconds) issues the same
  * sequence and gets the same sample counts.
  */
final case class Sizes(corpus: Int, seconds: Int, rounds: Int,
    roundPuts: Int, roundDeletes: Int, putCalls: Int, minWalOps: Long)

object Workloads {
  val Dim = graft.core.Constants.Dim
  val K = 10
  val Centres = 32
  val Rank = 8
  /** Rows per `put` call when a corpus is loaded. */
  val LoadBatch = 250

  /** Request classes of `serve`, in equal numbers: no public source gives
    * the request mix of a vector store, so no class is weighted over
    * another. Exact search rotates through plain, tag-filtered and
    * thresholded requests.
    */
  val ServeClasses = Seq("get", "search", "ivf", "nsw", "bq")
  /** Requests of each class per 30 measured seconds. */
  val ServePerClass = 8

  /** Sized so that the measured phase lasts about `seconds` on a 4-core box
    * and every latency tail has enough samples beyond it.
    */
  def sizes(workload: String, seconds: Int): Sizes = workload match {
    case "serve" =>
      Sizes(corpus = 2000, seconds = seconds, rounds = 0, roundPuts = 0, roundDeletes = 0,
        putCalls = 0, minWalOps = 0)
    case "ingest" =>
      Sizes(corpus = 1000, seconds = seconds, rounds = math.max(1, seconds / 15),
        roundPuts = 400, roundDeletes = 40, putCalls = 4, minWalOps = 800)
  }

  private def loadCorpus(run: StoreRun, gen: Gen, s: Sizes, clock: Iterator[Long]): Unit =
    (0 until s.corpus).map(i => Row(f"k$i%07d", gen.draw(), gen.tag(), clock.next()))
      .grouped(LoadBatch).foreach(run.put)

  private def search(run: StoreRun, gen: Gen, i: Int): Unit = {
    val q = gen.draw()
    i % 3 match {
      case 0 => run.search(q, K, None, None)
      case 1 => run.search(q, K, Some(gen.tag()), None)
      case _ =>
        // a threshold that keeps about half of the top-k
        run.search(q, K, None, Some(run.model.topK(q, K / 2).last.score))
    }
  }

  /** Read-heavy serving over a compacted, fully indexed corpus: a seeded mix
    * of `get`, exact search and the ANN tiers. No write reaches the WAL
    * during the measured phase.
    */
  def serve(run: StoreRun, tr: Tracer, seed: Long, s: Sizes): Unit = {
    val gen = new Gen(seed, Dim, Centres, Rank)
    val mix = new Random(seed ^ 0x5eed)
    val clock = Iterator.from(1).map(_.toLong)
    tr.span("setup.load")(loadCorpus(run, gen, s, clock))
    run.compact()
    StoreRun.Tiers.foreach(run.build)
    val keys = run.model.liveKeys
    def request(cls: String, i: Int): Unit = cls match {
      case "get" => run.get(keys(mix.nextInt(keys.size)))
      case "search" => search(run, gen, i)
      case tier => run.ann(tier, gen.draw(), K)
    }
    tr.span("setup.warmup")(ServeClasses.foreach(request(_, 0)))
    val plan = mix.shuffle(ServeClasses.flatMap(c =>
      Seq.tabulate(math.max(1, ServePerClass * s.seconds / 30))(i => (c, i))))
    tr.beginMeasure()
    plan.foreach { case (c, i) => tr.span(s"request.$c")(request(c, i)) }
  }

  /** The write path with reads beside it. Each round puts new keys and
    * re-puts live ones with a newer ts, in [[Sizes.putCalls]] calls, deletes
    * other live keys, reads written, re-put, deleted and untouched keys
    * back, runs one exact search, checks the compaction policy, catches the
    * ANN indexes up and searches them.
    * Per round: 12 gets, 1 exact search, 4 NSW, 2 IVF and 1 BQ search; the
    * 40 reads of a 30 s run are what the p75 tail rule needs. Sorted by
    * latency these run get < exact < NSW < IVF < BQ, so the read median
    * falls inside the gets and p75 at the middle NSW search.
    */
  def ingest(run: StoreRun, tr: Tracer, seed: Long, s: Sizes): Unit = {
    val gen = new Gen(seed, Dim, Centres, Rank)
    val mix = new Random(seed ^ 0x5eed)
    val clock = Iterator.from(1).map(_.toLong)
    tr.span("setup.load")(loadCorpus(run, gen, s, clock))
    run.delete(run.model.liveKeys.take(s.roundDeletes), clock.next())
    run.compact()
    StoreRun.Tiers.foreach(run.build)
    def maintain(): Unit = {
      run.compactIfNeeded(s.minWalOps)
      StoreRun.Tiers.foreach(run.indexPending)
    }
    tr.span("setup.warmup") {
      run.get(run.model.liveKeys.head)
      search(run, gen, 0)
      maintain()
      StoreRun.Tiers.foreach(t => run.ann(t, gen.draw(), K))
    }
    var nextKey = s.corpus
    tr.beginMeasure()
    (0 until s.rounds).foreach { r =>
      tr.span("request.round") {
        val live = run.model.liveKeys
        val fresh = s.roundPuts * 3 / 4
        val reput = mix.shuffle(live).take(s.roundPuts - fresh)
        val added = (0 until fresh).map(j =>
          Row(f"k${nextKey + j}%07d", gen.draw(), gen.tag(), clock.next()))
        nextKey += fresh
        val rows = mix.shuffle(added ++ reput.map(k => Row(k, gen.draw(), gen.tag(), clock.next())))
        rows.grouped((rows.size + s.putCalls - 1) / s.putCalls).foreach(run.put)
        val untouched = mix.shuffle(live.filterNot(reput.toSet))
        val victims = untouched.take(s.roundDeletes)
        run.delete(victims, clock.next())
        Seq(added.map(_.key), reput, victims, untouched.drop(s.roundDeletes))
          .foreach(ks => mix.shuffle(ks).take(3).foreach(run.get))
        search(run, gen, r)
        maintain()
        Seq("nsw", "nsw", "nsw", "nsw", "ivf", "ivf", "bq").foreach(t => run.ann(t, gen.draw(), K))
      }
    }
  }
}
