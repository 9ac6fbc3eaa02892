package perfbench

/** The benchmark's own tests: interval-union and driver-gap arithmetic, the
  * tail rule, and the model checker catching wrong answers. No Spark.
  *
  *   python3 perfbench/test.py
  */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (r) passed += 1 else { failed += 1; println(s"FAIL $name") }
  }

  private def throws(f: => Any): Boolean =
    try { f; false } catch { case _: IllegalStateException => true }

  def main(args: Array[String]): Unit = {
    import Intervals._
    check("union of nothing is 0")(unionLength(Nil) == 0)
    check("disjoint intervals add")(unionLength(Seq((0L, 10L), (20L, 25L))) == 15)
    check("overlapping intervals merge")(unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    check("nested intervals count once")(unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    check("touching intervals join")(unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    check("order does not matter")(unionLength(Seq((50L, 60L), (0L, 10L), (5L, 12L))) == 22)
    check("empty and inverted intervals count 0")(unionLength(Seq((5L, 5L), (9L, 3L))) == 0)
    check("driver gap is wall minus covered")(driverGap(0, 100, Seq((10L, 30L), (20L, 50L))) == 60)
    check("driver gap clips stages to the call")(driverGap(100, 200, Seq((50L, 150L), (190L, 400L))) == 40)
    check("no stages: all driver")(driverGap(0, 70, Nil) == 70)

    check("beyond p75 of 40 is 10")(Stats.beyond(40, 0.75) == 10)
    check("beyond p90 of 100 is 10")(Stats.beyond(100, 0.90) == 10)
    check("beyond p90 of 99 is 9")(Stats.beyond(99, 0.90) == 9)
    check("tail refuses 9 samples beyond")(throws(Stats.tail("t", Seq.tabulate(39)(_.toDouble), 0.75)))
    check("tail refuses p90 of 99")(throws(Stats.tail("t", Seq.tabulate(99)(_.toDouble), 0.90)))
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-6
    check("tail accepts 10 beyond")(near(Stats.tail("t", Seq.tabulate(40)(_.toDouble).reverse, 0.75), 29.5))
    check("median of a symmetric sample is its centre")(near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    check("median of 0..40 is 20")(near(Stats.median(Seq.tabulate(41)(_.toDouble)), 20.0))
    check("quantile of a constant sample is the constant")(near(Stats.quantile(Seq.fill(7)(5.0), 0.9), 5.0))
    check("quantile of one sample is that sample")(Stats.quantile(Seq(3.0), 0.75) == 3.0)

    val m = new Model
    val v1 = Array(1.0, 2.0, 3.0)
    val v2 = Array(1.5, 2.5, 3.5)
    m.put(Row("a", v1, "t0", 1))
    m.put(Row("b", Array(0.0, 0.0, 0.0), "t1", 2))
    m.put(Row("a", v2, "t0", 3))
    m.delete("b")
    check("get of the live vector passes")(m.checkGet("a", Seq(v2.clone())).isEmpty)
    check("stale read is caught")(m.checkGet("a", Seq(v1)).exists(_.contains("stale")))
    check("duplicate rows are caught")(m.checkGet("a", Seq(v2, v2)).nonEmpty)
    check("served deleted key is caught")(m.checkGet("b", Seq(Array(0.0, 0.0, 0.0))).exists(_.contains("deleted")))
    check("deleted key read as empty passes")(m.checkGet("b", Nil).isEmpty)
    val q = Array(1.0, 2.0, 3.0)
    val want = m.topK(q, 2)
    check("top-k scores with the live vector")(want == Seq(Hit("a", m.l2(v2, q))))
    check("exact search equal to the model passes")(m.checkExact(want, want).isEmpty)
    check("exact search with a stale score is caught")(m.checkExact(Seq(Hit("a", 0.0)), want).nonEmpty)
    check("ANN hit on a deleted key is caught")(m.checkAnn("ann", q, 10, Seq(Hit("b", m.l2(Array(0.0, 0.0, 0.0), q)))).nonEmpty)
    check("ANN hit with a stale score is caught")(m.checkAnn("ann", q, 10, Seq(Hit("a", 0.0))).nonEmpty)
    check("ANN live hits pass")(m.checkAnn("ann", q, 10, want).isEmpty)
    check("recall counts the shared keys")(m.recall(Seq(Hit("a", 0), Hit("x", 1)), Seq(Hit("a", 0), Hit("y", 1))) == 0.5)

    println(s"perfbench self-test: $passed passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
