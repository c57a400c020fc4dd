package perfbench

import java.nio.file.Files

/** Self-tests of the harness itself. Span arithmetic and failure
  * accounting run at the start of every benchmark run; `--selftest` adds
  * the generator tests (every run also checks that its own inputs come out
  * byte-identical when generated again). */
object SelfTest {

  private def assertEq[T](got: T, want: T, what: String): Unit =
    require(got == want, s"self-test: $what: got $got, want $want")

  /** Self time on a hand-built span tree: overlapping children count once,
    * grandchildren do not reduce the root's self time. */
  def spanArithmetic(): Unit = {
    val spans = Seq(
      Span(1, "op", -1, "t", 0, 100),
      Span(2, "a", 1, "t", 10, 40),
      Span(3, "b", 1, "t", 30, 60),
      Span(4, "a1", 2, "t", 15, 20),
      Span(5, "c", 1, "t", 90, 120)) // runs past its parent: clipped
    val self = Spans.selfTimes(spans)
    assertEq(self(1), 100.0 - 50 - 10, "root self time")
    assertEq(self(2), 25.0, "child self time")
    assertEq(self(3), 30.0, "leaf self time")
    assertEq(self(4), 5.0, "grandchild self time")
    assertEq(Spans.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0))), 25.0, "union length")
    assertEq(Spans.roots(spans)(4), 1, "root of a grandchild")
  }

  /** An operation that throws and one whose check fails both count as
    * failed, and neither enters the latency figures, however fast. */
  def failureAccounting(): Unit = {
    val tracer = new Tracer("selftest", enabled = false, null)
    def busy(ms: Double): Unit = { val t = System.nanoTime(); while (System.nanoTime() - t < ms * 1e6) {} }
    val samples = ClosedLoop.run(0, 4, tracer, _ => (),
      i => {
        if (i == 2) throw new IllegalStateException("forced failure")
        if (i != 3) busy(5)
        OpInfo(1, 1)
      },
      i => if (i == 3) throw new IllegalStateException("forced check failure"))
    assertEq(samples.size, 4, "attempted")
    assertEq(samples.count(!_.ok), 2, "failed")
    assertEq(samples.filter(!_.ok).map(_.index), Seq(2, 3), "failed indexes")
    val ok = samples.filter(_.ok).map(_.wallMs)
    require(Stats.median(ok) >= 5, s"self-test: a failed fast operation entered the median: $ok")
  }

  /** The same seed gives byte-identical inputs; another seed, other inputs. */
  def generators(): Unit = {
    val tmp = Files.createTempDirectory("perfbench-selftest").toString
    try {
      def synthea(seed: Long, d: String): String = {
        val g = new SyntheaGen(seed, 200)
        g.backfill(s"$d/backfill")
        g.day(1, s"$d/day1")
        g.day(2, s"$d/day2")
        Util.dirSha(d)
      }
      def corpus(seed: Long, d: String): String = {
        CorpusGen.write(seed, 100, s"$d/documents.tsv")
        Util.dirSha(d)
      }
      Seq("synthea" -> synthea _, "corpus" -> corpus _).foreach { case (name, gen) =>
        val a = gen(7, s"$tmp/$name-a")
        val b = gen(7, s"$tmp/$name-b")
        val c = gen(8, s"$tmp/$name-c")
        assertEq(a, b, s"$name inputs for one seed")
        require(a != c, s"self-test: $name inputs do not depend on the seed")
      }
    } finally Util.deleteRecursively(tmp)
  }

  def run(full: Boolean): Unit = {
    spanArithmetic()
    failureAccounting()
    if (full) {
      generators()
      System.err.println("[perfbench] self-tests passed")
    }
  }
}
