package perfbench

/** The driver's own checks: interval merge, open-job counting, median,
  * the tail rule and input relabelling. Run with
  * `python3 perfbench/run.py --self-test`; exits non-zero on the first
  * failed check. */
object SelfTest {
  private var checks = 0

  private def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    if (!cond) {
      System.err.println(s"FAIL: $what")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    // interval merge
    check("disjoint intervals add")(Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15L)
    check("overlapping intervals count once")(
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (12L, 14L))) == 15L)
    check("nested interval adds nothing")(Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100L)
    check("touching intervals merge")(Stats.unionLength(Seq((10L, 20L), (0L, 10L))) == 20L)
    check("empty and inverted intervals are ignored")(
      Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0L && Stats.unionLength(Nil) == 0L)

    // attribution: busy is the merged union; open jobs are counted and clipped
    val w = WorkListener.attribute(100L, 200L,
      jobs = Seq((110L, Some(150L)), (120L, Some(160L)), (190L, None), (170L, Some(250L)),
        (90L, Some(130L)), (205L, Some(210L))),
      stageSubmits = Seq(95L, 110L, 121L, 200L, 201L),
      tasks = Seq((111L, 7L, 100L, 1L), (121L, 3L, 0L, 2L), (300L, 50L, 50L, 50L)))
    check("jobs submitted inside the span are attributed")(w.jobs == 4)
    check("a job without an end, or ending after the span, is open")(w.openJobs == 2)
    check("busy merges overlaps and clips open jobs to the span end")(
      w.busyMs == (160L - 110L) + (200L - 170L))
    check("stages and tasks are attributed by submit and launch time")(
      w.stages == 3 && w.tasks == 2 && w.taskMs == 10L && w.shuffleBytes == 100L &&
        w.resultBytes == 3L)

    // median
    check("odd median")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("even median averages the middle pair")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("median of one")(Stats.median(Seq(7.5)) == 7.5)

    // tail rule: highest percentile with at least ten samples beyond it
    val hundred = (1 to 100).map(_.toDouble)
    check("100 samples support p90 with 10 beyond")(
      Stats.tail(hundred).contains(Stats.Tail(90.0, 90.0, 10, 100)))
    val thousand = (1 to 1000).map(_.toDouble)
    check("1000 samples support p99")(Stats.tail(thousand).map(_.p).contains(99.0))
    check("19 samples support no percentile")(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    check("20 samples support only the median")(
      Stats.tail((1 to 20).map(_.toDouble)).contains(Stats.Tail(50.0, 10.0, 10, 20)))
    check("unsorted input")(Stats.tail(hundred.reverse).map(_.value).contains(90.0))

    // relabelling: a permutation per attribute, applied alike to rows and label
    val rows = Seq("a,b,c,d,real,predict", "a1,b2,c3,d1,5.0,4.0", "a6,b5,c4,d3,1.5,0.0")
    val (out, set) = Workloads.relabel(rows, "a=a1&c=c3;b=b5", new java.util.Random(3))
    val cells = out.tail.map(_.split(","))
    check("relabelling keeps the header and the measures")(
      out.head == rows.head && cells.map(_.drop(4).mkString(",")) == Seq("5.0,4.0", "1.5,0.0"))
    check("relabelling maps the label like the rows")(
      set == s"${Seq(s"a=${cells(0)(0)}", s"c=${cells(0)(2)}").sorted.mkString("&")};b=${cells(1)(1)}")
    check("relabelling is a function of the seed")(
      Workloads.relabel(rows, "b=b5", new java.util.Random(3))._1 == out)

    println(s"perfbench self-test: $checks checks passed")
  }
}
