package graft

/** The dev probe's argument contract and its three modes, driven through the
  * mode functions on the shared session (`Probe.main` stops its own).
  */
class ProbeSpec extends SparkSpec {

  private def out(f: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(f)
    buf.toString("UTF-8")
  }

  private def usageError(args: String*): String = {
    val e = intercept[Probe.UsageError](Probe.parse(args))
    assert(e.getMessage.endsWith(Probe.Usage), e.getMessage)
    e.getMessage
  }

  test("bad input is refused with a usage line, not a stack trace") {
    assert(usageError().startsWith("no mode given"))
    assert(usageError("bogus", "q1_pricing_summary").startsWith("unknown mode: bogus"))
    assert(usageError("time").startsWith("time needs at least one query"))
    assert(usageError("phases", "3").startsWith("phases needs at least one query"))
    val none = usageError("time", "no_such_query_xyz")
    assert(none.startsWith("no declared query matches: no_such_query_xyz"))
    assert(none.contains("\n  q1_pricing_summary\n"), "the valid names are listed")
    for (r <- Seq("0", "-2", "1.5", "99999999999"))
      assert(usageError("time", "q1_pricing_summary", r)
        .startsWith(s"reps must be a positive integer, got: $r"))
    assert(usageError("plan", "q1_pricing_summary", "2").startsWith("plan takes no reps"))
    assert(Probe.parse(Seq("time", "q1_pricing_summary", "3")) ===
      Probe.Args("time", Seq("q1_pricing_summary"), 3))
    assert(Probe.parse(Seq("phases", "stream_hourly_counts")).reps === 2)
  }

  test("an exact name selects only itself; any other argument is a substring") {
    assert(Probe.select(Seq("blocking_quality_audit")) === Seq("blocking_quality_audit"))
    assert(Probe.select(Seq("blocking_quality_aud")) ===
      Seq("blocking_quality_audit", "blocking_quality_audit_sampled"))
    assert(Probe.select(Seq("q1_pricing_summary", "q1_pricing")) ===
      Seq("q1_pricing_summary"), "overlapping selections are listed once")
  }

  test("phases prints one line per trigger from the query's own progress buffer") {
    val text = out(Probe.phases(spark, sf0001, Seq("stream_hourly_counts"), 1))
    val lines = text.linesIterator.toSeq
    val header = "triggers=(\\d+)".r.findFirstMatchIn(lines.head)
      .getOrElse(fail(s"no header: $text"))
    val batches = lines.tail.map(l => "batch=(\\d+)".r.findFirstMatchIn(l)
      .getOrElse(fail(s"not a trigger line: $l")).group(1).toLong)
    assert(batches.nonEmpty && batches.size === header.group(1).toInt, text)
    assert(batches === batches.indices.map(_.toLong), "batch ids run 0, 1, … per query")
  }

  test("plan writes the formatted final plan and prints its reuse stats") {
    val dir = java.nio.file.Files.createTempDirectory("probe_plan")
    val text = out(Probe.plan(spark, sf0001, Seq("q1_pricing_summary"),
      dir.toString, "_spec"))
    val file = dir.resolve("q1_pricing_summary_spec.txt")
    val plan = try java.nio.file.Files.readString(file)
      finally { java.nio.file.Files.deleteIfExists(file); java.nio.file.Files.delete(dir) }
    assert(plan.nonEmpty && plan.contains("isFinalPlan=true"), plan)
    assert(("\\[reuse\\] q1_pricing_summary stages=\\d+ dupStageRefs=\\d+ " +
      "reusedExchange=\\d+ parquetScans=[1-9]\\d* plan=").r.findFirstIn(text).isDefined, text)
  }

  test("time prints wall seconds and the job count of each rep") {
    val text = out(Probe.time(spark, sf0001, Seq("q1_pricing_summary"), 2))
    val reps = ("\\[time\\] r(\\d) q1_pricing_summary +[0-9.]+ s  jobs=(\\d+)  " +
      "compiles=(\\d+)").r.findAllMatchIn(text)
      .map(m => (m.group(1), m.group(2).toInt, m.group(3).toLong)).toSeq
    assert(reps.map(_._1) === Seq("1", "2"), text)
    assert(reps.forall(_._2 > 0), text)
    assert(reps(1)._3 === 0L, s"a warm rep reuses its generated classes: $text")
  }
}
