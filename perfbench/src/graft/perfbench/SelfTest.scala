package graft.perfbench

/** Tests of the benchmark's own logic; run with
  * `python3 perfbench/run.py --selftest`. Exits nonzero on any failure. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def span(id: Int, parent: Int, s: Long, e: Long, name: String = "x", batch: Int = 0) =
    Span(id, name, parent, batch, s, e, s, e)

  def main(args: Array[String]): Unit = {
    test("tail: none below 20 samples") {
      eq(Stats.tail((1 to 19).map(_.toDouble)), None)
    }
    test("tail: p50 from 20 samples has exactly 10 beyond") {
      eq(Stats.tail((1 to 20).map(_.toDouble)), Some((50.0, 10.0)))
    }
    test("tail: p75 from 40, p90 from 100, p99 from 1000 samples") {
      eq(Stats.tail((1 to 40).map(_.toDouble)), Some((75.0, 30.0)))
      eq(Stats.tail((1 to 99).map(_.toDouble)).map(_._1), Some(75.0))
      eq(Stats.tail((1 to 100).map(_.toDouble)), Some((90.0, 90.0)))
      eq(Stats.tail((1 to 1000).map(_.toDouble)), Some((99.0, 990.0)))
    }
    test("tail: at least 10 samples lie beyond, whatever the order") {
      val xs = scala.util.Random.shuffle((1 to 57).map(_.toDouble))
      val (p, v) = Stats.tail(xs).get
      assert(xs.count(_ > v) >= 10)
      assert(Stats.Ladder.filter(_ > p).forall(q => 57 - Stats.rank(57, q) < 10))
    }
    test("median: odd and even counts") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    }
    test("self time: children subtract, overlapping children count once") {
      val ss = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
        span(3, 1, 15, 20), span(4, -1, 200, 210))
      val self = Spans.selfNs(ss)
      eq(self(0), 50L)  // 100 minus the union [10, 60)
      eq(self(1), 25L)  // 30 minus [15, 20)
      eq(self(2), 30L)
      eq(self(3), 5L)
      eq(self(4), 10L)
    }
    test("self time: a child running past its parent is clipped") {
      eq(Spans.selfNs(Seq(span(0, -1, 0, 10), span(1, 0, 5, 50)))(0), 5L)
    }
    test("job groups: a job counts for its span and every ancestor") {
      val ss = Seq(span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 1, 0, 10), span(3, -1, 100, 200))
      val jobs = Seq(JobRec(0, Some(Spans.groupOf(2)), Seq(0)), JobRec(1, Some(Spans.groupOf(1)), Seq(1)),
        JobRec(2, Some(Spans.groupOf(3)), Seq(2)), JobRec(3, None, Seq(3)),
        JobRec(4, Some("someone-else"), Seq(4)))
      val by = Spans.jobsBySpan(ss, jobs).map { case (k, v) => k -> v.map(_.jobId).sorted }
      eq(by, Map(0 -> Seq(0, 1), 1 -> Seq(0, 1), 2 -> Seq(0), 3 -> Seq(2)))
    }
    test("job groups: a reused stage and its tasks count once") {
      val ss = Seq(span(0, -1, 0, 100, "batch"), span(1, 0, 0, 100))
      val jobs = Seq(JobRec(0, Some(Spans.groupOf(1)), Seq(0, 1)), JobRec(1, Some(Spans.groupOf(1)), Seq(1, 2)))
      val tasks = Seq(TaskRec(0, 0, 10, 10, 0, 0), TaskRec(1, 10, 30, 20, 100, 0),
        TaskRec(2, 50, 60, 10, 0, 0))
      val w = Layers.work(ss, jobs, tasks)
      eq(w(0).jobs, 2); eq(w(0).stages, 3); eq(w(0).tasks, 3)
      eq(w(0).shuffleBytes, 100L); eq(w(0).busyMs, 40L)
    }
    test("generator: the same seed gives the same inputs") {
      eq(Gen.docs(7, 0, 300).toSeq.map(d => (d.docId, d.spans.toSeq)),
        Gen.docs(7, 0, 300).toSeq.map(d => (d.docId, d.spans.toSeq)))
      eq(Gen.points(7, 500).toSeq, Gen.points(7, 500).toSeq)
      eq(Gen.queries(7, 3, 7).toSeq, Gen.queries(7, 3, 7).toSeq)
      eq(Gen.media(7, "m").payload.toSeq, Gen.media(7, "m").payload.toSeq)
    }
    test("generator: other seeds and slices give other inputs") {
      assert(Gen.docs(7, 0, 300).map(_.spans.toSeq).toSeq != Gen.docs(8, 0, 300).map(_.spans.toSeq).toSeq)
      assert(Gen.docs(7, 0, 300).map(_.spans.toSeq).toSeq != Gen.docs(7, 1, 300).map(_.spans.toSeq).toSeq)
      assert(Gen.points(7, 500).toSeq != Gen.points(8, 500).toSeq)
      assert(Gen.queries(7, 3, 7).toSeq != Gen.queries(8, 3, 7).toSeq)
    }
    test("generator: chunks made apart make up the slice") {
      val n = 2 * Gen.ChunkDocs + 17
      val apart = (0 until 3).flatMap(c => Gen.docChunk(7, 2, c, n))
      eq(apart.map(d => (d.docId, d.spans.toSeq)), Gen.docs(7, 2, n).toSeq.map(d => (d.docId, d.spans.toSeq)))
      eq(apart.length, n)
    }
    test("generator: geo share, hotspot share, unique ids") {
      val d = Gen.docs(11, 0, 20000)
      val geo = d.count(!_.lon.isNaN).toDouble / d.length
      assert(math.abs(geo - 0.94) < 0.01, s"geo share $geo")
      val hot = d.filter(!_.lon.isNaN).count(g => Gen.Metros.exists { case (x, y) =>
        math.abs(g.lon - x) <= Gen.MetroHalfDeg && math.abs(g.lat - y) <= Gen.MetroHalfDeg
      }).toDouble / d.count(!_.lon.isNaN)
      assert(math.abs(hot - 0.8) < 0.02, s"hotspot share $hot")
      assert(d.map(_.docId).distinct.length == d.length, "doc ids repeat")
    }
    test("generator: anchor text has 9 decimals and parses to the anchor") {
      for (d <- Gen.docs(5, 0, 2000) if !d.lon.isNaN) {
        val t = d.spans.find(_.kind == "geo").get.text.split(" ")
        assert(t.take(2).forall(_.matches("-?[0-9]+[.][0-9]{9}")), t.mkString(" "))
        eq((t(0).toDouble, t(1).toDouble), (d.lon, d.lat))
      }
    }
    test("zone box test: centre in, edge neighbourhood out") {
      eq(Gen.zoneOf(Gen.Metros(2)._1, Gen.Metros(2)._2), 2)
      eq(Gen.zoneOf(Gen.Metros(2)._1 + Gen.ZoneHalfDeg + 1e-9, Gen.Metros(2)._2), -1)
      eq(Gen.zoneOf(0.0, 80.0), -1)
    }
    println(s"selftest: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
