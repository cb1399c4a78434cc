package e2ebench

/** Self-tests of the benchmark's statistics helpers and wire encoding:
  *
  *   python3 e2ebench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val hundred = (1 to 100).map(_.toDouble)

    check("p90 of 100 samples is the 90th, with ten beyond it") {
      Stats.percentile(hundred, 0.9).contains(90.0)
    }
    check("p90 of 99 samples is unsupported: only nine beyond it") {
      Stats.percentile(hundred.take(99), 0.9).isEmpty
    }
    check("support thresholds: p50 needs 20 samples, p75 40, p90 100") {
      Stats.minSamples(0.5) == 20 && Stats.minSamples(0.75) == 40 && Stats.minSamples(0.9) == 100
    }
    check("p50 of 20 samples is supported, of 19 is not") {
      Stats.percentile(hundred.take(20), 0.5).contains(10.0) &&
        Stats.percentile(hundred.take(19), 0.5).isEmpty
    }

    check("self time counts overlapping children once") {
      val ss = Seq(
        Stats.Span(1, 0, "parent", 0, 100, 7),
        Stats.Span(2, 1, "a", 10, 40, 7),
        Stats.Span(3, 1, "b", 30, 60, 7),  // overlaps a
        Stats.Span(4, 1, "c", 90, 120, 7), // runs past the parent's end
        Stats.Span(5, 2, "grandchild", 15, 20, 7))
      val self = Stats.selfTimes(ss)
      self(1) == 40 && self(2) == 25 && self(3) == 30 && self(4) == 30 && self(5) == 5
    }
    check("self time of a span without children is its duration") {
      Stats.selfTimes(Seq(Stats.Span(1, 0, "x", 5, 17, 1)))(1) == 12
    }

    check("balanced mean weighs every cell alike, however many samples it has") {
      // cell 0 ran three times, cell 1 once: 0.5 * 2 + 0.5 * 10
      Stats.balancedMean(Seq(0 -> 1.0, 0 -> 2.0, 0 -> 3.0, 1 -> 10.0), 2).contains(6.0)
    }
    check("balanced mean is unsupported when a cell never ran") {
      Stats.balancedMean(Seq(0 -> 1.0, 2 -> 2.0), 3).isEmpty
    }

    check("route-time quantile interpolates inside the histogram bucket") {
      // 10 requests in bucket 2 (256-512 µs): the median is its midpoint
      val counts = Seq(0L, 0L, 10L) ++ Seq.fill(23)(0L)
      Layers.bucketQuantileUs(counts, 0.5) == 384.0
    }

    check("snappy literal framing decodes with the engine's decoder") {
      val raw = Array.tabulate[Byte](200000)(i => (i * 31 % 251).toByte)
      java.util.Arrays.equals(graft.sources.Snappy.decode(Pb.snappy(raw)), raw) &&
        graft.sources.Snappy.decode(Pb.snappy(Array[Byte](1, 2, 3))).toSeq == Seq[Byte](1, 2, 3)
    }
    check("corpus payloads are the same for the same seed") {
      val a = new Corpus(42).payloads(0, 60, 30); val b = new Corpus(42).payloads(0, 60, 30)
      a.size == b.size && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.body, y.body) }
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
