package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a percentile is reported only with ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.beyond(200, 95) == 10)
    assert(Stats.supportedPercentile(xs, 95) == 190.0)
    assert(Stats.beyond(199, 95) == 9)
    intercept[IllegalArgumentException](Stats.supportedPercentile(xs.take(199), 95))
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a digest ignores row order but not row content") {
    val rng = new scala.util.Random(7)
    val hashes = Seq.fill(1000)(rng.nextLong())
    val d = Digest.of(hashes.iterator)
    assert(Digest.of(rng.shuffle(hashes).iterator) == d)
    val (a, b) = hashes.splitAt(400)
    assert(Digest.of(a.iterator) + Digest.of(b.iterator) == d)
    assert(Digest.of((hashes.tail :+ (hashes.head + 1)).iterator) != d)
    assert(Digest.of((hashes :+ 0L).iterator) != d)
    assert(Digest.parse(d.toString) == d)
  }

  test("metric names take letters, digits, '_', '.' and '-' only") {
    Seq("setup_s", "spark.exec_cpu_s.gates.warm", "SparkEntry.gate.q25.first_s", "9-lives")
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "a b", "a/b", "x" * 65, "é")
      .foreach(n => assert(!Stats.validName(n), n))
    intercept[IllegalArgumentException](Stats.Metric("bad name", 1.0, "s"))
  }

  test("a deliberately wrong output fails its check and marks the run incorrect") {
    val right = Digest.of(Iterator(1L, 2L, 3L))
    val wrong = Digest.of(Iterator(1L, 2L, 4L))
    val c = new Checks
    assert(c.expect("good", right, Digest.of(Iterator(3L, 1L, 2L))))
    assert(c.allPassed)
    assert(!c.expect("gate", Some(right), Some(wrong)))
    assert(!c.allPassed)
    assert(c.failed.map(_._1) == Seq("gate"))
    val line = Stats.resultLine(c.allPassed, 2, c.failed.size, Seq(Stats.Metric("serve_s", 1.5, "s")))
    assert(line ==
      """{"correct": false, "attempted": 2, "failed": 1, "metrics": {"serve_s": {"value": 1.5, "unit": "s"}}}""")
  }

  test("the layer list is valid and matches BENCHMARK.json") {
    val names = Layers.all.map(_._1)
    assert(names.distinct.size == names.size)
    names.foreach(n => assert(Stats.validName(n), n))
    import org.json4s._
    val spec = org.json4s.jackson.JsonMethods.parse(
      scala.io.Source.fromFile("../BENCHMARK.json").mkString)
    val listed = (spec \ "per_layer").children.map(m => (m \ "name", m \ "unit") match {
      case (JString(n), JString(u)) => n -> u
      case other => fail(s"bad per_layer entry $other")
    })
    assert(listed == Layers.all)
    val e2e = (spec \ "end_to_end").children.map(m => (m \ "name").asInstanceOf[JString].s)
    assert(e2e == Seq("setup_s", "peak_rss_mb", "load_s", "serve_s"))
    intercept[IllegalArgumentException](Layers.complete(Seq(Stats.Metric("no.such.layer", 1, "s"))))
  }
}
