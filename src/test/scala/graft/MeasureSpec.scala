package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the rules every graft main shares through [[Measure]]: the
  * environment-derived defaults, the JSON escaper, and the one timed pass
  * loop — driven by fake queries, so no Spark job runs.
  */
class MeasureSpec extends AnyFunSuite {

  test("thread count: SPARK_GRAFT_CPUS, else the machine capped at 32") {
    assert(Measure.cpus(Map.empty, nproc = 4) == 4)
    assert(Measure.cpus(Map.empty, nproc = 96) == 32)
    assert(Measure.cpus(Map("SPARK_GRAFT_CPUS" -> "8"), nproc = 96) == 8)
    assert(Measure.cpus(Map("SPARK_GRAFT_CPUS" -> "48"), nproc = 4) == 48)
  }

  test("query subset filters and sorts; unset selects everything") {
    val all = Seq("q2", "q1", "x3")
    assert(Measure.querySubset(Map.empty).isEmpty)
    assert(Measure.selected(all, Map.empty) == Seq("q1", "q2", "x3"))
    assert(Measure.selected(all, Map("SPARK_GRAFT_QUERIES" -> "x3,q1,nope")) == Seq("q1", "x3"))
  }

  test("warm dir: the sf0.001 sibling, else the measured dir") {
    val root = java.nio.file.Files.createTempDirectory("measure-warm")
    val measured = root.resolve("sf0.1").toString
    assert(Measure.warmDir(measured) == measured)
    java.nio.file.Files.createDirectory(root.resolve("sf0.001"))
    assert(Measure.warmDir(measured) == root.resolve("sf0.001").toString)
  }

  test("jstr escapes every control char into JSON that parses back verbatim") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val s = (0 until 32).map(_.toChar).mkString + "\"\\ plain é"
    val node = mapper.readTree(Measure.jstr(s))
    assert(node.isTextual && node.asText == s)
    assert(Measure.jstr("a\u0000b") == "\"a\\u0000b\"")
  }

  private val noProbes = () => (1.0, 2.0)

  test("pass loop: best time is the minimum over successful passes") {
    val naps = Map(1 -> 40L, 2 -> 2L, 3 -> 20L)
    var pass = 1
    val seen = scala.collection.mutable.ArrayBuffer[Measure.Timing]()
    val running = scala.collection.mutable.ArrayBuffer[Int]()
    val best = Measure.timePasses[String](Seq.fill(3)(Seq("q")),
      _ => Thread.sleep(naps(pass)),
      onTiming = (_, t, b) => { seen += t; running += b.get.pass },
      boundary = p => pass = p, probes = noProbes)
    assert(seen.map(_.pass) == Seq(1, 2, 3))
    assert(seen.forall(_.ok))
    assert(running == Seq(1, 2, 2), "onTiming sees the running best")
    assert(best("q") == seen.minBy(_.sec))
    assert(best("q").pass == 2)
    assert(best("q").probeMs == 1.0 && best("q").pprobeMs == 2.0)
  }

  test("pass loop: a throwing pass records no time") {
    var pass = 1
    val seen = scala.collection.mutable.ArrayBuffer[(String, Measure.Timing)]()
    val best = Measure.timePasses[String](Seq.fill(2)(Seq("flaky", "broken")),
      {
        case "flaky" if pass == 2 => throw new IllegalStateException("boom")
        case "flaky" => Thread.sleep(20)
        case _ => throw new IllegalStateException("always")
      },
      onTiming = (k, t, _) => seen += k -> t, boundary = p => pass = p, probes = noProbes)
    // the instant failure would be the fastest run; it must not count
    assert(best("flaky").pass == 1)
    assert(!best.contains("broken"))
    assert(seen.count(!_._2.ok) == 3, "every run is still reported")
    assert(seen.collect { case (_, t) if !t.ok => t.error.get.getMessage }.toSet ==
      Set("boom", "always"))
  }

  test("pass loop: the boundary hook runs between passes, not before the first") {
    val events = scala.collection.mutable.ArrayBuffer[String]()
    Measure.timePasses[String](Seq(Seq("a", "b"), Seq("a"), Seq("b")),
      k => events += k, boundary = p => events += s"|$p", probes = noProbes)
    assert(events == Seq("a", "b", "|2", "a", "|3", "b"))
  }

  test("pass loop: later passes start no run past the budget; pass 1 always completes") {
    val ran = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var pass = 1
    Measure.timePasses[String](Seq.fill(2)(Seq("a", "b")),
      k => { ran += k -> pass; Thread.sleep(5) },
      boundary = p => pass = p, budgetSec = 0.0, probes = noProbes)
    assert(ran == Seq("a" -> 1, "b" -> 1))
  }

  test("every ScaleBench hot-set name is a registered query") {
    val known = SparkEntry.queries.keySet ++ ScaleBench.extraQueries.keySet
    assert(ScaleBench.hotSet.filterNot(known).isEmpty)
    assert(ScaleBench.hotSet.distinct == ScaleBench.hotSet)
  }
}
