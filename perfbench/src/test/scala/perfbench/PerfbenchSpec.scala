package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: seeded inputs, the names BENCHMARK.json
  * promises, and a tiny run of every workload passing its check.
  * Run with `python3 perfbench/run.py --self-test` (sbt test). */
class PerfbenchSpec extends AnyFunSuite {

  private val s = Size.tiny

  test("every generator is deterministic for a seed and differs across seeds") {
    def same[T](a: => T, b: => T)(eq: (T, T) => Boolean) = assert(eq(a, b))
    def graph(seed: Long) = Inputs.graph(seed, s).edges.toSeq
    def behaviors(seed: Long) = Inputs.behaviors(seed, s).toSeq
    def rows(seed: Long) = Inputs.mlRows(seed, s.mlTrainRows, 1L).toSeq
    def docs(seed: Long) = Inputs.corpus(seed, s).docs.toSeq
    same(graph(1), graph(1))(_ == _); assert(graph(1) != graph(2))
    same(behaviors(1), behaviors(1))(_ == _); assert(behaviors(1) != behaviors(2))
    same(rows(1), rows(1))(_ == _); assert(rows(1) != rows(2))
    same(docs(1), docs(1))(_ == _); assert(docs(1) != docs(2))
  }

  test("planted structure: cliques, chain, duplicates and a binding Swing cap") {
    val g = Inputs.graph(3, s)
    assert(g.cliques.forall(_.length == s.cliqueSize) && g.chain.length == s.chainLength)
    val c = Inputs.corpus(3, s)
    assert(c.planted == c.docs.map(_._1).filter(id => id % 5 >= 3).toSet)
    val perItem = Inputs.behaviors(3, s).distinct.groupBy(_._2).map(_._2.length)
    assert(perItem.exists(_ > s.swingCap), "no item exceeds the purchaser cap")
  }

  private val index = JsonMethods.parse(new String(
    Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))

  private def named(key: String): Seq[(String, String)] =
    (index \ key).children.map(m => ((m \ "name").values.toString, (m \ "unit").values.toString))

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    assert(named("end_to_end") == Metrics.endToEnd.map(m => (m.name, m.unit)))
    assert(named("per_layer") == Metrics.perLayer.map(m => (m.name, m.unit)))
    val workloads = (index \ "workloads").children.map(w => (w \ "name").values.toString)
    assert(workloads == Workload.names)
  }

  test("layers.json maps every per-layer metric, and only those") {
    val layers = JsonMethods.parse(new String(Files.readAllBytes(Paths.get("layers.json")), "UTF-8"))
    val mapped = (layers \ "layers").children.flatMap(l => (l \ "metrics").children.map(_.values.toString))
    assert(mapped.sorted == Metrics.perLayer.map(_.name).sorted)
  }

  private def tinyRun(workload: String, trace: Boolean): Main.Result = {
    val dir = Paths.get("..", ".bench_build", s"perfbench-test-$workload").toAbsolutePath
    try {
      val args = Main.Args(workload, seed = 5L, seconds = 0.1, trace = trace, cores = 2,
        workDir = dir.resolve("work"), size = Size.tiny)
      Main.run(args)._1
    } finally Stamp.deleteTree(dir)
  }

  test("graph_loops: a tiny run passes its check and prints the end-to-end metrics") {
    val r = tinyRun("graph_loops", trace = false)
    assert(r.correct && r.failed == 0 && r.attempted >= 2)
    assert(r.metrics.map(_._1.name) == named("end_to_end").map(_._1))
    assert(r.metrics.forall(_._2 > 0))
  }

  for (w <- Seq("swing_recs", "ml_pipeline", "text_curate"))
    test(s"$w: a tiny traced run passes its check and prints the per-layer metrics") {
      val r = tinyRun(w, trace = true)
      assert(r.correct && r.failed == 0 && r.attempted >= 3)
      assert(r.metrics.map(_._1.name) == named("per_layer").map(_._1))
    }
}
