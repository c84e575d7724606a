package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Every `graft.Probe` workload at a tiny size, through the entry point `main` uses:
  * the JSON line must parse and carry exactly the expected keys, in order.
  */
class ProbeSpec extends SparkTestBase {

  private val common = Seq("workload", "size", "cpus", "partitions", "policy")

  /** workload → (tiny size, its own keys between the common ones and task_metrics). */
  private val expected: Map[String, (String, Seq[String])] = Map(
    "headline" -> ("300", Seq("urls", "rows", "secs", "rows_per_sec")),
    "gate" -> ("q1_agg", Seq("sf", "gates")),
    "prefix" -> ("2000", Seq("rows", "secs", "rows_per_sec")),
    "linededup" -> ("200", Seq("docs", "lines", "secs", "lines_per_sec")),
    "decontam" -> ("300", Seq("docs", "points")),
    "lm" -> ("300", Seq("docs", "vocab", "train_secs", "score_secs", "docs_per_sec",
      "mb_per_sec", "full_vocab", "score_secs_full_vocab")),
    "pagerank" -> ("2000", Seq("edges", "hosts", "secs_1_iter", "secs_5_iters",
      "secs_per_iter", "edges_per_iter_sec")),
    "dsir" -> ("300", Seq("docs", "tokens", "secs", "tokens_per_sec", "docs_per_sec")),
    "width" -> ("1", Seq("k", "rows", "features", "window_exprs", "lower_ms", "exec_ms")))

  /** Runs `Probe.run(args)` over the gate workload's tables: a tiny lineitem for q1_agg. */
  private def probe(args: String*): String = withTempDir("graft_probe_sf") { dir =>
    import spark.implicits._
    Seq(("A", "F", 1.0, 10.0, 0.1), ("N", "O", 2.0, 20.0, 0.0), ("A", "F", 3.0, 30.0, 0.5))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")
    Probe.run(spark, args, Some(dir.toString))
  }

  test("the workload table is exactly the named workloads") {
    assert(Probe.workloads.keySet == expected.keySet)
  }

  expected.toSeq.sortBy(_._1).foreach { case (name, (size, keys)) =>
    test(s"probe $name prints one JSON line with its keys") {
      val line = probe(name, size)
      assert(!line.contains("\n"))
      val node = new ObjectMapper().readTree(line)
      assert(node.fieldNames().asScala.toSeq == common ++ keys :+ "task_metrics")
      assert(node.get("workload").asText == name && node.get("size").asText == size)
      assert(node.get("task_metrics").get("tasks").asLong > 0)
    }
  }

  test("probe gate reports every named gate with its row count") {
    val node = new ObjectMapper().readTree(probe("gate", "q1_agg"))
    val gates = node.get("gates").elements().asScala.toSeq
    assert(gates.map(g => (g.get("gate").asText, g.get("rows").asLong)) == Seq(("q1_agg", 2L)))
  }

  test("probe decontam times the one n-gram path at each benchmark size") {
    val node = new ObjectMapper().readTree(probe("decontam", "300"))
    val points = node.get("points").elements().asScala.toSeq
    assert(points.map(_.get("modulus").asLong) == Seq(300L, 30L, 3L))
    points.foreach(p => assert(p.fieldNames().asScala.toSeq ==
      Seq("modulus", "grams", "secs", "flagged")))
  }
}
