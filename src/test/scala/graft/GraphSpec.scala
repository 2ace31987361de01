package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graph_pagerank` — the iterative-graph op (Flink-Gelly genre). */
class GraphSpec extends AnyFunSuite {
  import TestSpark._

  test("graph_pagerank: top-20 is descending, positive, and the leader " +
      "beats the uniform rank") {
    val rows = q("graph_pagerank").collect()
    assert(rows.length === 20)
    val ranks = rows.map(_.getAs[Double]("rank"))
    assert(ranks.forall(r => r > 0 && r < 1))
    ranks.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    // total mass is 1 (undirected graph, no dangling nodes), so the
    // max rank is at least the uniform 1/N
    val n = {
      val o = graft.ops.Tables.t(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = graft.ops.Tables.t(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey")).distinct().count() +
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .select(col("l_suppkey")).distinct().count()
    }
    assert(ranks.head >= 1.0 / n)
  }

  test("graph_pagerank: quantized trajectory is run-to-run deterministic") {
    val a = q("graph_pagerank").collect().map(_.toSeq)
    val b = q("graph_pagerank").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("graph_shortest_path: seed at 0, hops bounded, bipartite parity, " +
      "and every edge is 1-Lipschitz") {
    val rows = q("graph_shortest_path").collect()
    val dist = rows.map(r =>
      r.getAs[String]("node") -> r.getAs[Long]("dist")).toMap
    assert(dist("c1") === 0L)
    assert(dist.values.forall(v => v >= 0 && v <= 4))
    // bipartite: from a customer seed, customers sit at even hops,
    // suppliers at odd hops
    dist.foreach { case (n, v) =>
      if (n.startsWith("c")) assert(v % 2 === 0, s"$n at odd dist $v")
      else assert(v % 2 === 1, s"$n at even dist $v")
    }
    // BFS distances differ by at most 1 across any edge whose both
    // endpoints were reached (the defining shortest-path invariant)
    val edges = graft.ops.Graph.outEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    edges.foreach { case (a, b) =>
      (dist.get(a), dist.get(b)) match {
        case (Some(da), Some(db)) =>
          assert(math.abs(da - db) <= 1, s"edge $a($da)-$b($db)")
        case _ => // a node beyond the 4-hop bound
      }
    }
  }

  test("graph loops: every round sits behind its per-round " +
      "localCheckpoint, so the shipped plans carry no Join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Aqe extends AdaptiveSparkPlanHelper
    def joins(df: org.apache.spark.sql.DataFrame) =
      Aqe.collect(df.queryExecution.executedPlan) {
        case j: BaseJoinExec => j.nodeName
      }
    // each loop's last state table is a checkpoint, so the edge join of
    // every round is cut from the plan the query returns
    for (key <- Seq("graph_pagerank", "graph_shortest_path",
        "graph_label_propagation")) {
      val df = q(key)
      assert(joins(df).isEmpty, s"$key: ${df.queryExecution.executedPlan}")
    }
    // falsifiable: one round without its checkpoint shows the edge join
    val oe = graft.ops.Graph.tradeGraph(spark, sf)
    val labels = oe.select(col("src").as("node"), col("src").as("label"))
      .distinct()
    assert(joins(graft.ops.Graph.lpIterate(labels, oe)).nonEmpty)
  }

  test("graph_label_propagation: community sizes partition the node set " +
      "and the output is deterministic") {
    val rows = q("graph_label_propagation").collect()
    val sizes = rows.map(_.getAs[Long]("size"))
    sizes.sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ => ()
    }
    val n = graft.ops.Graph.outEdges(spark, sf)
      .select("src").distinct().count()
    // top-20 communities can't exceed the node count; with ≤20
    // communities they partition it exactly
    assert(sizes.sum <= n)
    if (rows.length < 20) assert(sizes.sum === n)
    // labels are genuine node ids
    rows.foreach { r =>
      val c = r.getAs[String]("community")
      assert(c.matches("[cs]\\d+"), c)
    }
    val again = q("graph_label_propagation").collect().map(_.toSeq)
    assert(rows.map(_.toSeq).toSeq === again.toSeq)
  }

  test("graph_connected_components: components partition the node set, " +
      "labels are component minima, and the split sums check out") {
    val rows = q("graph_connected_components").collect()
    val n = graft.ops.Graph.outEdges(spark, sf)
      .select("src").distinct().count()
    val sizes = rows.map(_.getAs[Long]("size"))
    sizes.sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ => ()
    }
    // with < 20 components listed, they partition the node set exactly
    assert(sizes.sum <= n)
    if (rows.length < 20) assert(sizes.sum === n)
    rows.foreach { r =>
      // per-component: customers + suppliers = size, label is a real
      // node id, and (bipartite, edges exist) both sides are populated
      assert(r.getAs[Long]("n_customers") + r.getAs[Long]("n_suppliers")
        === r.getAs[Long]("size"))
      val lbl = r.getAs[String]("component")
      assert(lbl.matches("[cs]\\d+"), lbl)
      assert(r.getAs[Long]("n_customers") > 0)
      assert(r.getAs[Long]("n_suppliers") > 0)
    }
    // the label is the MINIMUM node id of its component: no member of
    // any listed component sorts below its label. Re-derive labels and
    // cross-check against a direct min over the membership.
    val pairs = graft.ops.Graph.tradeGraph(spark, sf)
      .where(col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    val labs = graft.ops.LlmExtra.connectedComponents(pairs, dedupePerRound = true)
    val minByComp = labs.groupBy("label")
      .agg(min(col("doc_id")).as("mn")).collect()
    minByComp.foreach(r =>
      assert(r.getAs[String]("label") === r.getAs[String]("mn")))
    // deterministic across runs
    val again = q("graph_connected_components").collect().map(_.toSeq)
    assert(rows.map(_.toSeq).toSeq === again.toSeq)
  }
}
