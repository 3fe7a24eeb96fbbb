package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.graph.LinkGraph
import graft.ops.{ConnectedComponents, Fora, LabelPropagation, PageRank, Triangles}
import graft.sources.SyntheticPages

/** The benchmark's own test of its checks, at the tiny size: every check
  * must accept the engine's real answer and reject a deliberately
  * corrupted copy of it. Returns the process exit code. */
object SelfTest {
  def run(spark: SparkSession, work: File): Int = {
    import spark.implicits._
    val pages = 2000L
    val seed = 7L
    val delta = 2e-3
    val (g, dict) = LinkGraph.fromPagesHashVids(spark,
      SyntheticPages.generate(spark, pages, seed).toDF(), numParts = 4,
      storageDir = new File(work, "selftest-graph").getPath)
    g.awaitArtifacts()
    val urls = dict.select($"url", $"vid").as[(String, Long)].collect().toMap
    val ref = Reference.expectedGraph(pages, seed, urls.get)
      .fold(e => sys.error(e), identity)
    val edges = g.edges.select($"src", $"dst").as[(Long, Long)].collect()

    val src = ref.vids.indices.find(ref.outDeg(_) > 2).get
    val res = Fora.query(g, Map(0 -> ref.vids(src)),
      Fora.Params(eps = Main.Eps, delta = delta, seed = seed))
    val est = res.scores.select($"vid", $"score").as[(Long, Double)].collect().toMap
    val pi = Reference.ppr(ref, src, Main.Alpha)
    val top = pi.indices.maxBy(pi(_))
    val ranks = PageRank.run(g, damping = Main.Damping, tol = 0.0, maxIter = Main.PageRankIters)
      .ranks.select($"vid", $"rank").as[(Long, Double)].collect()
    val prRef = Reference.pagerank(ref, Main.Damping, Main.PageRankIters)
    val comps = ConnectedComponents.run(g).components
      .select($"vid", $"component").as[(Long, Long)].collect()
    val ccRef = Reference.components(ref)
    val labels = LabelPropagation.run(g, rounds = Main.LpaRounds)
      .select($"vid", $"label").as[(Long, Long)].collect()
    val lpaRef = Reference.labelPropagation(ref, Main.LpaRounds)
    val tri = Triangles.count(g)
    val triRef = Reference.triangles(ref)
    def relabel(ls: Array[(Long, Long)]) = ls.updated(0, (ls(0)._1, ls(0)._2 + 1))

    val cases: Seq[(String, Option[String], Boolean)] = Seq(
      ("edges: engine answer", Reference.checkEdges(edges, ref), true),
      ("edges: one edge dropped", Reference.checkEdges(edges.tail, ref), false),
      ("edges: one edge redirected", Reference.checkEdges(
        edges.updated(0, (edges(0)._1, edges(0)._1)), ref), false),
      ("sum: engine answer", Reference.checkSum(est.values.sum), true),
      ("sum: mass added", Reference.checkSum(est.values.sum + 1e-6), false),
      ("eps-delta: engine answer",
        Reference.checkEpsDelta(est, ref, pi, Main.Eps, delta), true),
      ("eps-delta: top score off by 2 eps", Reference.checkEpsDelta(
        est.updated(ref.vids(top), pi(top) * (1 + 2 * Main.Eps)), ref, pi,
        Main.Eps, delta), false),
      ("eps-delta: top vertex missing", Reference.checkEpsDelta(
        est - ref.vids(top), ref, pi, Main.Eps, delta), false),
      ("pagerank: engine answer", Reference.checkClose(ranks, ref, prRef, 1e-6), true),
      ("pagerank: one rank off by 1e-5", Reference.checkClose(
        ranks.updated(0, (ranks(0)._1, ranks(0)._2 + 1e-5)), ref, prRef, 1e-6), false),
      ("pagerank: one vertex missing", Reference.checkClose(ranks.tail, ref, prRef, 1e-6), false),
      ("cc: engine answer", Reference.checkLabels(comps, ref, ccRef), true),
      ("cc: one vertex relabelled", Reference.checkLabels(relabel(comps), ref, ccRef), false),
      ("lpa: engine answer", Reference.checkLabels(labels, ref, lpaRef), true),
      ("lpa: one vertex relabelled", Reference.checkLabels(relabel(labels), ref, lpaRef), false),
      ("triangles: engine answer", Reference.checkCount(tri, triRef), true),
      ("triangles: count off by one", Reference.checkCount(tri + 1, triRef), false))
    g.unpersistAll()
    Main.deleteTree(new File(work, "selftest-graph"))

    val wrong = cases.filter { case (_, verdict, shouldPass) => verdict.isEmpty != shouldPass }
    cases.foreach { case (name, verdict, shouldPass) =>
      val ok = verdict.isEmpty == shouldPass
      println(s"${if (ok) "ok  " else "FAIL"} $name: ${verdict.getOrElse("accepted")}")
    }
    if (wrong.isEmpty) { println("SELFTEST OK"); 0 } else 1
  }
}
