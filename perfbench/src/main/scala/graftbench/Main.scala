package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.GraftSession
import graft.graph.{LinkGraph, VertexUrl}
import graft.ops.{ConnectedComponents, Fora, ForwardPush, LabelPropagation, PageRank, Triangles}
import graft.sources.SyntheticPages

/** The benchmark process: one workload, one seed, one measured window.
  *
  * Set-up builds the graph `builds` times from the same generated pages
  * (ingest, then the query-side index) and keeps the last one. The
  * measured window runs FORA queries in a closed loop on one client
  * thread. Checks run after the window. A traced run then also times one
  * pass of the whole-graph operators (PageRank, connected components,
  * label propagation, triangles) on the same graph, each checked against
  * a reference. The result is one JSON object written to `--out`; the
  * runner script turns it into the benchmark's output line and run
  * record.
  *
  * Usage: Main --workload ppr_stream|ppr_join --seed N --seconds S
  *             --trace 0|1 --size bench|tiny --work DIR --out FILE
  *        Main --selftest --work DIR   (check-rejection test, tiny size) */
object Main {

  /** One benchmark workload: sources per FORA call, the push/walk plan and
    * the ingest (dense-dictionary `fromPages` or hash-vid). */
  final case class Workload(name: String, batch: Int, joinPlan: Boolean, hashVids: Boolean)
  val Workloads: Map[String, Workload] = Seq(
    Workload("ppr_stream", batch = 1, joinPlan = false, hashVids = false),
    Workload("ppr_join", batch = 8, joinPlan = true, hashVids = true)).map(w => w.name -> w).toMap

  /** Input size and query parameters. δ is absolute; p_f stays FORA's
    * default 1/n. `warmup` untimed calls precede the window;
    * `checked` is the number of timed calls whose sources get the ε-δ
    * reference check. */
  final case class Size(pages: Long, builds: Int, alpha: Double, delta: Double,
                        warmup: Int, checked: Int)
  def sizeOf(w: Workload, size: String): Size = (w.name, size) match {
    case ("ppr_stream", "bench") => Size(20000L, 3, Alpha, 2e-4, 3, 3)
    // α = 0.5 on the join plan: a join walk batch lasts as many hop epochs
    // as its longest walk, and at α = 0.2 that longest walk made a batch
    // 6-10 s with ±20 % spread, too few and too noisy for a window
    case ("ppr_join", "bench") => Size(8000L, 3, 0.5, 4e-3, 1, 1)
    case (_, "tiny") => Size(2000L, 2, Alpha, 2e-3, 1, 1)
    case other => sys.error(s"unknown size $other")
  }

  /** FORA's default stop probability. */
  val Alpha = 0.2
  val Eps = 0.5
  /** Generator seed of the crawl. As in FORA's evaluation, the graph is a
    * fixed dataset and the run's seed draws the query set (and the walk
    * randomness): seed-to-seed spread then measures the query mix, not
    * the crawl the generator happened to produce. */
  val GraphSeed = 42L
  /** Fixed PageRank iteration count and damping of the traced operator pass. */
  val PageRankIters = 20
  val Damping = 0.85
  val LpaRounds = 10

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val flags = args.toSet
    val work = new File(opts.getOrElse("--work", sys.error("--work DIR required")))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("graftbench"), cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceJvmStart()
    val code =
      try {
        if (flags("--selftest")) SelfTest.run(spark, work)
        else {
          val w = Workloads.getOrElse(opts("--workload"),
            sys.error(s"unknown workload ${opts("--workload")}"))
          val r = new Run(spark, w, sizeOf(w, opts.getOrElse("--size", "bench")),
            opts("--seed").toLong, opts("--seconds").toDouble,
            opts.getOrElse("--trace", "0") == "1", work, cores).execute() +
            ("session_s" -> sessionS)
          mapper.writeValue(new File(opts("--out")), r)
          0
        }
      } finally spark.stop()
    sys.exit(code)
  }

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap in use after a full collection: the live set, in MB. The first
    * collection lets Spark's ContextCleaner drop the blocks of RDDs,
    * shuffles and broadcasts nothing references any more; the second
    * frees them. After a single collection the sample would depend on
    * whether another had run shortly before. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** One FORA call of the measured window and what came back: the engine's
  * counters (`res`, with its scores table dropped), each source's score
  * sum, and the full scores only of calls kept for the ε-δ check, so the
  * benchmark's own heap use does not grow with the window's call count. */
final case class OpRec(idx: Int, sources: Map[Int, Long], traced: Boolean,
                       span: Span, queryS: Double, actionS: Double,
                       res: Fora.QueryResult, sums: Map[Int, Double],
                       scores: Map[Int, Map[Long, Double]]) {
  def latency: Double = span.seconds
}

final class Run(spark: SparkSession, w: Main.Workload, size: Main.Size,
                seed: Long, seconds: Double, trace: Boolean, work: File,
                cores: Int) {
  import Main._
  import spark.implicits._

  private val tracer = new Tracer(spark.sparkContext)
  private val listener = if (trace) Some(new SparkTrace) else None
  private val failures = ArrayBuffer.empty[String]
  private val failedCalls = scala.collection.mutable.Set.empty[Int]

  def execute(): Map[String, Any] = {
    listener.foreach(spark.sparkContext.addSparkListener)
    tracer.jobGroups = trace
    // the join plans are reached only through the public gate SparkEntry's
    // *_join queries use
    if (w.joinPlan) ForwardPush.fastPathMaxEdges = 0L

    val pages = tracer.span("setup.pages") {
      val p = SyntheticPages.generate(spark, size.pages, GraphSeed, parts = cores * 2)
        .toDF().persist()
      p.count()
      p
    }
    val builds = (0 until size.builds).map(k => build(pages, k))
    // earlier builds only lose their storage directories: their cached
    // tables are small, never read again, and unpersisting them costs
    // seconds of blocking cleanup per build
    builds.init.foreach(b => deleteTree(b.dir))
    val b = builds.last
    val g = b.graph

    // reference graph from the generator, through the engine's dictionary
    val ref = tracer.span("check.reference_graph") {
      val dict = b.dict.select($"url", $"vid").as[(String, Long)].collect().toMap
      Reference.expectedGraph(size.pages, GraphSeed, dict.get)
    } match {
      case Right(rg) => rg
      case Left(e) => sys.error(s"reference graph: $e")
    }
    tracer.span("check.edges") {
      val got = g.edges.select($"src", $"dst").as[(Long, Long)].collect()
      Reference.checkEdges(got, ref).foreach(e => failures += s"graph: $e")
    }

    // query sources: uniform over vertices with out-links, from the seed
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    val withLinks = ref.vids.indices.filter(ref.outDeg(_) > 0).map(ref.vids(_))
    def nextSources(): Map[Int, Long] =
      (0 until w.batch).map(q => q -> withLinks(rnd.nextInt(withLinks.size))).toMap
    val params = Fora.Params(alpha = size.alpha, eps = Eps, delta = size.delta, seed = seed)

    // untimed calls of the window's batch size first: code generation
    // and JIT compilation of the query path are not a query's latency
    tracer.span("setup.warmup") {
      (0 until size.warmup).foreach { i =>
        op(g, nextSources(), params, -1 - i, traced = false, keep = false)
      }
    }
    val heapSetupMb = tracer.span("heap.setup") { liveHeapMb() }
    val firstCallS = sinceJvmStart()

    val ops = ArrayBuffer.empty[OpRec]
    var attempted = 0
    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    // a traced run needs one traced and one plain call for its overhead
    while (System.nanoTime() < deadline || (trace && attempted < 2)) {
      val srcs = nextSources()
      attempted += 1
      // traced runs alternate span-attributed and plain calls, so the
      // attribution cost is measured inside the same run
      try ops += op(g, srcs, params, ops.size, traced = trace && attempted % 2 == 1,
        keep = ops.size < size.checked)
      catch { case e: Throwable => failures += s"call $attempted threw: ${e.getMessage}" }
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    tracer.jobGroups = trace
    val heapWindowMb = tracer.span("heap.window") { liveHeapMb() }

    // checks, after the window
    def fail(o: OpRec, q: Int, e: String): Unit = {
      failures += s"call ${o.idx} q$q: $e"
      failedCalls += o.idx
    }
    tracer.span("check.answers") {
      ops.foreach { o =>
        o.sources.keys.foreach { q =>
          Reference.checkSum(o.sums.getOrElse(q, 0.0)).foreach(fail(o, q, _))
        }
      }
      ops.take(size.checked).foreach { o =>
        o.sources.toSeq.sortBy(_._1).take(if (w.batch == 1) 1 else 2).foreach {
          case (q, src) =>
            val pi = Reference.ppr(ref, ref.indexOf(src), size.alpha)
            Reference.checkEpsDelta(o.scores.getOrElse(q, Map.empty), ref, pi, Eps,
              size.delta).foreach(e => fail(o, q, s"eps-delta: $e"))
        }
      }
    }
    val graphFailed = failures.exists(_.startsWith("graph:"))
    var failedOps = if (graphFailed) attempted else (attempted - ops.size) + failedCalls.size

    // traced runs: one pass of the whole-graph operators, after the window
    val batch = if (!trace) Map.empty[String, Double] else {
      val (m, bad) = analytics(g, ref)
      attempted += AnalyticsOps
      failedOps += (if (graphFailed) AnalyticsOps else bad)
      m
    }

    listener.foreach(_.drain())
    // the graph's artifacts were awaited in set-up; the process exits
    // next, so only the storage directory needs removing
    tracer.span("teardown") { deleteTree(b.dir) }

    Map(
      "n" -> g.numVertices, "m" -> g.numEdges,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "correct" -> (failures.isEmpty && ops.nonEmpty),
      "failures" -> failures.take(20).toSeq,
      "sources" -> ops.take(4).flatMap(_.sources.toSeq.sortBy(_._1).map(_._2)).toSeq,
      "metrics" -> (metrics(builds, ops.toSeq, loopS, firstCallS, g) ++ batch ++ Map(
        "peak_heap_mb" -> math.max(heapSetupMb, heapWindowMb),
        "jvm.heap_setup_mb" -> heapSetupMb, "jvm.heap_window_mb" -> heapWindowMb)),
      "latencies" -> ops.flatMap(o => Seq.fill(o.sources.size)(o.latency)).toSeq,
      "spans" -> callSelfTimes(ops.filter(_.traced).toSeq),
      "setup_spans" -> tracer.selfByName(builds.map(_.span)),
      "builds_s" -> builds.map(_.span.seconds),
      "top_spans" -> tracer.spans.filter(_.parent < 0).groupBy(_.name)
        .map { case (k, ss) => k -> ss.map(_.seconds).sum })
  }

  /** Self time per span name, per traced call (so runs with different
    * call counts compare). The engine's own push and walk timings split
    * `ops.fora.query` further: they are consecutive phases inside it. */
  private def callSelfTimes(traced: Seq[OpRec]): Map[String, Double] = {
    val k = math.max(traced.size, 1).toDouble
    val push = traced.map(_.res.tPushSec).sum
    val walk = traced.map(_.res.tWalkSec).sum
    val self = tracer.selfByName(traced.map(_.span))
    (self ++ Map(
      "ops.fora.query" -> (self.getOrElse("ops.fora.query", 0.0) - push - walk),
      "ops.push" -> push, "ops.walk" -> walk)).map { case (n, v) => n -> v / k }
  }

  final case class Build(graph: LinkGraph, dict: Dataset[VertexUrl],
                         dir: File, span: Span, phases: Map[String, Double],
                         ingestS: Double, indexS: Double, artifactsS: Double)

  private def build(pages: DataFrame, k: Int): Build = {
    val dir = new File(work, s"graph-$k")
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var ingest = 0.0; var index = 0.0; var artifacts = 0.0
    var gd: (LinkGraph, Dataset[VertexUrl]) = null
    val (_, root) = tracer.timed("setup.build") {
      val t0 = System.nanoTime()
      gd = tracer.span("graph.ingest") {
        if (w.hashVids)
          LinkGraph.fromPagesHashVids(spark, pages, numParts = cores * 2,
            storageDir = dir.getPath, onPhase = (p, sec) => phases(p) = sec)
        else LinkGraph.fromPages(spark, pages, numParts = cores * 2, storageDir = dir.getPath)
      }
      val t1 = System.nanoTime()
      tracer.span("graph.index") {
        gd._1.numVertices
        if (w.joinPlan) { gd._1.csrZip; gd._1.adj } else gd._1.flatCsr
      }
      val t2 = System.nanoTime()
      tracer.span("graph.artifacts_wait") { gd._1.awaitArtifacts() }
      val t3 = System.nanoTime()
      ingest = (t1 - t0) / 1e9; index = (t2 - t1) / 1e9; artifacts = (t3 - t2) / 1e9
    }
    Build(gd._1, gd._2, dir, root, phases.toMap, ingest, index, artifacts)
  }

  /** One FORA call: the query, then collecting its scores to the driver.
    * `keep` keeps the full scores for the ε-δ check. */
  private def op(g: LinkGraph, srcs: Map[Int, Long], p: Fora.Params, idx: Int,
                 traced: Boolean, keep: Boolean): OpRec = {
    tracer.jobGroups = traced
    var res: Fora.QueryResult = null
    var rows: Array[(Int, Long, Double)] = null
    var q = 0.0; var a = 0.0
    val (_, span) = tracer.timed("op") {
      val t0 = System.nanoTime()
      res = tracer.span("ops.fora.query") { Fora.query(g, srcs, p.copy(seed = p.seed + idx)) }
      val t1 = System.nanoTime()
      rows = tracer.span("ops.fora.action") {
        res.scores.select($"qid", $"vid", $"score").as[(Int, Long, Double)].collect()
      }
      q = (t1 - t0) / 1e9; a = (System.nanoTime() - t1) / 1e9
    }
    val sums = scala.collection.mutable.HashMap.empty[Int, Double]
    rows.foreach { case (qid, _, sc) => sums(qid) = sums.getOrElse(qid, 0.0) + sc }
    val scores = if (!keep) Map.empty[Int, Map[Long, Double]]
      else rows.groupBy(_._1).map { case (qid, rs) => qid -> rs.map(r => r._2 -> r._3).toMap }
    OpRec(idx, srcs, traced, span, q, a, res.copy(scores = null), sums.toMap, scores)
  }

  /** Operators in the traced pass: PageRank, CC, LPA, triangles. */
  private val AnalyticsOps = 4

  /** One pass of PageRank (fixed iterations), connected components, label
    * propagation and the triangle count, each a span that includes
    * collecting its answer, each checked against the reference. Returns
    * the layer metrics and the number of operators that failed. */
  private def analytics(g: LinkGraph, ref: Reference.Graph): (Map[String, Double], Int) = {
    var bad = 0
    def check(name: String)(verdict: => Option[String]): Unit =
      verdict.foreach { e => failures += s"$name: $e"; bad += 1 }
    def attempt[A](name: String)(f: => A): Option[(A, Double)] =
      try { val (a, s) = tracer.timed(s"ops.$name")(f); Some((a, s.seconds)) }
      catch { case e: Throwable => failures += s"$name threw: ${e.getMessage}"; bad += 1; None }

    val pr = attempt("pagerank") {
      val r = PageRank.run(g, damping = Damping, tol = 0.0, maxIter = PageRankIters)
      (r.iterations, r.ranks.select($"vid", $"rank").as[(Long, Double)].collect())
    }
    val cc = attempt("cc") {
      val r = ConnectedComponents.run(g)
      (r.rounds, r.components.select($"vid", $"component").as[(Long, Long)].collect())
    }
    val lpa = attempt("lpa") {
      LabelPropagation.run(g, rounds = LpaRounds).select($"vid", $"label").as[(Long, Long)].collect()
    }
    val tri = attempt("triangles") { Triangles.count(g) }

    tracer.span("check.analytics") {
      pr.foreach { case ((_, ranks), _) =>
        check("pagerank")(Reference.checkClose(ranks, ref,
          Reference.pagerank(ref, Damping, PageRankIters), 1e-6))
      }
      cc.foreach { case ((_, labels), _) =>
        check("cc")(Reference.checkLabels(labels, ref, Reference.components(ref)))
      }
      lpa.foreach { case (labels, _) =>
        check("lpa")(Reference.checkLabels(labels, ref, Reference.labelPropagation(ref, LpaRounds)))
      }
      tri.foreach { case (count, _) =>
        check("triangles")(Reference.checkCount(count, Reference.triangles(ref)))
      }
    }
    val m = g.numEdges.toDouble
    (Map(
      "ops.pagerank_s" -> pr.map(_._2).getOrElse(Double.NaN),
      "ops.pagerank.iterations" -> pr.map(_._1._1.toDouble).getOrElse(Double.NaN),
      "ops.pagerank.edges_per_s" -> pr.map(p => m * p._1._1 / p._2).getOrElse(Double.NaN),
      "ops.cc_s" -> cc.map(_._2).getOrElse(Double.NaN),
      "ops.cc.rounds" -> cc.map(_._1._1.toDouble).getOrElse(Double.NaN),
      "ops.lpa_s" -> lpa.map(_._2).getOrElse(Double.NaN),
      "ops.triangles_s" -> tri.map(_._2).getOrElse(Double.NaN)), bad)
  }

  private def metrics(builds: Seq[Build], ops: Seq[OpRec], loopS: Double,
                      firstCallS: Double, g: LinkGraph): Map[String, Double] = {
    val srcLat = ops.flatMap(o => Seq.fill(o.sources.size)(o.latency))
    val n = g.numVertices; val m = g.numEdges
    def med(f: OpRec => Double) = median(ops.map(f))
    def bmed(f: Build => Double) = median(builds.map(f))
    val pushS = med(_.res.tPushSec)
    val walkS = med(_.res.tWalkSec)
    val out = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> bmed(b => b.span.seconds),
      "sspr_latency_p50_s" -> median(srcLat),
      "sspr_qps" -> srcLat.size / loopS,
      "setup.first_call_s" -> firstCallS,
      "graph.ingest_s" -> bmed(_.ingestS),
      "graph.index_s" -> bmed(_.indexS),
      // computed from n and m, not measured: the CSR arrays' bytes
      "graph.index_mb" -> (8.0 * n + 4.0 * (n + 1) + 8.0 * m) / 1e6,
      "graph.artifacts_wait_s" -> bmed(_.artifactsS),
      "graph.n" -> n.toDouble, "graph.m" -> m.toDouble,
      "ops.fora.query_s" -> med(_.queryS),
      "ops.fora.action_s" -> med(_.actionS),
      "ops.fora.merge_s" -> med(o => o.queryS + o.actionS - o.res.tPushSec - o.res.tWalkSec),
      "ops.push_s" -> pushS,
      "ops.push.pushes" -> med(_.res.pushes.toDouble),
      "ops.push.supersteps" -> med(_.res.pushSupersteps.toDouble),
      "ops.push.epochs" -> med(_.res.pushEpochSecs.size.toDouble),
      "ops.push.tail_s" -> med(_.res.pushTailSec),
      "ops.push.pushes_per_s" -> ops.map(_.res.pushes.toDouble).sum / ops.map(_.res.tPushSec).sum,
      "ops.walk_s" -> walkS,
      "ops.walk.walks" -> med(_.res.walks.toDouble),
      "ops.walk.steps" -> med(_.res.walkSteps.toDouble),
      "ops.walk.steps_per_s" -> ops.map(_.res.walkSteps.toDouble).sum / ops.map(_.res.tWalkSec).sum,
      "ops.fora.ops_per_s" -> ops.map(o => (o.res.pushes + o.res.walkSteps).toDouble).sum /
        ops.map(o => o.res.tPushSec + o.res.tWalkSec).sum)
    // the hash-vid ingest's phase split; `fromPages` reports no phases
    Seq("links", "audit", "csr", "edges", "dict").foreach { p =>
      out(s"graph.ingest.${p}_s") = bmed(_.phases.getOrElse(p, 0.0))
    }
    listener.foreach { l =>
      val traced = ops.filter(_.traced)
      val plain = ops.filterNot(_.traced)
      val spansOf = traced.flatMap(o => tracer.subtree(o.span))
      val t = l.totals(spansOf)
      val k = math.max(traced.size, 1).toDouble
      val wall = traced.map(_.latency).sum
      val gap = traced.map { o =>
        SparkTrace.uncoveredMs(o.span.w0, o.span.w1,
          l.totals(tracer.subtree(o.span)).jobIntervals.toSeq)
      }.sum / 1e3
      out ++= Seq(
        "spark.jobs" -> t.jobs / k, "spark.stages" -> t.stages / k,
        "spark.tasks" -> t.tasks / k, "spark.task_s" -> t.taskMs / 1e3 / k,
        "spark.gc_s" -> t.gcMs / 1e3 / k, "spark.deser_s" -> t.deserMs / 1e3 / k,
        "spark.shuffle_write_mb" -> t.shuffleWriteBytes / 1e6 / k,
        "spark.shuffle_write_s" -> t.shuffleWriteNs / 1e9 / k,
        "spark.shuffle_read_mb" -> t.shuffleReadBytes / 1e6 / k,
        "spark.fetch_wait_s" -> t.fetchWaitMs / 1e3 / k,
        "spark.spill_mb" -> t.spillBytes / 1e6 / k,
        "spark.driver_gap_s" -> gap / k,
        "spark.busy_ratio" -> t.taskMs / 1e3 / (wall * cores),
        "trace.overhead_frac" -> (median(traced.map(_.latency)) /
          median(plain.map(_.latency)) - 1.0),
        // the window's wall time inside the named query and action spans;
        // the rest is the loop's own work (drawing sources, summing scores)
        "trace.coverage" -> ops.map(o => o.queryS + o.actionS).sum / loopS)
    }
    out.toMap
  }
}
