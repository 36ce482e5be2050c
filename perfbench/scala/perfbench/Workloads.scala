package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.algos.PageRank
import graft.graph.{GraphGen, PreparedGraph}
import graft.pages.PageGen
import graft.runtime.{CheckpointConfig, Checkpoints, IterationHygiene, Trace}
import graft.textops.{Dedup, TextStats}
import graft.vec.{IVF, Similarity}

/** What one iteration produced. Everything but the timed window is
  * measured after the window closes.
  *
  * @param startMs,endMs epoch ms bounds of the timed region (job intervals
  *                      are clipped to them when attributing time)
  * @param wallS      wall time of the timed region
  * @param supersteps supersteps the workload's graph operator ran
  * @param edges      |E| of the graph those supersteps ran over
  * @param stepWallS  per-superstep wall times (superstep log, else Trace)
  * @param activeRatio mean active vertices / |V| over the supersteps
  * @param digest     order-independent digest of every output
  * @param problems   failed output checks (empty = correct)
  * @param extra      per-operator timings inside the timed region */
final case class Outcome(startMs: Long, endMs: Long, wallS: Double, supersteps: Int,
    edges: Long, stepWallS: Seq[Double], activeRatio: Double, digest: String,
    problems: Seq[String], extra: Seq[(String, Double)])

/** One benchmark workload: inputs made from a seed in `setup`, one closed-
  * loop iteration per `iterate` call. */
trait Workload {
  /** Generate and materialize the inputs. Called several times per run;
    * each call replaces the previous call's inputs. */
  def setup(): Unit
  /** Untimed reference results the output checks compare against. */
  def prepareChecks(): Unit = ()
  /** Unchecked, untimed iterations after the checked warm-up, for a
    * workload whose iteration time still falls steeply after it. */
  def plainWarmups: Int = 0
  /** One iteration in the fresh directory `dir`: the timed region, then
    * the output digest and (with `check`) the output checks, then release
    * of every result it cached. An unchecked iteration whose digest equals
    * a checked one's produced the same outputs. A checked iteration also
    * keeps the graph [[prepTime]] builds. */
  def iterate(dir: String, check: Boolean): Outcome
  /** Median time of seven `PreparedGraph` builds over the graph the
    * workload's graph operator ran on, after the timed iterations. */
  def prepTime(): Double
  def teardown(): Unit
}

object Workloads {

  val names: Seq[String] = Seq("pagerank_static", "pagerank_converge",
    "crawl_pipeline", "doc_dedup")

  /** Workload `name`, its inputs made from `seed` under `inputs`. */
  def of(name: String, spark: SparkSession, seed: Long, inputs: String): Workload =
    name match {
      case "pagerank_static" => new PageRankStatic(spark, seed, 20000)
      case "pagerank_converge" => new PageRankConverge(spark, seed, 10000)
      case "crawl_pipeline" => new CrawlPipeline(spark, seed, inputs, 2000)
      case "doc_dedup" => new DocDedup(spark, seed, inputs, 1000, 400)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Time `f`: (result, seconds, start epoch ms, end epoch ms). */
  def timed[T](f: => T): (T, Double, Long, Long) = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0), ms0, System.currentTimeMillis())
  }

  /** Order-independent digest: row count and the XOR of every row's
    * xxhash64 over the exact column values. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)),
      lit(0L))).first()
    f"${r.getLong(0)}:${r.getLong(1)}%016x"
  }

  /** Median time of seven `PreparedGraph` builds over `edges`, each
    * released before the next. */
  def prepTime(edges: DataFrame): Double = {
    val times = Seq.fill(7) {
      val (g, s, _, _) = timed(PreparedGraph(edges))
      g.unpersist()
      s
    }
    times.sorted.apply(3)
  }

  /** Per-superstep (wall s, active count) from a superstep log: every
    * partition row of one superstep repeats both, so take one per step. */
  def stepsFromLog(spark: SparkSession, ck: CheckpointConfig, algo: String): Seq[(Double, Long)] =
    Checkpoints.readLog(spark, ck, algo)
      .groupBy("superstep").agg(max("wall_ms"), max("active_count"))
      .orderBy("superstep").collect().toSeq
      .map(r => (r.getLong(1) / 1000.0, r.getLong(2)))

  /** Superstep wall times graft.runtime.Trace collected for labels with
    * `prefix` (the harness drains it before every iteration). */
  def stepsFromTrace(records: Seq[(String, Double)], prefix: String): Seq[Double] =
    records.collect { case (l, s) if l.startsWith(prefix) => s }

  /** Mean active vertices / |V| over logged supersteps. */
  def activeRatio(steps: Seq[(Double, Long)], numVertices: Long): Double =
    steps.map(_._2.toDouble / math.max(1L, numVertices)).sum / math.max(1, steps.size)

  /** The messages of the checks that failed. */
  def failures(checks: (Boolean, String)*): Seq[String] =
    checks.collect { case (true, message) => message }

  /** Σrank = |V| within a relative 1e-9 (plus rounding slack). */
  def rankSumWrong(sum: Double, numVertices: Long): (Boolean, String) =
    (numVertices <= 0 || math.abs(sum - numVertices) > 1e-9 * numVertices + 1e-6,
      f"rank sum $sum%.9f != |V| = $numVertices")

  /** Edges (`src`, `dst`) whose endpoints have different or no `label` in
    * `labels` (`id`, `label`). */
  def edgesAcrossLabels(edges: DataFrame, src: String, dst: String, labels: DataFrame,
      id: String, label: String): Long = {
    val l1 = labels.select(col(id).as("__a"), col(label).as("__la"))
    val l2 = labels.select(col(id).as("__b"), col(label).as("__lb"))
    edges.join(l1, col(src) === col("__a"), "left").join(l2, col(dst) === col("__b"), "left")
      .filter(col("__la").isNull || col("__lb").isNull || col("__la") =!= col("__lb")).count()
  }

  /** Labels that are not the minimum `id` of their members. */
  def labelsNotMin(labels: DataFrame, id: String, label: String): Long =
    labels.groupBy(label).agg(min(id).as("__m")).filter(col("__m") =!= col(label)).count()
}

import Workloads._

/** BASELINE's headline: static PageRank on the logNormal graph; per-edge
  * work dominates. */
final class PageRankStatic(spark: SparkSession, seed: Long, numVertices: Long)
    extends Workload {
  val supersteps = 10
  private var edges: DataFrame = _

  def setup(): Unit = {
    if (edges != null) edges.unpersist(true)
    edges = GraphGen.logNormalEdges(spark, numVertices, seed = seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
  }

  def iterate(dir: String, check: Boolean): Outcome = {
    val g = PreparedGraph(edges)
    try {
      val (ranks, wallS, ms0, ms1) = timed(
        PageRank.runPrepared(g, PageRank.Config(numIter = supersteps)))
      val steps = stepsFromTrace(Trace.drain(), "pagerank_step_")
      try {
        val problems = if (!check) Nil else failures(
          rankSumWrong(ranks.agg(sum("rank")).first().getDouble(0), g.numVertices))
        Outcome(ms0, ms1, wallS, supersteps, g.numEdges, steps, 1.0,
          digest(ranks), problems, Nil)
      } finally ranks.unpersist(true)
    } finally g.unpersist()
  }

  def prepTime(): Double = Workloads.prepTime(edges)

  def teardown(): Unit = if (edges != null) edges.unpersist(true)
}

/** iterations-to-1e-6 protocol: tolerance PageRank on a small graph, where
  * per-superstep fixed cost dominates. */
final class PageRankConverge(spark: SparkSession, seed: Long, numVertices: Long)
    extends Workload {
  val tol = 1e-6
  private var edges: DataFrame = _
  private var numEdges = 0L
  private var reference: Map[Long, Double] = Map.empty

  def setup(): Unit = {
    if (edges != null) edges.unpersist(true)
    edges = GraphGen.logNormalEdges(spark, numVertices, mu = 1.5, sigma = 1.0, seed = seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    numEdges = edges.count()
  }

  /** spark-graphx 4.1.2 `runUntilConvergence` on the same edges. */
  override def prepareChecks(): Unit = {
    import org.apache.spark.graphx.{Graph => XGraph}
    // one partition: the reference's per-superstep cost is task overhead
    val pairs = edges.rdd.map(r => (r.getLong(0), r.getLong(1))).coalesce(1)
    val g = XGraph.fromEdgeTuples(pairs, 1)
    val pr = g.pageRank(tol)
    reference = pr.vertices.collect().toMap
    pr.unpersist(false)
    g.unpersist(false)
  }

  def iterate(dir: String, check: Boolean): Outcome = {
    val ck = CheckpointConfig(s"$dir/checkpoints", "bench", every = 1000)
    val (ranks, wallS, ms0, ms1) = timed(
      PageRank.run(edges, PageRank.Config(tol = Some(tol), checkpoint = Some(ck))))
    try {
      val steps = stepsFromLog(spark, ck, "pagerank_tol")
      val problems = if (!check) Nil else {
        val ours = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val far = reference.iterator.filter { case (id, want) =>
          ours.get(id).forall(got => math.abs(got - want) > 1e-6 + 1e-6 * math.abs(want))
        }.take(3).toSeq
        failures((ours.size != reference.size) ->
          s"${ours.size} ranked vertices, graphx ranked ${reference.size}") ++
          far.map { case (id, want) => s"vertex $id: rank ${ours.get(id)} vs graphx $want" }
      }
      Outcome(ms0, ms1, wallS, steps.size, numEdges, steps.map(_._1),
        activeRatio(steps, reference.size), digest(ranks), problems, Nil)
    } finally ranks.unpersist(true)
  }

  def prepTime(): Double = Workloads.prepTime(edges)

  def teardown(): Unit = if (edges != null) edges.unpersist(true)
}

/** The north-star flow end to end: the only workload that writes tables
  * and durable snapshots, over a skewed crawl graph. */
final class CrawlPipeline(spark: SparkSession, seed: Long, inputs: String, numPages: Long)
    extends Workload {
  val prIters = 20
  private var generation = 0
  private def pagesDir = s"$inputs/pages-$generation"
  private val edgesDir = s"$inputs/edges"

  def setup(): Unit = {
    Files.delete(pagesDir)
    generation += 1
    PageGen.write(PageGen.pages(spark, PageGen.Config(numPages = numPages, seed = seed)),
      pagesDir)
  }

  def iterate(dir: String, check: Boolean): Outcome = {
    Files.copy(pagesDir, s"$dir/pages")
    val (r, wallS, ms0, ms1) = timed(Pipeline.run(spark, dir, numPages, prIters = prIters))
    val ck = CheckpointConfig(s"$dir/checkpoints", "pipeline")
    val steps = stepsFromLog(spark, ck, "pagerank")
    val edges = spark.read.parquet(s"$dir/edges")
    val ranks = spark.read.parquet(s"$dir/ranks")
    val comps = spark.read.parquet(s"$dir/components")
    if (check) { Files.delete(edgesDir); Files.copy(s"$dir/edges", edgesDir) }
    val problems = if (!check) Nil else {
      val crossing = edgesAcrossLabels(edges, "src", "dst", comps, "id", "component")
      val notMin = labelsNotMin(comps, "id", "component")
      failures(
        rankSumWrong(r.rankSum, r.vertices),
        (crossing > 0) -> s"$crossing edges cross two components",
        (notMin > 0) -> s"$notMin components not labelled by their minimum id",
        (steps.size != prIters) -> s"${steps.size} PageRank supersteps logged, want $prIters")
    }
    Outcome(ms0, ms1, wallS, steps.size, r.edges, steps.map(_._1),
      activeRatio(steps, r.vertices), s"${digest(ranks)}/${digest(comps)}", problems, Nil)
  }

  def prepTime(): Double = Workloads.prepTime(spark.read.parquet(edgesDir))

  def teardown(): Unit = { Files.delete(pagesDir); Files.delete(edgesDir) }
}

/** The text and vector operators of the training-data queries, with the
  * parameters `graft.DocQueries` uses, over generated documents and
  * embeddings. */
final class DocDedup(spark: SparkSession, seed: Long, inputs: String, numDocs: Long,
    numVectors: Long) extends Workload {
  // after the checked warm-up, iterations read 8.3, 7.2, 6.8, 6.4 s and
  // 10.2, 8.4, 7.6, 6.9, 7.2, 7.3 s (seeds 1 and 2): the first one after it
  // is still on the steep part
  override val plainWarmups = 1
  private var generation = 0
  private def docsDir = s"$inputs/documents-$generation.parquet"
  private def embsDir = s"$inputs/embeddings-$generation.parquet"
  private val pairsDir = s"$inputs/pairs.parquet"

  def setup(): Unit = {
    Files.delete(docsDir); Files.delete(embsDir)
    generation += 1
    DocGen.documents(spark, numDocs, seed).write.parquet(docsDir)
    DocGen.embeddings(spark, numVectors, seed).write.parquet(embsDir)
  }

  /** Every operator's materialized result, the seconds each took, and a
    * release of all of them. */
  private final class Run {
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private val local = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Time `f` as operator `name`; `f` returns a cached (`persist`) or, for
      * graft operators that return one, a localCheckpointed frame. The
      * step's jobs are declared to belong to the module `name` starts with:
      * the count that materializes a lazy graft frame runs from here. */
    private def step(name: String, localCheckpoint: Boolean = false)(f: => DataFrame) = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Probe.ModuleKey, name.takeWhile(_ != '.'))
      try {
        val t0 = System.nanoTime()
        val df = f
        (if (localCheckpoint) local else cached) += df
        df.count()
        times += name -> secondsSince(t0)
        df
      } finally sc.setLocalProperty(Probe.ModuleKey, null)
    }
    private def persisted(df: DataFrame) = df.persist(StorageLevel.MEMORY_AND_DISK)

    private val docs = spark.read.parquet(docsDir)
    private val embs = spark.read.parquet(embsDir)
    val minhash = step("textops.minhash_s")(persisted(Dedup.minhashLshPairs(docs, k = 3,
      numHashes = 128, bands = 16, threshold = 0.5, portable = true)))
    val pairs = step("textops.ngram_clusters_s", localCheckpoint = true)(
      Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5))
    val clusters = step("textops.ngram_clusters_s")(Dedup.dupClusters(pairs))
    val tfidf = step("textops.tfidf_s", localCheckpoint = true)(TextStats.tfidf(docs))
    val quality = step("textops.quality_s")(persisted(docs
      .select(col("doc_id"), col("text"), TextStats.tokensWs(col("text")).as("__toks"))
      .select(col("doc_id"), TextStats.langIdOf(col("__toks")).as("lang_pred"),
        TextStats.qualityScoreOf(col("text"), col("__toks")).as("quality"))))
    val embDupes = step("vec.emb_dupes_s")(persisted(
      Similarity.cosineDupesExact(embs, minCos = 0.4)))
    val ivf = step("vec.ivf_s")(persisted(IVF.topK(embs, embs.filter(col("vec_id") < 10),
      embs.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("embedding").as("cv")),
      k = 3, nProbe = 2)))

    def release(): Unit = {
      cached.foreach(_.unpersist(true))
      local.foreach(IterationHygiene.releaseLocal)
    }
  }

  def iterate(dir: String, check: Boolean): Outcome = {
    val (r, wallS, ms0, ms1) = timed(new Run())
    try {
      val steps = stepsFromTrace(Trace.drain(), "cc_round_")
      val nPairs = r.pairs.count()
      val problems = if (!check) Nil else {
        val notMin = labelsNotMin(r.clusters, "doc_id", "cluster_id")
        val split = edgesAcrossLabels(r.pairs, "ia", "ib", r.clusters, "doc_id", "cluster_id")
        val lowJaccard = r.minhash.filter(col("jaccard") < 0.5).count()
        val lowCos = r.embDupes.filter(col("cos") < 0.4).count()
        val ivfRows = r.ivf.count()
        failures(
          (nPairs == 0) -> "no near-duplicate pairs found",
          (notMin > 0) -> s"$notMin clusters not labelled by their minimum id",
          (split > 0) -> s"$split near-duplicate pairs split across clusters",
          (lowJaccard > 0) -> s"$lowJaccard minhash pairs below jaccard 0.5",
          (lowCos > 0) -> s"$lowCos embedding pairs below cosine 0.4",
          (ivfRows != 30) -> s"IVF top-3 of 10 queries returned $ivfRows rows")
      }
      if (check) {
        Files.delete(pairsDir)
        r.pairs.select(col("ia").as("src"), col("ib").as("dst")).write.parquet(pairsDir)
      }
      // the two steps of the clusters operator add up to one time
      val times = r.times.groupMapReduce(_._1)(_._2)(_ + _).toSeq
      Outcome(ms0, ms1, wallS, steps.size, nPairs, steps, 1.0,
        Seq(r.minhash, r.clusters, r.tfidf, r.quality, r.embDupes, r.ivf).map(digest)
          .mkString("/"), problems, times)
    } finally r.release()
  }

  def prepTime(): Double = Workloads.prepTime(spark.read.parquet(pairsDir))

  def teardown(): Unit = { Files.delete(docsDir); Files.delete(embsDir); Files.delete(pairsDir) }
}
