package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.Metric

/** The four workloads. Each is a function of the run: it sets up (timed
  * as `setup_s`), computes its ground truth (untimed), runs the main pass
  * and then the kernel-off pass against deadlines, checks every output and
  * records the end-to-end metrics. Sizes are chosen so that a run of the
  * default length fits the benchmark's time budget on a 4-core host; all
  * of them sit far below the LocalKernel caps (400k vectors, 4M edges),
  * which is why each workload also has a kernel-off pass. */
object Workloads {
  val byName: Map[String, Run => Unit] = Map(
    "knn_search" -> KnnSearch.apply,
    "index_build" -> IndexBuild.apply)

  private val six = Seq("wall_s", "self_s", "jobs", "task_s", "idle_s", "shuffle_write_mb")
  private val four = Seq("wall_s", "jobs", "task_s", "shuffle_write_mb")
  private val two = Seq("wall_s", "jobs")

  /** Span name -> the per-call figures a traced run reports for it. */
  val spanMetrics: Seq[(String, Seq[String])] = Seq(
    "plans.plan" -> Seq("wall_s", "jobs", "task_s", "idle_s"),
    "plans.plan_dist" -> two,
    "index.search" -> six,
    "index.search_dist" -> six,
    "index.ivf_pq_build" -> six,
    "index.ivf_pq_search" -> six,
    "cluster.kmeans_fit" -> six,
    "graphops.nn_descent" -> six,
    "graphops.cagra_optimize" -> six,
    "graphops.vamana" -> six,
    "graphops.graph_search" -> six,
    "text.exact" -> six,
    "text.minhash_lsh" -> six,
    "text.simhash" -> six,
    "cluster.kmeans_fit_dist" -> four,
    "graphops.nn_descent_dist" -> four,
    "graphops.cagra_optimize_dist" -> four,
    "graphops.vamana_dist" -> four,
    "text.minhash_lsh_dist" -> four)

  /** `plans.plan` figures are named `plans.plan_s`, `plans.plan_jobs`, ...;
    * every other span's as `<span>.<field>`. */
  def metricName(span: String, field: String): String =
    if (span.startsWith("plans.")) s"${span}_${if (field == "wall_s") "s" else field}"
    else s"$span.$field"

  /** Figures a traced run reports that are not per-span. */
  val singleMetrics: Seq[String] = Seq("index.layout_mb_per_data_mb", "text.pairs_returned", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_s", "spark.gc_s", "spark.idle_s", "spark.spill_mb", "spark.result_mb",
    "host.calib_start_s", "host.calib_end_s")

  def unitOf(metric: String): String = metric match {
    case m if m.startsWith("throughput") => "1/s"
    case "recall" => "ratio"
    case "index.layout_mb_per_data_mb" => "ratio"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_s") => "s"
    case _ => "count"
  }

  /** Every per-layer metric name, in the order BENCHMARK.json lists them. */
  def layerNames: Seq[String] =
    spanMetrics.flatMap { case (s, fs) => fs.map(metricName(s, _)) } ++ singleMetrics

  // ---- helpers shared by the workloads ----------------------------------

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  def vectorFrame(spark: SparkSession, v: Inputs.Vectors, idCol: String = "id",
      vecCol: String = "vec"): DataFrame = {
    val rows = v.ids.indices.map(i => Row(v.ids(i), v.data(i).toSeq))
    spark.createDataFrame(rows.asJava, vecSchema).toDF(idCol, vecCol)
  }

  def queryFrame(spark: SparkSession, v: Inputs.Vectors): DataFrame =
    vectorFrame(spark, v, "qid", "qvec")

  /** Checks a top-k result's shape and returns qid -> ids by rank. */
  def knnRows(run: Run, what: String, rows: Array[Row], qids: Array[Long], k: Int,
      validId: Long => Boolean): Map[Long, Seq[Long]] = {
    def l(r: Row, c: String) = r.getAs[Number](c).longValue
    val byQ = rows.groupBy(l(_, "qid"))
    run.check(s"$what: q*k rows", rows.length == qids.length * k,
      s"${rows.length} rows for ${qids.length} queries")
    run.check(s"$what: every query answered", byQ.keySet == qids.toSet)
    run.check(s"$what: ranks 1..k",
      byQ.values.forall(_.map(r => l(r, "rank").toInt).sorted.toSeq == (1 to k)))
    run.check(s"$what: ids exist", rows.forall(r => validId(l(r, "nbr_id"))))
    byQ.map { case (q, rs) => q -> rs.sortBy(r => l(r, "rank")).map(l(_, "nbr_id")).toSeq }
  }

  /** Loops `step` until the deadline, at least `minCalls` times and a
    * whole number of `cycle`s (so a pass always has the same mix of call
    * kinds); returns the wall seconds of each step that succeeded. */
  def loop(run: Run, seconds: Double, minCalls: Int, cycle: Int = 1)(
      step: Int => Option[Double]): Seq[Double] = {
    val end = run.deadline(seconds)
    val times = ArrayBuffer.empty[Double]
    var i = 0
    while (i < minCalls || System.nanoTime() < end || i % cycle != 0) {
      step(i).foreach(times += _)
      i += 1
    }
    times.toSeq
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}

/** Batch kNN search through the planner over a relation that has an
  * IVF-Flat and an IVF-PQ layout (one shared coarse quantizer) registered. */
object KnnSearch {
  import Workloads._
  val N = 10000
  val Dim = 64
  // many more latent clusters than lists, so list sizes (and so batch cost)
  // do not swing with the seed
  val Centers = 256
  val PoolQ = 1600
  // a smaller batch is almost all fixed per-job planning and scheduling
  // work, whose time swings with the host's load far more than the search
  // work does
  val BatchQ = 400
  val K = 10
  val NLists = 32
  val PqDim = 8
  val Probes = 6
  val Reps = 2
  val FilteredEvery = 4
  val WarmBatches = 4
  val RecallFloor = 0.85

  final case class State(data: Inputs.Vectors, pool: Inputs.Vectors, dataPath: String,
      layouts: Seq[(String, String)], slots: Seq[(Array[Long], DataFrame)], rel: DataFrame)

  def apply(run: Run): Unit = {
    val spark = run.spark
    graft.plans.ResolveKnnJoin.ensureInstalled(spark)
    // the relation is below the planner's default 100k-row index gate;
    // lowering it routes these batches the way a larger relation's would
    spark.conf.set("spark.graft.knnJoin.minIndexRows", (N / 2).toString)
    var prevPath: Option[String] = None
    val st = run.setup(Reps) { rep =>
      prevPath.foreach(graft.plans.GraftIndexCatalog.unregister)
      val gen = new Inputs.Clusters(run.seed, Dim, Centers)
      val data = gen.draw(N, 0L)
      val pool = gen.draw(PoolQ, 0L)
      val dir = s"${run.dir}/rep$rep"
      val dataPath = s"$dir/data.parquet"
      vectorFrame(spark, data).write.parquet(dataPath)
      val rel = spark.read.parquet(dataPath)
      val ivf = graft.index.IvfFlatIndex.build(rel,
        graft.index.IvfFlatIndex.Params(nLists = NLists, nIters = 10), "id", "vec")
      ivf.save(s"$dir/ivf_flat")
      val pq = graft.index.IvfPqIndex.build(rel,
        graft.index.IvfPqIndex.Params(nLists = NLists, nIters = 10, pqDim = PqDim, pqBits = 8),
        "id", "vec", base = Some(ivf))
      pq.save(s"$dir/ivf_pq")
      pq.lists.unpersist(); ivf.lists.unpersist()
      val layouts = Seq("ivf_flat" -> s"$dir/ivf_flat", "ivf_pq" -> s"$dir/ivf_pq")
      layouts.foreach { case (_, p) =>
        graft.plans.GraftIndexCatalog.register(dataPath, p, nProbes = Probes)
      }
      prevPath = Some(dataPath)
      rel.createOrReplaceTempView("bench_data")
      rel.filter(org.apache.spark.sql.functions.col("id") % 2 === 0).select("id")
        .createOrReplaceTempView("bench_allow")
      val slots = (0 until PoolQ / BatchQ).map { s =>
        val q = pool.slice(s * BatchQ, (s + 1) * BatchQ)
        val qf = queryFrame(spark, q)
        qf.createOrReplaceTempView(s"bench_q$s")
        (q.ids, qf)
      }
      State(data, pool, dataPath, layouts, slots, rel)
    }
    run.detail("input_hash") = Inputs.hash(st.data)

    // ground truth, untimed: over the relation, and over its allow-listed half
    val truth = Truth.exactKnn(st.data, st.pool, K)
    val allowed = st.data.ids.indices.filter(i => st.data.ids(i) % 2 == 0)
    val allowedData = Inputs.Vectors(allowed.map(st.data.ids).toArray, allowed.map(st.data.data).toArray)
    val fTruth = Truth.exactKnn(allowedData, st.pool, K)

    val routes = scala.collection.mutable.Map.empty[Boolean, String]
    def batch(b: Int, recalls: ArrayBuffer[Double]): Option[Double] = {
      val slot = b % st.slots.size
      val (qids, qf) = st.slots(slot)
      val filtered = slot % FilteredEvery == FilteredEvery - 1
      val (res, t) = timed(run.call("knn batch") {
        val df =
          if (filtered) spark.sql(
            s"SELECT * FROM knn_join_filtered('bench_data', 'bench_q$slot', 'bench_allow', " +
              s"'allow', $K, 'l2', 'id', 'vec', 'qid', 'qvec')")
          else graft.plans.KnnJoinPlan.knnJoin(st.rel, qf, K, Metric.L2, "id", "vec")
        val rows = run.materialize(df, Some("plans.plan"), "index.search")
        if (!routes.contains(filtered))
          routes(filtered) = st.layouts.collectFirst {
            case (name, path) if graft.plans.IndexRoute.routedThrough(df, path) => name
          }.getOrElse("brute")
        rows
      })
      res.map { rows =>
        val valid: Long => Boolean =
          if (filtered) id => id >= 0 && id < N && id % 2 == 0 else id => id >= 0 && id < N
        val got = knnRows(run, "knn batch", rows, qids, K, valid)
        val r =
          Truth.recall(if (filtered) fTruth else truth, got, qids, _.toInt, K)
        recalls += r
        t
      }
    }

    val mainS = run.args.seconds * 0.65
    val distS = run.args.seconds * 0.35
    // planning and search code is still being compiled by the JIT during
    // the first several batches; time only after it settles
    run.warmup((0 until WarmBatches).foreach(batch(_, ArrayBuffer.empty)))
    val recalls = ArrayBuffer.empty[Double]
    val times = loop(run, mainS, FilteredEvery, FilteredEvery)(batch(_, recalls))
    run.heap.mark()
    val distRecalls = ArrayBuffer.empty[Double]
    val distTimes = run.kernelOff {
      run.warmup((0 until 2).foreach(batch(_, ArrayBuffer.empty)))
      loop(run, distS, FilteredEvery, FilteredEvery)(batch(_, distRecalls))
    }
    run.heap.mark()

    // per-layout recall floor: each layout alone, planner-routed (untimed)
    st.layouts.foreach { case (name, path) =>
      graft.plans.GraftIndexCatalog.unregister(st.dataPath)
      graft.plans.GraftIndexCatalog.register(st.dataPath, path, nProbes = Probes)
      run.call(s"knn via $name") {
        val (qids, qf) = st.slots(0)
        val df = graft.plans.KnnJoinPlan.knnJoin(st.rel, qf, K, Metric.L2, "id", "vec")
        val got = knnRows(run, s"knn via $name", df.collect(), qids, K, id => id >= 0 && id < N)
        run.check(s"$name is routed", graft.plans.IndexRoute.routedThrough(df, path))
        val r = Truth.recall(truth, got, qids, _.toInt, K)
        run.detail(s"recall_at_10.$name") = r
        run.check(s"$name recall floor", r >= RecallFloor, f"$r%.3f < $RecallFloor")
      }
    }
    graft.plans.GraftIndexCatalog.unregister(st.dataPath)

    val nq = BatchQ.toDouble
    val recall = recalls.sum / math.max(1, recalls.size)
    run.check("recall floor", recall >= RecallFloor, f"$recall%.3f")
    run.e2e("throughput") = nq * times.size / times.sum
    run.e2e("call_p50_s") = Stats.median(times)
    run.e2e("throughput_distributed") = nq * distTimes.size / distTimes.sum
    run.e2e("recall") = recall
    run.detail("search_qps") = run.e2e("throughput")
    run.detail("search_batch_p50_s") = run.e2e("call_p50_s")
    run.detail("search_batch_tail_s") = Stats.tail(times)
    run.detail("search_batches") = times.size
    run.detail("search_batch_times_s") = times.map(t => f"$t%.3f").mkString(",")
    run.detail("route") = routes.getOrElse(false, "none")
    run.detail("route_filtered") = routes.getOrElse(true, "none")
    run.detail("search_qps_distributed") = run.e2e("throughput_distributed")
    run.detail("search_batches_distributed") = distTimes.size
    run.detail("recall_at_10") = recall
    run.detail("recall_at_10_distributed") = distRecalls.sum / math.max(1, distRecalls.size)
  }
}

/** Timed index builds, each saved or collected in full, then a recall
  * check of what was built. */
object IndexBuild {
  import Workloads._
  val N = 2000
  val Dim = 64
  val Centers = 32
  val Q = 100
  val K = 10
  val DistN = 600
  val WarmN = 200
  val Reps = 3
  val IvfPqFloor = 0.5
  val GraphFloor = 0.6

  /** One round of the builds over `rel`; returns the summed exclusive
    * build seconds, or None if a build failed. Without `withPq` the IVF-PQ
    * build is left out (the kernel-off pass: IVF-PQ has no LocalKernel
    * route of its own beyond k-means). With `score`, also checks each
    * index's recall on the query set. */
  def round(run: Run, rel: DataFrame, n: Int, qf: DataFrame, qids: Array[Long],
      truth: Array[Array[Long]], path: String, withPq: Boolean, score: Boolean,
      recalls: ArrayBuffer[Double]): Option[Double] = {
    val spark = run.spark
    val tr = run.tracer
    def valid(id: Long) = id >= 0 && id < n
    def edgesOk(what: String, rows: Array[Row], degree: Int): Unit = {
      val bySrc = rows.groupBy(_.getAs[Number]("src").longValue)
      run.check(s"$what: every node has edges", bySrc.size == n, s"${bySrc.size} of $n")
      run.check(s"$what: degree bound", bySrc.values.forall(_.length <= degree))
      run.check(s"$what: ids exist", rows.forall(r =>
        valid(r.getAs[Number]("src").longValue) && valid(r.getAs[Number]("dst").longValue)))
    }
    def frame(rows: Array[Row], like: DataFrame) = spark.createDataFrame(rows.toSeq.asJava, like.schema)
    def scoreSearch(what: String, span: String)(search: => DataFrame): Unit =
      if (score) run.call(what) {
        val rows = run.materialize(search, None, span)
        val got = knnRows(run, what, rows, qids, K, valid)
        val r = Truth.recall(truth, got, qids, _.toInt, K)
        val floor = if (span.startsWith("index")) IvfPqFloor else GraphFloor
        run.check(s"$what recall floor", r >= floor, f"$r%.3f < $floor")
        run.detail(s"recall_at_10.$what") = r
        recalls += r
      }

    val km = run.call("kmeans_fit")(timed(tr.span("cluster.kmeans_fit") {
      graft.cluster.KMeans.fit(rel, graft.cluster.KMeans.Params(k = 32, maxIter = 5,
        init = graft.cluster.KMeans.PlusPlusInit), "id", "vec")
    }))
    km.foreach { case (m, _) =>
      run.check("kmeans centroids", m.centroids.k == 32 && !m.inertia.isNaN)
    }
    val pq = if (!withPq) None else run.call("ivf_pq_build")(timed(tr.span("index.ivf_pq_build") {
      val idx = graft.index.IvfPqIndex.build(rel, graft.index.IvfPqIndex.Params(
        nLists = 32, nIters = 10, pqDim = 8, pqBits = 8), "id", "vec")
      idx.save(s"$path/ivf_pq")
      idx
    }))
    pq.foreach { case (idx, _) =>
      scoreSearch("ivf_pq", "index.ivf_pq_search")(idx.search(qf, K, nProbes = 8))
      idx.lists.unpersist()
    }
    val nnd = run.call("nn_descent")(timed(tr.span("graphops.nn_descent") {
      val df = graft.graphops.NnDescent.build(rel, graft.graphops.NnDescent.Params(k = 16), "id", "vec")
      frame(run.materialize(df, None, "graphops.nn_descent.collect"), df)
    }))
    nnd.foreach { case (g, _) => edgesOk("nn_descent", g.collect(), 16) }
    val cagra = nnd.flatMap { case (g, _) =>
      run.call("cagra_optimize")(timed(tr.span("graphops.cagra_optimize") {
        val df = graft.graphops.CagraOptimize.optimize(g, 8)
        frame(run.materialize(df, None, "graphops.cagra_optimize.collect"), df)
      }))
    }
    cagra.foreach { case (g, _) =>
      edgesOk("cagra", g.collect(), 8 * 2)
      scoreSearch("cagra", "graphops.graph_search")(
        graft.graphops.GraphSearch.search(g, rel, qf, K, graft.graphops.GraphSearch.Params()))
    }
    val vam = run.call("vamana")(timed(tr.span("graphops.vamana") {
      val df = graft.graphops.Vamana.build(rel, graft.graphops.Vamana.Params(
        graphDegree = 16, visitedSize = 32), "id", "vec")
      frame(run.materialize(df, None, "graphops.vamana.collect"), df)
    }))
    vam.foreach { case (g, _) =>
      edgesOk("vamana", g.collect(), 16)
      scoreSearch("vamana", "graphops.graph_search")(
        graft.graphops.GraphSearch.search(g, rel, qf, K, graft.graphops.GraphSearch.Params()))
    }
    val parts = Seq(km.map(_._2), nnd.map(_._2), cagra.map(_._2), vam.map(_._2)) ++
      (if (withPq) Seq(pq.map(_._2)) else Nil)
    if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
  }

  def apply(run: Run): Unit = {
    val spark = run.spark
    val text = new TextDedup(run)
    case class State(data: Inputs.Vectors, queries: Inputs.Vectors, rel: DataFrame,
        distRel: DataFrame, warmRel: DataFrame, qf: DataFrame)
    val st = run.setup(Reps) { rep =>
      val gen = new Inputs.Clusters(run.seed, Dim, Centers)
      val data = gen.draw(N, 0L)
      val queries = gen.draw(Q, 0L)
      val dataPath = s"${run.dir}/rep$rep/data.parquet"
      vectorFrame(spark, data).write.parquet(dataPath)
      val rel = spark.read.parquet(dataPath)
      text.setup(rep)
      val id = org.apache.spark.sql.functions.col("id")
      State(data, queries, rel, rel.filter(id < DistN), rel.filter(id < WarmN),
        queryFrame(spark, queries))
    }
    run.detail("input_hash") = Inputs.hash(st.data) + "/" + text.inputHash
    val truth = Truth.exactKnn(st.data, st.queries, K)

    val recalls = ArrayBuffer.empty[Double]
    val buildTimes = ArrayBuffer.empty[Double]
    val dedupTimes = ArrayBuffer.empty[Double]
    var r = 0
    /** A round: the vector builds, then the dedup calls; returns its seconds. */
    def next(rel: DataFrame, n: Int, docs: Int, main: Boolean, record: Boolean) = {
      r += 1
      for {
        b <- round(run, rel, n, st.qf, st.queries.ids, truth, s"${run.dir}/round$r",
          withPq = main, score = main && record, recalls)
        d <- text.round(docs, minhashOnly = !main, record)
      } yield {
        if (record) { buildTimes += b; dedupTimes += d }
        b + d
      }
    }
    run.warmup(next(st.warmRel, WarmN, TextDedup.WarmDocs, main = true, record = false))
    val times = loop(run, run.args.seconds * 0.6, 1)(_ =>
      next(st.rel, N, TextDedup.NDocs, main = true, record = true))
    run.heap.mark()
    val distTimes = run.kernelOff(loop(run, run.args.seconds * 0.4, 1)(_ =>
      next(st.distRel, DistN, TextDedup.DistDocs, main = false, record = false)))
    run.heap.mark()

    // round 2 is the first full-size round (round 1 is the warm-up)
    run.layer("index.layout_mb_per_data_mb") =
      dirBytes(new java.io.File(s"${run.dir}/round2/ivf_pq")).toDouble / (N.toDouble * Dim * 4)
    run.layer("text.pairs_returned") = text.pairsReturned.toDouble
    val recall = (recalls :+ text.recall).sum / (recalls.size + 1)
    run.e2e("throughput") = (N + TextDedup.NDocs).toDouble * times.size / times.sum
    run.e2e("call_p50_s") = Stats.median(times)
    run.e2e("throughput_distributed") =
      (DistN + TextDedup.DistDocs).toDouble * distTimes.size / distTimes.sum
    run.e2e("recall") = recall
    run.detail("build_s") = Stats.median(buildTimes.toSeq)
    run.detail("dedup_s") = Stats.median(dedupTimes.toSeq)
    run.detail("dedup_docs_per_s") = TextDedup.NDocs / Stats.median(dedupTimes.toSeq)
    run.detail("rounds") = times.size
    run.detail("rounds_distributed") = distTimes.size
    run.detail("recall_at_10") = recalls.sum / math.max(1, recalls.size)
    run.detail("dedup_pair_recall") = text.recall
    run.detail("dedup_pair_precision") = text.precision
  }
}

/** Exact, MinHash-LSH and SimHash near-duplicate detection over a corpus
  * with planted near-duplicate clusters and shared boilerplate: the text
  * half of an `index_build` round. */
final class TextDedup(run: Run) {
  import Workloads._
  import TextDedup._
  private val spark = run.spark
  // a cap the boilerplate-heavy band buckets exceed, so the drop path runs
  spark.conf.set("spark.graft.lsh.bucketCap", "200")
  private var corpus: Inputs.Corpus = _
  var rel: DataFrame = _
  var recall = 0.0
  var precision = 0.0
  var pairsReturned = 0

  /** Writes the corpus as parquet (part of each set-up repetition). */
  def setup(rep: Int): Unit = {
    val c = Inputs.corpus(run.seed, NDocs, Words, ClusterShare, ClusterSize, BoilerShare)
    corpus = c
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val path = s"${run.dir}/rep$rep/docs.parquet"
    spark.createDataFrame(c.ids.indices.map(i => Row(c.ids(i), c.texts(i))).asJava, schema)
      .write.parquet(path)
    rel = spark.read.parquet(path)
  }

  def inputHash: String = Inputs.hash(corpus)

  // truth, untimed: planted pairs with their exact Jaccard, exact-dup groups
  private val sh = new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
  private def shingles(id: Long) =
    sh.computeIfAbsent(id, i => Truth.shingles(corpus.texts(i.toInt), Shingle))
  private def pairsOf(g: Array[Long]) =
    for (i <- g.indices; j <- i + 1 until g.length) yield (g(i), g(j))
  private lazy val planted = corpus.clusters.flatMap(g => pairsOf(g))
    .filter { case (a, b) => Truth.jaccard(shingles(a), shingles(b)) >= MinJaccard }.toSet
  private def exactGroups(n: Int) = (0 until n).groupBy(corpus.texts(_)).values
    .filter(_.size > 1).map(_.map(_.toLong).toSet).toSet
  private def pairs(rows: Array[Row]) = rows.map(r =>
    (r.getAs[Number]("a").longValue, r.getAs[Number]("b").longValue)).toSet

  /** The dedup calls over the first `n` documents; returns their seconds.
    * `minhashOnly` is the kernel-off round: MinHash-LSH is the only dedup
    * call with a LocalKernel route. */
  def round(n: Int, minhashOnly: Boolean, record: Boolean): Option[Double] = {
    val tr = run.tracer
    val docs = if (n == NDocs) rel else rel.filter(org.apache.spark.sql.functions.col("id") < n)
    val (res, t) = timed(run.call("dedup round") {
      val exact = if (minhashOnly) None else Some(tr.span("text.exact")(run.materialize(
        graft.text.Dedup.exactDupGroups(docs, "id", "text", onlyDups = true), None,
        "text.exact.collect")))
      val mh = tr.span("text.minhash_lsh")(run.materialize(
        graft.text.Dedup.minhashLshPairs(docs, "id", "text", n = Shingle, numHashes = 32,
          bandRows = 4, minJaccard = MinJaccard), None, "text.minhash_lsh.collect"))
      val simh = if (minhashOnly) None else Some(tr.span("text.simhash") {
        val sk = graft.text.Dedup.simhash(docs, "id", "text", n = Shingle)
        run.materialize(graft.text.Dedup.simhashPairs(sk, MaxHamming), None,
          "text.simhash.collect")
      })
      (exact, mh, simh)
    })
    res.map { case (exact, mh, simh) =>
      val want = exactGroups(n)
      exact.foreach { rows =>
        val sizes = rows.map(_.getAs[Number]("n").intValue).sorted.toSeq
        run.check("exact duplicate groups", sizes == want.toSeq.map(_.size).sorted,
          s"${rows.length} groups for ${want.size}")
      }
      val got = pairs(mh)
      val inSlice = planted.filter(_._2 < n)
      val r = inSlice.count(got.contains).toDouble / math.max(1, inSlice.size)
      val p = got.count { case (a, b) =>
        Truth.jaccard(shingles(a), shingles(b)) >= MinJaccard }.toDouble / math.max(1, got.size)
      run.check("minhash pair recall floor", r >= RecallFloor, f"$r%.3f")
      run.check("minhash pair precision floor", p >= PrecisionFloor, f"$p%.3f")
      simh.foreach { rows =>
        val sim = pairs(rows)
        run.check("simhash finds every exact duplicate pair",
          want.toSeq.flatMap(g => pairsOf(g.toArray.sorted)).forall(sim.contains))
        if (record) pairsReturned = got.size + sim.size
      }
      if (record) { recall = r; precision = p }
      t
    }
  }
}

object TextDedup {
  val NDocs = 4000
  val DistDocs = 600
  val WarmDocs = 500
  val Words = 50
  val ClusterShare = 0.2
  val ClusterSize = 4
  val BoilerShare = 0.3
  val Shingle = 8
  val MinJaccard = 0.5
  val MaxHamming = 6
  val RecallFloor = 0.8
  val PrecisionFloor = 0.99
}
