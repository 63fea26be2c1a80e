package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import graft.ann.ExactNN
import graft.ann.ivfpq.{IvfPq, IvfPqConfig, IvfPqIndex}
import graft.ann.lsh.{Lsh, LshConfig, LshIndex, LshMaintainer}

import Run._

/** The workloads. Each one:
  *   1. sets up once: generates and persists its input, builds the index
  *      once cold and then twice timed (`build_s`), computes exact ground
  *      truth for a fixed graded query subset and runs cold batches
  *      untimed; all of it but the timed builds is `setup_s`;
  *   2. sends distinct `Batch`-query batches from one client in a closed
  *      loop for `--seconds`, checking every batch on the driver;
  *   3. grades the graded subset against the exact ground truth.
  * A traced run also records per-layer spans and ratios. */
object Workloads {

  val Batch = 200
  /** Size of the fixed graded query subset. */
  val Graded = 50
  /** Cold search batches before the timed loop: the engine's batch time
    * keeps falling for a few batches after start-up. */
  val WarmBatches = 3
  /** Timed index builds per run, after one cold build: a build is a few
    * seconds of Spark jobs, so `build_s` takes the median. */
  val TimedBuilds = 2

  /** Query streams: distinct streams never share a query vector. */
  val GradedStream = 1L
  val TimedStream = 2L
  val WarmStream = 3L

  val names = Seq("ivfpq-cos-read", "lsh-ingest-mixed")

  def run(r: Run): Unit = {
    r.opts.workload match {
      case "ivfpq-cos-read" => new IvfPqRead(r).run()
      case "lsh-ingest-mixed" => new LshIngest(r).run()
    }
    if (r.opts.trace) fillLayers(r)
  }

  /** Shared shape of one workload. */
  abstract class Workload(val r: Run) {
    def gen: Gen
    def n: Long
    def dist: (Array[Double], Array[Double]) => Double
    def metric: ExactNN.Metric
    def nClusters: Long = n / gen.clusterSize

    def queries(stream: Long, from: Long, count: Int): Seq[(Long, Array[Double])] =
      (from until from + count).map(q => q -> gen.query(stream, q, nClusters))

    lazy val gradedQs = queries(GradedStream, 0, Graded)
    lazy val gradedMap = gradedQs.toMap
    def gradedFrame: DataFrame = r.queryFrame(gradedQs)

    /** Search one batch and check it; returns the batch wall seconds.
      * `after` runs untimed once the batch is checked. */
    def batch(span: String, qs: Seq[(Long, Array[Double])], live: Long => Option[Array[Double]],
              after: DataFrame => Unit = _ => ())(search: DataFrame => DataFrame): Double = {
      val q = r.queryFrame(qs)
      val (rows, secs) = r.timed(r.tracer.span(span)(search(q).collect()))
      r.op(span)(checkHits(hitsByQuery(rows), qs.toMap, live, dist))
      after(q)
      secs
    }

    /** Persist and materialize a generated input, as span `input`. */
    def input(df: DataFrame): DataFrame =
      r.tracer.span("input") { val p = df.persist(); p.count(); p }

    /** Build the index once untimed and untraced, counted in `setup_s`
      * (in a fresh JVM that build is mostly class loading and code
      * compilation), then `TimedBuilds` times, whose median wall is
      * `build_s`. Keeps the last build and hands each other one to
      * `drop` before the next starts. */
    def build[T](drop: T => Unit)(f: => T): T = {
      val (cold, coldS) = r.timed(r.untraced(f))
      drop(cold)
      r.setupS += coldS
      val builds = (1 to TimedBuilds).map { i =>
        val (t, secs) = r.timed(f)
        if (i < TimedBuilds) drop(t)
        (t, secs)
      }
      r.note(s"build walls: cold ${fmt2(coldS)}, timed ${builds.map(b => fmt2(b._2)).mkString(" ")} s")
      r.put("build_s", medianOf(builds.map(_._2)), "s")
      builds.last._1
    }

    /** Untimed cold batches, counted in `setup_s`. */
    def warmUp(live: Long => Option[Array[Double]])(search: DataFrame => DataFrame): Unit = {
      val (_, secs) = r.timed(for (w <- 0 until WarmBatches)
        batch("warmup", queries(WarmStream, w.toLong * Batch, Batch), live)(search))
      r.note(s"set-up: $WarmBatches cold batches ${fmt2(secs)} s")
      r.setupS += secs
    }

    /** Report the batch walls of the timed loop. The tail is the highest
      * percentile with at least ten batches beyond it, so it exists only
      * from 11 batches on. */
    def reportSearch(walls: Seq[Double]): Unit = {
      r.note(s"batch walls ${walls.map(fmt2).mkString(" ")} s")
      r.put("search_qps", Batch * walls.size / walls.sum, "queries/s")
      r.put("search_batch_p50_s", medianOf(walls), "s")
      tailOf(walls) match {
        case Some((v, pct)) =>
          r.extra("search_batch_tail_s") = Metric(v, "s")
          r.note(f"search_batch_tail_s is p$pct%.1f of ${walls.size} batches (10 beyond it)")
        case None =>
          r.note(s"search_batch_tail_s n/a: ${walls.size} batches, a tail needs at least 11")
      }
    }

    /** Closed loop over distinct batches for `--seconds`. A traced run
      * traces every other batch and reports the difference of the two
      * medians as the tracing overhead. */
    def timedLoop(span: String, live: Long => Option[Array[Double]],
                  after: DataFrame => Unit = _ => ())
                 (search: DataFrame => DataFrame): Seq[Double] = {
      val deadline = System.nanoTime() + r.opts.seconds * 1000000000L
      val traced = mutable.ArrayBuffer.empty[Double]
      val walls = mutable.ArrayBuffer.empty[Double]
      var b = 0
      while (System.nanoTime() < deadline) {
        val on = b % 2 == 0
        r.tracer.setActive(on)
        val w = batch(span, queries(TimedStream, b.toLong * Batch, Batch), live,
          q => if (on) after(q))(search)
        (if (on && r.opts.trace) traced else walls) += w
        b += 1
      }
      r.tracer.setActive(true)
      if (r.opts.trace) {
        r.layers("trace.overhead_s") = Metric(medianOf(traced.toSeq) - medianOf(walls.toSeq), "s")
        walls ++= traced
      }
      walls.toSeq
    }
  }

  /** Per-layer figures outside the spans, with their units. */
  val LayerFigures = Seq(
    "lsh.candidates_per_query" -> "count", "lsh.useful_ratio" -> "ratio",
    "lsh.bucket_occupancy_max" -> "count", "ivfpq.codes_scanned_per_query" -> "count",
    "ivfpq.useful_ratio" -> "ratio", "exact.pairs_scored" -> "count",
    "lsm.bytes_written_per_user_byte" -> "ratio", "lsm.files_written" -> "count",
    "lsm.log_depth_max" -> "count", "lsm.compactions" -> "count",
    "unattributed.jobs" -> "count", "trace.overhead_s" -> "s")

  /** Every workload reports every per-layer figure; one it does not
    * exercise reads 0. */
  def fillLayers(r: Run): Unit =
    LayerFigures.foreach { case (n, u) => if (!r.layers.contains(n)) r.layers(n) = Metric(0.0, u) }

  /** Per-span quantities of the traced run, per call; spans the
    * workload never opened read 0. */
  val Spans = Seq("lsh.fit", "lsh.index", "ivfpq.fit", "ivfpq.encode",
    "ivfpq.adc", "ivfpq.search", "exact.topk", "eval.grade", "lsm.append",
    "lsm.compact", "lsm.view_search")
  val ScoredSpans = Seq("ivfpq.adc", "ivfpq.search", "lsm.view_search")

  def reportSpans(r: Run): Map[String, SpanTotals] = {
    val t = r.tracer.totals()
    def put(n: String, v: Double, u: String) = r.layers(n) = Metric(v, u)
    Spans.foreach { s =>
      val st = t.get(s)
      val calls = st.map(_.calls.toDouble).filter(_ > 0).getOrElse(1.0)
      def per(f: SpanTotals => Double) = st.map(f).getOrElse(0.0) / calls
      put(s"$s.wall_s", per(_.wallS), "s")
      put(s"$s.self_s", per(_.selfS), "s")
      put(s"$s.jobs", per(_.work.jobs.toDouble), "count")
      put(s"$s.stages", per(_.work.stages.toDouble), "count")
      put(s"$s.tasks", per(_.work.tasks.toDouble), "count")
      put(s"$s.task_cpu_s", per(_.work.cpuNs / 1e9), "s")
      put(s"$s.gc_s", per(_.work.gcMs / 1e3), "s")
      put(s"$s.shuffle_mb", per(_.work.shuffleBytes / 1e6), "MB")
      put(s"$s.spill_mb", per(_.work.spillBytes / 1e6), "MB")
    }
    ScoredSpans.foreach { s =>
      put(s"$s.scored_per_query",
        t.get(s).map(x => x.work.topkInputRows.toDouble / x.calls / Batch).getOrElse(0.0), "count")
    }
    put("unattributed.jobs", t.get(Tracer.UnattributedName).map(_.work.jobs.toDouble).getOrElse(0.0), "count")
    t
  }

  /** Candidates the LSH probes reach for the graded queries, and the
    * share of them that are true top-k neighbours — from the public
    * model, buckets and ground truth, outside the program. */
  def lshRatios(r: Run, idx: LshIndex, graded: DataFrame, gt: DataFrame): Unit = r.untraced {
    val cands = idx.model.probeRows(graded, "query_id", "qv")
      .join(idx.buckets, Seq("tree_id", "hash"))
      .select("query_id", "vec_id").distinct().persist()
    val nCands = cands.count()
    val useful = cands.join(gt.select("query_id", "vec_id"), Seq("query_id", "vec_id")).count()
    cands.unpersist()
    val occ = idx.buckets.groupBy("tree_id", "hash").count().agg(max("count")).head().getLong(0)
    r.layers("lsh.candidates_per_query") = Metric(nCands.toDouble / Graded, "count")
    r.layers("lsh.useful_ratio") = Metric(useful.toDouble / nCands, "ratio")
    r.layers("lsh.bucket_occupancy_max") = Metric(occ.toDouble, "count")
  }

  // ------------------------------------------------------------- ivfpq-cos-read

  /** 256-d cosine corpus (64-d clusters tiled with jitter), angular
    * IVF-PQ with 64 cells, probe 8, 16 subvectors x 64 codes;
    * `searchRerank` at depth 100. */
  final class IvfPqRead(r0: Run) extends Workload(r0) {
    val gen = Gen(r.opts.seed, 256, ClusterSize, Spread)
    val n = 30000L
    val dist = cosine _
    val metric = ExactNN.Cosine
    val depth = 100
    val config = IvfPqConfig(nCells = 64, nProbe = 8, numSubvectors = 16,
      codesPerSubvector = 64, seed = r.opts.seed, sampleCap = 10000, angular = true)
    val live: Long => Option[Array[Double]] = id =>
      Option.when(id >= 0 && id < n)(gen.vector(id, 0L))

    def buildIndex(vectors: DataFrame): IvfPqIndex = {
      val i = r.tracer.span("ivfpq.fit")(IvfPq.train(vectors, "vec_id", "embedding", config))
      r.tracer.span("ivfpq.encode")(i.codes.persist().count())
      i
    }

    def run(): Unit = {
      val (vectors, inputS) = r.timed(input(gen.corpus(r.spark, n)))
      val idx = build[IvfPqIndex](_.codes.unpersist(blocking = true))(buildIndex(vectors))
      r.put("index_mem_mb", r.storageMb(), "MB")
      val (gt, gtS) = r.timed(groundTruth(r, gradedFrame, vectors, metric))
      r.setupS += inputS + gtS
      r.note(s"set-up: input ${fmt2(inputS)} s, ground truth ${fmt2(gtS)} s")
      warmUp(live)(idx.searchRerank(_, vectors, K, depth))
      checkTruth(r, gt, gradedMap, live, dist)
      // a traced batch also runs the ADC pass alone, after the timed
      // search, so that the ADC layer has a span of its own
      val adc: DataFrame => Unit = q => r.tracer.span("ivfpq.adc")(idx.searchAll(q, depth).collect())
      reportSearch(timedLoop("ivfpq.search", live, adc)(idx.searchRerank(_, vectors, K, depth)))

      val gradedDf = gradedFrame
      grade(r, idx.searchRerank(gradedDf, vectors, K, depth), gt, Graded)
      if (r.opts.trace) {
        reportSpans(r)
        ivfpqRatios(idx, gradedDf, gt)
        r.layers("exact.pairs_scored") = Metric(Graded.toDouble * n, "count")
      }
    }

    /** Codes the ADC scan reads per graded query (cell sizes of the
      * probed cells) and the share of its depth-100 candidates that are
      * true top-k neighbours. */
    def ivfpqRatios(idx: IvfPqIndex, gradedDf: DataFrame, gt: DataFrame): Unit = r.untraced {
      val sizes = idx.cellStats.collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      val scanned = gradedQs.map { case (_, v) =>
        val norm = math.sqrt(v.map(x => x * x).sum)
        idx.model.ivf.probeCells(v.map(_ / norm)).map(c => sizes.getOrElse(c, 0L)).sum
      }
      val adc = idx.searchAll(gradedDf, depth).select("query_id", "vec_id").persist()
      val nAdc = adc.count()
      val useful = adc.join(gt.select("query_id", "vec_id"), Seq("query_id", "vec_id")).count()
      adc.unpersist()
      r.layers("ivfpq.codes_scanned_per_query") = Metric(scanned.sum.toDouble / Graded, "count")
      r.layers("ivfpq.useful_ratio") = Metric(useful.toDouble / nAdc, "ratio")
    }
  }

  // ----------------------------------------------------------- lsh-ingest-mixed

  /** An LSH store saved from 90% of a 64-d corpus, maintained by
    * `LshMaintainer(compactEvery = 4)`; each batch brings new ids,
    * upserts (ids in both arrivals and deletes) and pure deletes, and is
    * followed by one read batch through `maintainer.index`. */
  final class LshIngest(r0: Run) extends Workload(r0) {
    val gen = Gen(r.opts.seed, 64, ClusterSize, Spread)
    val n = 20000L
    val baseN = n * 9 / 10
    val dist = l2 _
    val metric = ExactNN.L2
    val compactEvery = 4
    val NewPerBatch = 150
    val UpsertsPerBatch = 100
    val DeletesPerBatch = 90
    val userBytesPerRow = 8L + 8L * gen.dims

    /** Driver-side truth of the store: live version per id (-1 dead). */
    final class Live {
      val version: Array[Int] = Array.tabulate(n.toInt)(i => if (i < baseN) 0 else -1)
      var count: Long = baseN
      var seq = 0
      val rng = new java.util.SplittableRandom(r.opts.seed * 31 + 7)
      private var nextNew = baseN
      def get(id: Long): Option[Array[Double]] =
        if (id < 0 || id >= n || version(id.toInt) < 0) None
        else Some(gen.vector(id, version(id.toInt)))

      private def pickLive(taken: mutable.Set[Long]): Long = {
        var id = rng.nextLong(n)
        while (version(id.toInt) < 0 || taken(id)) id = rng.nextLong(n)
        taken += id
        id
      }
      private def pickNew(taken: mutable.Set[Long]): Long = {
        // fresh ids first; once they run out, re-insert deleted ones
        if (nextNew < n) { nextNew += 1; taken += nextNew - 1; nextNew - 1 }
        else {
          var id = rng.nextLong(n)
          while (version(id.toInt) >= 0 || taken(id)) id = rng.nextLong(n)
          taken += id
          id
        }
      }

      /** The next batch: (arrivals, tombstones), applied to this state. */
      def next(): (Seq[(Long, Array[Double])], Seq[Long]) = {
        seq += 1
        val taken = mutable.Set.empty[Long]
        val ups = Seq.fill(UpsertsPerBatch)(pickLive(taken))
        val dels = Seq.fill(DeletesPerBatch)(pickLive(taken))
        val fresh = Seq.fill(NewPerBatch)(pickNew(taken))
        dels.foreach(id => version(id.toInt) = -1)
        (ups ++ fresh).foreach(id => version(id.toInt) = seq)
        count += fresh.size - dels.size
        ((ups ++ fresh).map(id => id -> gen.vector(id, seq)), ups ++ dels)
      }
    }

    def idFrame(ids: Seq[Long]): DataFrame = {
      import r.spark.implicits._
      ids.toDF("vec_id")
    }
    def vecFrame(rows: Seq[(Long, Array[Double])]): DataFrame =
      r.queryFrame(rows).toDF("vec_id", "embedding")

    /** Train, materialize and save an LSH store from `corpus`. */
    def buildStore(corpus: DataFrame, path: String): LshIndex = {
      val i = r.tracer.span("lsh.fit")(Lsh.train(corpus, "vec_id", "embedding",
        LshConfig(nTrees = 10, kMinVecs = 50, seed = r.opts.seed)))
      r.tracer.span("lsh.index") { i.vectors.persist().count(); i.buckets.persist().count() }
      r.put("index_mem_mb", r.storageMb(), "MB")
      r.tracer.span("lsh.save")(i.save(r.spark, path))
      i
    }

    /** Release a built store: its cached tables and its files. */
    def dropStore(i: LshIndex, path: String): Unit = {
      i.vectors.unpersist(blocking = true)
      i.buckets.unpersist(blocking = true)
      deleteDir(new java.io.File(path))
    }

    def run(): Unit = {
      val path = s"${r.opts.work}/store"
      val (base, inputS) = r.timed(input(gen.corpus(r.spark, baseN)))
      r.setupS += inputS
      build[LshIndex](dropStore(_, path))(buildStore(base, path))
      // the maintainer serves from the saved store
      r.clearCache()
      val live = new Live
      val maint = new LshMaintainer(r.spark, path, compactEvery = compactEvery)
      val (_, warmS) = r.timed {
        write(maint, live, "warmup")
        batch("warmup", queries(WarmStream, 0, Batch), live.get)(maint.index.searchAll(_, K, Threshold))
      }
      r.setupS += warmS

      // closed loop: one write batch, then one read batch, repeated
      val writes = mutable.ArrayBuffer.empty[(Double, Boolean, Int)]
      val reads = mutable.ArrayBuffer.empty[Double]
      val tracedReads = mutable.ArrayBuffer.empty[Double]
      var depthMax = 0L
      val deadline = System.nanoTime() + r.opts.seconds * 1000000000L
      // whole compaction cycles, so every run has the same mix of
      // compacting and plain batches; a traced run makes exactly one, so
      // its counts repeat
      var b = 0
      def more = b == 0 || b % compactEvery != 0 || (!r.opts.trace && System.nanoTime() < deadline)
      while (more) {
        r.tracer.setActive(true)
        writes += write(maint, live, "")
        if (r.opts.trace) depthMax = math.max(depthMax, logDepth(path))
        val on = b % 2 == 0
        r.tracer.setActive(on)
        val w = batch("lsm.view_search", queries(TimedStream, b.toLong * Batch, Batch), live.get)(
          maint.index.searchAll(_, K, Threshold))
        (if (on && r.opts.trace) tracedReads else reads) += w
        b += 1
      }
      r.tracer.setActive(true)

      // final state: live count, ground truth over the live view, grading
      val t0 = System.nanoTime()
      val liveVecs = r.untraced {
        val v = maint.index.vectors.persist()
        val c = v.count()
        r.op("final live count")(Option.when(c != live.count)(
          s"store holds $c live vectors, expected ${live.count}").toSeq)
        v
      }
      val gradedDf = gradedFrame
      val gt = groundTruth(r, gradedDf, liveVecs, metric)
      val finalS = (System.nanoTime() - t0) / 1e9
      r.setupS += finalS
      r.note(s"set-up: input ${fmt2(inputS)} s, " +
        s"warm write and read ${fmt2(warmS)} s, final count and ground truth ${fmt2(finalS)} s")
      checkTruth(r, gt, gradedMap, live.get, dist)
      reportSearch((reads ++ tracedReads).toSeq)
      if (r.opts.trace)
        r.layers("trace.overhead_s") = Metric(medianOf(tracedReads.toSeq) - medianOf(reads.toSeq), "s")
      grade(r, maint.index.searchAll(gradedDf, K, Threshold), gt, Graded)

      val rows = writes.map(_._3).sum
      val plain = writes.filterNot(_._2).map(_._1)
      val compacting = writes.filter(_._2).map(_._1)
      r.extra("ingest_rows_per_s") = Metric(rows / writes.map(_._1).sum, "rows/s")
      r.extra("ingest_batch_p50_s") = Metric(medianOf(plain.toSeq), "s")
      r.extra("compaction_s") = Metric(if (compacting.isEmpty) Double.NaN else medianOf(compacting.toSeq), "s")
      r.extra("store_bytes_per_user_byte") =
        Metric(dirBytes(new java.io.File(path)).toDouble / (live.count * userBytesPerRow), "ratio")
      r.note(s"${writes.size} write batches, ${compacting.size} compacting")

      if (r.opts.trace) {
        val t = reportSpans(r)
        val lsm = Seq("lsm.append", "lsm.compact").flatMap(t.get)
        r.layers("lsm.bytes_written_per_user_byte") = Metric(
          lsm.map(_.work.bytesWritten).sum.toDouble / tracedUserBytes, "ratio")
        r.layers("lsm.files_written") = Metric(lsm.map(_.work.filesWritten).sum.toDouble, "count")
        r.layers("lsm.log_depth_max") = Metric(depthMax.toDouble, "count")
        r.layers("lsm.compactions") = Metric(compacting.size.toDouble, "count")
        lshRatios(r, maint.index, gradedDf, gt)
        r.layers("exact.pairs_scored") = Metric(Graded.toDouble * live.count, "count")
      }
    }

    private var tracedUserBytes = 0L

    /** One write batch: (onBatch wall, compacted?, rows = arrivals +
      * tombstones). The read after it checks what it wrote; a write that
      * throws aborts the run. */
    def write(maint: LshMaintainer, live: Live, span: String): (Double, Boolean, Int) = {
      val (arr, dels) = live.next()
      val a = vecFrame(arr)
      val d = idFrame(dels)
      val compacts = maint.compactionDue
      val name = if (span.nonEmpty) span else if (compacts) "lsm.compact" else "lsm.append"
      if (r.tracer.isActive && span.isEmpty)
        tracedUserBytes += arr.size * userBytesPerRow + dels.size * 8L
      val (_, secs) = r.timed(r.tracer.span(name)(maint.onBatch(Some(a), Some(d))))
      r.op(name)(Nil)
      (secs, compacts, arr.size + dels.size)
    }

    /** Committed batches not yet folded by a compaction, read from the
      * store's fence marker and commit log. */
    def logDepth(path: String): Long = r.untraced {
      val fence = {
        val f = new java.io.File(s"$path/_lsm_fence")
        if (f.exists) new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLong else 0L
      }
      r.spark.read.parquet(s"$path/batch_commits").where(col("seq") > fence)
        .select("seq").distinct().count()
    }

    def deleteDir(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteDir)
      f.delete()
    }

    def dirBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length
  }

  /** Cluster geometry shared by the workloads (see [[Gen]]): 50-point
    * clusters with noise 1.1 put LSH recall at 10 near 0.94 on the 64-d
    * corpus, the reference's operating point. */
  val ClusterSize = 50
  val Spread = 1.1
}
