package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.ExactNN
import graft.eval.Eval

/** One benchmark run: the session, the tracer, the checks and every
  * number the run reports. */
final class Run(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {

  /** End-to-end metrics, in the order they were measured. */
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  /** Metrics a workload prints and records without declaring them in
    * BENCHMARK.json (ingest-only figures, the grading time, the failure
    * fraction). */
  val extra = mutable.LinkedHashMap.empty[String, Metric]
  /** Per-layer metrics of a traced run. */
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val notes = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** `setup_s` so far: session start, input generation,
    * exact ground truth and the untimed cold batches. */
  var setupS = 0.0

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = Metric(value, unit)

  /** Count one operation; it fails when any of its check messages is
    * non-empty. */
  def op(what: String)(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      failures ++= problems.take(3).map(p => s"$what: $p")
    }
  }

  def note(s: String): Unit = { notes += s; println(s"[perfbench] $s") }

  /** Wall seconds of `f`. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Untimed work the benchmark does for its own bookkeeping: never
    * attributed to a traced span. */
  def untraced[T](f: => T): T = {
    val was = tracer.isActive
    tracer.setActive(false)
    try f finally tracer.setActive(was)
  }

  /** Storage memory (MB) the block manager holds right now. */
  def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  /** Drop every persisted frame. */
  def clearCache(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** A (query_id, qv) batch built on the driver: a local relation, so a
    * timed search never re-runs input generation. */
  def queryFrame(qs: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      qs.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(StructField("query_id", LongType, false),
        StructField("qv", ArrayType(DoubleType, false), false))))
}

final case class Metric(value: Double, unit: String)

/** Parsed command line; `work` is the run's scratch directory. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, work: String)

/** Search results as the driver sees them: rows per query in the order
  * the engine emitted them. */
final case class Hit(vecId: Long, dist: Double)

object Run {
  val K = 10
  val Eps = 0.05
  /** Gradings per run; one grading is a few short Spark jobs, so its
    * wall time is noisy and `grade_s` takes the median. */
  val GradeRepeats = 3
  val GradeWarmups = 1
  /** Accept radius for every search: wide enough to never cut a true
    * top-k neighbour, so results are pure top-k. */
  val Threshold = 1e9

  /** Collected (query_id, vec_id, dist) rows grouped per query, emitted
    * order kept. */
  def hitsByQuery(rows: Array[Row]): Map[Long, Seq[Hit]] = {
    val m = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Hit]]
    rows.foreach { r =>
      m.getOrElseUpdate(r.getAs[Long]("query_id"), mutable.ArrayBuffer.empty) +=
        Hit(r.getAs[Long]("vec_id"), r.getAs[Double]("dist"))
    }
    m.view.mapValues(_.toSeq).toMap
  }

  /** The output checks every search batch must pass: every query is
    * answered with at most k rows, no id twice, distances non-decreasing
    * in emitted order, every id live, and every reported distance equal
    * (to the engine's 6-decimal rounding) to the distance recomputed on
    * the driver from the generator. */
  def checkHits(hits: Map[Long, Seq[Hit]], queries: Map[Long, Array[Double]],
                live: Long => Option[Array[Double]], dist: (Array[Double], Array[Double]) => Double)
      : Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val missing = queries.keySet -- hits.keySet
    if (missing.nonEmpty) out += s"${missing.size} queries got no rows"
    val extraQ = hits.keySet -- queries.keySet
    if (extraQ.nonEmpty) out += s"${extraQ.size} rows for unknown queries"
    hits.foreach { case (q, hs) =>
      if (hs.size > K) out += s"query $q got ${hs.size} rows > k=$K"
      if (hs.map(_.vecId).distinct.size != hs.size) out += s"query $q repeats an id"
      if (hs.zip(hs.drop(1)).exists { case (a, b) => b.dist < a.dist })
        out += s"query $q distances decrease"
      queries.get(q).foreach { qv =>
        hs.foreach { h =>
          live(h.vecId) match {
            case None => out += s"query $q served id ${h.vecId} that is not live"
            case Some(v) =>
              val d = dist(qv, v)
              if (math.abs(d - h.dist) > 2e-6)
                out += s"query $q id ${h.vecId} dist ${h.dist} != $d"
          }
        }
      }
    }
    out.toSeq
  }

  def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Same formula and zero-norm rule as the engine's cosine distance. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val tol = graft.functions.VectorFunctions.Tol
    if (math.sqrt(na) <= tol || math.sqrt(nb) <= tol) 1.0
    else { val d = 1.0 - dot / (math.sqrt(na) * math.sqrt(nb)); if (d < tol) 0.0 else d }
  }

  /** (query_id, vec_id, dist) plus the 1-based `pos` Eval expects. */
  def ranked(df: DataFrame): DataFrame =
    df.withColumn("pos", row_number().over(
      Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))))

  /** Exact ground truth for the graded queries, persisted. */
  def groundTruth(run: Run, graded: DataFrame, corpus: DataFrame,
                  metric: ExactNN.Metric): DataFrame = run.tracer.span("exact.topk") {
    val gt = ranked(ExactNN.topK(graded, corpus, K, metric)).persist()
    gt.count()
    gt
  }

  def fmt2(x: Double): String = f"$x%.2f"

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile of `xs` with at least ten samples beyond it,
    * as (value, percentile); None below 11 samples. */
  def tailOf(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted; val n = s.size
    Option.when(n >= 11)((s(n - 11), 100.0 * (n - 10) / n))
  }

  /** Grade predictions against ground truth (Eval, eps 0.05): sets
    * recall_at_10, precision_at_10 and the undeclared grade_s (the median of
    * `GradeRepeats` gradings of the persisted inputs, after
    * `GradeWarmups` untimed ones: a grading's wall keeps falling over its
    * first few calls in a run); checks that the graded subset is whole,
    * recall is not broken and every grading agrees. */
  def grade(run: Run, preds: DataFrame, gt: DataFrame, nGraded: Int): Unit = {
    val p = ranked(preds).persist()
    p.count()
    def once(): Row = Eval.distanceBasedPrecisionRecall(p, gt, Eps)
      .agg(avg("precision"), avg("recall"), count(lit(1))).head()
    val warm = run.untraced(Seq.fill(GradeWarmups)(once()))
    val grades = Seq.fill(GradeRepeats)(run.timed(run.tracer.span("eval.grade")(once())))
    p.unpersist()
    val row = warm.head
    val secs = medianOf(grades.map(_._2))
    run.note(s"grade walls ${grades.map(g => fmt2(g._2)).mkString(" ")} s")
    val (precision, recall, n) = (row.getDouble(0), row.getDouble(1), row.getLong(2))
    run.put("recall_at_10", recall, "ratio")
    run.put("precision_at_10", precision, "ratio")
    run.extra("grade_s") = Metric(secs, "s")
    run.op("grade")(Seq(
      Option.when(n != nGraded)(s"graded $n of $nGraded queries"),
      Option.when((warm ++ grades.map(_._1)).distinct.size != 1)("gradings of the same inputs disagree"),
      Option.when(!(recall >= 0.5))(s"recall $recall below 0.5")).flatten)
  }

  /** Check the ground truth itself: k rows per graded query, distances
    * as recomputed on the driver. */
  def checkTruth(run: Run, gt: DataFrame, graded: Map[Long, Array[Double]],
                 live: Long => Option[Array[Double]],
                 dist: (Array[Double], Array[Double]) => Double): Unit = {
    val hits = hitsByQuery(gt.orderBy("query_id", "pos").collect())
    val short = hits.count(_._2.size != K)
    run.op("ground truth")(checkHits(hits, graded, live, dist) ++
      Option.when(short > 0)(s"$short graded queries lack $K exact neighbours"))
  }
}
