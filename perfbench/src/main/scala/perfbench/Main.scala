package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <n> --work <dir>`.
  *
  * Prints one line per reported metric (name, value, unit), the run's
  * contention stamp, any failed check, and as its last line one JSON
  * object with `correct`, `attempted`, `failed` and `metrics` (the
  * end-to-end metrics, or the per-layer ones when traced). Writes the
  * same record, with the spans and the ingest-only figures, to
  * `<work>/record.json`. Exits 1 when any check failed. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val load0 = load1m()
    val cpu0 = processCpuS()
    val wall0 = System.nanoTime()

    val (spark, sessionS) = timedS {
      val s = SparkSession.builder()
        .master(s"local[${opts.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", opts.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"${opts.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val run = new Run(spark, opts, new Tracer(spark, opts.trace))
    run.setupS = sessionS
    run.note(f"session start $sessionS%.2f s")
    try {
      Workloads.run(run)
      run.put("setup_s", run.setupS, "s")
    }
    catch {
      case e: Exception =>
        run.attempted += 1
        run.failed += 1
        run.failures += s"workload aborted: $e"
        e.printStackTrace()
    }
    val spans = run.tracer.spans
    spark.stop()

    val wallS = (System.nanoTime() - wall0) / 1e9
    val stamp = Seq(
      "load1_before" -> load0, "load1_after" -> load1m(),
      "cpu_per_wall" -> (processCpuS() - cpu0) / wallS, "wall_s" -> wallS, "cores" -> opts.cores.toDouble)
    run.extra("failed_ops_frac") =
      Metric(run.failed.toDouble / math.max(1L, run.attempted), "ratio")

    val reported = if (opts.trace) run.layers else run.metrics
    val correct = run.failed == 0

    (run.metrics ++ run.extra).foreach { case (k, m) => println(f"$k%-28s ${fmt(m.value)}%14s ${m.unit}") }
    if (opts.trace) {
      println("per-layer counts (repeat exactly for one seed):")
      run.layers.filter(_._2.unit == "count").foreach { case (k, m) =>
        println(f"  $k%-36s ${fmt(m.value)}%14s") }
      println("per-layer timings:")
      run.layers.filterNot(_._2.unit == "count").foreach { case (k, m) =>
        println(f"  $k%-36s ${fmt(m.value)}%14s ${m.unit}") }
    }
    println("stamp " + stamp.map { case (k, v) => s"$k=${fmt(v)}" }.mkString(" "))
    run.failures.foreach(f => println(s"CHECK FAILED: $f"))

    val record = obj(Seq(
      "workload" -> str(opts.workload), "seed" -> opts.seed.toString,
      "seconds" -> opts.seconds.toString, "trace" -> opts.trace.toString,
      "correct" -> correct.toString, "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> metricsJson(run.metrics), "extra" -> metricsJson(run.extra),
      "per_layer" -> metricsJson(run.layers),
      "stamp" -> obj(stamp.map { case (k, v) => k -> fmt(v) }),
      "notes" -> arr(run.notes.map(str).toSeq), "failures" -> arr(run.failures.map(str).toSeq),
      "spans" -> arr(spans.map(s => obj(Seq("id" -> s.id.toString, "name" -> str(s.name),
        "parent" -> s.parent.toString, "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString))))))
    Files.write(new File(opts.work, "record.json").toPath, record.getBytes(UTF_8))

    println(obj(Seq("correct" -> correct.toString, "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString, "metrics" -> metricsJson(reported))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w; one of ${Workloads.names.mkString(", ")}")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, need("work"))
  }

  private def timedS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def load1m(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Every digit of a double; non-finite values as JSON null. */
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  private def metricsJson(ms: collection.Map[String, Metric]): String =
    obj(ms.toSeq.map { case (k, m) => k -> obj(Seq("value" -> fmt(m.value), "unit" -> str(m.unit))) })
}
