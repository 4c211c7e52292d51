package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated percentile (0 for no samples). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Benchmark entry point; see README.md. Prints a summary line and, as
  * the last line, the result JSON object.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, runDir: String, refs: String, traceOut: String, record: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("run-dir"), need("refs"), need("trace-out"), m.get("record").contains("1"))
  }

  def workload(name: String): Workload = name match {
    case "dedup_pipeline" => new DedupPipeline
    case "lakehouse_rw" => new Lakehouse
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** graft.Bench's session configuration; the run directory settings
    * only move scratch files out of shared locations.
    */
  def session(runDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A private copy of the input tables inside the run directory. */
  def copyInputs(src: String, dst: Path): String = {
    Files.createDirectories(dst)
    Files.list(Paths.get(src)).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
      if (Files.isDirectory(f)) {
        Files.walk(f).iterator().asScala.foreach { g =>
          val t = dst.resolve(f.getFileName).resolve(f.relativize(g))
          if (Files.isDirectory(g)) Files.createDirectories(t)
          else Files.copy(g, t, StandardCopyOption.REPLACE_EXISTING)
        }
      } else Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    dst.toString
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workload(a.workload)
    val base = session(a.runDir)
    val host0 = Host.sample()

    // set-up: everything from JVM start to the first timed operation
    val dir = copyInputs(a.data, Paths.get(a.runDir, "data"))
    val ctx = new Ctx(base, dir, Paths.get(a.runDir, "work").toString, a.seed, new Tracer(None))
    w.setup(ctx)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // timed passes: pass 0 is cold; with --trace 1 warm passes
    // alternate untraced and traced, so the trace overhead is measured
    // in the same run; more warm passes follow while --seconds allows
    val listener = if (a.trace) {
      val l = new LayerListener(base.sparkContext)
      base.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val untraced = new Tracer(None)
    val traced = new Tracer(listener)
    val passS = scala.collection.mutable.ArrayBuffer[(Int, Boolean, Double)]()
    val heapMb = scala.collection.mutable.ArrayBuffer[Double]()
    val passGcMs = scala.collection.mutable.ArrayBuffer[Double]()
    val minPasses = if (a.trace) 3 else 2
    var measured = 0.0
    var p = 0
    def lastPass = passS.lastOption.map(_._3).getOrElse(0.0)
    while (p < minPasses || measured + lastPass <= a.seconds) {
      w.preparePass(ctx, p)
      val isTraced = a.trace && p > 0 && p % 2 == 0
      val tracer = if (isTraced) traced else untraced
      tracer.pass = p
      ctx.tracer = tracer
      ctx.pass = p
      val gc0 = gcMs()
      ctx.untimedNs = 0L
      val t0 = System.nanoTime()
      w.pass(ctx, p)
      val s = (System.nanoTime() - t0 - ctx.untimedNs) / 1e9
      passGcMs += (gcMs() - gc0).toDouble
      heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passS += ((p, isTraced, s))
      measured += s
      p += 1
    }
    val host1 = Host.sample()

    val refs = new Refs(a.refs)
    w.check(ctx, refs, a.record)
    if (a.record) refs.save()

    val warmUntraced = passS.filter { case (i, tr, _) => i > 0 && !tr }.map(_._3)
    val warmTraced = passS.filter(_._2).map(_._3)
    val opMs = ctx.samples.filter(s => s.pass > 0 && !passS(s.pass)._2 && w.opKinds(s.kind)).toSeq
    // fastest of the warm passes, per pass and per operation, as
    // graft.Bench takes its minimum of reps: contention only adds time
    val opBest = opMs.groupBy(s => (s.kind, s.name)).values.map(_.map(_.ms).min).toSeq
    def ofKind(kind: String) =
      ctx.samples.filter(s => s.pass > 0 && !passS(s.pass)._2 && s.kind == kind).map(_.ms).toSeq

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", warmUntraced.min, "s"),
      ("cold_pass_s", passS.head._3, "s"),
      ("op_p50_ms", Stats.percentile(opBest, 50), "ms"))

    val (otherCpu, steal) = Host.between(host0, host1)
    def j(d: Double): String = if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).toString
    val byKind = Seq("query", "commit", "read", "step").map(k => k -> ofKind(k)).filter(_._2.nonEmpty).map {
      case (k, xs) => s""""${k}_p50_ms":${j(Stats.percentile(xs, 50))},""" +
        s""""${k}_p90_ms":${j(Stats.percentile(xs, 90))},"${k}_n":${xs.size}"""
    }
    val extra = w match {
      case l: Lakehouse => Seq(s""""stored_bytes_per_input_byte":${j(l.storedPerInput())}""")
      case _ => Seq.empty
    }
    val summary = (Seq(
      s""""workload":"${a.workload}"""", s""""seed":${a.seed}""", s""""trace":${a.trace}""",
      endToEnd.map { case (k, v, _) => s""""$k":${j(v)}""" }.mkString(","),
      s""""pass_samples_s":[${passS.map(x => j(x._3)).mkString(",")}]""",
      s""""op_n":${opMs.size}""") ++ byKind ++ extra ++ Seq(
      s""""failed_op_frac":${j(ctx.failed.toDouble / math.max(1, ctx.attempted))}""",
      s""""host":{"other_cpu_pct":${j(otherCpu)},"steal_pct":${j(steal)},""" +
        s""""loadavg_start":${j(host0.loadavg)},"loadavg_end":${j(host1.loadavg)},""" +
        s""""cpus":${Runtime.getRuntime.availableProcessors}}""")).mkString("{", ",", "}")
    println(s"perfbench summary: $summary")
    ctx.failures.foreach { case (id, why) => println(s"perfbench failure: $id: $why") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd
      else {
        val spans = traced.spans.toSeq
        val layer = Layers.metrics(spans) ++ w.layerMetrics(ctx, spans) ++ Map(
          "jvm.heap_used_mb" -> Stats.percentile(heapMb.toSeq, 50),
          "jvm.gc_ms" -> Stats.percentile(passGcMs.drop(1).toSeq, 50),
          "trace_overhead_pct" ->
            (warmTraced.min / warmUntraced.min - 1) * 100)
        Layers.write(a.traceOut, summary, spans, layer)
        Layers.Names.map { case (name, unit) => (name, layer.getOrElse(name, 0.0), unit) }
      }
    val metricsJson = metrics.map { case (k, v, u) => s""""$k":{"value":${j(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val correct = ctx.failed == 0
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$metricsJson}""")
    System.out.flush()
    base.stop()
  }
}
