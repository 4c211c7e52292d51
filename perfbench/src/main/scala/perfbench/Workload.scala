package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** One latency sample of a timed operation. */
final case class Sample(kind: String, name: String, pass: Int, ms: Double)

/** State shared by a workload's set-up, passes and checks. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
    val seed: Long, var tracer: Tracer) {
  val samples = mutable.ArrayBuffer[Sample]()
  private val failedOps = mutable.LinkedHashMap[String, String]()
  var attempted = 0
  var pass = 0

  /** Times `body` as one operation. A throw counts the operation as
    * failed and leaves no latency sample.
    */
  def timed[T](kind: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.op(s"op.$kind")(body)
      samples += Sample(kind, name, pass, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$pass/$kind/$name", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Marks operation `id` failed (once, however many checks it fails). */
  def fail(id: String, why: String): Unit =
    if (!failedOps.contains(id)) failedOps(id) = why

  /** Nanoseconds of the current pass spent outside timed operations. */
  var untimedNs = 0L

  /** Input generation or checking inside a pass; not part of pass time. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  def failed: Int = failedOps.size
  def failures: Seq[(String, String)] = failedOps.toSeq
}

trait Workload {
  def name: String

  /** The work done before the first operation of a session; part of
    * `setup_s`, which runs from JVM start.
    */
  def setup(ctx: Ctx): Unit

  /** Untimed preparation before pass `p`. */
  def preparePass(ctx: Ctx, p: Int): Unit = ()

  /** One pass of timed operations. */
  def pass(ctx: Ctx, p: Int): Unit

  /** Output checks, after the timed section. `record` writes the
    * reference instead of comparing against it (dedup_pipeline).
    */
  def check(ctx: Ctx, refs: Refs, record: Boolean): Unit

  /** Sample kinds whose latencies make up `op_p50_ms`. */
  def opKinds: Set[String] = Set("query")

  /** Workload-specific per-layer metrics from the traced spans. */
  def layerMetrics(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = Map.empty
}

object Content {
  /** Floating values are compared at 4 decimals (the repo's
    * cross-engine float rule); maps by sorted entries.
    */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      if (st.isEmpty) c
      else struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("key"), norm(e.getField("value"), vt).as("value"))))
    case _ => c
  }

  /** (row count, order-insensitive content hash) of `df` in one job. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), r.get(1).toString)
  }
}

/** Reference (rows, hash) per operation, recorded at the commit that
  * introduced the benchmark; see README.md for how to re-record.
  */
final class Refs(path: String) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val file = new java.io.File(path)
  private val root: com.fasterxml.jackson.databind.node.ObjectNode =
    if (file.exists()) mapper.readTree(file).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    else mapper.createObjectNode()

  def get(workload: String, op: String): Option[(Long, String)] =
    Option(root.get(workload)).flatMap(w => Option(w.get(op)))
      .map(n => (n.get("rows").asLong(), n.get("hash").asText()))

  def put(workload: String, op: String, rows: Long, hash: String): Unit = {
    val w = Option(root.get(workload)).map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(root.putObject(workload))
    w.putObject(op).put("rows", rows).put("hash", hash)
  }

  def save(): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
}
