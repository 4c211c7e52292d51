package perfbench

import graft.catalog.{Catalog, MapDatabase}
import graft.core.{Filter, Filters}
import graft.tables._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Writes beside reads. The three rounds of a pass commit an append, a
  * merge and a delete-where of sf0.1 `lineitem` rows, with seeded key
  * ranges, to a Delta, an Iceberg and a Hudi table, each round then
  * reading every table back through
  * `TableProtocol.apply` with a seeded key-range filter. A
  * hive-partitioned parquet table gains one partition per round
  * (written with plain Spark, untimed) and is read through
  * `Catalog.db(..).table(..)` with a partition-equality filter.
  *
  * A pass starts from freshly created tables, so every pass replays
  * the same number of versions. A plain Scala model of the live rows
  * checks every read count and each table's final contents.
  */
final class Lakehouse extends Workload {
  val name = "lakehouse_rw"

  private val Batch = 4000
  private val InitialRows = 5 * Batch
  private val Formats = Seq("delta", "iceberg", "hudi")
  private val Ops = Seq("append", "merge", "delete")
  private val Rounds = Ops.size
  /** Fixed-width size of one logical row: four 8-byte values and a flag. */
  private val RowBytes = 33

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_returnflag", StringType)))

  // the key universe: lineitem rows in a fixed order, k = position
  private var orderkey: Array[Long] = Array.empty
  private var partkey: Array[Long] = Array.empty
  private var quantity: Array[Long] = Array.empty
  private var flag: Array[String] = Array.empty

  /** One set of tables plus the model of what they must hold. */
  private final class TableSet(val root: String) {
    val model = mutable.LongMap[Long]()
    var next = 0L
    val partRows = mutable.LinkedHashMap[Int, Long]()
    def path(fmt: String) = s"$root/$fmt"
    val partsUri = s"$root/parquet"
    val catalog = new Catalog(Map("lake" -> new MapDatabase(Map(
      "lineitem_rounds" -> new ParquetTable("lineitem_rounds", partsUri,
        partitioning = Seq(Partition("round", IntegerType)))))))
  }

  private var tables: TableSet = _
  private var setCount = 0

  /** Collects the key universe once per process. */
  private def loadUniverse(spark: SparkSession, dataDir: String): Unit = {
    val rows = spark.read.parquet(s"$dataDir/lineitem.parquet")
      .where(col("l_orderkey") < 12000)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_linenumber", "l_suppkey")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
      .limit(InitialRows + 2 * Rounds * Batch)
      .collect()
    orderkey = rows.map(_.getLong(0))
    partkey = rows.map(_.getLong(1))
    quantity = rows.map(_.getDouble(2).toLong)
    flag = rows.map(_.getString(3))
  }

  private def frame(spark: SparkSession, ks: Seq[Long], qty: Long => Long): DataFrame = {
    val rows = ks.map(k => Row(k, orderkey(k.toInt), partkey(k.toInt), qty(k).toDouble, flag(k.toInt)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def keyRange(a: Long, b: Long): Filters.Normalized =
    Filters.normalize(Seq(Filter("k", ">=", a), Filter("k", "<", b)))

  private def newTables(ctx: Ctx): TableSet = {
    setCount += 1
    val ts = new TableSet(s"${ctx.workDir}/lake$setCount")
    val keys = (0L until InitialRows.toLong)
    val df = frame(ctx.spark, keys, k => quantity(k.toInt))
    DeltaWrite.append(ctx.spark, df, ts.path("delta"))
    IcebergWrite.append(ctx.spark, df, ts.path("iceberg"))
    HudiWrite.bulkInsert(ctx.spark, df, ts.path("hudi"), "k")
    keys.foreach(k => ts.model(k) = quantity(k.toInt))
    ts.next = InitialRows
    writePartition(ctx, ts, 0, keys)
    ts
  }

  /** Input generation for the parquet table: plain Spark, not graft. */
  private def writePartition(ctx: Ctx, ts: TableSet, round: Int, keys: Seq[Long]): Unit = {
    frame(ctx.spark, keys, k => quantity(k.toInt)).coalesce(1)
      .write.parquet(s"${ts.partsUri}/round=$round")
    ts.partRows(round) = keys.size.toLong
  }

  override def setup(ctx: Ctx): Unit = {
    loadUniverse(ctx.spark, ctx.dataDir)
    tables = newTables(ctx)
  }

  override def preparePass(ctx: Ctx, p: Int): Unit =
    if (p > 0) tables = newTables(ctx)

  private def table(fmt: String, path: String): TableProtocol = fmt match {
    case "delta" => new DeltaTable("lineitem_delta", path)
    case "iceberg" => new IcebergTable("lineitem_iceberg", path)
    case "hudi" => new HudiTable("lineitem_hudi", path)
  }

  override def pass(ctx: Ctx, p: Int): Unit = {
    val ts = tables
    val spark = ctx.spark
    val t = ctx.tracer
    val rnd = new scala.util.Random(ctx.seed * 1000003L + p)
    (1 to Rounds).foreach { round =>
      // every pass makes the same commits in the same order; the seed
      // picks batch-aligned key ranges and values, so a commit or read
      // touches the same amount of data whichever range it gets
      val op = Ops(round - 1)
      val (batchKeys, commit): (Seq[Long], String => Unit) = ctx.untimed(op match {
        case "append" =>
          val ks = ts.next until ts.next + Batch
          val df = frame(spark, ks, k => quantity(k.toInt))
          ts.next += Batch
          ks.foreach(k => ts.model(k) = quantity(k.toInt))
          (ks, {
            case "delta" => DeltaWrite.append(spark, df, ts.path("delta"))
            case "iceberg" => IcebergWrite.append(spark, df, ts.path("iceberg"))
            case "hudi" => HudiWrite.bulkInsert(spark, df, ts.path("hudi"), "k")
          })
        case "merge" =>
          // half the batch updates live keys, half inserts new ones
          val a = ts.next - Batch / 2
          val d = 1 + rnd.nextInt(9)
          val ks = a until a + Batch
          val df = frame(spark, ks, k => quantity(k.toInt) + d)
          ts.next = math.max(ts.next, a + Batch)
          ks.foreach(k => ts.model(k) = quantity(k.toInt) + d)
          (ks, {
            case "delta" => DeltaWrite.merge(spark, ts.path("delta"), df, Seq("k"))
            case "iceberg" => IcebergWrite.upsertEquality(spark, df, ts.path("iceberg"), Seq("k"))
            case "hudi" => HudiWrite.upsert(spark, df, ts.path("hudi"))
          })
        case "delete" =>
          val a = rnd.nextInt((ts.next / Batch).toInt).toLong * Batch + Batch / 4
          val ks = a until a + Batch / 2
          val fs = keyRange(a, a + Batch / 2)
          ks.foreach(ts.model.remove)
          (ks, {
            case "delta" => DeltaWrite.deleteWhere(spark, ts.path("delta"), fs)
            case "iceberg" => IcebergWrite.deleteWhere(spark, ts.path("iceberg"), fs)
            case "hudi" => HudiWrite.deleteMatching(spark, ts.path("hudi"), fs)
          })
      })
      val commitMs = Formats.map { fmt =>
        fmt -> ctx.timed("commit", s"$fmt.$op") {
          t.span(s"tables.commit.$fmt.$op")(commit(fmt))
        }.map(_ => ctx.samples.last.ms)
      }.toMap
      ctx.untimed(writePartition(ctx, ts, round, batchKeys))

      val lo = rnd.nextInt((ts.next / Batch).toInt).toLong * Batch
      val expect = ctx.untimed(ts.model.keysIterator.count(k => k >= lo && k < lo + Batch).toLong)
      Formats.foreach { fmt =>
        val tbl = table(fmt, ts.path(fmt))
        ctx.timed("read", fmt) {
          val df = t.span(s"tables.snapshot.$fmt")(tbl(spark, ReadArgs(filters = keyRange(lo, lo + Batch))))
          val n = t.span("driver.exec")(df.count())
          (df, n)
        }.foreach { case (df, n) =>
          // one write-then-read step of this format
          commitMs(fmt).foreach(c => ctx.samples += Sample("step", s"$fmt.$op", p, c + ctx.samples.last.ms))
          if (n != expect) ctx.fail(s"$p/read/$fmt/$round", s"read $n rows, model has $expect")
          if (t.enabled) t.annotate("op.read", Map(
            "scan.files" -> df.inputFiles.length.toDouble,
            "tables.files_scanned" -> df.inputFiles.length.toDouble,
            "tables.files_live" -> tbl(spark, ReadArgs.empty).inputFiles.length.toDouble))
        }
      }

      val r = rnd.nextInt(round + 1)
      val db = ts.catalog.db("lake")
      ctx.timed("read", "parquet") {
        val df = t.span("catalog.resolve")(
          db.table("lineitem_rounds", spark, ReadArgs.where(Filter("round", "=", r))))
        val n = t.span("driver.exec")(df.count())
        (df, n)
      }.foreach { case (df, n) =>
        if (n != ts.partRows(r)) ctx.fail(s"$p/read/parquet/$round", s"read $n rows, wrote ${ts.partRows(r)}")
        if (t.enabled) t.annotate("op.read", Map(
          "scan.files" -> df.inputFiles.length.toDouble,
          "catalog.files_scanned" -> df.inputFiles.length.toDouble,
          "catalog.files_live" -> db.table("lineitem_rounds", spark).inputFiles.length.toDouble))
      }
    }
    ctx.untimed(checkTables(ctx, ts, p))
  }

  /** Each table's row count and key and quantity sums against the model. */
  private def checkTables(ctx: Ctx, ts: TableSet, p: Int): Unit = {
    val want = (ts.model.size.toLong, ts.model.keysIterator.sum, ts.model.valuesIterator.sum)
    Formats.foreach { fmt =>
      try {
        val r = table(fmt, ts.path(fmt))(ctx.spark, ReadArgs.empty)
          .agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("l_quantity"), lit(0.0)))
          .head()
        val got = (r.getLong(0), r.getLong(1), r.getDouble(2).toLong)
        if (got != want) ctx.fail(s"$p/state/$fmt", s"table holds $got, model $want")
      } catch {
        case e: Exception => ctx.fail(s"$p/state/$fmt", e.toString)
      }
    }
  }

  override def check(ctx: Ctx, refs: Refs, record: Boolean): Unit = ()

  /** A user's write-then-read of one table format, not the catalog read. */
  override def opKinds: Set[String] = Set("step")

  /** Files and bytes under a directory, split into log/metadata and data. */
  private def du(root: java.io.File): (Long, Long, Long) = {
    var log = 0L; var data = 0L; var bytes = 0L
    def walk(f: java.io.File, inLog: Boolean): Unit =
      if (f.isDirectory) {
        val n = f.getName
        val isLog = inLog || n == "_delta_log" || n == "metadata" || n == ".hoodie"
        Option(f.listFiles()).getOrElse(Array.empty).foreach(walk(_, isLog))
      } else if (!f.getName.endsWith(".crc")) {
        bytes += f.length()
        if (inLog) log += 1 else if (f.getName.endsWith(".parquet")) data += 1
      }
    walk(root, inLog = false)
    (log, data, bytes)
  }

  /** Stored bytes per byte of live user data, over the three formats. */
  def storedPerInput(): Double = {
    val stored = Formats.map(f => du(new java.io.File(tables.path(f)))._3).sum
    stored.toDouble / (Formats.size * tables.model.size.toLong * RowBytes)
  }

  override def layerMetrics(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    def median(xs: Seq[Double]): Double = Stats.percentile(xs, 50)
    val commits = spans.filter(_.name.startsWith("tables.commit."))
    val perOp = for (f <- Formats; o <- Ops) yield
      s"tables.commit_ms.$f.$o" -> median(commits.filter(_.name == s"tables.commit.$f.$o").map(_.ms))
    val snaps = Formats.map(f => s"tables.snapshot_ms.$f" ->
      median(spans.filter(_.name == s"tables.snapshot.$f").map(_.ms)))
    val reads = spans.filter(_.name == "op.read")
    def frac(scanned: String, live: String): Double = {
      val l = reads.flatMap(_.attrs.get(live)).sum
      if (l == 0) 0.0 else reads.flatMap(_.attrs.get(scanned)).sum / l
    }
    val dus = Formats.map(f => du(new java.io.File(tables.path(f))))
    (perOp ++ snaps).toMap ++ Map(
      "tables.commit_jobs" -> (if (commits.isEmpty) 0.0 else commits.map(_.delta.jobs).sum.toDouble / commits.size),
      "tables.files_read_frac" -> frac("tables.files_scanned", "tables.files_live"),
      "tables.log_files" -> dus.map(_._1).sum.toDouble,
      "tables.data_files" -> dus.map(_._2).sum.toDouble,
      "tables.stored_mb" -> dus.map(_._3).sum / 1048576.0,
      "tables.stored_bytes_per_input_byte" -> storedPerInput(),
      "catalog.resolve_ms" -> median(spans.filter(_.name == "catalog.resolve").map(_.ms)),
      "catalog.files_read_frac" -> frac("catalog.files_scanned", "catalog.files_live"))
  }
}
