package perfbench

import graft.operators.NearDup
import graft.queries.{QueryCatalog, Tables}

import scala.collection.mutable

/** The heavy near-duplicate and pipeline paths `graft.Bench` leaves
  * out. A pass runs each once, in an order the seed shuffles per pass,
  * timing `QueryFn(spark, dir)` plus `count()` as `graft.Bench` does.
  *
  * NearDup's cached frames are released (untimed) before every path, so
  * each path pays the index builds it needs and its latency does not
  * depend on which path the seeded order ran before it. Pass 0 also
  * fingerprints each result, untimed, right after its count, while the
  * frames it was built from are live.
  */
final class DedupPipeline extends Workload {
  val name = "dedup_pipeline"

  private val paths = Seq(
    "q_minhash_pairs", "q_dup_clusters", "q_cc_labels", "q_leak_split",
    "q_soft_dedup", "q_containment_dups", "q_srp_pairs", "q_substr_dedup")

  private val rowsSeen = mutable.ArrayBuffer[(Int, String, Long)]()
  private val prints = mutable.LinkedHashMap[String, (Long, String)]()

  /** The corpus tables' schemas, read through the catalog. */
  override def setup(ctx: Ctx): Unit =
    Seq("documents", "embeddings").foreach(t => Tables.table(ctx.spark, ctx.dataDir, t))

  override def pass(ctx: Ctx, p: Int): Unit = {
    val t = ctx.tracer
    new scala.util.Random(ctx.seed * 1000003L + p).shuffle(paths).foreach { q =>
      val fn = QueryCatalog.queries(q)
      ctx.untimed(NearDup.releaseCaches())
      ctx.timed("query", q) {
        val df = t.span("queries.build")(fn(ctx.spark, ctx.dataDir))
        if (t.enabled) t.span("plans.plan")(df.queryExecution.executedPlan)
        val n = t.span("driver.exec")(df.count())
        (df, n)
      }.foreach { case (df, n) =>
        rowsSeen += ((p, q, n))
        if (p == 0) prints(q) = ctx.untimed(Content.fingerprint(df))
        if (t.enabled) t.annotate("op.query", Map("scan.files" -> df.inputFiles.length.toDouble))
      }
    }
  }

  override def check(ctx: Ctx, refs: Refs, record: Boolean): Unit =
    if (record) prints.foreach { case (q, (rows, hash)) => refs.put(name, q, rows, hash) }
    else paths.foreach { q =>
      refs.get(name, q) match {
        case None => ctx.fail(s"ref/$q", "no reference recorded")
        case Some((refRows, refHash)) =>
          rowsSeen.filter(_._2 == q).foreach { case (p, _, n) =>
            if (n != refRows) ctx.fail(s"$p/query/$q", s"rows $n, reference $refRows")
          }
          prints.get(q).foreach { case (rows, hash) =>
            if (rows != refRows || hash != refHash)
              ctx.fail(s"0/query/$q",
                s"content ($rows rows, hash $hash) differs from reference ($refRows, $refHash)")
          }
      }
    }
}
