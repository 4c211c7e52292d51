package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Connected components of a pair graph — graft's one CC operator
  * (the cluster-labeling stage of near-dup dedup; [[NearDup.dupClusters]]
  * delegates here). Every endpoint gets its component's minimum id.
  *
  * Three steps:
  *
  *  1. The deduped edge set is materialized once: persist, count, and
  *     (only when rounds follow) `localCheckpoint`, so later plans see
  *     real sizes and an O(1)-deep lineage.
  *  2. While the edge set is too big to collect — edges × 2 × the id
  *     type's `defaultSize` above `spark.sql.autoBroadcastJoinThreshold`,
  *     the size past which Spark itself refuses to ship a relation to
  *     the driver — alternating large-star / small-star rounds contract
  *     it (Kiveris et al., "Connected Components in MapReduce and
  *     Beyond", SoCC 2014):
  *      - large-star: every node's strictly-larger neighbors re-attach
  *        to the minimum of its closed neighborhood;
  *      - small-star: every node and its smaller-or-equal neighbors
  *        re-attach to that set's minimum.
  *     Both preserve the node set and connectivity; alternating them
  *     reaches per-component stars in O(log n) rounds regardless of
  *     diameter, and the edge set only shrinks. Each round is a few
  *     shuffles over the current edges plus one scalar count.
  *  3. The residual edges (which hold every node) are collected and a
  *     driver-side union-find finishes; the labels come back as a local
  *     relation with exact size stats. A threshold of -1 never collects:
  *     rounds run to the fixpoint and the stars are the labels.
  *
  * At the near-dup graphs the pipelines produce (hundreds of edges) no
  * round runs at all. Self-loops carry no connectivity and are dropped.
  * Refuses (IllegalStateException) instead of returning possibly
  * non-minimal labels if `maxIter` rounds do not suffice.
  */
object ConnectedComponents {

  /** Component labels for every endpoint in `pairs`: (id, cluster_id)
    * where cluster_id is the component's minimum id, in Spark's
    * ordering for the id type.
    */
  def labels(pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 50): DataFrame =
    labelsWithRounds(pairs, aCol, bCol, maxIter)._1

  private[graft] def labelsWithRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int
  ): (DataFrame, Int) = {
    // persist + count BEFORE any checkpoint: checkpointing the
    // unmaterialized plan would keep its join-product size estimate
    // (an LSH verify's is ~10^29 bytes) instead of the real bytes
    val base = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var edgeCount = base.count()
    val limit = pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bytesPerEdge = 2L * base.schema("u").dataType.defaultSize
    def tooBig(n: Long): Boolean = limit < 0 || BigInt(n) * bytesPerEdge > limit

    if (!tooBig(edgeCount)) {
      val out = finishLocal(base)
      base.unpersist(blocking = false)
      return (out, 0)
    }
    var edges = base.localCheckpoint(true) // plan-truncated, true stats
    base.unpersist(blocking = false)       // checkpoint blocks carry the data

    var converged = false
    var rounds = 0
    while (!converged && tooBig(edgeCount)) {
      if (rounds == maxIter)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIter alternating rounds")
      val next = starRound(edges)
      val nextCount = next.count()
      // fixpoint: both star ops leave a set of minimum-rooted stars
      // unchanged. Both sides are distinct sets, so equal counts plus
      // an empty one-sided difference proves equality (A⊆B ∧ |A|=|B|)
      converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      edges = next
      edgeCount = nextCount
      rounds += 1
    }
    if (!tooBig(edgeCount)) (finishLocal(edges), rounds)
    else {
      // fixpoint stars: every edge is (node, componentMin) with
      // node > min, so the roots are exactly the edge targets
      val out = edges.select(col("u").as("id"), col("v").as("cluster_id"))
        .unionByName(edges.select(col("v").as("id"), col("v").as("cluster_id")).distinct())
      (out, rounds)
    }
  }

  /** One large-star then small-star round, lazily localCheckpointed so
    * the caller's count both materializes it and truncates its plan.
    */
  private def starRound(edges: DataFrame): DataFrame = {
    // large-star: center u over its symmetric closed neighborhood;
    // m = min(neighbors ∪ {u}); larger neighbors re-attach to m.
    val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    val large = sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()

    // small-star: orient (hi, lo); m = min of hi's smaller
    // neighborhood; everything in {hi} ∪ Γ≤(hi) except m re-attaches
    val oriented = large
      .select(greatest(col("u"), col("v")).as("hi"), least(col("u"), col("v")).as("lo"))
      .distinct()
    val smallMins = oriented.groupBy("hi").agg(min(col("lo")).as("m"))
    val withM = oriented.join(smallMins, "hi")
    withM
      .where(col("lo") =!= col("m"))
      .select(col("lo").as("u"), col("m").as("v"))
      .unionByName(withM.select(col("hi").as("u"), col("m").as("v")))
      .distinct()
      .localCheckpoint(false)
  }

  /** Collects `edges` (u, v) and labels every endpoint with its
    * component minimum by union-find. Ids are ranked by Spark's own
    * ordering for their type, so "minimum" is what SQL `min` returns
    * (strings compare as UTF-8 bytes, not as `String.compareTo`), and
    * the smaller-ranked root always wins a union, so every root is its
    * component's minimum.
    */
  private def finishLocal(edges: DataFrame): DataFrame = {
    val idType = edges.schema("u").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ordering = InterpretedOrdering.forSchema(Seq(idType))
    val collected = edges.collect()
    val ids = collected.flatMap(r => Array(r.get(0), r.get(1))).distinct
      .map(v => (v, InternalRow(toCatalyst(v))))
      .sortBy(_._2)(ordering)
      .map(_._1)
    val rank = ids.iterator.zipWithIndex.toMap
    val parent = Array.tabulate(ids.length)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    collected.foreach { r =>
      val a = find(rank(r.get(0)))
      val b = find(rank(r.get(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val rows = ids.indices.map(i => Row(ids(i), ids(find(i))))
    val schema = StructType(Seq(
      StructField("id", idType, nullable = false),
      StructField("cluster_id", idType, nullable = false)))
    edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
