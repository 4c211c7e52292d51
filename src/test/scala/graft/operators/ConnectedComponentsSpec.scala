package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val ThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  /** Runs `body` with the collect limit at `bytes`: -1 forces star
    * contraction to the fixpoint, a small value contracts until the
    * residual edges fit and then finishes on the driver.
    */
  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val prev = spark.conf.getOption(ThresholdKey)
    spark.conf.set(ThresholdKey, bytes.toString)
    try body
    finally prev.fold(spark.conf.unset(ThresholdKey))(spark.conf.set(ThresholdKey, _))
  }

  private def collectMap[T](df: DataFrame): Map[T, T] =
    df.collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap

  /** Independent reference: BFS over an adjacency map, each component
    * labeled with its minimum under `lt`. Self-loops carry no edge.
    */
  private def bfsLabels[T](pairs: Seq[(T, T)])(lt: (T, T) => Boolean): Map[T, T] = {
    val edges = pairs.filter(p => p._1 != p._2)
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    val seen = scala.collection.mutable.Map.empty[T, T]
    for (start <- adj.keys if !seen.contains(start)) {
      val comp = scala.collection.mutable.LinkedHashSet(start)
      val queue = scala.collection.mutable.Queue(start)
      while (queue.nonEmpty)
        adj(queue.dequeue()).foreach(n => if (comp.add(n)) queue.enqueue(n))
      val m = comp.reduce((a, b) => if (lt(b, a)) b else a)
      comp.foreach(seen(_) = m)
    }
    seen.toMap
  }

  /** Spark's string order: unsigned UTF-8 bytes. */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0

  test("stars, cliques, chains, and isolated pairs get component-min labels") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // clique {1,2,3}
      (10L, 11L), (11L, 12L),       // chain {10,11,12}
      (20L, 21L)                    // pair
    )
    val got = collectMap[Long](ConnectedComponents.labels(pairs.toDF("a", "b"), "a", "b"))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("matches a BFS reference on random graphs (forced rounds)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 20
      val pairs = Seq.fill(n)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      val got = withThreshold(-1) {
        collectMap[Long](ConnectedComponents.labels(pairs.toDF("a_id", "b_id"), "a_id", "b_id"))
      }
      assert(got == bfsLabels(pairs)(_ < _), s"trial $trial diverged")
    }
  }

  /** Labels `pairs` three ways — rounds to the fixpoint (-1), one
    * byte short of collecting the input (contract, then union-find),
    * and the default limit (union-find only) — against `ref`.
    */
  private def agreeAcrossLimits[T](pairs: Seq[(T, T)], ref: Map[T, T], bytesPerEdge: Long)(
      implicit enc: org.apache.spark.sql.Encoder[(T, T)]): Unit = {
    val edges = pairs.filter(p => p._1 != p._2).distinct.size
    for (limit <- Seq(-1L, bytesPerEdge * edges - 1, 10L * 1024 * 1024)) withThreshold(limit) {
      val (df, rounds) = ConnectedComponents.labelsWithRounds(
        spark.createDataset(pairs).toDF("a", "b"), "a", "b", maxIter = 50)
      assert(collectMap[T](df) == ref, s"limit $limit")
      val local = df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
      assert((rounds > 0, local) == (limit match {
        case -1L => (true, false)
        case l if l < bytesPerEdge * edges => (true, true)
        case _ => (false, true)
      }), s"$rounds rounds, local=$local at limit $limit")
    }
  }

  test("local finish, partial contraction and forced rounds agree (Long and String ids)") {
    val rnd = new scala.util.Random(7)
    // a non-BMP code point sorts BELOW U+FF21 as UTF-16 but ABOVE it as
    // UTF-8 — Spark's order — and the two share a component
    val alphabet = Seq("a", "B", "é", "Ａ", "😀", "z😀")
    for (_ <- 0 until 3) {
      val longs = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      agreeAcrossLimits(longs, bfsLabels(longs)(_ < _), bytesPerEdge = 2 * 8)
      val strs = Seq("😀" -> "Ａ") ++ Seq.fill(60)(
        (alphabet(rnd.nextInt(alphabet.size)) + rnd.nextInt(6),
          alphabet(rnd.nextInt(alphabet.size)) + rnd.nextInt(6)))
      val strRef = bfsLabels(strs)(utf8Lt)
      assert(strRef("😀") == "Ａ" && "😀" < "Ａ")
      agreeAcrossLimits(strs, strRef, bytesPerEdge = 2 * 20)
    }
  }

  test("long path converges in O(log n) rounds, far under the diameter") {
    val n = 256
    val path = (0L until (n - 1)).map(i => (i, i + 1))
    val (got, rounds) = withThreshold(-1) {
      val (df, r) = ConnectedComponents.labelsWithRounds(
        path.toDF("a", "b"), "a", "b", maxIter = 50)
      (collectMap[Long](df), r)
    }
    assert(got == (0L until n).map(_ -> 0L).toMap)
    assert(rounds <= 15, s"took $rounds rounds on a diameter-$n path")
  }

  test("a 4096-node adversarial chain converges in at most 2·log2(n) forced rounds") {
    // a path whose ids are a random permutation: propagating the
    // minimum hop by hop would take as many rounds as its distance to
    // the far end of the chain — thousands here
    val n = 4096
    val ids = new scala.util.Random(11).shuffle((0L until n).toVector)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    val (got, rounds) = withThreshold(-1) {
      val (df, r) = ConnectedComponents.labelsWithRounds(
        chain.toDF("a", "b"), "a", "b", maxIter = 50)
      (collectMap[Long](df), r)
    }
    assert(got == (0L until n).map(_ -> 0L).toMap)
    assert(rounds <= 2 * 12, s"took $rounds rounds on a $n-node chain")
  }

  test("high-degree hub re-attaches in few rounds") {
    val hub = (1L to 500L).map(v => (250L, v)).filter(p => p._1 != p._2)
    withThreshold(-1) {
      val (df, rounds) = ConnectedComponents.labelsWithRounds(
        hub.toDF("a", "b"), "a", "b", maxIter = 50)
      val labels = df.select(countDistinct("cluster_id")).as[Long].head()
      assert(labels == 1L)
      assert(df.where(col("cluster_id") =!= 1L).count() == 0)
      assert(rounds <= 6)
    }
  }

  test("string ids work (ordering is lexicographic)") {
    val pairs = Seq(("docB", "docA"), ("docB", "docC"), ("docX", "docY"))
    val got = collectMap[String](ConnectedComponents.labels(pairs.toDF("a", "b"), "a", "b"))
    assert(got == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "docX" -> "docX", "docY" -> "docX"))
  }

  test("labels are a local relation with exact size stats and leave nothing cached") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pairs = (0L until 100L).map(i => (i, i / 10 * 10)) // ten 10-node stars
    val out = ConnectedComponents.labels(pairs.toDF("a", "b"), "a", "b")
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty)
    val plan = out.queryExecution.optimizedPlan
    assert(plan.isInstanceOf[LocalRelation], plan.treeString)
    // 100 labeled nodes (the (i, i) self-loops add none) at 8 bytes of
    // row overhead plus two longs each
    assert(plan.stats.sizeInBytes == BigInt(100 * (8 + 8 + 8)))
    assert(collectMap[Long](out) == (0L until 100L).filter(_ % 10 != 0)
      .flatMap(i => Seq(i -> i / 10 * 10, i / 10 * 10 -> i / 10 * 10)).toMap)
  }
}
