package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, GraphOps}

/** Dedup cluster assignment: connected components
  * ([[GraphOps.connectedComponents]]) over the dedup edge producers.
  */
class ClusterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compsOf(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    GraphOps.connectedComponents(
      pairs.select(col("doc_a").as("x"), col("doc_b").as("y")),
      DedupOps.CcRounds)
      .as[(Long, Long)].collect().toMap

  test("chained pairs collapse to one component (multi-hop propagation)") {
    // path graph 1-2-3-4 plus a separate pair 10-11: propagation needs
    // 3 rounds for the path, which a single min-over-neighbors would miss
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("x", "y")
    val got = GraphOps.connectedComponents(pairs, DedupOps.CcRounds)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("star edges are connectivity-equivalent to the bucket clique, linearly") {
    // star emission (bucket member -> bucket-min) must have the SAME
    // transitive closure as all intra-bucket pairs — that is the whole
    // argument for making it the cluster-feeding default — while
    // emitting k-1 edges per k-clique instead of C(k,2)
    val bands = DedupOps.minhashBands(spark, TestSpark.sf, planted = false)
    val star = DedupOps.minhashStarEdges(spark, TestSpark.sf)
    val a = bands.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_a"))
    val b = bands.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_b"))
    val allPairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val nStar = star.count()
    val nAll = allPairs.count()
    assert(nStar > 0 && nStar <= nAll, s"star=$nStar all=$nAll")
    assert(compsOf(star) === compsOf(allPairs))
  }

  test("star clusters subsume every verified organic pair") {
    // a verified pair shares a band bucket, and star edges connect all
    // bucket members through the bucket min — so the star components
    // must place both endpoints of EVERY verified pair together (the
    // star path can only merge more, never split a true candidate)
    val comps = compsOf(DedupOps.minhashStarEdges(spark, TestSpark.sf))
    val verified = DedupOps.minhashPairs(spark, TestSpark.sf, planted = false)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    assert(verified.nonEmpty)
    verified.foreach { case (a, b) =>
      assert(comps.get(a).isDefined && comps(a) == comps(b),
        s"verified pair ($a,$b) split across star clusters")
    }
  }

  test("simhash star edges are a subset of the verified pair set (Hamming <= 6)") {
    // unlike the minhash star, every simhash star edge is Hamming-
    // verified against the full 64-bit simhash — so the edge set must
    // be contained in simhashPairs' verified organic pair set, and the
    // closure can only merge documents some verified pair connects
    // (no false merges through chance 16-bit bucket collisions)
    val star = DedupOps.simhashStarEdges(spark, TestSpark.sf)
      .as[(Long, Long)].collect()
    assert(star.nonEmpty)
    val verified = DedupOps.simhashPairs(spark, TestSpark.sf, planted = false)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    star.foreach { e =>
      assert(verified.contains(e), s"star edge $e not in the verified pair set")
    }
  }

  test("simhash star closure refines the verified-pair closure (quantified recall gap)") {
    // the DOCUMENTED asymmetry (DedupOps.simhashStarEdgesOf): members
    // verify only against the bucket rep, so the star closure may drop
    // members / split clusters the pair closure connects — it must
    // never MERGE across them. Pin the refinement direction, and pin
    // the measured gap exactly (corpus + hash seeds are deterministic,
    // same style as the organic pair-count pins).
    val starComps = compsOf(DedupOps.simhashStarEdges(spark, TestSpark.sf))
    val pairComps = compsOf(
      DedupOps.simhashPairs(spark, TestSpark.sf, planted = false)
        .select(col("doc_a"), col("doc_b")))
    assert(starComps.nonEmpty)
    // no false merges: every star cluster nests inside ONE pair cluster
    starComps.groupBy(_._2).foreach { case (label, ms) =>
      val pairLabels = ms.keys.map(pairComps(_)).toSet
      assert(pairLabels.size == 1,
        s"star cluster $label spans pair clusters $pairLabels")
    }
    // the recall gap, quantified over the pair-cluster partition: a
    // pair cluster is DEGRADED when its members land in >1 star cluster
    // or fall out of the star closure entirely
    val degraded = pairComps.groupBy(_._2).count { case (_, ms) =>
      ms.keys.map(starComps.get).toSet.size > 1
    }
    val unlinked = pairComps.size - starComps.size
    info(s"pair clusters=${pairComps.values.toSet.size} " +
      s"star clusters=${starComps.values.toSet.size} " +
      s"degraded=$degraded star-unlinked docs=$unlinked")
    assert(pairComps.values.toSet.size === 31)
    assert(starComps.values.toSet.size === 28)
    assert(starComps.size <= pairComps.size)
  }

  test("identical twins are never SPLIT by the simhash star (linked together or dropped together)") {
    // identical payloads share the simhash, hence every bucket and every
    // verify outcome: a twin pair is either linked into the same
    // component (some bucket rep within Hamming 6, or the smaller twin
    // IS a rep) or BOTH fall out of the closure (every shared bucket's
    // rep too far) — an asymmetric outcome would mean the verify isn't
    // a pure function of (sh, rep)
    val comps = compsOf(DedupOps.simhashStarEdgesOf(
      DedupOps.simhashBands(spark, TestSpark.sf, planted = true)))
    val twins = Engine.table(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id")).as[Long].collect()
    assert(twins.nonEmpty)
    var linked = 0
    twins.foreach { d =>
      val t = d + 10000000L // DedupOps.TwinOffset
      (comps.get(d), comps.get(t)) match {
        case (Some(a), Some(b)) =>
          assert(a == b, s"twin pair ($d,$t) split across components")
          linked += 1
        case (None, None) => // both dropped — the documented recall gap
        case other => fail(s"twin pair ($d,$t) asymmetric outcome: $other")
      }
    }
    info(s"twin pairs linked=$linked/${twins.length} " +
      "(the remainder dropped together — rep too far in every bucket)")
    assert(linked > 0)
  }

  test("full simhash star (residual pair-verify) closure EQUALS the verified-pair closure") {
    // the recall-gap closer: star edges + an all-pairs re-verify of the
    // members that failed the rep verify. Every verified pair is either
    // rep-covered or touches a residual member, so the closures must be
    // identical — the star's linear emission without its under-merge
    val fullComps = compsOf(DedupOps.simhashStarEdgesFull(spark, TestSpark.sf))
    val pairComps = compsOf(
      DedupOps.simhashPairs(spark, TestSpark.sf, planted = false)
        .select(col("doc_a"), col("doc_b")))
    assert(fullComps.nonEmpty)
    assert(fullComps.keySet === pairComps.keySet)
    // same partition: equal label maps up to label choice — both use
    // min-id labels over the same doc universe, so maps match exactly
    assert(fullComps === pairComps)
  }

  test("full simhash star links EVERY planted twin (no drops)") {
    // unlike the plain star (twins drop together when every shared
    // bucket's rep is far), the residual pass re-verifies them against
    // each other at Hamming 0 — the full variant must link all twins
    val comps = compsOf(DedupOps.simhashStarEdgesFullOf(
      DedupOps.simhashBands(spark, TestSpark.sf, planted = true)))
    val twins = Engine.table(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id")).as[Long].collect()
    assert(twins.nonEmpty)
    twins.foreach { d =>
      val t = d + 10000000L // DedupOps.TwinOffset
      assert(comps.get(d).isDefined && comps.get(t).isDefined &&
        comps(d) == comps(t), s"twin pair ($d,$t) split or unlinked")
    }
  }

  test("survivor selection keeps exactly one, the longest (tiebreak: max id)") {
    val rows = SparkEntry.queries("dedup_survivor")(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (_, members) =>
      val keepers = members.filter(_.getBoolean(3))
      assert(keepers.length === 1)
      // the keeper is lexicographic-max on (n_chars, doc_id)
      val best = members.maxBy(r => (r.getLong(2), r.getLong(0)))
      assert(keepers.head.getLong(0) === best.getLong(0))
    }
  }

  test("cluster assignment matches per-group min on exact dups") {
    val q = SparkEntry.queries("dedup_cluster_assign")(spark, TestSpark.sf)
    val rows = q.collect()
    assert(rows.nonEmpty)
    // keep is true exactly when doc_id == cluster_id, one keeper per cluster
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min === cid)
      assert(members.count(_.getBoolean(2)) === 1)
    }
  }
}
