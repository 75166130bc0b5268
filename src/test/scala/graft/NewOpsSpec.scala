package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Algorithms
import graft.olap.Olap
import graft.text.TextOps

/** Fixture + invariant specs for the r4 operator additions. */
class NewOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def bidir(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("dijkstraPath: cheap 3-hop route beats expensive 2-hop route; ties break to min parent; unreachable is empty") {
    val lens = Seq(
      (1L, 2L, 1.0), (2L, 4L, 1.0),              // cost 2.0 in 2 hops
      (1L, 3L, 0.3), (3L, 5L, 0.3), (5L, 4L, 0.3)) // cost 0.9 in 3 hops
      .toDF("src", "dst", "len")
    val got = Algorithms.dijkstraPath(lens, source = 1L, target = 4L).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0, 1L, 0.0), (1, 3L, 0.3), (2, 5L, 0.6), (3, 4L, 0.9)))

    val tied = Seq((1L, 2L, 0.5), (2L, 4L, 0.5), (1L, 3L, 0.5), (3L, 4L, 0.5))
      .toDF("src", "dst", "len")
    val viaMin = Algorithms.dijkstraPath(tied, source = 1L, target = 4L).collect()
      .map(_.getLong(1))
    assert(viaMin.toSeq == Seq(1L, 2L, 4L)) // equal dists → min parent id wins

    assert(Algorithms.dijkstraPath(lens, source = 1L, target = 99L).isEmpty)
  }

  test("scc: cycles, tails, and a 2-cycle resolve to min-member labels") {
    // triangle {1,2,3}, tail 3→4→5, 2-cycle {6,7} hung off 5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 6L)).toDF("src", "dst")
    val got = Algorithms.stronglyConnectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 7L -> 6L))
  }

  test("scc: chain of cycles against the peel direction needs multiple outer rounds") {
    // 5⇄6 → 3⇄4 → 1⇄2: every node has in+out degree (trim removes
    // nothing), one coloring root per round → three peel rounds.
    // localThreshold = 0 forces the DISTRIBUTED peel (the default would
    // route this fixture to driver Tarjan); the next test proves the
    // two legs agree row-for-row.
    val edges = Seq((5L, 6L), (6L, 5L), (6L, 3L), (3L, 4L), (4L, 3L),
      (4L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Algorithms
      .stronglyConnectedComponents(edges, localThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
  }

  test("scc: driver-Tarjan leg ≡ distributed peel on the supply-return graph") {
    val local = graft.graph.Algorithms.supplyChainScc(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = {
      // rebuild the same edge frame and force the distributed leg
      import graft.Tables
      val li = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_quantity") >= 50)
      val fwd = li.filter(col("l_returnflag") =!= "R")
        .select((col("o_custkey") * 2).cast("bigint").as("src"),
          (col("l_suppkey") * 2 + 1).cast("bigint").as("dst")).distinct()
      val bwd = li.filter(col("l_returnflag") === "R")
        .select((col("l_suppkey") * 2 + 1).cast("bigint").as("src"),
          (col("o_custkey") * 2).cast("bigint").as("dst")).distinct()
      fwd.unionByName(bwd)
    }
    val dist = Algorithms
      .stronglyConnectedComponents(edges, localThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
  }

  test("richClub: clique-plus-pendant profile by hand") {
    // 4-clique {1,2,3,4} + pendant 5-1. Degrees: 1→4, 2/3/4→3, 5→1.
    // k=0: N=5, E=7, density 0.7; k=2: the clique, density 1.0;
    // k=3: only node 1 → density 0 (N<2); k=9: empty.
    val clique = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val edges = (clique ++ Seq((1L, 5L), (5L, 1L))).toDF("src", "dst")
    val got = Algorithms.richClub(edges, Seq(0, 2, 3, 9)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      0 -> ((5L, 7L, 0.7)), 2 -> ((4L, 6L, 1.0)),
      3 -> ((1L, 0L, 0.0)), 9 -> ((0L, 0L, 0.0))))
  }

  test("adamicAdar: hand-computed square + diagonal fixture") {
    // square 1-2-3-4-1 plus chord 2-4: from node 1, candidate 3 is the
    // only non-adjacent 2-hop node, via common neighbours 2 (deg 3) and
    // 4 (deg 3): AA(1,3) = 2/ln(3)
    val edges = bidir(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L)))
    val got = Algorithms.adamicAdar(edges, user = 1L, k = 10).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 3L && got(0).getLong(1) == 2L)
    assert(math.abs(got(0).getDouble(2) - 2.0 / math.log(3.0)) < 1e-6)
  }

  test("kcore: clique survives with full core degree, pendant chain peels away") {
    // 4-clique {1,2,3,4} + chain 4-5-6: for k=3 the chain (and nothing
    // else) must peel, leaving each clique node with core degree 3
    val clique = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (5L, 4L), (5L, 6L), (6L, 5L))).toDF("src", "dst")
    val got = Algorithms.kcore(edges, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kcore: deep peeling converges on a long path (no iteration cap)") {
    // path of 61 nodes, k=2: endpoints peel two at a time → ~30 rounds;
    // the whole path must vanish (a path has no 2-core)
    val path = (1L until 61L).map(i => (i, i + 1))
    assert(Algorithms.kcore(bidir(path), k = 2).isEmpty)
  }

  test("connectedComponents: 150-hop chain converges within 20 rounds (pointer jumping)") {
    val chain = (1L until 150L).map(i => (i, i + 1))
    val labels = Algorithms.connectedComponents(chain.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 150 && labels.forall(_._2 == 1L),
      "chain did not fully merge — min-label propagation unconverged")
  }

  test("adamicAdar: parallel edge rows score identically to the simple graph") {
    val simple = bidir(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L)))
    val multi = simple.unionAll(simple) // every edge duplicated
    assert(Algorithms.adamicAdar(multi, 1L, 10).collect().toSeq ==
      Algorithms.adamicAdar(simple, 1L, 10).collect().toSeq)
  }

  test("kcore: empty result when k exceeds every degree") {
    val edges = bidir(Seq((1L, 2L), (2L, 3L)))
    assert(Algorithms.kcore(edges, k = 5).isEmpty)
  }

  test("events_funnel: stages are monotonically non-increasing") {
    val r = Olap.eventsFunnel(spark, sf).head()
    val (v, vc, vcp) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= vc && vc >= vcp && vcp >= 0, s"funnel not monotone: $v $vc $vcp")
    assert(v > 0, "no users entered the funnel")
  }

  test("events_gap_fill: contiguous hour grid per user, no null after first observation") {
    val filled = Olap.eventsGapFill(spark, sf)
    val perUser = filled.groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("hr").as("h0"), max("hr").as("h1"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("nulls"))
      .collect()
    assert(perUser.nonEmpty)
    perUser.foreach { r =>
      assert(r.getLong(1) == r.getLong(3) - r.getLong(2) + 1,
        s"user ${r.getLong(0)}: grid not contiguous")
      // the grid starts at the user's first event hour, which has a
      // value — forward fill leaves no hole anywhere
      assert(r.getLong(4) == 0, s"user ${r.getLong(0)}: unfilled hours")
    }
  }

  test("dedup_normalized: classes cover all docs and are no finer than exact dedup") {
    val norm = TextOps.dedupNormalized(spark, sf)
    val exact = TextOps.dedupExact(spark, sf)
    assert(norm.agg(sum("n_copies")).head().getLong(0) ==
      Tables.documents(spark, sf).count())
    assert(norm.count() <= exact.count(),
      "normalization can only merge classes, never split them")
  }

  test("doc_repetition: n_bigrams == n_tokens - 1 and frac in (0, 1]") {
    val rep = TextOps.docRepetition(spark, sf)
    val bad = rep.filter(col("top_bigram_frac") <= 0.0 || col("top_bigram_frac") > 1.0 ||
      col("top_bigram_count") > col("n_bigrams"))
    assert(bad.isEmpty)
    val joined = rep.join(TextOps.textStats(spark, sf).select("doc_id", "n_tokens"), "doc_id")
    assert(joined.filter(col("n_bigrams") =!= col("n_tokens") - 1).isEmpty,
      "bigram count disagrees with token count")
  }

  test("clusteringCoefficient: clique nodes score 1.0, star centre scores 0") {
    // 5-clique ∪ star(10 leaves): clique coefficients 1.0, star centre 0
    val clique = for { a <- 1L to 5L; b <- 1L to 5L if a != b } yield (a, b)
    val star = (10L to 19L).flatMap(l => Seq((100L, l), (l, 100L)))
    val got = Algorithms.clusteringCoefficientTopK(
        (clique ++ star).toDF("src", "dst"), k = 10, minDegree = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0, 5L -> 1.0, 100L -> 0.0),
      s"got $got")
  }

  test("events_retention: offset-0 row per cohort covers every user exactly once") {
    val r = Olap.eventsRetention(spark, sf)
    assert(r.filter(col("day_offset") < 0).isEmpty)
    val day0 = r.filter(col("day_offset") === 0).agg(sum("n_users")).head().getLong(0)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(day0 == users, s"offset-0 covered $day0 of $users users")
  }

  test("dedup_clusters: every doc clustered once, pairs co-clustered, cluster id = min member") {
    val clusters = graft.dedup.Dedup.nearDupClusters(spark, sf)
    val docs = Tables.documents(spark, sf).count()
    assert(clusters.count() == docs && clusters.select("doc_id").distinct().count() == docs)
    assert(clusters.filter(col("cluster_id") > col("doc_id")).isEmpty,
      "cluster id must be the minimum member id")
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(spark, sf)
    val joined = pairs
      .join(clusters.select(col("doc_id").as("id_a"), col("cluster_id").as("c_a")), "id_a")
      .join(clusters.select(col("doc_id").as("id_b"), col("cluster_id").as("c_b")), "id_b")
    assert(joined.filter(col("c_a") =!= col("c_b")).isEmpty,
      "a verified near-dup pair landed in two clusters")
  }

  test("harmonicCentrality: path-graph distances invert exactly") {
    // path 1-2-3-4-5, source {1}, maxHops 3: h(2)=1, h(3)=1/2, h(4)=1/3,
    // node 5 unreached (dist 4), source itself excluded
    val got = Algorithms.harmonicCentrality(
        bidir((1L until 5L).map(i => (i, i + 1))), sources = Seq(1L), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(2L -> 1.0, 3L -> 0.5, 4L -> 0.333333))
  }

  test("harmonicCentrality: two sources sum their inverse distances") {
    // path 1-2-3, sources {1,3}: node 2 is at distance 1 from both
    // (h=2); d(1,3)=2, so each source contributes 1/2 to the other
    val got = Algorithms.harmonicCentrality(
        bidir(Seq((1L, 2L), (2L, 3L))), sources = Seq(1L, 3L), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.5, 2L -> 2.0, 3L -> 0.5))
  }

  test("personalizedPageRank: mass concentrates on the source side") {
    // barbell: clique-ish pair 1-2 and 3-4, bridge 2-3; teleport to {1}
    val edges = bidir(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
      .withColumn("weight", lit(1.0))
    val ranks = Algorithms.personalizedPageRank(edges, Seq(1L), iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 4)
    // proximity ordering to the teleport source: 1 ≥ 2 ≥ 3 ≥ 4, strictly
    // above zero everywhere reachable
    assert(ranks(1L) > ranks(3L) && ranks(2L) > ranks(4L) && ranks(4L) > 0.0)
    // a node with NO source proximity in a disjoint graph gets rank 0:
    val twoIslands = bidir(Seq((1L, 2L), (3L, 4L))).withColumn("weight", lit(1.0))
    val r2 = Algorithms.personalizedPageRank(twoIslands, Seq(1L), iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r2(3L) == 0.0 && r2(4L) == 0.0 && r2(1L) > 0.0 && r2(2L) > 0.0)
  }

  test("tokenPack: offsets are the per-shard running sum, bins fill to the budget") {
    val p = TextOps.tokenPack(spark, sf).collect()
    val budget = 2048
    assert(p.nonEmpty)
    // recompute the packing sequentially per shard and compare exactly
    p.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      var run = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        val (nTok, binId, binOff) = (r.getLong(2), r.getLong(3), r.getLong(4))
        assert(binId == run / budget && binOff == run % budget,
          s"doc ${r.getLong(0)}: expected off $run")
        run += nTok
      }
    }
  }

  test("sourceMix: keep decision is exactly the hash-rate rule, rates differ by source") {
    val kept = TextOps.sourceMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val all = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rates = Map("src0" -> 1.0, "src1" -> 0.25, "src2" -> 0.5).withDefaultValue(0.75)
    def frac(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:mix".getBytes("UTF-8"))
      val hex = md.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val expect = all.filter { case (id, src) => frac(id) < rates(src) }.toSet
    assert(kept == expect)
    // src0 keeps everything; src1 keeps strictly fewer than src0
    val bySrc = kept.groupBy(_._2).view.mapValues(_.size).toMap
    val totals = all.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc("src0") == totals("src0"))
    assert(bySrc.getOrElse("src1", 0) < totals("src1"))
  }

  test("piiScrub: scrubbed text carries no emails or long digit runs") {
    val s = TextOps.piiScrub(spark, sf)
    val leftover = s.filter(
      expr("scrubbed rlike '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+'") ||
      expr("scrubbed rlike '[0-9][0-9][0-9][0-9]+'"))
    assert(leftover.isEmpty, "redaction left a match behind")
    // count columns equal their token's occurrences in the OUTPUT — the
    // audit a consumer actually runs (numbers counted post-email-scrub)
    val audit = s.filter(
      col("n_numbers") =!=
        size(split(col("scrubbed"), "<NUM>", -1)) - 1 ||
      col("n_emails") =!=
        size(split(col("scrubbed"), "<EMAIL>", -1)) - 1)
    assert(audit.isEmpty, "redaction counts disagree with output tokens")
  }

  test("q13Custdist: histogram covers every customer once, zero bucket = orderless customers") {
    val h = Olap.q13Custdist(spark, sf)
    val nCust = Tables.customer(spark, sf).count()
    assert(h.agg(sum("custdist")).head().getLong(0) == nCust)
    val zeroBucket = h.filter(col("c_count") === 0).select("custdist")
      .collect().headOption.map(_.getLong(0)).getOrElse(0L)
    val orderless = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf).filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti").count()
    assert(zeroBucket == orderless)
  }

  test("dedup_survivors: survivors = cluster minima, merged counts cover the corpus") {
    val clusters = graft.dedup.Dedup.nearDupClusters(spark, sf)
    val survivors = graft.dedup.Dedup.dedupSurvivors(spark, sf)
    // one survivor per distinct cluster, and it IS the cluster's min id
    assert(survivors.count() == clusters.select("cluster_id").distinct().count())
    assert(survivors.join(clusters.groupBy("cluster_id").agg(min("doc_id").as("doc_id")),
      Seq("doc_id"), "left_anti").isEmpty, "a survivor is not its cluster's min member")
    // cluster sizes partition the corpus
    val total = survivors.agg(sum("n_merged")).head().getLong(0)
    assert(total == Tables.documents(spark, sf).count())
    // dropped docs are EXACTLY the non-min members of their clusters
    val dropped = Tables.documents(spark, sf).select("doc_id")
      .join(survivors.select("doc_id"), Seq("doc_id"), "left_anti")
    val nonMin = clusters
      .join(clusters.groupBy("cluster_id").agg(min("doc_id").as("min_id")), "cluster_id")
      .filter(col("doc_id") =!= col("min_id")).select("doc_id")
    assert(dropped.exceptAll(nonMin).isEmpty && nonMin.exceptAll(dropped).isEmpty,
      "dropped set != non-min cluster members")
  }

  test("ssspWeighted: the cheap 2-hop path beats the expensive direct edge, horizon bounded") {
    // 1→3 direct costs 10; 1→2→3 costs 2 — relaxation must prefer it
    val lens = Seq((1L, 3L, 10.0), (3L, 1L, 10.0), (1L, 2L, 1.0), (2L, 1L, 1.0),
      (2L, 3L, 1.0), (3L, 2L, 1.0)).toDF("src", "dst", "len")
    val got = Algorithms.ssspWeighted(lens, source = 1L, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0), s"got $got")
    // bounded rounds: a 4-edge chain is unreachable in 3 rounds
    val chain = (1L to 4L).flatMap(i => Seq((i, i + 1, 1.0), (i + 1, i, 1.0)))
      .toDF("src", "dst", "len")
    val h = Algorithms.ssspWeighted(chain, source = 1L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 3.0), s"got $h")
  }

  test("betweennessSample: path interior nodes carry all shortest paths, star centre dominates") {
    // path 1-2-3-4-5, sources {1,5}: from each end δ(interior) = 3,2,1
    // toward the far end; summed and halved → 2.0 for nodes 2,3,4;
    // endpoints score 0 (excluded)
    val path = bidir((1L until 5L).map(i => (i, i + 1)))
    val got = Algorithms.betweennessSample(path, sources = Seq(1L, 5L), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(2L -> 2.0, 3L -> 2.0, 4L -> 2.0), s"got $got")
    // star centre 100 with leaves 1..4, source {1}: δ(centre) = 3 (one
    // per far leaf), halved → 1.5; leaves score 0
    val star = bidir((1L to 4L).map(l => (100L, l)))
    val s = Algorithms.betweennessSample(star, sources = Seq(1L), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s == Map(100L -> 1.5), s"got $s")
    // diamond 1-2-4, 1-3-4: two equal shortest paths split σ credit
    val diamond = bidir(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    val d = Algorithms.betweennessSample(diamond, sources = Seq(1L), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(2L -> 0.25, 3L -> 0.25), s"got $d")
  }

  test("degreeAssortativity: star graph is perfectly disassortative, clique has zero variance") {
    // star: every edge links the hub (deg 4) to a leaf (deg 1) → r = −1
    val star = bidir((1L to 4L).map(l => (100L, l)))
    val r = Algorithms.degreeAssortativity(star).head().getDouble(0)
    assert(r == -1.0, s"star assortativity $r")
    // regular graph (4-clique): zero degree variance → division yields
    // NaN/null; the operator must not crash and must return one row
    val clique = bidir(for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
    assert(Algorithms.degreeAssortativity(clique).count() == 1)
  }

  test("componentSizeHistogram: path + disjoint pair bucket by size") {
    val edges = bidir(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    val got = Algorithms.componentSizeHistogram(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 1L, 3L -> 1L), s"got $got")
  }

  test("corpusPipeline: output = packed quality-passed survivors, no near-dup pair survives intact") {
    val out = TextOps.corpusPipeline(spark, sf)
    val outIds = out.select("doc_id")
    // every packed doc passed the quality gate
    val kept = TextOps.qualityFilter(spark, sf).select("doc_id")
    assert(outIds.join(kept, Seq("doc_id"), "left_anti").isEmpty,
      "a packed doc failed the quality gate")
    // no verified near-dup pair has BOTH endpoints in the output
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(spark, sf)
    val both = pairs
      .join(outIds.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(outIds.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    assert(both.isEmpty, "a near-dup pair survived dedup intact")
    // offsets are still a valid packing (same invariant as tokenPack)
    val budget = 2048
    out.collect().groupBy(_.getLong(1)).foreach { case (_, rows) =>
      var run = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) == run / budget && r.getLong(4) == run % budget)
        run += r.getLong(2)
      }
    }
  }

  test("tfidf_top_terms: at most k per doc, scores non-increasing, tf positive") {
    val t = TextOps.tfidfTopTerms(spark, sf)
    assert(t.groupBy("doc_id").count().filter(col("count") > 3).isEmpty)
    assert(t.filter(col("tf") < 1).isEmpty)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    val nonMono = t.withColumn("prev", lag(col("score"), 1).over(w))
      .filter(col("prev").isNotNull && col("score") > col("prev"))
    assert(nonMono.isEmpty, "scores not non-increasing within a doc")
  }

  test("events_range_rolling equals the brute-force interval self-join") {
    val got = Olap.eventsRangeRolling(spark, sf)
      .select("user_id", "event_id", "n_30min")
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("sec"))
    val brute = e.join(
        e.select(col("user_id"), col("sec").as("sec2")), Seq("user_id"))
      .filter(col("sec2") >= col("sec") - 1800L && col("sec2") <= col("sec"))
      .groupBy("user_id", "event_id")
      .agg(count(lit(1)).as("n_30min"))
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
  }

  test("mergeRatings: incremental batches fold to exactly the full rebuild") {
    import graft.graph.RatingsGraph
    val events = RatingsGraph.ratingEvents(spark, sf)
    // split the event stream into two deterministic halves, build from
    // the first, merge the second — must equal the one-shot build
    val h = pmod(xxhash64(col("user_id"), col("book_id"), col("rating")), lit(2))
    val batch1 = events.filter(h === 0)
    val batch2 = events.filter(h === 1)
    val base = RatingsGraph.mergeRatings(
      batch1.filter(col("rating") =!= 0)
        .groupBy("user_id", "book_id").agg(max("rating").as("rating")),
      spark.emptyDataFrame.select(lit(0L).as("user_id"), lit(0L).as("book_id"),
        lit(0L).as("rating")).limit(0))
    val merged = RatingsGraph.mergeRatings(base, batch2)
    val full = RatingsGraph.ratings(spark, sf)
      .select("user_id", "book_id", "rating")
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
  }

  test("mergeCooccurrence: delta-folded projection equals the full rebuild") {
    import graft.graph.RatingsGraph
    val events = RatingsGraph.ratingEvents(spark, sf)
    val h = pmod(xxhash64(col("user_id"), col("book_id"), col("rating")), lit(2))
    val batch1 = events.filter(h === 0)
    val batch2 = events.filter(h === 1)
    // base state built from batch1 only
    val baseRatings = batch1.filter(col("rating") =!= 0)
      .groupBy("user_id", "book_id").agg(max("rating").as("rating"))
    val baseLiked = baseRatings.filter(col("rating") >= 6)
    val baseCooc = baseLiked.select(col("user_id").as("u1"), col("book_id"))
      .join(baseLiked.select(col("user_id").as("u2"), col("book_id")), Seq("book_id"))
      .filter(col("u1") =!= col("u2"))
      .groupBy("u1", "u2").agg(count(lit(1)).as("weight"))
    val (mergedCooc, mergedRatings) =
      RatingsGraph.mergeCooccurrence(baseCooc, baseRatings, batch2)
    // ratings fold still exact
    val fullRatings = RatingsGraph.ratings(spark, sf)
      .select("user_id", "book_id", "rating")
    assert(mergedRatings.exceptAll(fullRatings).isEmpty &&
      fullRatings.exceptAll(mergedRatings).isEmpty)
    // the incrementally-maintained projection equals the rebuilt one
    val fullCooc = RatingsGraph.cooccurrenceEdges(spark, sf)
      .select("u1", "u2", "weight")
    assert(mergedCooc.exceptAll(fullCooc).isEmpty &&
      fullCooc.exceptAll(mergedCooc).isEmpty)
  }

  test("serving MERGE: delta-folded serving payloads equal the full rebuilds") {
    import graft.graph.RatingsGraph
    import graft.recommend.Serving
    val events = RatingsGraph.ratingEvents(spark, sf)
    val h = pmod(xxhash64(col("user_id"), col("book_id"), col("rating")), lit(2))
    val batch1 = events.filter(h === 0)
    val batch2 = events.filter(h === 1)
    val books = RatingsGraph.ratedBooks(spark, sf).select(col("book_id"), col("title"))
    val baseRatings = batch1.filter(col("rating") =!= 0)
      .groupBy("user_id", "book_id").agg(max("rating").as("rating"))
    val fullRatings = RatingsGraph.ratings(spark, sf)
      .select("user_id", "book_id", "rating")
    // user-books serving: touched-user fold ≡ full rebuild
    val mergedBooks = Serving.mergeUserBooksServing(
      Serving.userBooksPayload(baseRatings, books), baseRatings, batch2, books)
    val fullBooks = Serving.userBooksPayload(fullRatings, books)
    assert(mergedBooks.exceptAll(fullBooks).isEmpty &&
      fullBooks.exceptAll(mergedBooks).isEmpty,
      "incremental user-books serving diverged from the rebuild")
    // recommendations serving: blast-radius fold ≡ full rebuild —
    // this is the proof of the affected-set argument (delta users +
    // their new-cooc neighbourhood cover every changed top-k)
    val baseLiked = baseRatings.filter(col("rating") >= 6)
    val baseCooc = baseLiked.select(col("user_id").as("u1"), col("book_id"))
      .join(baseLiked.select(col("user_id").as("u2"), col("book_id")), Seq("book_id"))
      .filter(col("u1") =!= col("u2"))
      .groupBy("u1", "u2").agg(count(lit(1)).as("weight"))
    val (mergedRecs, _, _) = Serving.mergeRecommendationsServing(
      Serving.recommendationsPayload(baseRatings, baseCooc, books),
      baseCooc, baseRatings, batch2, books)
    val fullRecs = Serving.recommendationsPayload(fullRatings,
      RatingsGraph.cooccurrenceEdges(spark, sf), books)
    assert(mergedRecs.exceptAll(fullRecs).isEmpty &&
      fullRecs.exceptAll(mergedRecs).isEmpty,
      "incremental recommendation serving diverged from the rebuild")
  }

  test("q18LargeOrders: every row's quantity sum really exceeds the threshold") {
    val got = Olap.q18LargeOrders(spark, sf)
    assert(got.count() > 0)
    assert(got.filter(col("sum_qty") <= 250.0).isEmpty)
    // join-back parity: each reported sum equals a direct recompute
    val direct = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(24,4)")).cast("double").as("direct_qty"))
    assert(got.join(direct, "o_orderkey")
      .filter(col("sum_qty") =!= col("direct_qty")).isEmpty)
  }

  test("q19Disjunctive: revenue equals the clause-by-clause recompute") {
    val r = Olap.q19Disjunctive(spark, sf).head()
    val joined = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
    def clause(brand: String, szHi: Int, qLo: Int, qHi: Int) =
      joined.filter(col("p_brand") === brand && col("p_size").between(1, szHi) &&
        col("l_quantity").between(qLo, qHi))
    val n = clause("Brand#12", 10, 1, 20).count() +
      clause("Brand#23", 20, 10, 30).count() + clause("Brand#34", 30, 20, 40).count()
    assert(r.getLong(1) == n, s"n_items ${r.getLong(1)} != per-clause total $n")
  }

  test("q22GlobalFilter: only orderless customers above the positive-balance average") {
    val got = Olap.q22GlobalFilter(spark, sf).collect()
    assert(got.nonEmpty && got.forall(r => Set(0, 1, 2, 3)(r.getInt(0))))
    val custWithOrders = graft.Tables.customer(spark, sf)
      .join(graft.Tables.orders(spark, sf)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .filter((col("c_nationkey") % 5) < 4).count()
    val allInCodes = graft.Tables.customer(spark, sf)
      .filter((col("c_nationkey") % 5) < 4).count()
    assert(got.map(_.getLong(1)).sum <= allInCodes - custWithOrders,
      "more survivors than orderless customers in the code set")
  }

  test("q6/q20: filter-agg consistent; excess-stock suppliers are distinct and present") {
    val r6 = Olap.q6Forecast(spark, sf).head()
    assert(r6.getLong(1) > 0 && r6.getDouble(0) > 0.0)
    val direct = graft.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24).count()
    assert(r6.getLong(1) == direct)
    val q20 = Olap.q20ExcessStock(spark, sf).collect()
    assert(q20.nonEmpty)
    assert(q20.map(_.getLong(0)).distinct.length == q20.length, "dup suppliers")
  }

  test("q14/q15: ratio bounded, argmax really is the max") {
    val r14 = Olap.q14PromoShare(spark, sf).head()
    assert(r14.getDouble(0) >= 0.0 && r14.getDouble(0) <= 100.0)
    assert(r14.getDouble(1) > 0.0)
    val r15 = Olap.q15TopSupplier(spark, sf).collect()
    assert(r15.nonEmpty)
    val best = r15.map(_.getDouble(2)).max
    // no supplier in the quarter out-earns the reported max
    val all = graft.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(14,2)") *
        (lit(1.0).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("rev"))
    assert(all.filter(col("rev") > best).isEmpty)
  }

  test("q21: reported suppliers were the sole late supplier in multi-supplier orders") {
    val got = Olap.q21WaitingSupplier(spark, sf).collect()
    assert(got.nonEmpty && got.length <= 10)
    assert(got.forall(_.getLong(2) > 0))
    assert(got.map(_.getLong(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("q10/q16: shapes are non-empty with sane orderings") {
    val q10 = Olap.q10Returns(spark, sf).collect()
    assert(q10.nonEmpty && q10.length <= 20)
    assert(q10.map(_.getDouble(4)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "q10 not sorted by revenue desc")
    val q16 = Olap.q16SupplierCount(spark, sf).collect()
    assert(q16.nonEmpty)
    assert(q16.forall(_.getString(0) != "Brand#45"))
    val sizes = Set(1, 4, 9, 14, 19, 23, 36, 45)
    assert(q16.forall(r => sizes(r.getInt(2))))
  }

  test("randomWalks: forced path oscillates, every hop is a real edge") {
    // single-edge graph: the only neighbour at every step is the other
    // node, so the walk from 1 must oscillate 1,2,1,2,1 regardless of
    // the hash draw
    val one = Seq((1L, 2L)).toDF("src", "dst")
    val got = Algorithms.randomWalks(one, Seq(1L), steps = 4, walksPerSource = 1)
      .orderBy("walk_id", "step").collect().map(_.getLong(2)).toSeq
    assert(got == Seq(1L, 2L, 1L, 2L, 1L))
    // richer graph: hops must follow edges and be reproducible
    val tri = bidir(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val w1 = Algorithms.randomWalks(tri, Seq(1L, 3L), steps = 3, walksPerSource = 2)
    val rows = w1.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edgeSet = tri.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.groupBy(_._1).foreach { case (_, steps) =>
      steps.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(edgeSet((a._3, b._3)), s"non-edge hop $a -> $b")
        case _ =>
      }
    }
    val w2 = Algorithms.randomWalks(tri, Seq(1L, 3L), steps = 3, walksPerSource = 2)
    assert(w1.collect().toSeq == w2.collect().toSeq, "walks not deterministic")
  }

  test("ktruss: pendant triangle peels at k=4, clique survives with full support") {
    // 5-clique {1..5} + triangle {5,6,7}: clique edges have support 3,
    // triangle edges support 1
    val clique = for { a <- 1L to 5L; b <- 1L to 5L if a < b } yield (a, b)
    val edges = bidir(clique ++ Seq((5L, 6L), (6L, 7L), (5L, 7L)))
    val k4 = Algorithms.ktruss(edges, k = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(k4.keySet == clique.toSet, s"k=4 truss wrong: ${k4.keySet}")
    assert(k4.values.forall(_ == 3L))
    val k3 = Algorithms.ktruss(edges, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k3 == clique.toSet ++ Set((5L, 6L), (6L, 7L), (5L, 7L)))
    // k=6 needs support >= 4 — more than a 5-clique offers; everything peels
    assert(Algorithms.ktruss(edges, k = 6).collect().isEmpty)
  }

  test("eigenvectorCentrality: star centre dominates, symmetric clique ties") {
    // star: centre 100 ↔ leaves 1..6 — centre must rank first; all
    // leaves tie (identical positions) and normalization keeps order
    val star = bidir((1L to 6L).map(l => (100L, l)))
      .withColumn("weight", lit(1.0))
    val got = Algorithms.eigenvectorCentrality(star, topK = 10).collect()
    assert(got.head.getLong(0) == 100L, s"star centre not top: ${got.toSeq}")
    val leafScores = got.tail.map(_.getDouble(1)).distinct
    assert(leafScores.length == 1, s"leaves should tie: ${got.toSeq}")
    assert(got.head.getDouble(1) > leafScores.head)
  }

  test("hitsTopK: both roles present, scores in (0,1], unit-norm sides") {
    val got = Algorithms.hitsTopK(spark, sf).collect()
    assert(got.length == 20)
    val roles = got.map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(roles == Map("hub" -> 10, "authority" -> 10))
    assert(got.forall(r => r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0))
  }

  test("predictRatings: predictions in [1,10], never a book the target rated") {
    val got = Algorithms.predictRatings(spark, sf)
    assert(got.count() > 0)
    assert(got.filter(col("pred_rating") < 1.0 || col("pred_rating") > 10.0).isEmpty)
    val mine = graft.graph.RatingsGraph.ratings(spark, sf)
      .filter(col("user_id") === 1L).select(col("book_id"))
    assert(got.join(mine, Seq("book_id"), "left_semi").isEmpty,
      "recommended a book the target already rated")
  }

  test("predictRatingsItem: predictions in [1,10], never a rated book, neighbour cap holds") {
    val got = Algorithms.predictRatingsItem(spark, sf)
    assert(got.count() > 0)
    assert(got.filter(col("pred_rating") < 1.0 || col("pred_rating") > 10.0).isEmpty)
    assert(got.filter(col("n_neighbors") < 1L || col("n_neighbors") > 20L).isEmpty)
    val mine = graft.graph.RatingsGraph.ratings(spark, sf)
      .filter(col("user_id") === 1L).select(col("book_id"))
    assert(got.join(mine, Seq("book_id"), "left_semi").isEmpty,
      "recommended a book the target already rated")
    // a prediction is a weighted AVERAGE of the target's own ratings,
    // so it can never exceed the target's own max (nor undercut the min)
    val r = graft.graph.RatingsGraph.ratings(spark, sf)
      .filter(col("user_id") === 1L)
      .agg(min(col("rating")), max(col("rating"))).head()
    val (lo, hi) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(got.filter(col("pred_rating") < lo - 1e-6 ||
      col("pred_rating") > hi + 1e-6).isEmpty,
      s"prediction outside the target's own rating range [$lo, $hi]")
  }

  test("userCosineTopK: scores in (0,1], dot consistent with liked ratings") {
    val got = Algorithms.userCosineTopK(spark, sf)
    assert(got.count() > 0)
    assert(got.filter(col("cosine") <= 0.0 || col("cosine") > 1.0).isEmpty)
    assert(got.filter(col("dot") <= 0).isEmpty)
  }

  test("node2vecWalkCorpus: every node walks; restriction to a source set ≡ node2vecWalks; SPPMI symmetric") {
    val edges = graft.graph.RatingsGraph.cooccurrenceEdges(spark, sf)
      .select(col("u1").as("src"), col("u2").as("dst"))
    val corpus = Algorithms.node2vecWalkCorpus(edges, walksPerNode = 2,
      steps = 4, symmetric = true)
    // every co-occurrence node seeds exactly 2 walks of 5 rows each
    val nNodes = edges.select(col("src")).distinct().count()
    assert(corpus.count() == nNodes * 2 * 5)
    // the corpus IS the per-source entry on that source set — same
    // walk ids, same hash draws, bit-identical rows
    val sources = Seq(1L, 2L, 3L, 4L)
    val ids = sources.flatMap(s => Seq(s * 2, s * 2 + 1))
    val sub = corpus.filter(col("walk_id").isin(ids: _*))
    val direct = Algorithms.node2vecWalks(edges, sources, steps = 4,
      walksPerSource = 2, symmetric = true)
    assert(sub.exceptAll(direct).isEmpty && direct.exceptAll(sub).isEmpty)
    // SPPMI context weights are symmetric and strictly positive
    val ctx = graft.graph.Node2Vec.sppmiContexts(corpus)
    assert(ctx.filter(col("weight") <= 0).isEmpty)
    val flipped = ctx.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
    assert(ctx.exceptAll(flipped).isEmpty && flipped.exceptAll(ctx).isEmpty)
    // one-directional input (symmetric = false): the node universe is
    // src ∪ dst — dst-only nodes walk too (the walk step symmetrizes)
    val oneWay = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val oneWayCorpus = Algorithms.node2vecWalkCorpus(oneWay, walksPerNode = 1, steps = 2)
    assert(oneWayCorpus.select(col("node_id")).filter(col("step") === 0)
      .distinct().count() == 3, "dst-only nodes must seed walks")
    assert(oneWayCorpus.count() == 3 * 1 * 3)
  }

  test("langIdAccuracy: rows cover the corpus, accuracy bounded") {
    val got = TextOps.langIdAccuracy(spark, sf)
    assert(got.agg(sum(col("n_docs"))).head().getLong(0) ==
      Tables.documents(spark, sf).count())
    assert(got.filter(col("accuracy") < 0.0 || col("accuracy") > 1.0).isEmpty)
    assert(got.filter(col("n_correct") > col("n_docs")).isEmpty)
  }

  test("trussDecayProfile: rounds conserve edges (alive[r-1] = removed[r] + alive[r])") {
    val rows = Algorithms.trussDecayProfile(spark, sf).orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val total = graft.graph.RatingsGraph.cooccurrenceEdges(spark, sf)
      .filter(col("u1") < col("u2")).count()
    var prev = total
    rows.foreach { case (_, removed, alive) =>
      assert(prev == removed + alive, s"round leak: $prev != $removed + $alive")
      prev = alive
    }
  }

  test("degreeHistogram: mass balances the directed co-occurrence edge count") {
    val hist = Algorithms.degreeHistogram(spark, sf)
    val mass = hist.agg(sum(col("degree") * col("n_nodes"))).head().getLong(0)
    val rows = graft.graph.RatingsGraph.cooccurrenceEdges(spark, sf).count()
    assert(mass == rows, s"histogram mass $mass != edge rows $rows")
  }

  test("bpeFirstMerge: pairs are 2 chars, weighted count bounds the word count") {
    val got = TextOps.bpeFirstMerge(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getString(0).length == 2))
    // a pair occurs at least once per distinct word containing it
    assert(got.forall(r => r.getLong(1) >= r.getLong(2)))
    assert(got.map(_.getLong(1)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("vocabCoverage: oov counts bounded by token counts, rate in [0,1]") {
    val got = TextOps.vocabCoverage(spark, sf)
    assert(got.count() > 0)
    assert(got.filter(col("n_oov") > col("n_tokens") || col("n_oov") < 0).isEmpty)
    assert(got.filter(col("oov_rate") < 0.0 || col("oov_rate") > 1.0).isEmpty)
  }

  test("bloomContamination: no false negatives — bloom hits cover every exact hit") {
    val got = TextOps.bloomContamination(spark, sf)
    assert(got.count() > 0)
    assert(got.filter(col("bloom_superset") =!= 1L).isEmpty,
      "Bloom filter produced a false negative")
    assert(got.filter(col("n_exact_hits") > col("n_grams")).isEmpty)
    // the probe must be the native BloomFilterMightContain predicate
    // inside codegen, not a per-row Scala UDF over a broadcast sketch
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"bloom probe fell out of codegen:\n$plan")
  }

  test("pqTopK: decent recall vs brute force, codes well-formed, deterministic") {
    import graft.ann.AnnSearch
    val bf = AnnSearch.bruteForceTopK(spark, sf).collect().map(_.getLong(0)).toSet
    val pq = AnnSearch.pqTopK(spark, sf).collect()
    assert(pq.length == 10)
    val overlap = pq.map(_.getLong(0)).count(bf)
    assert(overlap >= 5, s"PQ recall@10 too low: $overlap/10")
    val codes = AnnSearch.pqCodes(spark, sf)
    assert(codes.filter(col("code") < 0 || col("code") >= 16).isEmpty)
    assert(codes.count() ==
      graft.Tables.embeddings(spark, sf).count() * 8)
    assert(pq.toSeq == AnnSearch.pqTopK(spark, sf).collect().toSeq)
  }

  test("ivfPqTopK: routed ADC + re-rank — recall vs brute force, containment, determinism") {
    import graft.ann.AnnSearch
    val bf = AnnSearch.bruteForceTopK(spark, sf).collect().map(_.getLong(0)).toSet
    val res = AnnSearch.ivfPqTopK(spark, sf).collect()
    assert(res.length == 10)
    val overlap = res.map(_.getLong(0)).count(bf)
    assert(overlap >= 5, s"IVFPQ recall@10 too low: $overlap/10")
    // every result must come from a probed cell — the route is a hard
    // filter, not a hint
    val probed = AnnSearch.ivfProbeCells(spark, sf).collect().map(_.getInt(0)).toSet
    val cells = AnnSearch.ivfAssignment(spark, sf)
      .filter(col("vec_id").isin(res.map(_.getLong(0)).toSeq: _*))
      .collect().map(_.getInt(1)).toSet
    assert(cells.subsetOf(probed), s"results from unprobed cells: ${cells -- probed}")
    assert(res.toSeq == AnnSearch.ivfPqTopK(spark, sf).collect().toSeq)
  }

  test("closenessSample: hand-computed path-graph fixture") {
    // path 1-2-3-4-5, source 1, maxHops 3: reaches {2,3,4} at 1,2,3
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Algorithms.closenessSample(path, Seq(1L), maxHops = 3).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L && r.getLong(2) == 6L)
    assert(math.abs(r.getDouble(3) - 0.5) < 1e-9)
  }

  test("userOverlapTopK: overlap in (0,1], dominates jaccard on shared pairs") {
    val ov = Algorithms.userOverlapTopK(spark, sf)
    assert(ov.count() > 0)
    assert(ov.filter(col("overlap") <= 0.0 || col("overlap") > 1.0).isEmpty)
    val jac = Algorithms.userJaccardTopK(spark, sf)
      .select(col("u1"), col("u2"), col("jaccard"))
    val both = ov.join(jac, Seq("u1", "u2"))
    assert(both.filter(col("overlap") < col("jaccard")).isEmpty,
      "overlap must be >= jaccard (min-denominator vs union-denominator)")
  }

  test("embedding_quantize: codes in 0..255, mid-rise error bound holds") {
    val q = graft.ann.AnnSearch.quantize(spark, sf)
    val codes = q.select(explode(split(col("codes"), ",")).as("cs"))
      .select(col("cs").cast("int").as("c"))
    assert(codes.filter(col("c") < 0 || col("c") > 255).isEmpty)
    // mid-rise reconstruction error per element ≤ (step/2)²; embeddings
    // here span ≲1.0 → step ≤ 1/255 → mse well under 1e-4
    assert(q.filter(col("mse") < 0.0 || col("mse") > 1e-4).isEmpty)
  }

  test("sqTopK: SQ8 scan + exact re-rank — recall vs brute force, score sanity, deterministic") {
    import graft.ann.AnnSearch
    val bf = AnnSearch.bruteForceTopK(spark, sf).collect().map(_.getLong(0)).toSet
    val res = AnnSearch.sqTopK(spark, sf).collect()
    assert(res.length == 10)
    // 8-bit per-vector affine quantization is nearly lossless for
    // cosine — recall@10 should be high, not just above the PQ floor
    val overlap = res.map(_.getLong(0)).count(bf)
    assert(overlap >= 8, s"SQ8 recall@10 too low: $overlap/10")
    res.foreach { r =>
      assert(r.getDouble(1) >= -1.0 - 1e-9 && r.getDouble(1) <= 1.0 + 1e-9)
      // the approximate score must sit close to the exact one (SQ8
      // reconstruction error is ≤ step/2 per element)
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 0.05,
        s"approx ${r.getDouble(2)} far from exact ${r.getDouble(1)}")
    }
    assert(res.toSeq == AnnSearch.sqTopK(spark, sf).collect().toSeq)
  }

  test("tokenizerFertility: per-lang totals reconcile with the per-doc encode, fertility >= 1") {
    import graft.text.TextOps
    val perDoc = TextOps.bpeCorpusEncode(spark, sf).collect()
    val byLang = TextOps.tokenizerFertility(spark, sf).collect()
    assert(byLang.nonEmpty)
    assert(byLang.map(_.getLong(1)).sum == perDoc.map(_.getLong(1)).sum,
      "lang-summed word counts must reconcile with the per-doc encode")
    assert(byLang.map(_.getLong(2)).sum == perDoc.map(_.getLong(2)).sum,
      "lang-summed BPE counts must reconcile with the per-doc encode")
    byLang.foreach { r =>
      assert(r.getDouble(3) >= 1.0, s"fertility < 1 for ${r.getString(0)}")
      val want = BigDecimal(r.getLong(2).toDouble / r.getLong(1).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == want)
    }
  }

  test("kmeans: recovers three planted well-separated blobs") {
    // three blobs on orthogonal axes; ids are arranged so the three
    // smallest seeded-hash ids (the init picks) land in DIFFERENT
    // blobs — with separated blobs and one seed each, Lloyd cannot
    // split a blob
    val ids = (0L until 30L)
    val hashOrder = ids.map(i => i -> java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:kmeans".getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .sortBy(_._2).map(_._1)
    val seeds = hashOrder.take(3)
    // blob of id = (its position among seeds) if seed else round-robin
    val blobOf = ids.map { i =>
      val s = seeds.indexOf(i)
      i -> (if (s >= 0) s else (i % 3).toInt)
    }.toMap
    val rows = ids.map { i =>
      val b = blobOf(i)
      val v = Array.fill(64)(0.0f)
      v(b) = 10.0f
      v(20 + b) = 5.0f + (i % 5) * 0.01f // tiny in-blob jitter
      (i, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.ann.KMeans.lloyd(emb, k = 3, iters = 3, dim = 64).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // same blob -> same cluster, different blobs -> different clusters
    val byBlob = ids.groupBy(blobOf)
    byBlob.foreach { case (_, members) =>
      assert(members.map(out).toSet.size == 1,
        s"blob split across clusters: ${members.map(m => m -> out(m))}")
    }
    assert(byBlob.keys.map(b => out(byBlob(b).head)).toSet.size == 3)
  }

  test("conductance: two triangles joined by one bridge edge") {
    // communities {1,2,3} and {4,5,6}; bridge 3-4 weight 1; all clique
    // edges weight 2. Per community: cut = 1 (the bridge, one direction
    // per community row), vol = 6*2 + 1 = 13 -> conductance = 1/13.
    def clique(ids: Seq[Long], w: Long) =
      for { a <- ids; b <- ids if a != b } yield (a, b, w)
    val edges = (clique(Seq(1L, 2L, 3L), 2L) ++ clique(Seq(4L, 5L, 6L), 2L) ++
      Seq((3L, 4L, 1L), (4L, 3L, 1L))).toDF("src", "dst", "weight")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node_id", "label")
    val out = Algorithms.conductance(edges, labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 1L, 13L, 0.076923), (4L, 1L, 13L, 0.076923)))
  }

  test("k1Coloring: clique needs exactly 4 colors, path at most 2, both proper") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val ck4 = Algorithms.k1Coloring(k4).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ck4.size == 4 && ck4.values.toSet.size == 4)
    val path = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
      .toDF("src", "dst")
    val cp = Algorithms.k1Coloring(path).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cp.size == 5 && cp.values.toSet.size <= 2)
    path.collect().foreach { r =>
      assert(cp(r.getLong(0)) != cp(r.getLong(1)), s"monochrome edge $r")
    }
  }

  test("k1Coloring: deep graphs color COMPLETELY (a K100 needs 100 JP rounds)") {
    // JP's round count on a clique equals the clique size (one winner
    // per round) — the old 60-round-capped driver simulation silently
    // dropped the tail; the one-pass greedy must color every node
    val k100 = (for { a <- 1L to 100L; b <- 1L to 100L if a < b } yield (a, b))
      .toDF("src", "dst")
    val c = Algorithms.k1Coloring(k100).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(c.size == 100, s"expected all 100 nodes colored, got ${c.size}")
    assert(c.values.toSet.size == 100, "a clique needs all-distinct colors")
  }

  test("k1Coloring: driver simulation is bit-identical to the distributed rounds") {
    // random-ish sparse fixture exercising multi-round behaviour
    val edges = (for { i <- 0L until 40L; j <- Seq((i * 7 + 3) % 40, (i * 11 + 5) % 40)
      if i != j } yield (i, j)).distinct.toDF("src", "dst")
    val fast = Algorithms.k1Coloring(edges).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dist = Algorithms.k1Coloring(edges, driverLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fast == dist)
  }

  test("rmatEdges: in-range, deterministic, and skewed like an R-MAT should be") {
    val e = Algorithms.rmatEdges(spark, scale = 8, edges = 4000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e.length == 4000)
    assert(e.forall(t => t._2 >= 0 && t._2 < 256 && t._3 >= 0 && t._3 < 256))
    val again = Algorithms.rmatEdges(spark, scale = 8, edges = 4000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e.toSeq == again.toSeq)
    // (a,b,c,d) = (.57,.19,.19,.05) concentrates mass at low ids: the
    // hottest source must dwarf the mean out-degree
    val bySrc = e.groupBy(_._2).map(_._2.length)
    assert(bySrc.max >= 5 * (4000.0 / bySrc.size),
      s"no skew: max ${bySrc.max}, nodes ${bySrc.size}")
  }

  test("scaleProperties: closed-form two-node fixture hits every scaler exactly") {
    val props = Seq((1L, 1L, 2L, 1.0), (2L, 3L, 4L, 3.0))
      .toDF("node_id", "deg", "wdeg", "a")
    val got = Algorithms.scaleProperties(props).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // n=2: μ_deg=2 σ_deg=1, Σwd²=20, mean_a=2 range_a=2
    assert(got(0) == ((1L, 0.0, -1.0, math.rint(math.log(3.0) * 1e6) / 1e6,
      0.447214, -0.5)), s"got ${got(0)}")
    assert(got(1) == ((2L, 1.0, 1.0, math.rint(math.log(5.0) * 1e6) / 1e6,
      0.894427, 0.5)), s"got ${got(1)}")
  }

  test("articleRank: teleport floor, descending top-20, deterministic") {
    def run() = Algorithms.articleRank(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val out = run()
    assert(out.length == 20)
    assert(out.forall(_._2 >= 0.15), s"below the (1-d) floor: $out")
    assert(out.map(_._2).sliding(2).forall(p => p.head >= p.last), "not descending")
    assert(run() == out)
  }

  test("lineitemCorr / eventsMoments: bounded, complete, deterministic") {
    val corr = graft.olap.Olap.lineitemCorr(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(corr.length == 6, s"expected 6 pairs, got ${corr.toSeq}")
    assert(corr.forall(t => t._3 >= -1.0 && t._3 <= 1.0), corr.toSeq.toString)
    assert(corr.forall(t => t._1 < t._2), "pairs must be lexicographically oriented")
    val m = graft.olap.Olap.eventsMoments(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    assert(m.nonEmpty && m.forall(_._3 >= 0.0), s"negative variance: ${m.toSeq}")
    val again = graft.olap.Olap.lineitemCorr(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(corr.toSeq == again.toSeq)
  }

  test("eventsScd2: repeats collapse, versions dense, validity windows chain") {
    // user 1: A A B A -> versions A[t1,t3) B[t3,t4) A[t4,high);
    // user 2: single event -> one current version
    val ts = (i: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:0$i:00")
    val ev = Seq(
      (1L, 1L, "A", ts(1)), (2L, 1L, "A", ts(2)), (3L, 1L, "B", ts(3)),
      (4L, 1L, "A", ts(4)), (5L, 2L, "X", ts(5)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.olap.Olap.eventsScd2Of(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getBoolean(5)))
    val high = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")
    assert(got.toSeq == Seq(
      (1L, 1L, "A", ts(1), ts(3), false),
      (1L, 2L, "B", ts(3), ts(4), false),
      (1L, 3L, "A", ts(4), high, true),
      (2L, 1L, "X", ts(5), high, true)), s"got ${got.toSeq}")
  }

  test("eventsScd2: sub-second change runs coalesce to the second's last type — no zero-width versions") {
    // boundaries are second-truncated, so A@.100 B@.400 C@.700 inside
    // second t1 must collapse to ONE version (type C), not three
    // zero-width ones; and a run that lands back on the predecessor's
    // type (u2: A then B@.2 A@.8 within t2) must emit no new version
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 1L, "A", t("2024-01-01 00:00:01.100")),
      (2L, 1L, "B", t("2024-01-01 00:00:01.400")),
      (3L, 1L, "C", t("2024-01-01 00:00:01.700")),
      (4L, 1L, "D", t("2024-01-01 00:00:05.000")),
      (5L, 2L, "A", t("2024-01-01 00:00:01.000")),
      (6L, 2L, "B", t("2024-01-01 00:00:02.200")),
      (7L, 2L, "A", t("2024-01-01 00:00:02.800")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.olap.Olap.eventsScd2Of(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getBoolean(5)))
    val high = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")
    assert(got.toSeq == Seq(
      (1L, 1L, "C", t("2024-01-01 00:00:01"), t("2024-01-01 00:00:05"), false),
      (1L, 2L, "D", t("2024-01-01 00:00:05"), high, true),
      (2L, 1L, "A", t("2024-01-01 00:00:01"), high, true)), s"got ${got.toSeq}")
    // every version strictly positive-width: valid_from < valid_to
    assert(got.forall(r => r._4.before(r._5)), s"zero-width version in ${got.toSeq}")
  }

  test("mergeScd2 (T14): delta fold == full rebuild on new/unchanged/multi-change users") {
    val ts = (i: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")
    // base: u1 A A B (changes at 1, 3); u2 X; u3 Q (untouched by delta)
    val base = Seq(
      (1L, 1L, "A", ts(1)), (2L, 1L, "A", ts(2)), (3L, 1L, "B", ts(3)),
      (4L, 2L, "X", ts(4)), (5L, 3L, "Q", ts(5)))
      .toDF("event_id", "user_id", "event_type", "ts")
    // delta: u1 B A B (change, change); u2 X X (no type change);
    // u4 brand new N N M (change at first, change to M)
    val delta = Seq(
      (6L, 1L, "B", ts(10)), (7L, 1L, "A", ts(11)), (8L, 1L, "B", ts(12)),
      (9L, 2L, "X", ts(13)), (10L, 2L, "X", ts(14)),
      (11L, 4L, "N", ts(15)), (12L, 4L, "N", ts(16)), (13L, 4L, "M", ts(17)))
      .toDF("event_id", "user_id", "event_type", "ts")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getBoolean(5))).toSeq
    val merged = rows(graft.olap.Olap.mergeScd2(
      graft.olap.Olap.eventsScd2Of(base), delta))
    val rebuilt = rows(graft.olap.Olap.eventsScd2Of(base.unionByName(delta)))
    assert(merged == rebuilt, s"merged $merged\nrebuilt $rebuilt")
    // the contract guard: a delta event at the open version's start fails fast
    val bad = Seq((99L, 1L, "Z", ts(3))).toDF("event_id", "user_id", "event_type", "ts")
    val ex = intercept[IllegalArgumentException] {
      graft.olap.Olap.mergeScd2(graft.olap.Olap.eventsScd2Of(base), bad).count()
    }
    assert(ex.getMessage.contains("contract is broken"))
  }

  test("mergeScd2: watermark guard catches a delta BEHIND the last base event that the fallback cannot see") {
    val ts = (i: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")
    // base: u1 A@t1 A@t5 — one version, open since t1, last EVENT at t5.
    // delta B@t3 is between them: a full rebuild would version at t3
    // AND t5's A would re-change it, so merge ≠ rebuild — yet the
    // fallback guard (t3 > open version's start t1) passes silently.
    val base = Seq((1L, 1L, "A", ts(1)), (2L, 1L, "A", ts(5)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val dim = graft.olap.Olap.eventsScd2Of(base)
    val midDelta = Seq((3L, 1L, "B", ts(3))).toDF("event_id", "user_id", "event_type", "ts")
    val wm = base.groupBy(col("user_id")).agg(max(col("ts")).as("hwm"))
    val ex = intercept[IllegalArgumentException] {
      graft.olap.Olap.mergeScd2(dim, midDelta, Some(wm)).count()
    }
    assert(ex.getMessage.contains("contract is broken"))
    // a genuinely-later delta passes the watermark guard and merges ≡ rebuild
    val okDelta = Seq((4L, 1L, "B", ts(7))).toDF("event_id", "user_id", "event_type", "ts")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getBoolean(5))).toSeq
    assert(rows(graft.olap.Olap.mergeScd2(dim, okDelta, Some(wm))) ==
      rows(graft.olap.Olap.eventsScd2Of(base.unionByName(okDelta))))
  }

  test("mergeScd2: no forced broadcasts — the delta path plans shuffle joins under autoBroadcast=-1") {
    // the delta-derived sides are "delta users"-sized, NOT provably
    // broadcast-sized at 100 TB; the plan must leave strategy choice to
    // size-based auto selection (no hint survives threshold -1)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ts = (i: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")
      val base = Seq((1L, 1L, "A", ts(1)), (2L, 2L, "X", ts(2)))
        .toDF("event_id", "user_id", "event_type", "ts")
      val delta = Seq((3L, 1L, "B", ts(10))).toDF("event_id", "user_id", "event_type", "ts")
      val merged = graft.olap.Olap.mergeScd2(graft.olap.Olap.eventsScd2Of(base), delta)
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"forced broadcast on the delta path:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"forced broadcast join on the delta path:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bm25TopTerms: closed-form scores on a single-doc corpus, saturation orders by tf") {
    import graft.text.TextOps
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    Seq((1L, "a a b"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'web' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.bm25TopTerms(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N=1, df=1 -> idf = ln(0.5/1.5 + 1); dl = avgdl -> length norm = 1
    val idf = math.log(0.5 / 1.5 + 1.0)
    val sa = r6(idf * (2.0 * (1.2 + 1.0)) / (2.0 + 1.2))
    val sb = r6(idf * (1.0 * (1.2 + 1.0)) / (1.0 + 1.2))
    assert(got.toSeq == Seq(("a", 2L, sa), ("b", 1L, sb)), s"got ${got.toSeq}")
    assert(sa > sb, "higher tf must win under saturation")
  }

  test("eventsEwma: closed-form adjust=True values on a three-row series") {
    val ev = Seq((1L, "click", 1L, 10.0), (2L, "click", 2L, 20.0),
      (3L, "click", 3L, 5.0)).toDF("event_id", "event_type", "ts", "value")
    val got = graft.olap.Olap.eventsEwmaOf(ev).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0) == ((1L, r6(10.0))))
    assert(got(1) == ((2L, r6((20.0 + 0.7 * 10.0) / (1.0 + 0.7)))))
    assert(got(2) == ((3L,
      r6((5.0 + 0.7 * 20.0 + 0.7 * 0.7 * 10.0) / (1.0 + 0.7 + 0.7 * 0.7)))))
  }

  test("maxKCut: disjoint edges reach the perfect cut; valid, deterministic classes") {
    // two disconnected edges, k=2: round 1 moves the odd endpoints off
    // their partners, round 2 the even ones; stay-preference holds the
    // perfect cut in round 3 (within(cur)=0 ties nothing better)
    val edges = Seq((1L, 2L, 3L), (2L, 1L, 3L), (3L, 4L, 5L), (4L, 3L, 5L))
      .toDF("src", "dst", "weight")
    val cls = Algorithms.maxKCut(edges, k = 2, iterations = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cls.size == 4 && cls.values.forall(c => c >= 0 && c < 2))
    assert(cls(1L) != cls(2L), s"edge 1-2 uncut: $cls")
    assert(cls(3L) != cls(4L), s"edge 3-4 uncut: $cls")
    val again = Algorithms.maxKCut(edges, k = 2, iterations = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cls == again)
  }

  test("influenceSeeds: star hub covers every RR set and is the single seed") {
    // weighted cascade p(u→v) = w/k(v): spokes have k=1, so hub→spoke
    // is ALWAYS live — every RR set rooted at a spoke pulls the hub in
    // wave 1, and a hub root contains the hub trivially. Greedy round 1
    // must pick the hub with gain = all 64 RR sets, leaving nothing for
    // rounds 2..5 (exactly one output row, in engine and oracle alike).
    val edges = (1L to 10L).flatMap(s => Seq((100L, s, 1L), (s, 100L, 1L)))
      .toDF("src", "dst", "weight")
    val got = graft.graph.Influence.influenceSeeds(edges).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, 100L, 64L)), s"got ${got.toSeq}")
  }

  test("influenceSeeds: two disjoint stars yield the two hubs, gains partition the sims") {
    val edges = ((1L to 8L).flatMap(s => Seq((100L, s, 1L), (s, 100L, 1L))) ++
      (11L to 18L).flatMap(s => Seq((200L, s, 1L), (s, 200L, 1L))))
      .toDF("src", "dst", "weight")
    val got = graft.graph.Influence.influenceSeeds(edges).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 2, s"got ${got.toSeq}")
    assert(got.map(_._2).toSet == Set(100L, 200L), s"got ${got.toSeq}")
    assert(got.map(_._3).sum == 64L, s"gains must partition the 64 RR sets: ${got.toSeq}")
    assert(got(0)._3 >= got(1)._3, "greedy must pick the larger cover first")
  }

  test("modularityOptimization: two triangles with a weak bridge resolve to the triangles") {
    // 10-weight triangles {1,2,3} and {4,5,6}, 1-weight bridge 3-4:
    // greedy ΔQ with parity-alternating move classes converges in 3
    // rounds (fully synchronous moving oscillates forever on this —
    // the swap pathology the parity schedule exists to break)
    val und = Seq((1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L), (3L, 4L, 1L))
    val edges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .toDF("src", "dst", "weight")
    val got = Algorithms.modularityOptimization(edges, iterations = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 6)
    assert(Set(got(1L), got(2L), got(3L)).size == 1, s"triangle 1 split: $got")
    assert(Set(got(4L), got(5L), got(6L)).size == 1, s"triangle 2 split: $got")
    assert(got(1L) != got(4L), s"bridge merged the triangles: $got")
  }

  test("modularityOptimization: isolated edge pair merges (positive gain beats stay)") {
    val edges = Seq((7L, 8L, 5L), (8L, 7L, 5L)).toDF("src", "dst", "weight")
    val got = Algorithms.modularityOptimization(edges, iterations = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 2 && got(7L) == got(8L), s"pair did not merge: $got")
  }

  test("k1Coloring: round-cap leftovers finish via driver greedy, identical to uncapped legs") {
    // A K12 needs 12 JP rounds (one winner per round); maxRounds=3 on
    // the distributed leg leaves 9 uncolored, forcing the
    // driver-completion pass. Completion continues the exact JP
    // fixpoint (decreasing md5 priority, colored neighbours as fixed
    // constraints), so the capped run must be BIT-IDENTICAL to both
    // the uncapped distributed run and the driver simulation.
    val k12 = (for { a <- 1L to 12L; b <- 1L to 12L if a < b } yield (a, b))
      .toDF("src", "dst")
    val capped = Algorithms.k1Coloring(k12, maxRounds = 3, driverLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val uncapped = Algorithms.k1Coloring(k12, driverLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val driver = Algorithms.k1Coloring(k12)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped.size == 12, s"completion must color every node, got ${capped.size}")
    assert(capped == uncapped && capped == driver)
  }

  test("shortestPathNodes: unique path on a weighted-tie fixture, empty when unreachable") {
    // 1-2-3-4 path plus a longer detour 1-10-11-3: BFS must take the
    // short route; parent tie at node 3 (from 2 and 11, both dist 2?
    // no - 2 is dist 1, 11 is dist 2, so parent(3) = 2 by level)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 10L), (10L, 11L), (11L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val path = Algorithms.shortestPathNodes(edges, 1L, 4L, maxHops = 6).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(path == Seq((0, 1L), (1, 2L), (2, 3L), (3, 4L)))
    val none = Algorithms.shortestPathNodes(edges, 1L, 99L, maxHops = 6)
    assert(none.count() == 0)
  }

  test("eventsAnomaly: flags exactly the planted outlier, z-score from exact sums") {
    import org.apache.spark.sql.functions.col
    // type A: nine 10.0s and one 100.0 — mean 19, std 28.46, z(100) ≈ 2.85
    // at z=2.5 only the 100 trips; type B constant → std 0, never flagged
    val rows = (1L to 9L).map(i => (i, "a", 10.0)) ++ Seq((10L, "a", 100.0)) ++
      (11L to 14L).map(i => (i, "b", 5.0))
    val e = rows.toDF("event_id", "event_type", "value")
    val got = olap.Olap.eventsAnomalyOf(e, z = 2.5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    assert(got.length == 1 && got.head._1 == 10L && got.head._2 == "a")
    // closed form: mean=19, var=(sum v² - (sum v)²/n)/(n-1)=810, std=sqrt(810)
    val want = BigDecimal((100.0 - 19.0) / math.sqrt(810.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head._3 == want, s"${got.head._3} != $want")
  }

  test("yensPaths: the three shortest loopless paths, in (cost, path) order") {
    import org.apache.spark.sql.functions.col
    // 1→4: [1,2,4]=2.0, then [1,3,4]=2.5, then the 3.0 tie between
    // [1,2,3,4] and [1,3,2,4] breaks lexicographically to [1,2,3,4]
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 4L, 1.0), (1L, 3L, 1.0), (3L, 4L, 1.5),
      (2L, 3L, 0.5), (3L, 2L, 1.0), (1L, 4L, 4.0)).toDF("src", "dst", "len")
    def pathsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (rk, rows) =>
        val sorted = rows.sortBy(_._2)
        (rk, sorted.map(_._3).toSeq, rows.head._4, sorted.map(_._5).toSeq) }
    val got = pathsOf(Algorithms.yensPaths(edges, 1L, 4L, k = 3))
    // r12: step_cost = cumulative cost at each step (0 at the source,
    // path_cost at the target) — pinned closed-form per path
    assert(got == Seq(
      (0L, Seq(1L, 2L, 4L), 2.0, Seq(0.0, 1.0, 2.0)),
      (1L, Seq(1L, 3L, 4L), 2.5, Seq(0.0, 1.0, 2.5)),
      (2L, Seq(1L, 2L, 3L, 4L), 3.0, Seq(0.0, 1.0, 1.5, 3.0))), s"got $got")
    // distributed leg (driverLimit = 0): same paths, same costs
    val dist = pathsOf(Algorithms.yensPaths(edges, 1L, 4L, k = 3, driverLimit = 0L))
    assert(dist == got, s"legs disagree: $dist vs $got")
    // k beyond the loopless supply truncates instead of looping
    val all = pathsOf(Algorithms.yensPaths(edges, 1L, 4L, k = 10))
    assert(all.length >= 4 && all.map(_._2).distinct.length == all.length)
    assert(all.map(_._3) == all.map(_._3).sorted, "costs must be nondecreasing")
  }

  test("yensPaths: both legs add exact spur costs to the root's, rounded once") {
    // 1/3 and 1 are the lengths the cooc graph's 1/weight gives. A[0] is
    // [1,2,3,4] (cost 1); the spur at 2 adds 2→5→4 (4/3) to the root's
    // 1/3, so A[1] costs 5/3, which rounds to 1.666667: rounding the
    // spur's and the root's cums first gives 0.333333 + 1.333333
    val third = 1.0 / 3
    val edges = Seq((1L, 2L, third), (2L, 3L, third), (3L, 4L, third), (2L, 5L, 1.0),
      (5L, 4L, third), (3L, 5L, 1.0), (1L, 5L, 1.5)).toDF("src", "dst", "len")
    val driver = Algorithms.yensPaths(edges, 1L, 4L, k = 4).collect().toSeq
    val dist = Algorithms.yensPaths(edges, 1L, 4L, k = 4, driverLimit = 0L).collect().toSeq
    assert(dist == driver, s"legs disagree: $dist vs $driver")
    val costs = driver.map(r => r.getLong(0) -> r.getDouble(3)).distinct.sortBy(_._1).map(_._2)
    assert(costs == Seq(1.0, 1.666667, 1.833333, 2.0), s"path costs $costs")
    assert(costs == costs.sorted, "costs must be nondecreasing")
    assert(driver.filter(_.getLong(0) == 1L).map(_.getDouble(4)) ==
      Seq(0.0, 0.333333, 1.333333, 1.666667))
  }

  test("alsGate: ALS recovers the planted rank-1 signal on the sf0.001 mask") {
    val row = graft.recommend.Als.alsGate(spark, sf).collect().head
    val (nTrain, nTest) = (row.getLong(0), row.getLong(1))
    // fold covers the whole mask and is ~20/80 (top 0x34/0x100 of hex space)
    val total = graft.graph.RatingsGraph.ratings(spark, sf).count()
    assert(nTrain + nTest == total)
    assert(nTest.toDouble / total > 0.15 && nTest.toDouble / total < 0.26)
    assert(row.getDouble(2) > 1.0, "planted signal should have real variance")
    assert(row.getBoolean(3), "ALS failed to recover the planted factors")
  }

  test("sourceTemperatureMix: per-source keeps are exactly round(sqrt(n_s*n_min))") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    val kept = text.TextOps.sourceTemperatureMix(spark, sf)
      .groupBy(col("source")).agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (s, n) =>
      val want = math.round(math.sqrt((n * nMin).toDouble))
      assert(kept.getOrElse(s, 0L) == want, s"source $s: ${kept.get(s)} != $want")
    }
    // the smallest source keeps everything; larger ones are flattened
    val smallest = counts.minBy(_._2)._1
    assert(kept(smallest) == counts(smallest))
  }
}
