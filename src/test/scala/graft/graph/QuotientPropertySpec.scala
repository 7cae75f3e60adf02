package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Randomized structural check of the quotient fast paths' central
  * claim — that summing size(c) copies of one quantized decimal IS
  * integer multiplication, so class-level arithmetic is bit-identical
  * to the part-level loop — on graphs the shipped dataset never
  * produces (uneven class sizes, missing sizes, multiple components,
  * single-class brands). Seeded RNG: deterministic, replayable. */
class QuotientPropertySpec extends SparkSpec {

  private def randomClasses(rng: scala.util.Random): Map[(String, Long), Long] = {
    val brands = 2 + rng.nextInt(3)
    (for {
      b <- 1 to brands
      s <- 1L to 8L
      if rng.nextDouble() < 0.6 // holes in the size range
    } yield (s"B$b", s) -> (1L + rng.nextInt(4))).toMap
  }

  /** Part table: globally unique ids per class member. */
  private def partsOf(sizes: Map[(String, Long), Long]): Seq[(Long, String, Long)] = {
    var id = 0L
    sizes.toSeq.sortBy(_._1).flatMap { case ((b, s), n) =>
      (1L to n).map { _ => id += 1; (id, b, s) }
    }
  }

  test("HITS quotient ≡ distributed loop on 6 random class graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260814L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      val edges = for {
        ((b, s), srcs) <- byClass.toSeq
        dsts <- byClass.get((b, s + 1)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      if (edges.nonEmpty) {
        trialsRun += 1
        val dist = Hits.run(edges.toDF("src", "dst"), iters = 3)
          .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
        val classEdges = sizes.keys.toSeq
          .filter { case (b, s) => sizes.contains((b, s + 1)) }
          .map { case (b, s) => ((b, s), (b, s + 1)) }
        val scores = Hits.quotientScores(sizes, classEdges, iters = 3)
        val fast = parts.flatMap { case (id, b, s) =>
          scores.get((b, s)).map(id -> _)
        }.toMap
        assert(fast.keySet === dist.keySet, s"trial $trial node sets")
        fast.foreach { case (n, (hub, auth)) =>
          assert(dist(n)._1 === hub, s"trial $trial hub of $n")
          assert(dist(n)._2 === auth, s"trial $trial authority of $n")
        }
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("RA quotient ≡ fact-level operator on 6 random class graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(14082026L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val partsDF = parts.toDF("node", "brand", "size")
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        delta <- Seq(1L, 2L)
        dsts <- byClass.get((b, s + delta)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      if (up.nonEmpty) {
        trialsRun += 1
        val sym = (up ++ up.map(_.swap)).toDF("src", "dst")
        val facts = LinkPrediction.resourceAllocation(sym, 50).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        val quot = LinkPrediction.quotientBlowup(spark, sizes, partsDF, 50).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        assert(quot.toSeq === facts.toSeq, s"trial $trial")
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("node-Jaccard quotient ≡ positional-block engine on 6 random class graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(26081408L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        delta <- Seq(1L, 2L)
        dsts <- byClass.get((b, s + delta)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      if (up.nonEmpty) {
        trialsRun += 1
        val sym = (up ++ up.map(_.swap)).toDF("src", "dst")
        def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
          df.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
        val dist = asSet(NodeSimilarity.jaccard(spark, sym))
        val fast = asSet(NodeSimilarity.quotientBlowup(spark, sizes,
          parts.toDF("node", "brand", "size")))
        assert(fast === dist, s"trial $trial: quotient diverges (sizes=$sizes)")
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("PPR refined quotient ≡ distributed loop on 6 random class graphs with random seeds") {
    import spark.implicits._
    val rng = new scala.util.Random(14268020L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      // RANDOM seed flags: the refinement must hold for any seed set,
      // not just the shipped every-100th rule
      val flagged = parts.map(p => (p._1, p._2, p._3, rng.nextDouble() < 0.3))
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        dsts <- byClass.get((b, s + 1)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      if (up.nonEmpty && flagged.exists(_._4)) {
        trialsRun += 1
        val sym = (up ++ up.map(_.swap)).toDF("src", "dst")
        val seeds = flagged.filter(_._4).map(_._1).toDF("node")
        def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
          df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val dist = asMap(PersonalizedPageRank.run(spark, sym, seeds, iters = 4))
        val fast = asMap(PersonalizedPageRank.quotientRefined(spark, sizes,
          flagged.toDF("node", "brand", "size", "is_seed"), iters = 4))
        assert(fast.keySet === dist.keySet, s"trial $trial node sets (sizes=$sizes)")
        fast.foreach { case (n, r) =>
          assert(dist(n) === r, s"trial $trial rank of $n") }
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("ANF class-ball quotient ≡ 2-round register propagation + exact ball on 6 random class graphs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(20140826L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        dsts <- byClass.get((b, s + 1)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      if (up.nonEmpty) {
        trialsRun += 1
        val e = (up ++ up.map(_.swap)).toDF("src", "dst")
        // the single-sourced g_anf reference composition (2
        // propagation rounds + exact wedge-join 2-ball), sampleMod 1
        // = every node; est compared too — a pure function of the
        // registers, so est equality pins the bit-identical merge
        def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Boolean)] =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
        val ref = asSet(Anf.propagationReference(spark, e, sampleMod = 1, tol = 0.4))
        val fast = asSet(Anf.quotientBlowup(spark, sizes,
          parts.toDF("node", "brand", "size"), sampleMod = 1, tol = 0.4))
        assert(fast === ref, s"trial $trial: quotient diverges (sizes=$sizes)")
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("Luby MIS quotient ≡ edge-set loop on 6 random class graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(8202614L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      // the wide (±1, ±2) blow-up, both orientations — what
      // GraphBuilder.partEdgesWide builds from a part table
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        delta <- Seq(1L, 2L)
        dsts <- byClass.get((b, s + delta)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      if (up.nonEmpty) {
        trialsRun += 1
        val sym = (up ++ up.map(_.swap)).toDF("src", "dst")
        val vertsDF = parts.map(_._1).toDF("id")
        val partsDF = parts.toDF("node", "brand", "size")
        def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Boolean, Option[Long])] =
          df.collect().map(r => (r.getLong(0), r.getBoolean(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        val dist = asSet(Mis.run(spark, vertsDF, sym))
        val fast = asSet(Mis.quotientBlowup(spark, sizes, partsDF, maxIter = 25))
        assert(fast === dist, s"trial $trial: quotient diverges (sizes=$sizes)")
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("CC quotient ≡ star-contraction engine on 6 random class graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(7202616L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      // the narrow (±1) blow-up, both orientations — what
      // GraphBuilder.partEdges builds from a part table
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        dsts <- byClass.get((b, s + 1)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      trialsRun += 1 // CC is defined on edgeless graphs too (all singletons)
      val sym = (up ++ up.map(_.swap)).toDF("src", "dst")
      val vertsDF = parts.map(_._1).toDF("id")
      val partsDF = parts.toDF("node", "brand", "size")
      def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = asMap(ConnectedComponents.run(spark, vertsDF, sym))
      val fast = asMap(ConnectedComponents.quotientBlowup(spark, sizes, partsDF))
      assert(fast === dist, s"trial $trial: quotient diverges (sizes=$sizes)")
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("expand quotient ≡ frontier-join engine on 6 random class graphs, every depth") {
    import spark.implicits._
    val rng = new scala.util.Random(3202616L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        dsts <- byClass.get((b, s + 1)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      // random seeds — include isolated-class seeds when the draw
      // lands there (the edge engine emits them at wave 0 only)
      val seeds = parts.map(_._1).filter(_ => rng.nextDouble() < 0.15)
      if (up.nonEmpty && seeds.nonEmpty) {
        trialsRun += 1
        val sym = (up ++ up.map(_.swap)).toDF("src", "dst")
        val seedsDF = seeds.toDF("node")
        val partsDF = parts.toDF("node", "brand", "size")
        def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        for (depth <- 1 to 4) {
          val dist = asMap(Bfs.expand(sym, seedsDF, depth))
          val fast = asMap(Bfs.quotientExpand(spark, sizes, partsDF, seedsDF, depth))
          assert(fast === dist,
            s"trial $trial depth=$depth: quotient diverges (sizes=$sizes seeds=$seeds)")
        }
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("TYPED expand quotient ≡ frontier-join engine on 6 random typed class graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(1620260817L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      // refine each (brand, size) class into 1-3 typed subclasses
      val typedParts: Seq[(Long, String, Long, String)] = {
        var id = 0L
        sizes.toSeq.sortBy(_._1).flatMap { case ((b, s), n) =>
          (1L to n).map { _ =>
            id += 1
            (id, b, s, s"T${1 + rng.nextInt(3)}")
          }
        }
      }
      val byClass = typedParts.groupBy(p => (p._2, p._3))
        .view.mapValues(_.map(p => (p._1, p._4))).toMap
      // the three-rule union: size ±1 (any types) + same-class
      // different-type substitution — partEdgesTyped's edge set
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        dsts <- byClass.get((b, s + 1)).toSeq
        (u, _) <- srcs; (v, _) <- dsts
      } yield (u, v)
      val sub = for {
        ((_, _), ms) <- byClass.toSeq
        (u, tu) <- ms; (v, tv) <- ms
        if u != v && tu != tv
      } yield (u, v)
      val seeds = typedParts.map(_._1).filter(_ => rng.nextDouble() < 0.15)
      if ((up.nonEmpty || sub.nonEmpty) && seeds.nonEmpty) {
        trialsRun += 1
        val edges = (up ++ up.map(_.swap) ++ sub).toDF("src", "dst")
        val seedsDF = seeds.toDF("node")
        val partsDF = typedParts.toDF("node", "brand", "size", "ptype")
        def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        for (depth <- 1 to 4) {
          val dist = asMap(Bfs.expand(edges, seedsDF, depth))
          val classes = typedParts.map(p => (p._2, p._3, p._4)).toSet
          val fast = asMap(Bfs.quotientExpandTyped(spark, classes, partsDF, seedsDF, depth))
          assert(fast === dist,
            s"trial $trial depth=$depth: typed quotient diverges (seeds=$seeds)")
          // the Dispatch fallback materializes the identical rule union
          val fb = asMap(Bfs.expand(
            GraphBuilder.typedBlowupEdges(partsDF).select(col("src"), col("dst")),
            seedsDF, depth))
          assert(fb === dist, s"trial $trial depth=$depth: typed fallback edges diverge")
        }
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("SSSP line-metric relaxation ≡ frontier engine on 6 random priced class graphs, every hop") {
    import spark.implicits._
    val rng = new scala.util.Random(6120268L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      // 2-decimal prices, the part table's domain shape — including
      // DUPLICATE prices across nodes (the tie case both branches of
      // the price split must agree on)
      val priced = parts.map { case (id, b, s) =>
        (id, b, s, new java.math.BigDecimal(
          java.math.BigInteger.valueOf(1L + rng.nextInt(400)), 2))
      }
      val prices = priced.map(p => p._1 -> p._4).toMap
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      // the narrow (±1) blow-up with |Δprice| weights — what
      // GraphBuilder.partEdgeDeltas builds from a part table
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        dsts <- byClass.get((b, s + 1)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v, prices(u).subtract(prices(v)).abs.doubleValue)
      val seeds = parts.map(_._1).filter(_ => rng.nextDouble() < 0.2)
      if (up.nonEmpty && seeds.nonEmpty) {
        trialsRun += 1
        val sym = (up ++ up.map(e => (e._2, e._1, e._3))).toDF("src", "dst", "w")
        val seedsDF = seeds.toDF("node")
        val partsDF = priced.toDF("node", "brand", "size", "price")
        def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
          df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        for (hops <- 1 to 4) {
          val dist = asMap(Sssp.run(spark, sym, seedsDF, hops))
          val fast = asMap(Sssp.blowupRun(spark, partsDF, seedsDF, hops))
          assert(fast === dist,
            s"trial $trial hops=$hops: line-metric diverges (sizes=$sizes seeds=$seeds)")
        }
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("walks blow-up picks ≡ edge-ranking engine on 6 random class graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(8160262L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      // the wide (±1, ±2) blow-up, both orientations — what
      // GraphBuilder.partEdgesWide builds from a part table
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        delta <- Seq(1L, 2L)
        dsts <- byClass.get((b, s + delta)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      val seeds = parts.map(_._1).filter(_ => rng.nextDouble() < 0.25)
      if (up.nonEmpty && seeds.nonEmpty) {
        trialsRun += 1
        val sym = (up ++ up.map(_.swap)).toDF("src", "dst")
        val seedsDF = seeds.toDF("seed")
        val partsDF = parts.toDF("node", "brand", "size")
        def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val dist = asSet(RandomWalks.run(spark, sym, seedsDF, steps = 3))
        val fast = asSet(RandomWalks.blowupRun(spark, partsDF, seedsDF,
          steps = 3, deltas = Seq(1L, 2L)))
        assert(fast === dist,
          s"trial $trial: blow-up picks diverge (sizes=$sizes seeds=$seeds)")
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }

  test("Louvain quotient ≡ edge-scale sweep engine on 6 random class graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(16202608L)
    var trialsRun = 0
    for (trial <- 1 to 6) {
      val sizes = randomClasses(rng)
      val parts = partsOf(sizes)
      val byClass = parts.groupBy(p => (p._2, p._3)).view.mapValues(_.map(_._1)).toMap
      // the wide (±1, ±2) blow-up, both orientations — what
      // GraphBuilder.partEdgesWide builds from a part table
      val up = for {
        ((b, s), srcs) <- byClass.toSeq
        delta <- Seq(1L, 2L)
        dsts <- byClass.get((b, s + delta)).toSeq
        u <- srcs; v <- dsts
      } yield (u, v)
      if (up.nonEmpty) {
        trialsRun += 1
        val sym = (up ++ up.map(_.swap)).toDF("src", "dst")
        val vertsDF = parts.map(_._1).toDF("id")
        val partsDF = parts.toDF("node", "brand", "size")
        def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // both sweep counts the shipped key uses a prefix of — per-sweep
        // equality is the strong form of the invariant
        for (sweeps <- Seq(1, 4)) {
          val dist = asMap(Louvain.run(spark, vertsDF, sym, sweeps))
          val fast = asMap(Louvain.quotientBlowup(spark, sizes, partsDF, sweeps))
          assert(fast === dist,
            s"trial $trial sweeps=$sweeps: quotient diverges (sizes=$sizes)")
          // the quotient's distributed sweeps (probe bound 1) — the
          // route past the bound — make the equality three-way
          spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
          val swept = try asMap(Louvain.quotientBlowup(spark, sizes, partsDF, sweeps))
            finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
          assert(swept === dist,
            s"trial $trial sweeps=$sweeps: distributed quotient diverges (sizes=$sizes)")
        }
      }
    }
    assert(trialsRun >= 3, s"only $trialsRun non-degenerate trials — property under-exercised")
  }
}
