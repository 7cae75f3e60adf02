package graft

import org.apache.spark.sql.functions._

/** Round-6 additions. */
class RoundSixOpsSpec extends SparkSpec {

  test("g_dag_depth: the fact scan joins the class depths exactly once, broadcast") {
    // The quotient-graph promise: facts never iterate — the returned
    // plan over the part table must be a single BroadcastHashJoin
    // against the in-process class-depth table, nothing more. A
    // regression toward per-part relaxation (extra joins) or a
    // shuffled join of the tiny class table fails here.
    val plan = SparkEntry.queries("g_dag_depth")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    val joins = plan.linesIterator.count(_.trim.contains("Join"))
    assert(joins === 1, s"expected exactly one join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"class-depth join must broadcast:\n$plan")
  }

  test("g_dag_depth: depths satisfy the longest-path recurrence on the class DAG") {
    // depth(v) = 0 with no same-brand part 1-2 sizes below, else
    // 1 + max(depth at size-1, depth at size-2) — checked directly
    // against the part table, independent of the oracle
    import spark.implicits._
    val p = Tables.part(spark, sfDir)
      .select($"p_partkey".cast("long").as("part"), $"p_brand".as("brand"),
        $"p_size".cast("int").as("size")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    val depth = SparkEntry.queries("g_dag_depth")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(depth.keySet === p.keySet)
    val repById = p.toSeq.groupBy(_._2).map { case (c, parts) => c -> parts.head._1 }
    val classDepth = repById.map { case (c, id) => c -> depth(id) }
    depth.foreach { case (id, d) =>
      val (b, sz) = p(id)
      val preds = Seq(sz - 1, sz - 2).filter(s2 => classDepth.contains((b, s2)))
      val want = if (preds.isEmpty) 0L else preds.map(s2 => classDepth((b, s2)) + 1L).max
      assert(d === want, s"part $id (brand $b size $sz)")
    }
  }

  test("q_scd2: intervals tile each customer's history — no gaps, one current, exact totals") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_scd2")(spark, sfDir).collect()
    val byCust = rows.groupBy(_.getLong(0))
    val orderCounts = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byCust.keySet === orderCounts.keySet)
    byCust.foreach { case (cust, ivs) =>
      val sorted = ivs.sortBy(_.getLong(1)) // by version
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq,
        s"versions must be dense 1..k for customer $cust")
      // adjacent versions must change status (else they'd be one island)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getString(2) != b.getString(2), s"customer $cust: un-collapsed island")
          // valid_to of version v = valid_from of version v+1 (half-open tiling)
          assert(a.getString(4) == b.getString(3), s"customer $cust: gap in validity chain")
        case _ => ()
      }
      assert(sorted.count(_.getBoolean(5)) === 1, s"customer $cust: exactly one current version")
      assert(sorted.last.getBoolean(5), s"customer $cust: the last version is the current one")
      assert(sorted.map(_.getLong(6)).sum === orderCounts(cust),
        s"customer $cust: interval order counts must sum to the order total")
    }
  }

  test("e_rfm: tertile thresholds are the exact percentile-disc cut points on the grid") {
    import spark.implicits._
    val rows = SparkEntry.queries("e_rfm")(spark, sfDir).collect()
    val n = rows.length
    val k1 = (n + 2) / 3
    assert(rows.forall { r =>
      val (rs, fs, ms) = (r.getLong(4), r.getLong(5), r.getLong(6))
      Seq(rs, fs, ms).forall(x => x >= 1 && x <= 3) &&
        r.getString(7) == s"$rs$fs$ms"
    })
    // percentile-disc law per metric: the favored/low bucket is the
    // SMALLEST prefix of the sorted grid reaching ceil(n/3) — i.e. its
    // size is >= k1, and dropping its threshold value's ties goes
    // below k1. recency's best bucket is score 3; frequency/monetary's
    // low bucket is score 1.
    def cutLaw(values: Seq[Long], bucket: Set[Long], scores: Seq[Long], low: Long): Unit = {
      val inBucket = scores.zip(values).filter(_._1 == low).map(_._2)
      assert(inBucket.size >= k1, "low bucket must reach ceil(n/3)")
      val t = inBucket.max
      val ties = values.count(_ == t)
      assert(inBucket.size - ties < k1, "dropping the threshold ties must fall below the cut")
      assert(values.filter(_ <= t).toSet == inBucket.toSet ||
        values.count(_ <= t) == inBucket.size, "bucket must be a value prefix")
    }
    val rec = rows.map(_.getLong(1)).toSeq
    val fr = rows.map(_.getLong(2)).toSeq
    cutLaw(rec, rec.toSet, rows.map(_.getLong(4)).toSeq, low = 3L)
    cutLaw(fr, fr.toSet, rows.map(_.getLong(5)).toSeq, low = 1L)
  }

  test("e_survival: KM invariants — risk-set accounting, hazard, quantized product") {
    import spark.implicits._
    val km = SparkEntry.queries("e_survival")(spark, sfDir)
      .orderBy($"t_days".asc).collect()
    assert(km.nonEmpty)
    // risk sets strictly decrease and each step removes at least the
    // events+censored observed at that time
    km.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(3) <= a.getLong(3) - a.getLong(1) - a.getLong(2),
          "risk set must shrink by at least the removals at each event time")
      case _ => ()
    }
    // hazard is the single division; survival is the quantized product
    var s = BigDecimal(1)
    km.foreach { r =>
      val (d, n) = (r.getLong(1), r.getLong(3))
      assert(d >= 1 && n >= d)
      assert(r.getDouble(4) === d.toDouble / n.toDouble)
      val step = s.toDouble * (1.0 - d.toDouble / n.toDouble)
      s = BigDecimal(step).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      assert(r.getDouble(5) === s.toDouble, s"survival at t=${r.getLong(0)}")
    }
    assert(km.map(_.getDouble(5)).toSeq.sliding(2).forall {
      case Seq(a, b) => b <= a; case _ => true
    }, "survival curve is non-increasing")
  }

  test("d_er: matches are same-block, ordered, and within edit distance 1") {
    import spark.implicits._
    val m = SparkEntry.queries("d_er")(spark, sfDir).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be canonical (a < b)")
      assert(r.getLong(3) <= 1L)
    }
    // cross-check against an unblocked brute-force pass at sf0.001:
    // within-block recall is exact — every brute pair whose names
    // share the 6-digit blocking prefix AND nation must be found
    val c = Tables.customer(spark, sfDir)
      .select($"c_custkey".cast("long").as("k"), $"c_name".as("n"),
        $"c_nationkey".cast("long").as("nk"))
    val brute = c.as("x").join(c.as("y"),
        $"x.k" < $"y.k" && $"x.nk" === $"y.nk" &&
          levenshtein($"x.n", $"y.n") <= 1 &&
          substring(regexp_replace($"x.n", "[^0-9]", ""), 1, 6) ===
            substring(regexp_replace($"y.n", "[^0-9]", ""), 1, 6))
      .select($"x.k", $"y.k").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m.map(r => (r.getLong(0), r.getLong(1))).toSet === brute)
  }

  test("d_er: an over-full primary block re-blocks through the secondary rung (round-14 cap)") {
    import spark.implicits._
    // 200 same-nation customers whose names share the 6-digit primary
    // prefix (digits 000000, suffixes 000..199) — primary block size
    // 200 > cap 128, so the secondary rung (digits 7-8) must split it
    // into twenty ~10-member sub-blocks. Nation 8's five customers
    // stay under the cap and keep primary blocking.
    val dir = java.nio.file.Files.createTempDirectory("graft_er_cap").toString
    val over = (0 until 200).map(i => (i.toLong, f"Customer#000000$i%03d", 7))
    val small = (0 until 5).map(i => (1000L + i, f"Customer#00900000$i%01d", 8))
    (over ++ small).toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val m = SparkEntry.queries("d_er")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // within a sub-block (same first 8 digits) every pair differs in
    // only the last digit: lev = 1, all C(10,2) = 45 pairs found
    val expectedOver = (for {
      g <- 0 until 20; i <- g * 10 until g * 10 + 10; j <- i + 1 until g * 10 + 10
    } yield (i.toLong, j.toLong, 7L)).toSet
    val expectedSmall = (for {
      i <- 0 until 5; j <- i + 1 until 5
    } yield (1000L + i, 1000L + j, 8L)).toSet
    assert(m === expectedOver ++ expectedSmall)
    // the documented recall tradeoff of the cap: a lev-1 pair whose
    // names differ INSIDE the secondary digits (e.g. 010 vs 110)
    // falls in different sub-blocks and is not emitted
    assert(!m.contains((10L, 110L, 7L)))
  }

  test("d_er: blocking keeps block sizes (and with them per-block pair work) bounded at sf0.01") {
    import spark.implicits._
    // the scale contract behind D11 (round-11 verdict #6): candidate
    // generation must stay O(Σ block²) with block size BOUNDED as the
    // table grows — the blocking key embeds floor(custkey/1000) (the
    // first 6 of the 9 name digits), so a block can never exceed one
    // 1000-key bucket even if a nation swallowed the whole bucket. A
    // blocking-key regression (e.g. a prefix shortened to 3 digits)
    // blows these bounds loudly instead of quietly going quadratic.
    val d01 = "/root/testdata/sf0.01"
    assume(new java.io.File(d01).isDirectory)
    val blocks = Tables.customer(spark, d01)
      .select(concat($"c_nationkey".cast("string"), lit("|"),
        substring(regexp_replace($"c_name", "[^0-9]", ""), 1, 6)).as("blk"))
      .groupBy($"blk").agg(count(lit(1)).as("n"))
      .agg(max($"n").as("max_n"),
        sum($"n" * ($"n" - 1)).as("pairs2"), // 2 × candidate pairs (stays integral)
        sum($"n").as("rows")).head()
    val (maxBlock, pairs2, rows) =
      (blocks.getLong(0), blocks.getLong(1), blocks.getLong(2))
    assert(maxBlock <= 1024L,
      s"d_er block size $maxBlock breaches the 1000-key bucket bound")
    assert(pairs2 <= 128L * rows,
      s"d_er candidate pairs ${pairs2 / 2} exceed 64x rows ($rows) — blocking degraded toward O(n^2)")
  }

  test("e_fill: the grid tiles every user across the full calendar and fills copy forward") {
    import spark.implicits._
    val out = SparkEntry.queries("e_fill")(spark, sfDir).cache()
    val nDays = out.select($"day").distinct().count()
    // every user has exactly one row per calendar day
    val perUser = out.groupBy($"user_id").agg(count(lit(1)).as("n"),
      countDistinct($"day").as("nd")).collect()
    perUser.foreach(r => assert(r.getLong(1) === nDays && r.getLong(2) === nDays))
    // filled rows have no transactions; observed rows are never flagged
    assert(out.filter($"is_filled" && $"n_tx" =!= 0L).count() === 0)
    // forward-fill law: a filled row's revenue equals the previous
    // non-filled row's revenue in day order
    val rows = out.orderBy($"user_id".asc, $"day".asc).collect()
    var lastObs: Map[Long, Double] = Map.empty
    rows.foreach { r =>
      val (u, filled) = (r.getLong(0), r.getBoolean(4))
      if (!r.isNullAt(3)) {
        if (filled) assert(lastObs.get(u).contains(r.getDouble(3)),
          s"filled revenue must copy the last observed value for user $u day ${r.getString(1)}")
        else lastObs += u -> r.getDouble(3)
      } else assert(!filled && !lastObs.contains(u),
        "null revenue only before a user's first observation")
    }
    out.unpersist()
  }

  test("s_inertia: conserves vectors, shares partition to 1, SSE replays from s_kmeans") {
    import spark.implicits._
    val inertia = SparkEntry.queries("s_inertia")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(inertia.nonEmpty)
    val asg = SparkEntry.queries("s_kmeans")(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(inertia.values.map(_._1).sum === asg.length.toLong)
    assert(math.abs(inertia.values.map(_._3).sum - 1.0) < 1e-9)
    asg.groupBy(_._1).foreach { case (cid, rows) =>
      val sse = rows.map(r => BigDecimal.decimal(r._2).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.doubleValue
      assert(inertia(cid)._1 === rows.length.toLong)
      assert(inertia(cid)._2 === sse, s"SSE of cluster $cid")
    }
  }

  test("d_cluster_spec: spectrum conserves the corpus and shares partition to 1") {
    import spark.implicits._
    val spec = SparkEntry.queries("d_cluster_spec")(spark, sfDir).collect()
    assert(spec.nonEmpty)
    val corpus = Tables.documents(spark, sfDir).count()
    assert(spec.map(_.getLong(2)).sum === corpus, "every document is in exactly one cluster")
    spec.foreach(r => assert(r.getLong(2) === r.getLong(0) * r.getLong(1)))
    assert(math.abs(spec.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    // the spectrum must agree with d_cluster's own size distribution
    val sizes = SparkEntry.queries("d_cluster")(spark, sfDir)
      .groupBy($"cluster_id").count().groupBy($"count").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spec.map(r => r.getLong(0) -> r.getLong(1)).toMap === sizes)
  }

  test("q_percentiles_cont: interpolated values replay from the sorted groups") {
    import spark.implicits._
    val out = SparkEntry.queries("q_percentiles_cont")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out.nonEmpty)
    val groups = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag", $"l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def cont(vs: Array[Double], q: Double): Double = {
      val h = q * (vs.length - 1).toDouble
      val f = h - math.floor(h)
      val lo = vs(math.floor(h).toInt)
      if (f == 0.0) lo else lo + f * (vs(math.floor(h).toInt + 1) - lo)
    }
    groups.foreach { case (flag, vs) =>
      val (n, p50, p90, p99) = out(flag)
      assert(n === vs.length.toLong)
      assert(p50 === cont(vs, 0.5), s"p50 of $flag")
      assert(p90 === cont(vs, 0.9), s"p90 of $flag")
      assert(p99 === cont(vs, 0.99), s"p99 of $flag")
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("g_modularity: Q replays from a driver recomputation over the labelprop partition") {
    import spark.implicits._
    val r = SparkEntry.queries("g_modularity")(spark, sfDir).head()
    val (nC, tot, q) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(q > -0.5 && q <= 1.0, s"Q=$q outside modularity bounds")
    val edges = graft.graph.GraphBuilder.partEdgesWide(spark, sfDir)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val vertices = Tables.part(spark, sfDir).select($"p_partkey".cast("long").as("id"))
    val labels = graft.graph.LabelPropagation.run(spark, vertices,
      graft.graph.GraphBuilder.partEdgesWide(spark, sfDir), 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(tot === edges.length.toLong)
    val perC = edges.groupBy(e => labels(e._1)).map { case (c, es) =>
      c -> (es.count(e => labels(e._2) == c).toLong, es.length.toLong)
    }
    assert(nC === perC.size.toLong)
    var sum = BigDecimal(0)
    perC.toSeq.sortBy(_._1).foreach { case (_, (intra, dsum)) =>
      val term = intra.toDouble / tot.toDouble -
        (dsum.toDouble / tot.toDouble) * (dsum.toDouble / tot.toDouble)
      sum += BigDecimal.decimal(term).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }
    assert(q === sum.doubleValue, "Q must replay from the quantized per-community terms")
  }

  test("e_abtest: arm accounting conserves users and z replays from the counts") {
    import spark.implicits._
    val r = SparkEntry.queries("e_abtest")(spark, sfDir).head()
    val (na, ka, nb, kb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val users = Tables.events(spark, sfDir).select($"user_id").distinct().count()
    assert(na + nb === users)
    assert(ka <= na && kb <= nb)
    val (pa, pb) = (ka.toDouble / na.toDouble, kb.toDouble / nb.toDouble)
    assert(r.getDouble(4) === pa && r.getDouble(5) === pb)
    assert(r.getDouble(6) === pb - pa)
    val pp = (ka + kb).toDouble / (na + nb).toDouble
    val se2 = pp * (1.0 - pp) * (1.0 / na.toDouble + 1.0 / nb.toDouble)
    if (se2 > 0.0) {
      val z = (pb - pa) / math.sqrt(se2)
      assert(r.getDouble(7) === z, "z must replay bit-for-bit from the integer counts")
    } else assert(r.isNullAt(7), "degenerate experiments must emit NULL z, not 0/0")
  }

  test("q_histogram: buckets tile [min,max], counts conserve rows, mass conserves sum") {
    import spark.implicits._
    val h = SparkEntry.queries("q_histogram")(spark, sfDir).orderBy($"bucket".asc).collect()
    assert(h.nonEmpty && h.head.getLong(0) >= 0L && h.last.getLong(0) <= 19L)
    val li = Tables.lineitem(spark, sfDir).agg(
      count(lit(1)), min($"l_extendedprice"), max($"l_extendedprice")).head()
    assert(h.map(_.getLong(3)).sum === li.getLong(0), "row conservation")
    // tiling: each bucket_hi equals the next bucket's bucket_lo when contiguous
    h.sliding(2).foreach {
      case Array(a, b) if b.getLong(0) === a.getLong(0) + 1 =>
        assert(a.getDouble(2) === b.getDouble(1), "contiguous buckets must tile")
      case _ => ()
    }
    assert(h.head.getDouble(1) === li.getDouble(1), "first bucket starts at min")
    // every value is inside its bucket's [lo, hi] (hi inclusive for the clamp bucket)
    h.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2))
      assert(r.getLong(3) > 0L || r.getLong(0) < 19L)
    }
  }

  test("m_scenes: cut accounting matches a direct recomputation of bucket runs") {
    import spark.implicits._
    val scenes = SparkEntry.queries("m_scenes")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(scenes.nonEmpty)
    // recompute runs from the frame stream the same sampling produces
    val frames = SparkEntry.queries("m_frames")(spark, sfDir)
      .select($"doc_id", $"frame_idx", substring($"frame_checksum", 1, 1).as("b"))
      .orderBy($"doc_id".asc, $"frame_idx".asc).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val byDoc = frames.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    byDoc.foreach { case (doc, bs) =>
      val cuts = bs.sliding(2).count { case Seq(a, b) => a != b; case _ => false }
      val (nSampled, nCuts, nScenes) = scenes(doc)
      assert(nSampled === bs.length.toLong)
      assert(nCuts === cuts.toLong)
      assert(nScenes === cuts.toLong + 1)
    }
    assert(scenes.keySet === byDoc.keySet)
  }

  test("g_richclub: sf0.001 coefficients match a brute-force recomputation") {
    import spark.implicits._
    val edges = graft.graph.GraphBuilder.partEdgesWide(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val out = SparkEntry.queries("g_richclub")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty)
    out.foreach { case (k, (nRich, eRich, phi)) =>
      val rich = deg.filter(_._2 > k).keySet
      val e = edges.count { case (u, v) => rich(u) && rich(v) }.toLong
      assert(nRich === rich.size.toLong, s"n_rich at k=$k")
      assert(eRich === e, s"e_rich at k=$k")
      assert(phi === e.toDouble / (rich.size.toLong * (rich.size - 1L)).toDouble)
      assert(phi >= 0.0 && phi <= 1.0)
    }
    // monotone shrinkage of the club as k rises
    val ks = out.keys.toSeq.sorted
    ks.sliding(2).foreach {
      case Seq(a, b) => assert(out(b)._1 <= out(a)._1 && out(b)._2 <= out(a)._2)
      case _ => ()
    }
  }

  test("t_freqspec: shares partition to 1 per language and the f=1 row is the hapax mass") {
    import spark.implicits._
    val spec = SparkEntry.queries("t_freqspec")(spark, sfDir).cache()
    val sums = spec.groupBy($"lang")
      .agg(sum($"type_share").as("ts"), sum($"token_share").as("ks")).collect()
    assert(sums.nonEmpty)
    sums.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
    val hapaxFromSpec = spec.filter($"f" === 1L)
      .select($"lang", $"n_types").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = SparkEntry.queries("t_vocab")(spark, sfDir)
      .select($"lang", $"hapax").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    vocab.foreach { case (lang, hapax) =>
      assert(hapaxFromSpec.getOrElse(lang, 0L) === hapax, s"hapax mass for $lang")
    }
    spec.unpersist()
  }

  test("e_twa: time-weighted averages stay inside each user's value envelope, one shuffle") {
    import spark.implicits._
    val twa = SparkEntry.queries("e_twa")(spark, sfDir)
    val env = Tables.events(spark, sfDir).groupBy($"user_id")
      .agg(min($"value").as("lo"), max($"value").as("hi"), count(lit(1)).as("n"))
    val joined = twa.join(env, "user_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (t, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(t >= lo - 1e-9 && t <= hi + 1e-9, s"twa $t outside [$lo,$hi]")
      assert(r.getLong(1) === r.getLong(5) - 1, "n_intervals = n_events - 1")
    }
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(twa.queryExecution.executedPlan.toString).size
    assert(exchanges === 1, "window + groupBy must share one user_id exchange")
  }
}
