package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, TestMetrics}

/** The bounded local finish: within [[Quotient.probeBound]] KCore,
  * general KTruss and the Louvain quotient sweeps run in-process on
  * collected data; at probe bound 1 each takes its distributed route.
  * Each local route must equal its distributed twin bit for bit,
  * round cap and failure message included. */
class LocalRouteSpec extends SparkSpec {

  private def atBound1[T](body: => T): T = {
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    try body
    finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def persistent(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A seeded random directed bag over `n` vertices: duplicate edges,
    * self-loops and destination-only vertices (ids past `n`). */
  private def randomBag(rng: scala.util.Random, n: Int, m: Int): Seq[(Long, Long)] =
    Seq.fill(m) {
      val a = rng.nextInt(n).toLong
      val b = if (rng.nextInt(10) == 0) n + rng.nextInt(3).toLong else rng.nextInt(n).toLong
      (a, b)
    } ++ Seq((0L, 0L), (1L, 2L), (1L, 2L))

  test("KCore: the local peel equals the distributed rounds on random directed bags") {
    import spark.implicits._
    val rng = new scala.util.Random(20260911L)
    for (trial <- 1 to 4) {
      val bag = randomBag(rng, 25 + 5 * trial, 90 + 20 * trial)
      val edges = bag.toDF("src", "dst")
      for (k <- 1 to 4) {
        val local = rows(KCore.run(spark, edges, k))
        val dist = atBound1(rows(KCore.run(spark, edges, k)))
        assert(local === dist, s"trial $trial k=$k")
      }
    }
  }

  test("KCore: the local route runs fewer jobs, and a null endpoint keeps the distributed route") {
    import spark.implicits._
    val pairs = (0L until 30L).flatMap(i => Seq((i, (i + 1) % 30), ((i + 1) % 30, i), (i, (i + 7) % 30)))
    val edges = pairs.toDF("src", "dst")
    val localJobs = TestMetrics.jobCount(spark)(KCore.run(spark, edges, 3).collect())
    val distJobs = atBound1(TestMetrics.jobCount(spark)(KCore.run(spark, edges, 3).collect()))
    assert(localJobs < distJobs, s"local $localJobs jobs vs distributed $distJobs")
    val withNull = pairs.map { case (a, b) => (Option(a), Option(b)) } :+ ((Some(3L), None))
    val nulls = withNull.toDF("src", "dst")
    for (k <- 1 to 4)
      assert(rows(KCore.run(spark, nulls, k)) === atBound1(rows(KCore.run(spark, nulls, k))), s"k=$k")
  }

  test("KTruss: the local intersection peel equals the distributed rounds") {
    import spark.implicits._
    val rng = new scala.util.Random(20260912L)
    for (trial <- 1 to 3) {
      val n = 14 + 3 * trial
      // dense enough for 4- and 5-trusses; both orientations and
      // repeats of some edges
      val und = for (a <- 0 until n; b <- a + 1 until n if rng.nextInt(100) < 45)
        yield (a.toLong, b.toLong)
      val bag = und.flatMap { case (a, b) =>
        rng.nextInt(4) match {
          case 0 => Seq((a, b), (b, a))
          case 1 => Seq((b, a))
          case 2 => Seq((a, b), (a, b))
          case _ => Seq((a, b))
        }
      } :+ ((3L, 3L))
      val edges = bag.toDF("src", "dst")
      for (k <- 3 to 5) {
        val local = rows(KTruss.run(spark, edges, k))
        val dist = atBound1(rows(KTruss.run(spark, edges, k)))
        assert(local === dist, s"trial $trial k=$k")
      }
    }
  }

  private def asSeq(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq

  test("Louvain: the local quotient sweeps equal the distributed sweeps and Louvain.run") {
    import spark.implicits._
    val rng = new scala.util.Random(20260913L)
    for (trial <- 1 to 3) {
      val base = (1L to 60L).map(i =>
        (java.lang.Long.valueOf(i), s"B${rng.nextInt(2)}", java.lang.Long.valueOf(rng.nextInt(6).toLong)))
      // a part with no brand; then the same table with one part row
      // repeated (a duplicate id keeps the distributed route)
      val brandless = (java.lang.Long.valueOf(61L), null: String, java.lang.Long.valueOf(3L))
      val parts = base :+ brandless
      for (input <- Seq(parts, parts :+ base(4)); sweeps <- Seq(1, 4)) {
        val partsDF = input.toDF("node", "brand", "size")
        val classes = Dispatch.probe(partsDF).get
        val local = asSeq(Louvain.quotientBlowup(spark, classes, partsDF, sweeps))
        val dist = atBound1(asSeq(Louvain.quotientBlowup(spark, classes, partsDF, sweeps)))
        val run = asSeq(Louvain.run(spark, partsDF.select(col("node").as("id")),
          GraphBuilder.blowupEdges(partsDF, Seq(1L, 2L), symmetric = true), sweeps))
        val what = s"trial $trial rows=${input.size} sweeps=$sweeps"
        assert(local === dist, s"$what: local vs distributed")
        // a repeated part is a repeated vertex with doubled edges in
        // the blow-up, which the class arithmetic does not model
        if (input eq parts) {
          assert(local === run, s"$what: local vs Louvain.run")
          // the local route's one job collects the vertex rows
          assert(TestMetrics.jobCount(spark)(
            Louvain.quotientBlowup(spark, classes, partsDF, sweeps).collect()) <= 1, what)
        }
        assert(local.contains((61L, 61L)), s"$what: the brandless part keeps its own label")
      }
      // a node id on two different classes keeps the distributed route
      val clash = (parts :+ ((java.lang.Long.valueOf(3L), "B0", java.lang.Long.valueOf(5L))))
        .toDF("node", "brand", "size")
      val clashClasses = Dispatch.probe(clash).get
      assert(asSeq(Louvain.quotientBlowup(spark, clashClasses, clash, 4)) ===
        atBound1(asSeq(Louvain.quotientBlowup(spark, clashClasses, clash, 4))), s"trial $trial")
    }
  }

  test("Louvain.run frees every sweep's checkpoint on both state paths") {
    import spark.implicits._
    val verts = (0L until 24L).toDF("id")
    val edges = (0L until 24L).flatMap(i => Seq((i, (i + 1) % 24), ((i + 1) % 24, i),
      (i, (i + 5) % 24), ((i + 5) % 24, i))).toDF("src", "dst")
    for (broadcastState <- Seq(true, false)) {
      val before = persistent()
      val out = Louvain.run(spark, verts, edges, 5, broadcastState = broadcastState)
      val afterRun = persistent()
      out.collect()
      assert(persistent() === afterRun, s"broadcastState=$broadcastState")
      // the result reads one pinned label table, never a sweep chain
      assert((afterRun -- before).size <= 1, s"broadcastState=$broadcastState")
    }
  }
}
