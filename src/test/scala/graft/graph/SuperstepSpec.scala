package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, TestMetrics}

/** The loop driver: halt statistics from the checkpoint's own job,
  * generation lifetimes, the round cap, and no leaked blocks when an
  * engine's run throws. */
class SuperstepSpec extends SparkSpec {

  private def persistent(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("the observed count equals count() of the checkpointed frame, empty frames too") {
    import spark.implicits._
    val frames = Seq[DataFrame](
      spark.range(0, 1000).select(($"id" % 37).as("k")).distinct(),
      spark.range(0, 100).toDF("id").filter($"id" < 0),
      spark.range(0, 10).toDF("id").limit(0),
      Seq.empty[(Long, Long)].toDF("a", "b"))
    frames.foreach { df =>
      Superstep.run { sc =>
        val (cp, n) = sc.count(df)
        assert(n === cp.count())
        val (_, r) = sc.observe(df, Superstep.Disk,
          count(lit(1)), coalesce(sum(lit(1L)), lit(0L)))
        assert(r.getLong(0) === n && r.getLong(1) === n)
        cp
      }
    }
  }

  test("one round costs one job, and the loop frees each dead generation") {
    import spark.implicits._
    val before = persistent()
    val rounds = 5
    var out: DataFrame = null
    val jobs = TestMetrics.jobCount(spark) {
      out = Superstep.run { sc =>
        val (v0, n0) = sc.count(spark.range(0, rounds).toDF("v"))
        val (last, _) = sc.loop((v0, n0), 100, (_: (DataFrame, Long)) => "shrink")(
            st => Seq(st._1))((st, _) => st._2 == 0L) { case ((v, _), done) =>
          sc.count(v.filter($"v" > done))
        }
        // only the live generation is pinned once the loop is done
        assert((persistent() -- before).size === 1)
        last
      }
    }
    // one job per round plus the initial pin
    assert(jobs === rounds + 1L)
    assert((persistent() -- before).size === 1, "the result's own checkpoint stays pinned")
    assert(out.count() === 0L)
  }

  test("past the round cap the loop throws and the run frees every checkpoint") {
    import spark.implicits._
    val before = persistent()
    val e = intercept[IllegalStateException] {
      Superstep.run { sc =>
        val (v0, n0) = sc.count(spark.range(0, 10).toDF("v"))
        sc.loop((v0, n0), 3, (st: (DataFrame, Long)) => s"shrink (${st._2} left)")(
            st => Seq(st._1))((st, _) => st._2 == 0L) { case ((v, _), done) =>
          sc.count(v.filter($"v" > done))
        }._1
      }
    }
    assert(e.getMessage === "shrink (7 left) did not converge within 3 rounds")
    assert(persistent() -- before === Set.empty)
  }

  test("KCore, KTruss and Mis past their round caps throw and leak no RDD") {
    import spark.implicits._
    // a 20-node path: the 2-core peels one vertex off each end per round
    val path = (0L until 19L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
    // a triangle strip (i, i+1), (i, i+2): every (i, i+2) edge has
    // support 1 and drops in round 1, which then takes every other
    // edge's support below 2 for round 2
    val strip = (0L until 12L).flatMap(i => Seq((i, i + 1), (i, i + 2)))
      .filter(_._2 <= 12L).toDF("src", "dst")
    val verts = (0L until 20L).toDF("id")
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "KCore" -> (() => KCore.run(spark, path, k = 2, maxIter = 1)),
      "KTruss" -> (() => KTruss.run(spark, strip, k = 4, maxIter = 1)),
      "Mis" -> (() => Mis.run(spark, verts, path, maxIter = 1)))
    // KCore and KTruss run in-process within the probe bound and
    // distributed at bound 1: both routes throw the same message
    def throws(): Map[String, String] = runs.map { case (name, run) =>
      val before = persistent()
      val e = intercept[IllegalStateException](run().collect())
      assert(e.getMessage.contains("did not converge"), name)
      assert(persistent() -- before === Set.empty, s"$name leaked checkpoints")
      name -> e.getMessage
    }.toMap
    val local = throws()
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    val distributed = try throws() finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
    assert(local === distributed)
  }
}
