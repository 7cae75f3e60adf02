package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{QueryPack, Tables}

/** Relational surface of the reference (it drives SQLite with
  * filter/group/count/distinct/index/upsert SQL — main.py:143-332,
  * mcs.py:81-164), re-expressed as Catalyst-optimized DataFrame
  * plans over the TPC-H-ish test tables.
  *
  * Determinism contract with the DuckDB oracle (driver hash-compares
  * values after sorting): monetary aggregates are computed in exact
  * decimal arithmetic, rounded to a fixed scale, and only then cast
  * to double; timestamps are emitted as yyyy-MM-dd strings; every
  * top-k has a unique total tiebreak order.
  */
object RelationalPack extends QueryPack {

  private val D = DecimalType(18, 2)
  // C33 MERGE arm thresholds on the 1995 per-customer spend (cents):
  // chosen so all four arms (update/delete/insert/keep) are
  // non-degenerate at every SF — the per-customer window-spend
  // distribution is SF-invariant
  private val MERGE_DELETE_CENTS = 45000000L // > $450k: churn the account
  private val MERGE_INSERT_CENTS = 40000000L // > $400k: spawn a NEW account key

  /** Exact-decimal sum rounded ONCE after aggregation (oracle shape:
    * `CAST(ROUND(SUM(<decimal expr>), 2) AS DOUBLE)`). The argument
    * must already be decimal; raw double columns are cast via [[dec]]
    * at the leaves, and product expressions keep their natural scale
    * (e.g. DECIMAL(38,4)) so no per-row rounding ever happens. */
  private def dsum(c: org.apache.spark.sql.Column) = round(sum(c), 2).cast("double")

  /** Cast a raw (double) column to DECIMAL(18,2) — ingestion-edge cast
    * mirroring the oracle's `CAST(x AS DECIMAL(18,2))`. */
  private def dec(c: org.apache.spark.sql.Column) = c.cast(D)

  /** C34's per-slice partial aggregate: the maintained-view state row
    * per (returnflag, linestatus) — exact DECIMAL sum, count, min,
    * max of l_quantity. Package-private so the spec proves the IVM
    * law against the PRODUCTION state shape, not a copy. */
  private[relational] def partAgg(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).as("s"),
        count(lit(1)).as("n"),
        min(dec(col("l_quantity"))).as("mn"),
        max(dec(col("l_quantity"))).as("mx"))

  /** C34's state merge: full-outer on the group key, partial states
    * combined by the aggregate algebra (sum ⊕ sum, count ⊕ count,
    * least/greatest with SQL null-skipping — both engines skip nulls
    * in LEAST/GREATEST). Group-count-sized work; no fact rescan.
    * Package-private so the spec can feed a MATERIALIZED base state
    * and prove merge ≡ recompute independently.
    *
    * NULL-SAFE group-key join (round-15, advice): GROUP BY puts null
    * keys in ONE group, so the merge must match them too — a plain
    * full-outer on the key columns would keep a null-keyed group as
    * two separate state rows and break merge ≡ recompute. The keys
    * ride `<=>` and the output key coalesces whichever side is
    * present (on a match both agree null-safely, so coalesce is
    * exact). */
  private[relational] def incrMerge(base: DataFrame, delta: DataFrame): DataFrame =
    base
      .withColumnRenamed("l_returnflag", "brf").withColumnRenamed("l_linestatus", "bls")
      .join(delta
        .withColumnRenamed("l_returnflag", "drf").withColumnRenamed("l_linestatus", "dls")
        .withColumnRenamed("s", "ds").withColumnRenamed("n", "dn")
        .withColumnRenamed("mn", "dmn").withColumnRenamed("mx", "dmx"),
      col("brf") <=> col("drf") && col("bls") <=> col("dls"), "full_outer")
      .select(coalesce(col("brf"), col("drf")).as("l_returnflag"),
        coalesce(col("bls"), col("dls")).as("l_linestatus"),
        // SUM keeps SQL null semantics: a group whose quantities are
        // ALL NULL aggregates to NULL on both sides, and the merge
        // must stay NULL — a bare coalesce-to-zero would conflate
        // "side absent" (join null) with "present but all-null"
        // (aggregate null) and diverge from the recompute oracle
        // (round-14 close review)
        when(col("s").isNull && col("ds").isNull, lit(null))
          .otherwise(coalesce(col("s"), lit(0).cast(D)) + coalesce(col("ds"), lit(0).cast(D)))
          .as("s"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        least(col("mn"), col("dmn")).as("mn"),
        greatest(col("mx"), col("dmx")).as("mx"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C2: group-by aggregation (TPC-H Q1 pricing summary)
    "q1_pricing" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1999-12-01").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum(dec($"l_quantity")).as("sum_qty"),
          dsum(dec($"l_extendedprice")).as("sum_base_price"),
          dsum(dec($"l_extendedprice") * (lit(1).cast(D) - dec($"l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    // C34 (round-14): INCREMENTAL AGGREGATE MAINTENANCE — the
    // materialized-view delta-merge pattern behind every incremental
    // warehouse pipeline (and Spark's own partial-aggregation
    // algebra, lifted to the storage layer): a maintained per-group
    // state table (sum / count / min / max) absorbs a newly-arrived
    // batch by aggregating ONLY the delta and full-outer-merging the
    // two partial states on the group key — the base FACTS are never
    // rescanned (here the "maintained table" is derived in-plan from
    // the base slice; at 100 TB it is a stored table and the delta
    // pass is the only fact-scale work). The ORACLE is the full
    // recompute over base ∪ delta — merge ≡ recompute IS the
    // incremental-view-maintenance law under the cross-engine hash.
    // Inserts-only delta by declared contract: sum/count would also
    // maintain under signed CDC deletes (q_cdc's surface), min/max
    // are famously NOT delete-maintainable without a per-group
    // rescan — the standard IVM caveat, stated rather than fudged.
    "q_incr_agg" -> { (s, d) =>
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val base = partAgg(li.filter($"l_orderkey" % 10 =!= 0))
      val delta = partAgg(li.filter($"l_orderkey" % 10 === 0))
      incrMerge(base, delta)
        .select($"l_returnflag", $"l_linestatus",
          round($"s", 2).cast("double").as("sum_qty"),
          $"n".as("n_rows"),
          $"mn".cast("double").as("min_qty"),
          $"mx".cast("double").as("max_qty"),
          (round($"s", 2).cast("double") / $"n").as("avg_qty"))
    },

    // C1: scan + filter + project pushdown (TPC-H Q6 forecast revenue)
    "q6_filter_agg" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount" >= 0.03 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24)
        .agg(dsum(dec($"l_extendedprice") * dec($"l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))
    },

    // C3: multi-way join + group + top-N with total tiebreak (TPC-H Q3)
    "q3_topn" -> { (s, d) =>
      import s.implicits._
      val cust = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
      val ord  = Tables.orders(s, d).filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val li   = Tables.lineitem(s, d).filter($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
      // No broadcast hint on customer: it is fact-scaled (grows with SF),
      // so at 100 TB a forced broadcast would kill the driver. AQE
      // promotes the join to broadcast at small SF on its own.
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(dsum(dec($"l_extendedprice") * (lit(1).cast(D) - dec($"l_discount"))).as("revenue"))
        .select($"l_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
          $"o_orderpriority", $"revenue")
        .orderBy($"revenue".desc, $"l_orderkey".asc)
        .limit(10)
    },

    // C4: 6-way star join — dims broadcast, facts shuffle on keys (TPC-H Q5)
    "q5_star_join" -> { (s, d) =>
      import s.implicits._
      val region = Tables.region(s, d).filter($"r_name" === "ASIA")
      val nation = Tables.nation(s, d)
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      // Broadcast only the TRUE dimension tables (nation/region —
      // fixed-size regardless of SF). supplier/customer scale with the
      // data, so they shuffle-join and AQE decides at runtime.
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey" &&
          $"c_nationkey" === $"s_nationkey")
        .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(dsum(dec($"l_extendedprice") * (lit(1).cast(D) - dec($"l_discount"))).as("revenue"))
    },

    // C5: distinct
    "q_distinct" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d).select($"o_orderstatus", $"o_orderpriority").distinct()
    },

    // C18: set operations — INTERSECT / EXCEPT with SQL bag-to-set
    // semantics (the remaining piece of the reference's SQLite set
    // surface next to C5's DISTINCT): customers active in both 1995
    // and 1996, minus anyone with a cancelled ('F'-status) order.
    // Catalyst plans both as semi/anti joins over map-side-deduped
    // inputs — the shuffle carries distinct customer keys, never
    // order rows, and all three year/status filters reach the scan.
    "q_setops" -> { (s, d) =>
      import s.implicits._
      def active(yr: Int) = Tables.orders(s, d)
        .filter(year($"o_orderdate") === yr).select($"o_custkey")
      val cancelled = Tables.orders(s, d)
        .filter($"o_orderstatus" === "F").select($"o_custkey")
      active(1995).intersect(active(1996)).except(cancelled)
        .select($"o_custkey".as("custkey"))
    },

    // C6: semi-join — customers with >=1 urgent open order (EXISTS)
    "q_semi" -> { (s, d) =>
      import s.implicits._
      val urgent = Tables.orders(s, d)
        .filter($"o_orderpriority" === "1-URGENT" && $"o_orderstatus" === "O")
        .select($"o_custkey")
      Tables.customer(s, d)
        .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
    },

    // C6: anti-join — customers with no 1995 orders (NOT EXISTS).
    // Anti-joining a bounded RECENT WINDOW of the fact table (not the
    // whole of it) keeps the result non-degenerate at every SF: the
    // generated data gives every customer SOME order, so the no-
    // orders-at-all shape hash-matched an EMPTY set for nine rounds —
    // a weak signal for the operator (round-9 verdict #4). The
    // windowed shape has guaranteed survivors (most customers skip
    // any given year) AND guaranteed non-survivors, so rows/hash
    // exercise actual anti-join semantics.
    "q_anti" -> { (s, d) =>
      import s.implicits._
      val o95 = Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1995-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_custkey")
      Tables.customer(s, d)
        .join(o95, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_acctbal")
    },

    // C7: window rank — top-3 parts by retail price within each brand
    "q_window_topn" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey".asc)
      Tables.part(s, d)
        .withColumn("rank_in_brand", row_number().over(w).cast("long"))
        .filter($"rank_in_brand" <= 3)
        .select($"p_brand", $"rank_in_brand", $"p_partkey", $"p_retailprice")
    },

    // C7: window running sum per supplier over ship order
    "q_running_sum" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate".asc, $"l_orderkey".asc, $"l_linenumber".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter($"l_suppkey" < 5)
        .withColumn("running_qty", round(sum($"l_quantity".cast(D)).over(w), 2).cast("double"))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"running_qty")
    },

    // C8: upsert / INSERT-OR-IGNORE — first row wins per unique key
    // (main.py:203's INSERT OR IGNORE on (smiles, target_smiles))
    // C20: RANGE-frame window — trailing 30-day spend per customer.
    // The frame is VALUE-based (peers at the same day aggregate
    // together; gaps in the calendar shrink the frame), which a ROWS
    // frame cannot express. One shuffle on the partition key; exact
    // DECIMAL sums inside the frame; per-customer partitions keep the
    // sort parallel at any fact scale.
    "q_window_range" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"day".asc)
        .rangeBetween(-29, 0)
      Tables.orders(s, d)
        .withColumn("day", datediff($"o_orderdate", lit("1992-01-01")).cast("long"))
        .withColumn("trail30", round(sum($"o_totalprice".cast(D)).over(w), 2).cast("double"))
        .select($"o_orderkey", $"o_custkey", $"day", $"trail30")
    },

    "q_upsert_dedup" -> { (s, d) =>
      import s.implicits._
      // ORDER BY must be a TOTAL order: the data contains duplicate
      // (orderkey, partkey, linenumber) rows, so l_quantity and
      // l_extendedprice break the tie identically in both engines.
      // HASH route (round 16): the tie-broken first row is the MIN of
      // ONE order-preserving packed long — (ln, qty·100, ep·100)
      // stacked in disjoint bit fields, lexicographic ⟺ numeric since
      // every field is non-negative inside its width (lineitem
      // domain: ln ≤ 7 < 2^3, qty ≤ 50 ⇒ qty·100 < 2^13, ep =
      // qty·retailprice ≤ 104,999.91 ⇒ ep·100 < 2^24; asserted
      // adversarially in UpsertPackSpec). So the dedup is one
      // map-side-partial HashAggregate instead of the full-table
      // sort the row_number window paid (the q_profile §2 move).
      // round() recovers the exact 2-decimal grid the doubles carry
      // (distinct grid values differ by ≥ 0.01, so the packed order
      // is the double order); the /100.0 decode is the correctly-
      // rounded quotient, i.e. the bit-identical double.
      // A field outside its width would overlap its neighbour and pick
      // the wrong survivor silently, so each field is range-checked
      // inside the packed expression: a row outside the domain raises
      // a named error from the same job, with no extra scan.
      def field(c: Column, bits: Int, name: String): Column =
        when(c.isNull || (c >= 0L && c < (1L << bits)), c)
          .otherwise(raise_error(lit(
            s"q_upsert_dedup: $name is outside the packed key's domain [0, 2^$bits)")))
      val pk = (field(col("l_linenumber").cast("long"), 26, "l_linenumber") * lit(1L << 37)) +
        (field(round(col("l_quantity") * 100).cast("long"), 13, "l_quantity*100") *
          lit(1L << 24)) +
        field(round(col("l_extendedprice") * 100).cast("long"), 24, "l_extendedprice*100")
      Tables.lineitem(s, d)
        .groupBy($"l_orderkey", $"l_partkey")
        .agg(min(pk).as("pk"))
        .select($"l_orderkey", $"l_partkey",
          shiftright($"pk", 37).cast("int").as("l_linenumber"),
          (pmod(shiftright($"pk", 24), lit(8192L)).cast("double") / 100.0).as("l_quantity"))
    },

    // C29: equi-width histogram (the dashboard/EDA binning primitive
    // C19's exact percentiles don't cover — fixed-width buckets with
    // exact counts and mass): extrema in one partial-aggregable pass,
    // broadcast as ONE row; bucket assignment is pure row-local IEEE
    // arithmetic ((x−min)/width, floor, clamp — identical ops in the
    // oracle, so bucket ids match bit-for-bit); counts/mass ride one
    // bounded-key groupBy. Two scans total (extrema + binning) and
    // one |buckets|-bounded shuffle at any scale.
    "q_histogram" -> { (s, d) =>
      import s.implicits._
      val nb = 20
      val x = Tables.lineitem(s, d).select($"l_extendedprice".as("x"))
      val ext = x.agg(min($"x").as("lo"), max($"x").as("hi"))
      x.crossJoin(broadcast(ext))
        .select($"x", $"lo",
          (($"hi" - $"lo") / lit(nb.toDouble)).as("width"))
        // degenerate range (max == min): everything is bucket 0 on
        // BOTH sides — without the guard Spark folds 0/0=NaN to 0L
        // while the oracle's CAST(FLOOR(NaN)) errors
        .select($"x", $"lo", $"width",
          when($"width" === 0.0, lit(0L))
            .otherwise(least(floor(($"x" - $"lo") / $"width").cast("long"), lit(nb - 1L)))
            .as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_rows"),
          round(sum($"x".cast(D)), 2).cast("double").as("mass"),
          first($"lo").as("lo0"), first($"width").as("w0"))
        .select($"bucket",
          ($"lo0" + $"bucket".cast("double") * $"w0").as("bucket_lo"),
          ($"lo0" + ($"bucket" + 1L).cast("double") * $"w0").as("bucket_hi"),
          $"n_rows", $"mass")
    },

    // C31: Z-order (Morton) clustering key — the multi-dimensional
    // data-LAYOUT primitive (Delta/Iceberg OPTIMIZE ZORDER BY): bit-
    // interleave (l_partkey, l_suppkey) so writing sorted by zkey
    // gives every file a bounded min/max envelope in BOTH columns and
    // parquet stats prune scans on EITHER predicate. The key emits
    // every row's 62-bit interleave — any wrong bit anywhere flips
    // the driver's hash — plus each row's quadrant ordering guarantee
    // (zkey of the point vs its quadrant's base corner) as a boolean.
    // Scale shape: pure per-row codegen'd bit math, no UDF, no
    // shuffle beyond the clustered write's single range exchange
    // (measured in ZOrderLayoutSpec via task bytesRead).
    "q_zorder" -> { (s, d) =>
      import s.implicits._
      import graft.sources.ZOrder
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber",
          $"l_partkey".cast("long").as("x"), $"l_suppkey".cast("long").as("y"))
        .select($"l_orderkey", $"l_linenumber",
          ZOrder.interleave($"x", $"y").as("zkey"),
          // monotone-in-quadrant guarantee: clearing the low 5 bits of
          // both coords (the 32×32 quadrant base) can only DECREASE
          // the interleave — the property range pruning relies on
          (ZOrder.interleave($"x".bitwiseAND(lit(~31L)), $"y".bitwiseAND(lit(~31L)))
            <= ZOrder.interleave($"x", $"y")).as("quad_ok"))
    },

    // C31 (k-dim): 3-column Z-order key — Delta/Iceberg ZORDER BY
    // takes k columns; the generalized interleave gives each of k
    // dims ⌊62/k⌋ bits (20 at k = 3, bit i of dim j at i·k + j).
    // Same discipline as q_zorder: every row's full interleave (any
    // wrong bit flips the driver's hash) + the monotone-in-octant
    // guarantee (clearing the low 5 bits of all three coords can
    // only decrease the key — the property range pruning relies on).
    // The three dims are STRUCTURALLY bounded at any SF (ship-day
    // since 1992 < 2^20 for ~2,800 years; quantity 1–50; linenumber
    // 1–7) — the scale ladder's first sf0.3x run caught raw entity
    // keys here blowing the 20-bit domain (ScaleUp offsets them by
    // replica·1e8; a raw surrogate key outgrows ⌊62/k⌋ bits at scale,
    // which is exactly what the loud guard exists to refuse — a
    // production k-dim key normalizes first, as writeClusteredN does).
    // Scale shape: pure per-row codegen'd bit math, no UDF.
    "q_zorder3" -> { (s, d) =>
      import s.implicits._
      import graft.sources.ZOrder
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber",
          datediff($"l_shipdate", lit("1992-01-01")).cast("long").as("x"),
          $"l_quantity".cast("long").as("y"),
          $"l_linenumber".cast("long").as("w"))
        .select($"l_orderkey", $"l_linenumber",
          ZOrder.interleaveN(Seq($"x", $"y", $"w")).as("zkey3"),
          (ZOrder.interleaveN(Seq($"x".bitwiseAND(lit(~31L)),
            $"y".bitwiseAND(lit(~31L)), $"w".bitwiseAND(lit(~31L))))
            <= ZOrder.interleaveN(Seq($"x", $"y", $"w"))).as("oct_ok"))
    },

    // C28: CDC log application with DELETE tombstones (the Delta/
    // Hudi MERGE compaction primitive C8's keep-latest doesn't
    // cover: a tombstone removes the key, a later upsert revives it,
    // and op accounting survives either way). The event stream is the
    // change log — 'error' events are deletes, everything else
    // upserts `value` — applied in (event-time, id) order. Scale
    // shape: last-op-wins is ONE partial-aggregable
    // max(struct(ts, id, payload)) groupBy — no window, no sort, no
    // self-join; the op counters ride the same aggregate, so the
    // whole log collapses in a single shuffle however long a key's
    // history. Cents-exact payload (the upsert value is an exact
    // integer until the final /100 cast).
    "q_cdc" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
          $"event_type", ($"value".cast(D) * 100).cast("long").as("cents"))
        .groupBy($"user_id")
        .agg(max(struct($"ts_us", $"event_id", $"event_type", $"cents")).as("last"),
          count(lit(1)).as("n_ops"),
          sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_deletes"))
        .filter($"last.event_type" =!= "error")
        .select($"user_id", $"last.event_type".as("last_type"),
          ($"last.cents".cast("double") / 100.0).as("last_value"),
          $"n_ops", $"n_deletes")
    },

    // C27: table profiling (the data-quality / catalog-stats
    // primitive: per column null count, EXACT distinct count, typed
    // min/max) in ONE pass over the table. Scale shape: the
    // multi-distinct aggregate plans as Catalyst's Expand (one stream
    // per distinct column riding a single shuffle with map-side
    // partial dedup) — the canonical exact-NDV plan; min/max/null
    // counts ride the same pass. Output stringification is
    // type-pinned so it hash-matches cross-engine: timestamps as
    // yyyy-MM-dd, doubles through DECIMAL(18,2) (fixed-format, no
    // shortest-roundtrip double printing), integers/strings verbatim.
    "q_profile" -> { (s, d) => Profiler.profile(Tables.orders(s, d)) },

    // C26: SCD Type-2 dimension build — the warehouse primitive the
    // upsert key (C8) doesn't cover: collapse each customer's
    // order-status history into versioned validity intervals
    // [valid_from, valid_to) with an is_current flag (gaps-and-islands
    // over a change flag). Scale shape: two window passes and one
    // groupBy, ALL partitioned by the dimension's natural key — one
    // shuffle on o_custkey total (the version window, the island
    // groupBy and the valid_to lead all reuse the same hash
    // partitioning), no self-join however long a customer's history.
    "q_scd2" -> { (s, d) =>
      import s.implicits._
      val byCust = Window.partitionBy($"custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      Tables.orders(s, d)
        .select($"o_custkey".as("custkey"), $"o_orderkey", $"o_orderdate",
          $"o_orderstatus".as("status"))
        .withColumn("prev_status", lag($"status", 1).over(byCust))
        .withColumn("chg",
          when($"prev_status".isNull || $"prev_status" =!= $"status", 1L).otherwise(0L))
        .withColumn("version", sum($"chg").over(
          byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"custkey", $"version")
        .agg(min($"status").as("status"),
          date_format(min($"o_orderdate"), "yyyy-MM-dd").as("valid_from"),
          count(lit(1)).as("n_orders"))
        .withColumn("valid_to", lead($"valid_from", 1).over(
          Window.partitionBy($"custkey").orderBy($"version".asc)))
        .withColumn("is_current", $"valid_to".isNull)
        .select($"custkey", $"version", $"status", $"valid_from",
          $"valid_to", $"is_current", $"n_orders")
    },

    // C16: salted skew-join on the hard signal — the manual hot-key
    // mitigation (Skew.saltedJoin: big side scattered over salt
    // sub-keys by content hash, compact side replicated, join on
    // (key, salt)) must be RESULT-identical to the plain join; this
    // query proves it cross-engine against a plain-join oracle on the
    // events⋈customer fact-dim join, aggregated per nation.
    "q_salted_join" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d).select($"user_id", $"value")
      val dim = Tables.customer(s, d)
        .select($"c_custkey".as("user_id"), $"c_nationkey")
      Skew.saltedJoin(ev, dim, Seq("user_id"), salt = 8)
        .groupBy($"c_nationkey".cast("long").as("c_nationkey"))
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value".cast(D)), 2).cast("double").as("sum_value"))
    },

    // C9: rollup aggregation. TWO-LEVEL like q_cube (round 16): the
    // bare rollup plans as Expand×3 over every fact row; count/sum
    // are associative, so the rollup re-aggregates the single-scan
    // (flag, status) base — bit-identical values, Expand over a
    // handful of rows instead of the fact table.
    "q_rollup" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("__n"), sum(dec($"l_quantity")).as("__q"))
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(sum($"__n").as("n_rows"), round(sum($"__q"), 2).cast("double").as("sum_qty"))
    },

    // C19: exact grouped percentiles (percentile_disc semantics via
    // explicit rank arithmetic — the value at row ceil(p·n) of the
    // per-group ascending sort, so both engines share ONE definition
    // instead of trusting two quantile implementations to agree).
    // The per-group sort is the intrinsic cost of EXACT percentiles;
    // it partitions by group (parallel across groups, AQE-splittable)
    // and the approximate path for fact-wide groups is C10's sketch.
    "q_percentiles" -> { (s, d) =>
      import s.implicits._
      val byFlag = Window.partitionBy($"l_returnflag")
      val ranked = Tables.lineitem(s, d)
        .select($"l_returnflag", $"l_extendedprice".cast(D).as("v"))
        .withColumn("rn", row_number().over(byFlag.orderBy($"v".asc)))
        .withColumn("n", count(lit(1)).over(byFlag))
      def p(q: Double) =
        round(max(when($"rn" === ceil(lit(q) * $"n"), $"v")), 2).cast("double")
      ranked.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          p(0.5).as("p50"), p(0.9).as("p90"), p(0.99).as("p99"))
    },

    // C30: INTERPOLATED percentiles (percentile_cont semantics — the
    // SQL-standard continuous quantile next to C19's discrete one):
    // h = p·(n−1), the two bracketing order statistics come from the
    // SAME ranked window pass C19 uses (rank predicates are pure
    // integer row-local tests), and the interpolation
    // v_lo + frac·(v_hi − v_lo) runs in PINNED IEEE order — the
    // oracle spells out the identical formula instead of calling its
    // builtin quantile_cont, so the compared doubles are
    // bit-identical by construction, not by trusting two engines'
    // internal quantile kernels to round alike. Integer-h groups
    // (frac = 0) return the exact order statistic with no
    // interpolation term (whose v_hi would be NULL at p = 1).
    "q_percentiles_cont" -> { (s, d) =>
      import s.implicits._
      val byFlag = Window.partitionBy($"l_returnflag")
      val ranked = Tables.lineitem(s, d)
        .select($"l_returnflag", $"l_extendedprice".as("v"))
        .withColumn("rn", row_number().over(byFlag.orderBy($"v".asc)))
        .withColumn("n", count(lit(1)).over(byFlag))
      def h(q: Double) = lit(q) * ($"n" - 1).cast("double")
      def lo(q: Double) = max(when($"rn" === floor(h(q)).cast("long") + 1L, $"v"))
      def hi(q: Double) = max(when($"rn" === floor(h(q)).cast("long") + 2L, $"v"))
      def interp(q: Double, loC: org.apache.spark.sql.Column, hiC: org.apache.spark.sql.Column) = {
        val hh = lit(q) * ($"n_rows" - 1).cast("double")
        val f = hh - floor(hh)
        when(f === 0.0, loC).otherwise(loC + f * (hiC - loC))
      }
      ranked.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          lo(0.5).as("lo50"), hi(0.5).as("hi50"),
          lo(0.9).as("lo90"), hi(0.9).as("hi90"),
          lo(0.99).as("lo99"), hi(0.99).as("hi99"))
        .select($"l_returnflag", $"n_rows",
          interp(0.5, $"lo50", $"hi50").as("p50"),
          interp(0.9, $"lo90", $"hi90").as("p90"),
          interp(0.99, $"lo99", $"hi99").as("p99"))
    },

    // C21: interval coalescing (gaps-and-islands) — merge each
    // customer's overlapping order-activity intervals
    // [orderday, orderday + 30) into maximal islands, the classic
    // data-eng primitive behind sessionized billing periods, coverage
    // gaps and SCD collapse. ONE shuffle on the partition key feeds
    // both window passes AND the island aggregation (islands nest
    // inside customers, so Catalyst reuses the same hash partitioning
    // for the groupBy); the running-max/running-sum frames are
    // streaming (no buffering beyond the frame head). Day arithmetic
    // runs on integer day offsets — no engine-specific date algebra
    // in the compared values.
    "q_intervals" -> { (s, d) =>
      import s.implicits._
      val byCust = Window.partitionBy($"o_custkey")
        .orderBy($"start_day".asc, $"o_orderkey".asc)
      val iv = Tables.orders(s, d)
        .select($"o_custkey", $"o_orderkey",
          datediff($"o_orderdate", lit("1992-01-01")).cast("long").as("start_day"))
        .withColumn("end_day", $"start_day" + 30)
      iv
        // an order opens a new island iff it starts after every
        // earlier interval of the same customer has closed
        .withColumn("prev_max_end",
          max($"end_day").over(byCust.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when($"prev_max_end".isNull || $"start_day" > $"prev_max_end", 1L)
            .otherwise(0L))
        .withColumn("island", sum($"new_island").over(byCust))
        .groupBy($"o_custkey", $"island")
        .agg(min($"start_day").as("island_start"),
          max($"end_day").as("island_end"),
          count(lit(1)).as("n_orders"))
        .select($"o_custkey", $"island_start", $"island_end", $"n_orders")
    },

    // C25: 2-D skyline (Pareto frontier) — parts no other part beats
    // on BOTH axes (cheaper AND bigger): the classic multi-criteria
    // shortlist operator. NOT the quadratic dominance self-join, and
    // (since round 5) NOT a single-partition global sort either: the
    // distinct (price, size) grid can approach fact cardinality at
    // scale (p_retailprice has ~O(#parts) distinct values), so the
    // "running max over all strictly cheaper tuples" decomposes by
    // PRICE BAND (price_c DIV 10^4 — $100-wide, so #bands is bounded
    // by the price DOMAIN, not the row count):
    //   1. per-band max(size) — one partial-aggregable pass;
    //   2. running max over strictly LOWER bands — a window over the
    //      band summary (domain-bounded rows, the only unpartitioned
    //      sort);
    //   3. within-band strictly-cheaper running max — value-based
    //      RANGE frame PARTITIONED BY band (each band holds ≤ 10^4
    //      prices × |size domain| grid rows at ANY fact scale).
    // A lower band's prices are all strictly cheaper, so
    // best_cheaper = greatest(best lower band, within-band running
    // max) — exactly the unbanded frame, spread over bounded tasks.
    "q_skyline" -> { (s, d) =>
      import s.implicits._
      val grid = Tables.part(s, d)
        .select(($"p_retailprice".cast(D) * 100).cast("long").as("price_c"),
          $"p_size".cast("long").as("size"))
        .groupBy($"price_c", $"size").agg(count(lit(1)).as("n_parts"))
        .withColumn("band", expr("price_c div 10000"))
      // band summary: domain-bounded (one row per $100 of price range)
      val bandBest = grid.groupBy($"band").agg(max($"size").as("band_max"))
        .withColumn("best_lower_band",
          max($"band_max").over(Window.orderBy($"band".asc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .select($"band", $"best_lower_band")
      val inBand = Window.partitionBy($"band").orderBy($"price_c".asc)
        .rangeBetween(Window.unboundedPreceding, -1)
      // band is a function of price_c, so partitioning the same-price
      // window by (band, price_c) is semantically identical to
      // (price_c) alone — and rides the inBand exchange+sort (band
      // hash satisfies the clustering, (band, price_c) order is
      // already established): ONE fact-grid shuffle for both windows.
      val samePrice = Window.partitionBy($"band", $"price_c")
      grid
        .join(broadcast(bandBest), Seq("band"))
        .withColumn("best_in_band", max($"size").over(inBand))
        .withColumn("best_cheaper", greatest(
          coalesce($"best_lower_band", lit(Long.MinValue)),
          coalesce($"best_in_band", lit(Long.MinValue))))
        .withColumn("best_cheaper",
          when($"best_cheaper" === Long.MinValue, lit(null).cast("long"))
            .otherwise($"best_cheaper"))
        .withColumn("best_here", max($"size").over(samePrice))
        .filter($"size" === $"best_here" &&
          ($"best_cheaper".isNull || $"size" > $"best_cheaper"))
        .select($"price_c", $"size", $"n_parts")
    },

    // C24: grouped linear regression + correlation from EXACT moment
    // sums — per flag, OLS slope/intercept and Pearson r of
    // (quantity → extendedprice). The five moments accumulate as
    // BIGINT cents (one partial-aggregable pass); the n·Σxy − Σx·Σy
    // cross-products exceed 64 bits, so they run in DECIMAL(38,0) on
    // the Spark side and HUGEINT in the oracle — two different exact
    // 128-bit integer representations that agree digit-for-digit —
    // and only the final slope/intercept/r expressions touch IEEE
    // doubles, in one pinned op order. The sketch-free shape: ONE
    // scan, ONE shuffle of six numbers per group at any scale.
    "q_linreg" -> { (s, d) =>
      import s.implicits._
      val d38 = DecimalType(38, 0)
      // second moments accumulate in DECIMAL(38,0), not BIGINT: the
      // per-row products fit 64 bits (yc² ≤ ~1e14) but their SUM
      // crosses 2⁶³ at ~3× the sf0.1 row count — the round-8 scale
      // ladder caught exactly that overflow at sf0.3x. The decimal
      // sum is the same exact integer (cross-engine digit-for-digit
      // vs the oracle's HUGEINT), just 128-bit-safe to ~1e25 rows.
      val m = Tables.lineitem(s, d)
        .select($"l_returnflag",
          ($"l_quantity".cast(D) * 100).cast("long").as("xc"),
          ($"l_extendedprice".cast(D) * 100).cast("long").as("yc"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"xc").as("sx"), sum($"yc").as("sy"),
          sum(($"xc" * $"xc").cast(d38)).as("sxx"),
          sum(($"xc" * $"yc").cast(d38)).as("sxy"),
          sum(($"yc" * $"yc").cast(d38)).as("syy"))
      def dd(c: org.apache.spark.sql.Column) = c.cast(d38)
      val num = dd($"n") * dd($"sxy") - dd($"sx") * dd($"sy")
      val den1 = dd($"n") * dd($"sxx") - dd($"sx") * dd($"sx")
      val den2 = dd($"n") * dd($"syy") - dd($"sy") * dd($"sy")
      m.withColumn("slope", num.cast("double") / den1.cast("double"))
        .withColumn("intercept",
          ($"sy".cast("double") - $"slope" * $"sx".cast("double")) /
            ($"n".cast("double") * lit(100.0)))
        .withColumn("corr",
          num.cast("double") / (sqrt(den1.cast("double")) * sqrt(den2.cast("double"))))
        .select($"l_returnflag", $"n", $"slope", $"intercept", $"corr")
    },

    // C23: UNPIVOT (melt) — the inverse of H7's pivot: a wide
    // per-flag aggregate row becomes one (flag, metric, value) row
    // per metric, the normalization step feeding generic metric
    // stores and long-format chart tables. Catalyst plans unpivot as
    // an Expand over the already-aggregated (|flags|-bounded) rows —
    // zero additional shuffle beyond the aggregation's own.
    "q_unpivot" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(dsum(dec($"l_quantity")).as("sum_qty"),
          dsum(dec($"l_extendedprice")).as("sum_price"),
          count(lit(1)).cast("double").as("n_rows"))
        .unpivot(Array($"l_returnflag"),
          Array($"sum_qty", $"sum_price", $"n_rows"), "metric", "value")
    },

    // C22: market-basket co-occurrence mining — part pairs bought in
    // the same order with support count and lift, the frequent-
    // itemset primitive behind recommenders and substitution
    // analysis. Scale shape: the per-order pair fan-out is C(k,2) of
    // the ORDER size (bounded small by the domain, like D4's
    // df-capped posting lists — a pathological mega-order would need
    // the same block-split as the wedge join); support and the two
    // item marginals are partial-aggregable groupBys; the one-row
    // totals broadcast. Lift = (support·n)/(c_a·c_b) as ONE IEEE
    // division of exact integer cross-products — no float chains.
    // Round 16 reshape (guide §2.3/§2.4): the old shape shuffled the
    // (order, part) set THREE times at fact scale — once for the
    // distinct, then BOTH self-join sides re-exchanged on the order
    // key. One groupBy(order) + collect_set now does dedup and
    // basket assembly in a single exchange, and the C(k,2) pair
    // fan-out runs map-side off the sorted basket array (k is
    // order-size-bounded by the domain, same argument as before);
    // marginals and the order total re-derive from the basket table
    // without touching the facts again. Same pairs, same counts:
    // collect_set ≡ distinct per order, and slice-based pair
    // generation emits exactly the a.p < b.p pairs.
    "q_basket_pairs" -> { (s, d) =>
      import s.implicits._
      val baskets = Tables.lineitem(s, d)
        .select($"l_orderkey".as("o"), $"l_partkey".as("p"))
        .groupBy($"o").agg(sort_array(collect_set($"p")).as("ps"))
        .localCheckpoint(false) // feeds pairs + marginals + totals
      val totals = baskets.agg(count(lit(1)).as("n_orders"))
      val item = baskets.select(explode($"ps").as("p"))
        .groupBy($"p").agg(count(lit(1)).as("c_item"))
      baskets
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"))
          .as("pr"))
        .groupBy($"pr.a".as("part_a"), $"pr.b".as("part_b"))
        .agg(count(lit(1)).as("support"))
        .filter($"support" >= 2)
        .join(item.select($"p".as("part_a"), $"c_item".as("ca")), "part_a")
        .join(item.select($"p".as("part_b"), $"c_item".as("cb")), "part_b")
        .crossJoin(broadcast(totals))
        .select($"part_a", $"part_b", $"support",
          (($"support" * $"n_orders").cast("double") /
            ($"ca" * $"cb").cast("double")).as("lift"))
    },

    // C14: cube aggregation — all four grouping sets of the flag/status
    // pair. TWO-LEVEL (round 16, guide §2.3 "aggregate before you
    // shuffle"): Catalyst plans a bare cube as Expand×4 — every fact
    // row runs through the hash aggregate four times. count and sum
    // are associative, so the cube re-aggregates the (flag, status)
    // base instead: one plain single-scan groupBy (map-side partial,
    // |flags|·|statuses| rows out), then the Expand×4 runs over the
    // handful of base rows. Values are bit-identical: decimal addition
    // is associative (the base keeps the EXACT decimal sums; rounding
    // still happens once at the end) and counts re-sum.
    "q_cube" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("__n"), sum(dec($"l_quantity")).as("__q"))
        .cube($"l_returnflag", $"l_linestatus")
        .agg(sum($"__n").as("n_rows"), round(sum($"__q"), 2).cast("double").as("sum_qty"))
    },

    // C16: explicit GROUPING SETS — the user-chosen subset of cube's
    // lattice (here the two single-column marginals plus the full
    // pair, but NOT the grand total). Same single-scan Expand + hash
    // aggregate shape as rollup/cube, with the Expand factor exactly
    // the number of requested sets — the surface for "give me these
    // three summary tables in one pass" without paying for the sets
    // you did not ask for.
    // TWO-LEVEL like q_cube/q_rollup (round 16): the requested sets
    // re-aggregate the single-scan (flag, status) base instead of
    // Expand×3-ing the fact table — bit-identical (associativity).
    "q_grouping_sets" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("__n"), sum(dec($"l_quantity")).as("__q"))
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq($"l_linestatus")),
          $"l_returnflag", $"l_linestatus")
        .agg(sum($"__n").as("n_rows"), round(sum($"__q"), 2).cast("double").as("sum_qty"))
    },

    // C15: heavy-hitters sketch — the mergeable Misra-Gries summary
    // ([[graft.functions.HeavyHitters]]) over the lineitem part-key
    // stream, top 10 by guaranteed-lower-bound count. The exact
    // formulation shuffles one row per distinct key; the sketch
    // shuffles `capacity` constant-size counters per partition at ANY
    // key cardinality. Estimates depend on stream order (like every
    // MG summary), so raw values have no cross-engine oracle; instead
    // the query PROVES the MG sandwich guarantee per emitted key —
    // est ≤ true ≤ est + max_err against the exact counts — and emits
    // the booleans, which the oracle reproduces as literal TRUE. Any
    // guarantee violation (or a change in emitted row count) flips
    // the driver's hash compare red. The raw-value surface stays
    // available via GraftFunctions.heavyHitters + HeavyHittersSpec.
    "q_heavy_hitters" -> { (s, d) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val keys = Tables.lineitem(s, d).select($"l_partkey".cast("long").as("pk"))
      val top = keys
        .agg(graft.functions.GraftFunctions.heavyHitters($"pk", 256).as("hh"))
        .select(posexplode($"hh").as(Seq("pos", "h")))
        .filter($"pos" < 10)
        .select(($"pos" + 1).cast("long").as("rank"), $"h.item".as("pk"),
          $"h.est".as("est"), $"h.max_err".as("max_err"))
      val exact = keys.groupBy($"pk").agg(count(lit(1)).as("true_cnt"))
      top.join(exact, Seq("pk"), "left")
        .select($"rank",
          ($"true_cnt".isNotNull && $"est" <= $"true_cnt" &&
            $"true_cnt" <= $"est" + $"max_err").as("sandwich_ok"))
    },

    // C10: sketch aggregations — HLL++ approximate distinct counts and
    // approximate quantiles per nation. At warehouse scale these
    // replace exact DISTINCT / exact percentiles (whose shuffles carry
    // every distinct value / sort every group) with constant-size
    // mergeable state per group. Approximate values differ across
    // engines, so the query emits GUARANTEE booleans instead: the HLL
    // estimate within 10% of the exact distinct count (5× the 2% rsd),
    // and each approx percentile inside a generous exact quantile
    // bracket (±0.03 — the sketch's rank error at accuracy 10000 is
    // ≤ 0.0001). Exact n_cust rides along as a fully cross-engine
    // column; the oracle reproduces the booleans as literal TRUE.
    // Raw sketch values remain covered by SketchAccuracySpec.
    "q_approx_stats" -> { (s, d) =>
      import s.implicits._
      val joined = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"c_nationkey".cast("long").as("c_nationkey"),
          $"o_custkey", $"o_totalprice")
      // sketches + exact percentile brackets share one aggregation;
      // the exact distinct count runs as its own two-level
      // partial-aggregable plan (dedup then count) instead of a
      // countDistinct in the same agg, which would Expand-double the
      // input for every other aggregate in the list
      val stats = joined
        .groupBy($"c_nationkey")
        .agg(
          approx_count_distinct($"o_custkey", rsd = 0.02).as("n_approx"),
          percentile_approx($"o_totalprice", lit(0.5), lit(10000)).as("p50a"),
          percentile_approx($"o_totalprice", lit(0.95), lit(10000)).as("p95a"),
          percentile($"o_totalprice", lit(0.47)).as("p50lo"),
          percentile($"o_totalprice", lit(0.53)).as("p50hi"),
          percentile($"o_totalprice", lit(0.92)).as("p95lo"),
          percentile($"o_totalprice", lit(0.98)).as("p95hi"))
      val exact = joined.select($"c_nationkey", $"o_custkey").distinct()
        .groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
      stats.join(exact, "c_nationkey")
        .select($"c_nationkey", $"n_cust",
          (abs($"n_approx" - $"n_cust").cast("double") <=
            $"n_cust".cast("double") * 0.1).as("cnt_ok"),
          ($"p50a" >= $"p50lo" && $"p50a" <= $"p50hi").as("p50_ok"),
          ($"p95a" >= $"p95lo" && $"p95a" <= $"p95hi").as("p95_ok"))
    },

    // C11: AS-OF join — each purchase attributed to the latest prior
    // (or same-instant) click by the same user. One shuffle on
    // user_id, no join (see AsofJoin.lastPrior); the DuckDB oracle is
    // its native ASOF JOIN — an independent implementation of the
    // same semantics.
    "q_asof" -> { (s, d) =>
      import s.implicits._
      val e = Tables.events(s, d).withColumn("ts_us", unix_micros($"ts"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts_us")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts_us".as("click_us"))
      AsofJoin.lastPrior(purchases, clicks,
          key = "user_id", leftTs = "ts_us", rightTs = "click_us",
          carryPrefix = "", inner = true)
        .select($"user_id", $"event_id", $"ts_us", $"click_us",
          ($"ts_us" - $"click_us").as("gap_us"))
    },

    // C32: NEAREST-event temporal join — the bidirectional companion
    // of C11: each purchase attached to the click closest in time in
    // EITHER direction (ties backward, the ASOF convention). Same
    // no-join union-stream shape — one shuffle on user_id, one sort,
    // both direction candidates read off the same window pass (see
    // NearestJoin.nearest); the oracle is an independent correlated
    // LATERAL formulation ordering by absolute gap.
    "q_asof_nearest" -> { (s, d) =>
      import s.implicits._
      val e = Tables.events(s, d).withColumn("ts_us", unix_micros($"ts"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts_us")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts_us".as("click_us"))
      NearestJoin.nearest(purchases, clicks,
          key = "user_id", leftTs = "ts_us", rightTs = "click_us")
        .select($"user_id", $"event_id", $"ts_us",
          $"near_ts".as("near_us"), $"gap".as("gap_us"), $"direction")
    },

    // C33: full MERGE semantics (the warehouse workhorse beyond C8's
    // INSERT-OR-IGNORE and C28's CDC last-op-wins): one statement's
    // worth of WHEN MATCHED AND <cond> THEN DELETE / WHEN MATCHED
    // THEN UPDATE / WHEN NOT MATCHED BY SOURCE THEN KEEP / WHEN NOT
    // MATCHED THEN INSERT, applied to the customer dimension with a
    // source built from the 1995 order window (plus synthetic
    // new-account keys offset by 10^9 for the insert arm). Scale
    // shape: ONE partial-aggregable rollup of the source + ONE
    // full-outer shuffle join on the key — no per-arm passes, no
    // row-at-a-time upserts. All money arithmetic in exact CENTS
    // (decimal×100 → BIGINT), so the merged balances hash bit-exact
    // cross-engine; every arm is non-degenerate at every SF
    // (spec-checked via the op counts in the result itself). The
    // synthetic-key offset is guarded LOUDLY against the real key
    // domain (see below) — a collision would flip arms identically
    // in both engines, which the hash oracle cannot see.
    "q_merge" -> { (s, d) =>
      import s.implicits._
      val src1 = Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1995-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .groupBy($"o_custkey".cast("long").as("k"))
        .agg(sum(($"o_totalprice".cast(D) * 100).cast("long")).as("cents"))
      val src = src1.unionByName(
        src1.filter($"cents" > MERGE_INSERT_CENTS)
          .select(($"k" + 1000000000L).as("k"), $"cents"))
      // the synthetic insert-key offset must clear the real key
      // domain, or an 'insert' row would silently collide into an
      // unrelated customer's 'update' — and both engines would agree
      // on the wrong answer, blinding the hash oracle. Fail LOUDLY
      // instead (the s_knn_binary dims-guard discipline: raise_error
      // rides the used column, so it can't be pruned away). TPC-H
      // custkeys reach 10^9 around SF ~6,700.
      val t = Tables.customer(s, d)
        .select(
          when($"c_custkey" < 1000000000L, $"c_custkey".cast("long"))
            .otherwise(raise_error(concat(lit("q_merge synthetic-key offset 10^9 "),
              lit("collides with real custkey "), $"c_custkey".cast("string"),
              lit(" — raise the offset in BOTH engines")))).as("ck"),
          ($"c_acctbal".cast(D) * 100).cast("long").as("bal_cents"), $"c_mktsegment")
      t.join(src, $"ck" === $"k", "full_outer")
        .filter(!($"ck".isNotNull && $"k".isNotNull && $"cents" > MERGE_DELETE_CENTS))
        .select(
          coalesce($"ck", $"k").as("custkey"),
          when($"ck".isNotNull && $"k".isNotNull, $"bal_cents" + expr("cents div 10"))
            .when($"ck".isNotNull, $"bal_cents")
            .otherwise(expr("cents div 10")).as("acctbal_cents"),
          when($"ck".isNotNull, $"c_mktsegment").otherwise(lit("NEW")).as("segment"),
          when($"ck".isNotNull && $"k".isNotNull, lit("update"))
            .when($"ck".isNotNull, lit("keep"))
            .otherwise(lit("insert")).as("op"))
    },

    // C13: semi-structured extraction — JSON path into the events
    // `props` column, then a plain grouped aggregate over the
    // extracted value. get_json_object is a codegen'd Catalyst
    // expression, so extraction stays inside the scan's
    // WholeStageCodegen span — no UDF, no driver parsing; at scale
    // this is a map-side projection like any other column.
    "q_json" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"))
    },

    // C12: range (point-in-interval) join — per order, how many
    // lineitems anywhere shipped during the week starting at its
    // order date. Prefix-sums over the day spine instead of non-equi
    // pairs (see RangeJoin.intervalPointCounts); the oracle is
    // DuckDB's native inequality join (IEJoin) — again an independent
    // algorithm for the same semantics.
    "q_range_count" -> { (s, d) =>
      import s.implicits._
      val points = Tables.lineitem(s, d)
        .select(unix_date(to_date($"l_shipdate")).cast("long").as("p"))
      val intervals = Tables.orders(s, d).select($"o_orderkey",
        unix_date(to_date($"o_orderdate")).cast("long").as("lo"),
        (unix_date(to_date($"o_orderdate")) + 7).cast("long").as("hi"))
      RangeJoin.intervalPointCounts(points, intervals, idCols = Seq("o_orderkey"))
        .select($"o_orderkey", $"n_points".as("n_shipped"))
    },
  )

  override def oracles: Map[String, String] = Map(
    // the unrolled bit-interleave twin is GENERATED from the same
    // term table as the Spark expression (ZOrder.oracleSqlExpr), so
    // engine and oracle cannot drift
    "q_zorder" -> {
      import graft.sources.ZOrder.oracleSqlExpr
      s"""SELECT l_orderkey, l_linenumber,
         | ${oracleSqlExpr("l_partkey", "l_suppkey")} AS zkey,
         | (${oracleSqlExpr("(l_partkey & -32)", "(l_suppkey & -32)")}
         |  <= ${oracleSqlExpr("l_partkey", "l_suppkey")}) AS quad_ok
         |FROM lineitem""".stripMargin
    },
    "q_zorder3" -> {
      import graft.sources.ZOrder.oracleSqlExprN
      val raw = Seq("date_diff('day', DATE '1992-01-01', l_shipdate)",
        "CAST(l_quantity AS BIGINT)", "CAST(l_linenumber AS BIGINT)")
      val oct = raw.map(c => s"($c & -32)")
      s"""SELECT l_orderkey, l_linenumber,
         | ${oracleSqlExprN(raw)} AS zkey3,
         | (${oracleSqlExprN(oct)} <= ${oracleSqlExprN(raw)}) AS oct_ok
         |FROM lineitem""".stripMargin
    },

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_base_price,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))),2) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // C34: the oracle IS the full recompute — merge ≡ recompute is
    // the IVM law being verified.
    "q_incr_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n_rows,
        | CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
        | CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q6_filter_agg" ->
      """SELECT
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))),2) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q3_topn" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))),2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q5_star_join" ->
      """SELECT n_name,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))),2) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "q_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')""".stripMargin,
    "q_anti" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')""".stripMargin,
    "q_window_topn" ->
      """SELECT p_brand, rank_in_brand, p_partkey, p_retailprice FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rank_in_brand
        | FROM part) t WHERE rank_in_brand <= 3""".stripMargin,
    "q_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |   PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey < 5""".stripMargin,
    "q_upsert_dedup" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
        | SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
        |  ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber ASC, l_quantity ASC, l_extendedprice ASC) AS rn
        | FROM lineitem) t WHERE rn = 1""".stripMargin,
    "q_percentiles_cont" -> {
      def h(q: String, n: String) = s"CAST($q AS DOUBLE) * CAST($n - 1 AS DOUBLE)"
      def mark(q: String, off: Int, alias: String) =
        s"MAX(CASE WHEN rn = CAST(FLOOR(${h(q, "n")}) AS BIGINT) + $off THEN v END) AS $alias"
      def interp(q: String, lo: String, hi: String, alias: String) = {
        val hh = h(q, "n_rows")
        s"""CASE WHEN $hh - FLOOR($hh) = CAST(0.0 AS DOUBLE) THEN $lo
           | ELSE $lo + ($hh - FLOOR($hh)) * ($hi - $lo) END AS $alias""".stripMargin
      }
      s"""WITH ranked AS (
         | SELECT l_returnflag, l_extendedprice AS v,
         |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC) AS rn,
         |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n
         | FROM lineitem),
         |a AS (
         | SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  ${mark("0.5", 1, "lo50")}, ${mark("0.5", 2, "hi50")},
         |  ${mark("0.9", 1, "lo90")}, ${mark("0.9", 2, "hi90")},
         |  ${mark("0.99", 1, "lo99")}, ${mark("0.99", 2, "hi99")}
         | FROM ranked GROUP BY l_returnflag)
         |SELECT l_returnflag, n_rows,
         | ${interp("0.5", "lo50", "hi50", "p50")},
         | ${interp("0.9", "lo90", "hi90", "p90")},
         | ${interp("0.99", "lo99", "hi99", "p99")}
         |FROM a""".stripMargin
    },
    "q_histogram" ->
      """WITH ext AS (
        | SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem),
        |b AS (
        | SELECT CASE WHEN e.hi = e.lo THEN CAST(0 AS BIGINT)
        |  ELSE LEAST(CAST(FLOOR((l.l_extendedprice - e.lo) / ((e.hi - e.lo) / 20.0)) AS BIGINT),
        |   CAST(19 AS BIGINT)) END AS bucket,
        |  l.l_extendedprice AS x, e.lo AS lo, (e.hi - e.lo) / 20.0 AS width
        | FROM lineitem l CROSS JOIN ext e)
        |SELECT bucket,
        | MIN(lo) + CAST(bucket AS DOUBLE) * MIN(width) AS bucket_lo,
        | MIN(lo) + CAST(bucket + 1 AS DOUBLE) * MIN(width) AS bucket_hi,
        | CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(ROUND(SUM(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE) AS mass
        |FROM b GROUP BY bucket""".stripMargin,
    "q_cdc" ->
      """WITH log AS (
        | SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |ranked AS (
        | SELECT user_id, event_type, cents,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |   ORDER BY ts_us DESC, event_id DESC, event_type DESC, cents DESC) AS rn
        | FROM log),
        |counts AS (
        | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ops,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_deletes
        | FROM log GROUP BY 1)
        |SELECT r.user_id, r.event_type AS last_type,
        | CAST(r.cents AS DOUBLE) / 100.0 AS last_value,
        | c.n_ops, c.n_deletes
        |FROM ranked r JOIN counts c ON r.user_id = c.user_id
        |WHERE r.rn = 1 AND r.event_type <> 'error'""".stripMargin,
    "q_profile" -> {
      // one UNION ALL branch per orders column; stringification
      // type-pinned to match the Spark side exactly
      val branches = Seq(
        ("o_orderkey", "plain"), ("o_custkey", "plain"),
        ("o_orderstatus", "plain"), ("o_totalprice", "dec"),
        ("o_orderdate", "date"), ("o_orderpriority", "plain"))
        .map { case (c, kind) =>
          def str(agg: String) = kind match {
            case "date" => s"strftime($agg($c), '%Y-%m-%d')"
            case "dec"  => s"CAST(CAST($agg($c) AS DECIMAL(18,2)) AS VARCHAR)"
            case _      => s"CAST($agg($c) AS VARCHAR)"
          }
          s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             | CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
             | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             | ${str("MIN")} AS min_value, ${str("MAX")} AS max_value
             |FROM orders""".stripMargin
        }
      branches.mkString("\nUNION ALL\n")
    },
    "q_scd2" ->
      """WITH seq AS (
        | SELECT o_custkey AS custkey, o_orderkey, o_orderdate, o_orderstatus AS status,
        |  CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |    OR lag(o_orderstatus) OVER w <> o_orderstatus THEN 1 ELSE 0 END AS chg
        | FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)),
        |ver AS (
        | SELECT *, CAST(SUM(chg) OVER (PARTITION BY custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
        | FROM seq),
        |grp AS (
        | SELECT custkey, version, MIN(status) AS status,
        |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS valid_from,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        | FROM ver GROUP BY custkey, version)
        |SELECT custkey, version, status, valid_from,
        | lead(valid_from) OVER (PARTITION BY custkey ORDER BY version ASC) AS valid_to,
        | (lead(valid_from) OVER (PARTITION BY custkey ORDER BY version ASC)) IS NULL AS is_current,
        | n_orders
        |FROM grp""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_skyline" ->
      """WITH grid AS (
        | SELECT CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |  CAST(p_size AS BIGINT) AS size, CAST(COUNT(*) AS BIGINT) AS n_parts
        | FROM part GROUP BY 1, 2),
        |w AS (
        | SELECT *,
        |  MAX(size) OVER (ORDER BY price_c
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper,
        |  MAX(size) OVER (PARTITION BY price_c) AS best_here
        | FROM grid)
        |SELECT price_c, size, n_parts FROM w
        |WHERE size = best_here AND (best_cheaper IS NULL OR size > best_cheaper)""".stripMargin,
    "q_linreg" ->
      """WITH c AS (
        | SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
        | FROM lineitem),
        |m AS (
        | SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(xc) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
        |  CAST(SUM(xc * xc) AS BIGINT) AS sxx, CAST(SUM(xc * yc) AS BIGINT) AS sxy,
        |  CAST(SUM(yc * yc) AS BIGINT) AS syy
        | FROM c GROUP BY 1),
        |h AS (
        | SELECT l_returnflag, n, sx, sy,
        |  CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT) - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
        |  CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den1,
        |  CAST(n AS HUGEINT) * CAST(syy AS HUGEINT) - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS den2
        | FROM m)
        |SELECT l_returnflag, n,
        | CAST(num AS DOUBLE) / CAST(den1 AS DOUBLE) AS slope,
        | (CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE) / CAST(den1 AS DOUBLE)) * CAST(sx AS DOUBLE))
        |   / (CAST(n AS DOUBLE) * 100.0) AS intercept,
        | CAST(num AS DOUBLE) / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE))) AS corr
        |FROM h""".stripMargin,
    "q_unpivot" ->
      """WITH wide AS (
        | SELECT l_returnflag,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
        |  CAST(COUNT(*) AS DOUBLE) AS n_rows
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, value
        |FROM wide UNPIVOT (value FOR metric IN (sum_qty, sum_price, n_rows))""".stripMargin,
    "q_basket_pairs" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |tot AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
        |item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY 1),
        |pairs AS (SELECT a.p AS part_a, b.p AS part_b, CAST(COUNT(*) AS BIGINT) AS support
        |          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT pr.part_a, pr.part_b, pr.support,
        | CAST(pr.support * t.n_orders AS DOUBLE) / CAST(ia.c * ib.c AS DOUBLE) AS lift
        |FROM pairs pr JOIN item ia ON ia.p = pr.part_a
        | JOIN item ib ON ib.p = pr.part_b, tot t""".stripMargin,
    "q_intervals" ->
      """WITH iv AS (
        | SELECT o_custkey, o_orderkey,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS start_day,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + 30 AS end_day
        | FROM orders),
        |f AS (
        | SELECT *, MAX(end_day) OVER (
        |   PARTITION BY o_custkey ORDER BY start_day, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        | FROM iv),
        |g AS (
        | SELECT *, SUM(CASE WHEN prev_max_end IS NULL OR start_day > prev_max_end
        |                    THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY o_custkey ORDER BY start_day, o_orderkey
        |   ROWS UNBOUNDED PRECEDING) AS island
        | FROM f)
        |SELECT o_custkey, MIN(start_day) AS island_start, MAX(end_day) AS island_end,
        | CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM g GROUP BY o_custkey, island""".stripMargin,
    "q_window_range" ->
      """WITH base AS (
        | SELECT o_orderkey, o_custkey,
        |  date_diff('day', DATE '1992-01-01', o_orderdate) AS day,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS v
        | FROM orders)
        |SELECT o_orderkey, o_custkey, day,
        | CAST(ROUND(SUM(v) OVER (
        |   PARTITION BY o_custkey ORDER BY day ASC
        |   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trail30
        |FROM base""".stripMargin,
    "q_percentiles" ->
      """WITH base AS (
        | SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v FROM lineitem),
        |r AS (
        | SELECT l_returnflag, v,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v ASC) AS BIGINT) AS rn,
        |  CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        | FROM base)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(ROUND(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END), 2) AS DOUBLE) AS p50,
        | CAST(ROUND(MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN v END), 2) AS DOUBLE) AS p90,
        | CAST(ROUND(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN v END), 2) AS DOUBLE) AS p99
        |FROM r GROUP BY l_returnflag""".stripMargin,
    "q_setops" ->
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))""".stripMargin,
    "q_salted_join" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,
    // guarantee-boolean oracles (C10/C15): the Spark side proves each
    // sketch's published bound against exact values it computes
    // itself; the oracle contributes the cross-engine-checkable part
    // (grouping keys, exact counts, row counts) plus TRUE literals.
    "q_approx_stats" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        | TRUE AS cnt_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT CAST(r AS BIGINT) AS rank, TRUE AS sandwich_ok
        |FROM range(1, 11) t(r)""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q_asof" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts_us, c.click_us, p.ts_us - c.click_us AS gap_us
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.click_us""".stripMargin,
    "q_merge" ->
      s"""WITH s1 AS (
         | SELECT CAST(o_custkey AS BIGINT) AS k,
         |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
         | FROM orders
         | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
         | GROUP BY 1),
         |src AS (SELECT k, cents FROM s1
         |        UNION ALL
         |        SELECT k + 1000000000, cents FROM s1 WHERE cents > $MERGE_INSERT_CENTS),
         |m AS (SELECT c.c_custkey AS ck, CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
         |       c.c_mktsegment, s.k, s.cents
         |      FROM customer c FULL OUTER JOIN src s ON s.k = c.c_custkey)
         |SELECT CAST(COALESCE(ck, k) AS BIGINT) AS custkey,
         | CASE WHEN ck IS NOT NULL AND k IS NOT NULL THEN bal_cents + cents // 10
         |      WHEN ck IS NOT NULL THEN bal_cents
         |      ELSE cents // 10 END AS acctbal_cents,
         | CASE WHEN ck IS NOT NULL THEN c_mktsegment ELSE 'NEW' END AS segment,
         | CASE WHEN ck IS NOT NULL AND k IS NOT NULL THEN 'update'
         |      WHEN ck IS NOT NULL THEN 'keep'
         |      ELSE 'insert' END AS op
         |FROM m
         |WHERE NOT (ck IS NOT NULL AND k IS NOT NULL AND cents > $MERGE_DELETE_CENTS)""".stripMargin,
    "q_asof_nearest" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT DISTINCT user_id, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts_us, n.click_us AS near_us,
        | ABS(p.ts_us - n.click_us) AS gap_us,
        | CASE WHEN n.click_us <= p.ts_us THEN 'back' ELSE 'fwd' END AS direction
        |FROM p, LATERAL (
        |  SELECT c.click_us FROM c WHERE c.user_id = p.user_id
        |  ORDER BY ABS(c.click_us - p.ts_us) ASC, (c.click_us <= p.ts_us) DESC
        |  LIMIT 1) n""".stripMargin,
    "q_json" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        | MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
        | MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q_range_count" ->
      """SELECT o_orderkey, CAST(COUNT(l_orderkey) AS BIGINT) AS n_shipped
        |FROM orders LEFT JOIN lineitem
        |  ON l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 7 DAY
        |GROUP BY o_orderkey""".stripMargin,
  )
}
