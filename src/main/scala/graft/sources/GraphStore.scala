package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent property-graph store — the Spark-native analog of the
  * reference's SQLite `PersistentDataBase` (main.py:117-210): a
  * parquet-backed bidirectional edge table with UNIQUE(src, dst)
  * identity and INSERT-OR-IGNORE upsert semantics (main.py:203's
  * `INSERT OR IGNORE`, main.py:143-153's UNIQUE constraint).
  *
  * Storage layout is versioned snapshots (`v=1`, `v=2`, …) under one
  * root. A [[write]] (init/reset) is a FULL snapshot. An [[upsert]]
  * is a DELTA snapshot (round 14 — the Delta/Iceberg move): only the
  * genuinely-new (src, dst) rows are written, plus a `_PARENT` marker
  * naming the version the delta extends; a reader composes the
  * parent chain by pure union — no dedup at read time, because the
  * writer's anti-join guarantees chain keys are disjoint. This keeps
  * the OR-IGNORE rule (existing edges win — a clobbering delta row is
  * simply never written) while cutting the per-upsert write from one
  * FULL edge-set rewrite plus a full-width ROW_NUMBER dedup window to
  * one keys-only anti-join plus a delta-sized write. Parquet is
  * immutable, so snapshot-then-advance is the idiomatic warehouse
  * shape, and readers are never exposed to a half-written update.
  * Long parent chains are collapsed by [[compact]] — the same
  * maintenance call that rolls full snapshots.
  *
  * Scale shape: write()'s dedup is ONE hash shuffle on the edge key
  * (a map-side-combining distinct when the edge set carries no
  * attribute columns); upsert()'s anti-join shuffles only the
  * 2-column key projection of the store plus the delta; diff() is one
  * full-outer key join. Snapshots are written straight out of the
  * dedup's partitioning — no extra layout shuffle (plain parquet
  * carries no bucketing metadata, so a layout shuffle would be pure
  * write-path cost). No driver-side state.
  */
object GraphStore {

  private val EDGE_COLS = Seq("src", "dst")

  private def fs(s: SparkSession, root: String) =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Committed `v=<digits>` snapshot DIRECTORY versions under `root`
    * (compacted-away versions not included — see
    * [[committedVersions]]). Only directories carrying the writer's
    * `_SUCCESS` marker count: in-flight staging directories
    * (different name shape), failed writes (no marker) and foreign
    * entries (v=old, v=2.bak) are all ignored instead of poisoning
    * every reader. */
  private def dirVersions(s: SparkSession, root: String): Seq[Int] = {
    val p = new Path(root)
    val f = fs(s, root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath).toSeq
      .filter(q => q.getName.matches("v=\\d+") && f.exists(new Path(q, "_SUCCESS")))
      .map(_.getName.drop(2).toInt)
  }

  /** Committed compaction directories (`c=<maxV>-<k>` with
    * `_SUCCESS`), unordered and unvalidated — callers that need
    * coverage go through [[readableCompacts]]. */
  private def compactDirs(s: SparkSession, root: String): Seq[Path] = {
    val p = new Path(root)
    val f = fs(s, root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath).toSeq
      .filter(q => q.getName.matches("c=\\d+-\\d+") && f.exists(new Path(q, "_SUCCESS")))
  }

  /** Compaction directories WITH a readable, non-empty `_MANIFEST`,
    * paired with their coverage and sorted newest-coverage first —
    * by ACTUAL manifest content, never by directory name (round-13
    * review: a foreign `c=<bigN>-k`-shaped entry must not be able to
    * outrank the real compaction, disable [[vacuum]], or defeat
    * [[compact]]'s no-op check). */
  private def readableCompacts(s: SparkSession,
                               root: String): Seq[(Path, Seq[Int])] =
    compactDirs(s, root)
      .map(c => c -> manifest(s, root, c))
      .filter(_._2.nonEmpty)
      .sortBy { case (_, vs) => (-vs.max, -vs.size) }

  /** Trimmed content of a small metadata file, None when missing or
    * unreadable — the ONE read path for `_MANIFEST`/`_COUNT`/parent
    * markers' siblings (round-15 close review: two hand-rolled
    * copies of open/read/close/NonFatal had already appeared). */
  private def readSmallFile(s: SparkSession, root: String, p: Path): Option[String] =
    try {
      val f = fs(s, root)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim)
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The version list a compaction directory covers, from its
    * `_MANIFEST` (one comma-separated line — the time-travel index
    * [[compact]] preserves). Empty for a missing or unparseable
    * manifest: a foreign/partial `c=N-k`-shaped entry must be IGNORED
    * like any other foreign directory, not poison every reader
    * through [[committedVersions]] (round-13 review — the same
    * contract [[dirVersions]] documents). */
  private def manifest(s: SparkSession, root: String, c: Path): Seq[Int] =
    readSmallFile(s, root, new Path(c, "_MANIFEST"))
      .flatMap(txt => scala.util.Try(
        txt.split(",").filter(_.nonEmpty).map(_.toInt).toSeq).toOption)
      .getOrElse(Seq.empty)

  /** The compaction's publish-time row count from its SIBLING
    * `_COUNT` file (round 15) — the checksum [[vacuum]] compares
    * against the live count before destroying the only other copy.
    * A separate file, NOT a second manifest line, for compatibility
    * in both directions: readers that predate the checksum never
    * open `_COUNT`, and a torn/corrupt/missing count degrades to
    * None (unknown — vacuum falls back to the readability-only
    * probe) without touching the version index (round-15 review,
    * both passes). */
  private def recordedCount(s: SparkSession, root: String, c: Path): Option[Long] =
    readSmallFile(s, root, new Path(c, "_COUNT"))
      .flatMap(t => scala.util.Try(t.toLong).toOption)

  /** Every readable snapshot version: live `v=N` directories plus
    * versions preserved inside compaction directories. */
  def committedVersions(s: SparkSession, root: String): Seq[Int] =
    (dirVersions(s, root) ++
      readableCompacts(s, root).flatMap(_._2)).distinct.sorted

  /** Latest committed snapshot version under `root`, 0 if none. */
  def latestVersion(s: SparkSession, root: String): Int =
    committedVersions(s, root).foldLeft(0)(math.max)

  private def snapshotPath(root: String, v: Int) = s"$root/v=$v"

  /** True iff `v=<v>` exists AND carries the `_SUCCESS` marker. */
  private def committed(s: SparkSession, root: String, v: Int): Boolean =
    fs(s, root).exists(new Path(new Path(snapshotPath(root, v)), "_SUCCESS"))

  /** Next writable version: one past the highest OCCUPIED `v=N` slot,
    * committed or not. A leftover uncommitted directory (crash before
    * _SUCCESS, manual junk like an aborted copy) is invisible to
    * readers but still occupies its name — advancing past it keeps the
    * store writable instead of every subsequent commit colliding with
    * the same dead slot forever. */
  private def nextVersion(s: SparkSession, root: String): Int = {
    val p = new Path(root)
    val f = fs(s, root)
    val occupied =
      if (!f.exists(p)) 0
      else f.listStatus(p).map(_.getPath)
        .filter(_.getName.matches("v=\\d+"))
        .map(_.getName.drop(2).toInt)
        .foldLeft(0)(math.max)
    // compacted-away versions stay occupied too: re-issuing a rolled
    // version number would let a new snapshot shadow history
    math.max(occupied, latestVersion(s, root)) + 1
  }

  /** Snapshot publish protocol: write to a staging directory invisible
    * to [[latestVersion]], then a single atomic rename exposes the
    * fully-written snapshot. A crash leaves only an ignored staging
    * dir; a concurrent committer loses the rename race and fails
    * loudly instead of silently overwriting. A delta snapshot carries
    * its `_PARENT` marker from birth — it is staged BEFORE the rename,
    * so no reader can ever observe a delta directory without its
    * chain pointer. */
  private def commit(df: DataFrame, root: String, v: Int,
                     parent: Option[Int] = None): Int = {
    val session = df.sparkSession
    val f = fs(session, root)
    val staging = new Path(s"$root/.staging-v$v-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(staging.toString)
    parent.foreach { p =>
      val out = f.create(new Path(staging, "_PARENT"))
      try out.write(p.toString.getBytes("UTF-8")) finally out.close()
    }
    val target = new Path(snapshotPath(root, v))
    if (f.exists(target) || !f.rename(staging, target)) {
      f.delete(staging, true)
      throw new IllegalStateException(
        s"concurrent GraphStore commit: v=$v already exists under $root " +
          "(another writer won the rename race; retry to target the next version)")
    }
    v
  }

  /** The version a committed DELTA snapshot extends, `None` for a
    * full snapshot (no `_PARENT` marker) or for a version not present
    * as a directory (vacuumed — the compaction path needs no chain).
    * A PRESENT but unparseable marker throws: silently treating a
    * damaged delta as a full snapshot would truncate every descendant
    * read to the delta rows alone. */
  private def parentOf(s: SparkSession, root: String, v: Int): Option[Int] = {
    val f = fs(s, root)
    val marker = new Path(new Path(snapshotPath(root, v)), "_PARENT")
    if (!f.exists(marker)) None
    else {
      val in = f.open(marker)
      val txt = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      val p = try txt.toInt catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt _PARENT marker at ${snapshotPath(root, v)}: '$txt'")
      }
      // a parent must be a strictly OLDER positive version: a
      // self-pointer or forward pointer would spin the chain walk and
      // the readVersion recursion forever — numeric-but-wrong markers
      // get the same loud failure as unparseable ones (round-14
      // review)
      if (p < 1 || p >= v) throw new IllegalStateException(
        s"corrupt _PARENT marker at ${snapshotPath(root, v)}: " +
          s"'$txt' is not an older version")
      Some(p)
    }
  }

  /** First-seen-wins dedup on (src, dst) — attribute columns of the
    * surviving row come from the lowest `rank` source (0 = existing
    * store, 1 = delta), mirroring INSERT OR IGNORE. Ties within a
    * rank (duplicate key in one input) order by every attribute
    * column, so the survivor is deterministic across runs and
    * partitionings, not shuffle-order luck. */
  private def dedup(edges: DataFrame): DataFrame = {
    val attrs = edges.columns.filterNot(c => EDGE_COLS.contains(c) || c == "__rank")
    if (attrs.isEmpty)
      // attribute-less edge set: every duplicate row is IDENTICAL, so
      // first-seen-wins degenerates to set semantics — a hash
      // aggregate with map-side partial combine (round 14), not a
      // row_number window (which shuffles the full bag and sorts).
      // Dropping __rank first keeps the output hash-partitioned on
      // exactly (src, dst), so a downstream key-join reuses the
      // exchange instead of re-shuffling.
      edges.select(EDGE_COLS.map(col): _*).distinct()
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src"), col("dst"))
        .orderBy(col("__rank").asc +: attrs.map(col(_).asc): _*)
      edges
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select((EDGE_COLS ++ attrs).map(col): _*)
    }
  }

  /** Initialize (or reset) the store with `edges`; duplicates on
    * (src, dst) within the input keep an arbitrary-but-deterministic
    * first row. Returns the snapshot version written. */
  def write(edges: DataFrame, root: String): Int = {
    val v = nextVersion(edges.sparkSession, root)
    // the dedup output is already hash-partitioned (and its partition
    // count is the session shuffle parallelism) — writing it directly
    // saves a full edge-sized repartition shuffle per snapshot.
    // A layout shuffle would buy nothing at read time anyway: plain
    // parquet carries no bucketing metadata, so readers re-shuffle on
    // their own keys regardless (round 14 — the old repartition(src)
    // was pure write-path cost).
    commit(dedup(edges.withColumn("__rank", lit(0))), root, v)
  }

  /** INSERT-OR-IGNORE upsert: existing edges keep their attributes,
    * genuinely new (src, dst) pairs are appended. Returns the new
    * snapshot version.
    *
    * Round-14 delta rework: the new snapshot is a DELTA — only the
    * surviving new rows plus a `_PARENT` pointer to the version the
    * anti-join ran against. Existing edges "keeping their attributes"
    * is free (their rows are never rewritten); the within-delta dedup
    * window runs over the DELTA alone, and the only store-sized work
    * is one keys-only anti-join. Readers compose the chain by union
    * ([[readVersion]]); [[compact]] collapses it. */
  def upsert(s: SparkSession, root: String, delta: DataFrame): Int = {
    val parent = latestVersion(s, root)
    require(parent > 0, s"GraphStore at $root is empty - call write() first")
    val existing = readVersion(s, root, parent)
    val incoming = dedup(
      delta.select(existing.columns.map(col): _*).withColumn("__rank", lit(1)))
    // NULL-SAFE anti-join (round-14 review): the old window dedup
    // grouped null keys together (SQL partitionBy semantics), so a
    // (null, x) edge upserted twice kept one row — a plain key-column
    // anti-join would re-insert it forever because NULL = NULL never
    // matches
    // (round 16: a shuffle_hash hint on this anti-join was measured —
    // warm 8.07 s vs 8.18 s at the sf1x rung, no win, plus the usual
    // SHJ build-side OOM hazard where sort-merge spills gracefully —
    // and deliberately NOT kept.)
    val ex = existing.select(EDGE_COLS.map(col): _*)
    val fresh = incoming.join(ex,
      incoming("src") <=> ex("src") && incoming("dst") <=> ex("dst"), "left_anti")
    commit(fresh, root, nextVersion(s, root), Some(parent))
  }

  /** The newest readable compaction directory preserving version `v`
    * (whose own directory is gone or was never committed). */
  private def compactionOf(s: SparkSession, root: String, v: Int): Path =
    readableCompacts(s, root).collectFirst { case (p, vs) if vs.contains(v) => p }
      .getOrElse(throw new IllegalArgumentException(
        s"requirement failed: no committed snapshot v=$v at $root"))

  /** An identity for the files committed version `v` reads: the
    * [[graft.SessionCache.listingStamp]] of its own `v=<v>` directory,
    * or of the compaction directory that preserves it once vacuumed. A cache of a version's contents keys on (v, stamp),
    * never on the root path: a root deleted and re-initialised up to
    * the same version number lists other files (every write names its
    * part files afresh), and so does a version whose directory was
    * rolled into a compaction. */
  def versionStamp(s: SparkSession, root: String, v: Int): String = {
    val dir =
      if (committed(s, root, v)) new Path(snapshotPath(root, v))
      else compactionOf(s, root, v)
    s"$dir|${graft.SessionCache.listingStamp(s, dir.toString)}"
  }

  /** Read the latest snapshot. */
  def read(s: SparkSession, root: String): DataFrame = {
    val v = latestVersion(s, root)
    require(v > 0, s"GraphStore at $root is empty")
    readVersion(s, root, v)
  }

  /** Read a specific snapshot version (snapshots are immutable, so
    * every historical version stays queryable — time travel, also
    * THROUGH [[compact]]ion: a rolled version reads as the interval
    * slice of its compaction directory). Version numbers may have
    * gaps where a dead uncommitted slot was skipped; only committed
    * snapshots are readable. */
  def readVersion(s: SparkSession, root: String, v: Int): DataFrame = {
    require(v > 0, s"no committed snapshot v=$v at $root")
    if (committed(s, root, v)) {
      val own = s.read.parquet(snapshotPath(root, v))
      parentOf(s, root, v) match {
        // delta snapshot: the version's contents are its parent chain
        // plus the delta rows — a pure union, no dedup (writer-side
        // anti-join keeps chain keys disjoint). The recursion falls
        // back to the compaction path for any vacuumed ancestor.
        case Some(p) => readVersion(s, root, p).unionByName(own)
        case None    => own
      }
    } else {
      s.read.parquet(compactionOf(s, root, v).toString)
        .filter(col("__first") <= v && col("__last") >= v)
        .drop("__first", "__last")
    }
  }

  /** OPTIMIZE — roll every committed snapshot into ONE
    * interval-encoded dataset, preserving time travel (the lakehouse
    * maintenance primitive: N full-copy snapshot directories, each a
    * fleet of small part files, become a single compact dataset whose
    * size is the number of distinct (edge, attrs, presence-run)
    * intervals, not N × edges).
    *
    * Encoding: each surviving row carries `__first`/`__last` — the
    * raw version range of one CONTIGUOUS presence run (contiguity
    * over the committed-version sequence, so skipped dead slots
    * inside a run don't split it, and they stay unreadable because
    * the `_MANIFEST` — the comma-separated covered-version list —
    * never contains them). An edge that vanished in a [[write]] reset
    * and returned later, or returned with different attributes, gets
    * one row per run. [[readVersion]] of a rolled version is an
    * interval filter; [[diff]] composes unchanged.
    *
    * Publish protocol mirrors [[commit]]: staging write + `_MANIFEST`,
    * one atomic rename to `c=<maxV>-<k>`. Compaction DELETES NOTHING
    * (round-13 review): the rolled `v=N` directories stay readable —
    * [[readVersion]] prefers the directory copy — so a lazy DataFrame
    * held across the compact never loses its files. Space is
    * reclaimed by the separate [[vacuum]], the explicitly destructive
    * maintenance call (the OPTIMIZE / VACUUM split every table format
    * makes, for the same reader-isolation reason). Returns the number
    * of PRIOR DIRECTORIES (snapshot + compaction) rolled into the new
    * one — the count [[vacuum]] can then reclaim, not the count of
    * versions preserved (a rolled compaction carries many). */
  def compact(s: SparkSession, root: String): Int = {
    import org.apache.spark.sql.expressions.Window
    val versions = committedVersions(s, root)
    require(versions.nonEmpty, s"GraphStore at $root is empty")
    val priorDirs = dirVersions(s, root).sorted
    val priorCompacts = readableCompacts(s, root).map(_._1)
    // no-op when the newest READABLE compaction already covers every
    // committed version — nothing new to roll, vacuumed or not
    if (readableCompacts(s, root).headOption.exists(_._2.toSet == versions.toSet))
      return 0
    val f = fs(s, root)
    // dense index over the committed sequence defines run contiguity
    val idxDf = s.createDataFrame(versions.zipWithIndex.map {
      case (v, i) => (v, i.toLong)
    }).toDF("__v", "__vidx")
    val all = versions.map(v => readVersion(s, root, v).withColumn("__v", lit(v)))
      .reduce(_ unionByName _)
      .join(broadcast(idxDf), "__v")
    val dataCols = all.columns.filterNot(Seq("__v", "__vidx").contains).toSeq
    val w = Window.partitionBy(dataCols.map(col): _*).orderBy(col("__vidx"))
    val runs = all
      .withColumn("__run", col("__vidx") - row_number().over(w))
      .groupBy(dataCols.map(col) :+ col("__run"): _*)
      .agg(min(col("__v")).as("__first"), max(col("__v")).as("__last"))
      .drop("__run")
      .repartition(col("src"))
    val staging = new Path(s"$root/.staging-c-${java.util.UUID.randomUUID()}")
    runs.write.mode("overwrite").parquet(staging.toString)
    // count what was ACTUALLY staged (a footer-metadata read, no row
    // scan) into the sibling _COUNT file — vacuum's checksum against
    // partial row loss that leaves every remaining footer readable
    // (round 15; a count from `runs` instead would checksum the plan,
    // not the files)
    val stagedRows = s.read.parquet(staging.toString).count()
    val cf = f.create(new Path(staging, "_COUNT"))
    try cf.write(stagedRows.toString.getBytes("UTF-8")) finally cf.close()
    val mf = f.create(new Path(staging, "_MANIFEST"))
    try mf.write(versions.mkString(",").getBytes("UTF-8")) finally mf.close()
    val maxV = versions.max
    val target = Iterator.from(0).map(k => new Path(s"$root/c=$maxV-$k"))
      .find(!f.exists(_)).get
    // mirror commit()'s guard (round-14 ADVICE): Hadoop rename onto an
    // EXISTING directory moves the source INSIDE it and returns true,
    // so a bare !rename check never fires in the race it names —
    // re-check existence immediately before renaming, then verify the
    // published manifest is OURS. A racing compaction of the same
    // store carries identical coverage, but a nested staging dir must
    // still be detected and cleaned, not leaked.
    if (f.exists(target) || !f.rename(staging, target)) {
      f.delete(staging, true)
      throw new IllegalStateException(
        s"concurrent GraphStore compact under $root (rename race; retry)")
    }
    val nested = new Path(target, staging.getName)
    if (f.exists(nested)) {
      f.delete(nested, true)
      throw new IllegalStateException(
        s"concurrent GraphStore compact under $root (lost the rename race " +
          "into an existing target; retry — the winner's coverage stands)")
    }
    if (manifest(s, root, target) != versions)
      throw new IllegalStateException(
        s"GraphStore compact verification failed under $root: published " +
          s"manifest at $target does not match the versions just rolled")
    priorDirs.size + priorCompacts.size
  }

  /** VACUUM — delete snapshot directories and superseded compaction
    * directories whose versions are fully covered by the NEWEST
    * committed compaction directory. Destructive by design: a reader
    * whose lazy DataFrame still references a covered `v=N` directory
    * will fail once its files vanish — run it when no readers hold
    * pre-vacuum plans (the retention decision every table format's
    * VACUUM delegates to the operator). Time travel itself is
    * unaffected: every covered version remains readable through the
    * compaction directory. Returns the number of directories
    * deleted. */
  def vacuum(s: SparkSession, root: String): Int = {
    val f = fs(s, root)
    readableCompacts(s, root) match {
      case (newest, newestCover) +: rest =>
        // the manifest CLAIMS coverage; before destroying the only
        // other copy, verify the compaction DATA is actually readable
        // (round-14 ADVICE: a surviving manifest over damaged parquet
        // would turn vacuum into permanent data loss). A footer-only
        // count touches every part file's metadata without scanning
        // rows; any unreadable footer or missing interval column
        // aborts the delete. The count is then compared against the
        // sibling _COUNT file's publish-time count (round 15): a
        // DELETED or truncated part file leaves every surviving
        // footer readable, so readability alone cannot see partial
        // row loss — the count mismatch can. Compactions from before
        // the checksum (no _COUNT) keep the readability-only
        // behavior.
        val recorded = recordedCount(s, root, newest)
        val readable = try {
          // probe the LIVE files: the session's file-status cache has
          // no TTL by default, and a stale listing would read footers
          // at wrong offsets (masking the count comparison) or count
          // files that no longer exist
          s.catalog.refreshByPath(newest.toString)
          val c = s.read.parquet(newest.toString)
          val live = c.count()
          Seq("__first", "__last").forall(c.columns.contains) &&
            recorded.forall(_ == live)
        } catch { case scala.util.control.NonFatal(_) => false }
        if (!readable) return 0
        val covered = newestCover.toSet
        val deadDirs = dirVersions(s, root).filter(covered.contains)
        // only compactions whose coverage is KNOWN (readable,
        // non-empty manifest) and fully subsumed may die — an
        // unreadable manifest means unknown contents, and deleting
        // unknown contents is the opposite of the ignore-foreign-
        // entries contract (round-13 review)
        val deadCompacts = rest.collect {
          case (c, vs) if vs.forall(covered.contains) => c
        }
        deadDirs.foreach(v => f.delete(new Path(snapshotPath(root, v)), true))
        deadCompacts.foreach(c => f.delete(c, true))
        deadDirs.size + deadCompacts.size
      case _ => 0 // nothing compacted ⇒ nothing is redundant
    }
  }

  /** The delta directories from `toV` back (exclusive) to `fromV`
    * along `_PARENT` pointers, when the WHOLE chain is present as
    * committed delta directories — the proof that `toV` is `fromV`
    * plus pure additions. `None` once the walk leaves directory-land
    * (full snapshot, vacuumed dir, or fromV never reached). */
  private def deltaChain(s: SparkSession, root: String,
                         fromV: Int, toV: Int): Option[Seq[Int]] = {
    @scala.annotation.tailrec
    def walk(v: Int, acc: List[Int]): Option[Seq[Int]] =
      if (v == fromV) Some(acc)
      else if (v < fromV || !committed(s, root, v)) None
      else parentOf(s, root, v) match {
        case Some(p) => walk(p, v :: acc)
        case None    => None
      }
    walk(toV, Nil)
  }

  /** Edge diff between two snapshots: (src, dst, change) with change
    * 'added' or 'removed' (upserts only add, but [[write]] resets, so
    * both directions exist). Fast path: when `toV` reaches `fromV`
    * through an unbroken delta chain, the diff IS the chained delta
    * rows (all 'added', nothing removed — the writer's anti-join
    * guarantees it) with zero store-sized work. Otherwise one
    * anti-join per direction on the (src, dst) identity — no
    * full-table comparison state. */
  def diff(s: SparkSession, root: String, fromV: Int, toV: Int): DataFrame =
    deltaChain(s, root, fromV, toV) match {
      case Some(chain) if chain.nonEmpty =>
        chain.map(v => s.read.parquet(snapshotPath(root, v)).select("src", "dst"))
          .reduce(_ unionByName _)
          .withColumn("change", lit("added"))
      case _ =>
        // ONE tag-sum HASH AGGREGATE instead of a join (round 16 —
        // guide §2: the round-14 full-outer replaced two anti-joins,
        // but a null-safe full outer plans as SortMergeJoin, i.e. a
        // SORT of both snapshots; at the ~50M-row sf1x rung those
        // sorts spill and the diff was measured at 17-28 s, the
        // key's dominant cost). Snapshot keys are unique by
        // construction (writer-side dedup; chain keys disjoint), so
        // presence is exactly the sum of side tags per key: 1 =
        // from-only (removed), 2 = to-only (added), 3 = both
        // (unchanged, dropped). GROUP BY puts null keys in one group
        // — the same null-safe semantics the old <=> join encoded
        // (round-15 advice) — and the grouped key IS the output key.
        // No sort anywhere: one union scan, map-side partial sums,
        // one exchange of the key projections.
        val from = readVersion(s, root, fromV)
          .select(col("src"), col("dst")).withColumn("__t", lit(1L))
        val to = readVersion(s, root, toV)
          .select(col("src"), col("dst")).withColumn("__t", lit(2L))
        from.unionByName(to)
          .groupBy(col("src"), col("dst"))
          .agg(sum(col("__t")).as("__s"))
          .filter(col("__s") =!= 3L)
          .select(col("src"), col("dst"),
            when(col("__s") === 1L, lit("removed"))
              .otherwise(lit("added")).as("change"))
    }
}
