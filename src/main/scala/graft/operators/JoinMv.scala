package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally-maintained JOIN materialized view over two
  * [[Versioned]] tables (ST6's hard sibling: the aggregate MV updates
  * groups in place; a join MV must emit the CROSS-SIDE effects of each
  * side's delta).
  *
  * Maintenance algebra for append-only sides (the streaming fact ⋈
  * growing-dim case — the reference's enrichment joins):
  *
  *   A_new ⋈ B_new − A_old ⋈ B_old  =  ΔA ⋈ B_new  ∪  A_old ⋈ ΔB
  *
  * (expand (A_old+ΔA)⋈(B_old+ΔB): the ΔA⋈ΔB cross term lands inside
  * ΔA⋈B_new; the two legs are disjoint because ΔA ∩ A_old = ∅). Each
  * refresh therefore scans the DELTAS in full but the bases only as
  * join probes — on a 100 TB fact table with a 1 GB append, the
  * refresh is 1 GB ⋈ dim plus old-fact ⋈ dim-delta, never a full MV
  * rebuild; when a side didn't move its leg vanishes entirely.
  *
  * Consistency contract: the MV is itself a Versioned table, and the
  * (aVersion, bVersion) watermarks the refresh folded up to ride IN
  * the MV's commit manifest (`props`) — data and state publish in one
  * atomic hard-link, so there is no crash window where rows landed but
  * the watermark didn't. The commit pins `expectedVersion`, so two
  * racing refreshes serialize: the loser fails its CAS and re-reads
  * BOTH the watermarks and the source versions before retrying.
  * Re-running refresh after success is a no-op (watermarks current).
  *
  * Sides must be append-only over the refresh window: the change feed
  * is consulted with the same fail-loudly contract `changeFeed` has —
  * an overwrite/merge/delete in the window throws rather than silently
  * corrupting the MV (deletes would need MV tombstones; see
  * [[Versioned.changeFeed]] for the CDC escalation path).
  */
object JoinMv {

  private val PropA = "joinmv.aVersion"
  private val PropB = "joinmv.bVersion"

  /** The MV's recorded source watermarks: the (aVersion, bVersion) the
    * last refresh folded up to. None before the initial build. */
  def watermarks(mvRoot: String): Option[(Long, Long)] =
    Versioned.lastProps(mvRoot, Seq(PropA, PropB))
      .map(p => (p(PropA).toLong, p(PropB).toLong))

  /** One refresh step: fold everything the sources appended since the
    * recorded watermarks into the MV, equi-joined on `keys`. Returns
    * the MV version published (the current one when nothing moved).
    *
    * First call (no watermarks) performs the initial full build. */
  def refresh(spark: SparkSession, aRoot: String, bRoot: String,
      mvRoot: String, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "join keys must be non-empty")
    val aNow = Versioned.latestVersion(aRoot).getOrElse(
      throw new IllegalArgumentException(s"no versions at $aRoot"))
    val bNow = Versioned.latestVersion(bRoot).getOrElse(
      throw new IllegalArgumentException(s"no versions at $bRoot"))
    watermarks(mvRoot) match {
      case None =>
        val full = Versioned.readVersion(spark, aRoot, aNow)
          .join(Versioned.readVersion(spark, bRoot, bNow), keys)
        Versioned.commit(spark, mvRoot, full, mode = "overwrite",
          props = Map(PropA -> aNow.toString, PropB -> bNow.toString))
      case Some((a0, b0)) =>
        val mvV = Versioned.latestVersion(mvRoot).get
        if (a0 == aNow && b0 == bNow) return mvV // nothing to fold
        require(a0 <= aNow && b0 <= bNow,
          s"MV watermarks (a=$a0, b=$b0) are ahead of the sources " +
            s"(a=$aNow, b=$bNow) — was a source table restored/vacuumed?")
        // each leg scans its DELTA in full but the opposite BASE only
        // where manifest stats admit the delta's join keys
        // ([[Versioned.readVersionForKeys]]) — a dim-only append
        // window probes O(affected fact files), never the fact table
        import org.apache.spark.sql.functions.col
        val keyCols = keys.map(col)
        val scratch = Seq.newBuilder[DataFrame]
        def delta(root: String, from: Long, to: Long): DataFrame = {
          val d = appendsOnly(spark, root, from, to)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          scratch += d
          d
        }
        try {
          val legs = Seq.newBuilder[DataFrame]
          if (aNow > a0) {
            val dA = delta(aRoot, a0, aNow)
            legs += dA.join(Versioned.readVersionForKeys(spark, bRoot,
              bNow, dA.select(keyCols: _*), keys), keys)
          }
          if (bNow > b0) {
            val dB = delta(bRoot, b0, bNow)
            legs += Versioned.readVersionForKeys(spark, aRoot, a0,
              dB.select(keyCols: _*), keys).join(dB, keys)
          }
          val folded = legs.result().reduce(_ unionByName _)
          // CAS on the MV version observed WITH the watermarks: a racing
          // refresh that published first fails this commit, and the
          // caller retries from fresh watermarks — never a double fold
          Versioned.commit(spark, mvRoot, folded, mode = "append",
            expectedVersion = Some(mvV),
            props = Map(PropA -> aNow.toString, PropB -> bNow.toString))
        } finally scratch.result().foreach(_.unpersist())
    }
  }

  /** The rows versions `(from, to]` appended — [[Versioned.changesSince]]
    * allowing ONLY row-identical compactions in the window (its
    * file-diff keeps tracking the repacked live set, so an OPTIMIZE on
    * a source never breaks the MV); any row-CHANGING commit
    * (overwrite, merge, delete, dv-delete) still throws rather than
    * silently corrupting the MV — that's [[refreshCdc]]'s job. */
  private def appendsOnly(spark: SparkSession, root: String,
      from: Long, to: Long): DataFrame =
    Versioned.changesSince(spark, root, from, Some(to),
      skipCompactions = true)

  /** CDC-capable refresh: maintains the join MV under INSERTS, UPDATES,
    * and DELETES on both sides — the escalation path [[refresh]]
    * documents. Requires each side to carry a UNIQUE, NON-NULL
    * single-column row id (`aId`, `bId`) surviving into the MV output
    * (a null id can neither be matched by the id-IN-set delete nor by
    * the re-insert semi-join — such rows would silently stop being
    * maintained), and every merge/delete on the sources committed with
    * `cdf = true` (the row-level feed is the only honest source of
    * which keys changed).
    *
    * Changed-key algebra (the keyed IVM formulation): let cA/cB be the
    * distinct ids the window's row feed touched on each side. Then
    *
    *   1. DELETE from the MV every row with aId ∈ cA OR bId ∈ cB
    *   2. APPEND  (A_new ⋉ cA) ⋈ B_new
    *          ∪  (A_new ▷ cA) ⋈ (B_new ⋉ cB)
    *
    * — the two legs are disjoint (the anti-join), their union restores
    * exactly the join rows any changed key participates in, and net-nil
    * keys (insert+delete inside one window) fall out naturally. The
    * changed-id sets stay DISTRIBUTED frames end-to-end: the MV delete
    * is [[Versioned.deleteKeys]] (keys-frame semi-join delete, file
    * pruning via a key-range aggregate + broadcast interval join
    * against manifest stats — O(affected files), not O(MV)), and the
    * legs are semi/anti joins against the same frames. The re-insert
    * legs' BASE reads are stats-pruned too ([[Versioned.readVersionForKeys]]):
    * each changed side reads only the files its row-id frame can
    * touch, and the OPPOSITE side reads only the files the changed
    * rows' join-key frame can touch — so a dim-only change window
    * costs O(affected fact files), not a full fact-table scan (and
    * degrades to the full snapshot only when the probe columns carry
    * no stats). A backfill window touching 10⁷ keys never
    * materializes an id on the driver or builds a literal `isin`
    * tree. A null id in a window's feed
    * fails LOUDLY (the documented non-null-id precondition — a null
    * can neither be matched by the keyed delete nor the re-insert
    * semi-join, so it would silently stop being maintained).
    *
    * Crash contract: watermarks ride on the APPEND commit (published
    * even when the insert delta is empty, so pure-delete windows still
    * advance). A crash between delete and append leaves old watermarks;
    * the retry re-runs the delete (id-set already gone → no-op rewrite)
    * and the append folds once — exactly-once without a side ledger.
    * Do not mix with [[refresh]] on the same MV: the append-only verb
    * assumes its deltas were never retro-deleted. */
  def refreshCdc(spark: SparkSession, aRoot: String, bRoot: String,
      mvRoot: String, keys: Seq[String], aId: String, bId: String): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(keys.nonEmpty, "join keys must be non-empty")
    val aNow = Versioned.latestVersion(aRoot).getOrElse(
      throw new IllegalArgumentException(s"no versions at $aRoot"))
    val bNow = Versioned.latestVersion(bRoot).getOrElse(
      throw new IllegalArgumentException(s"no versions at $bRoot"))
    watermarks(mvRoot) match {
      case None =>
        val full = Versioned.readVersion(spark, aRoot, aNow)
          .join(Versioned.readVersion(spark, bRoot, bNow), keys)
        Versioned.commit(spark, mvRoot, full, mode = "overwrite",
          props = Map(PropA -> aNow.toString, PropB -> bNow.toString))
      case Some((a0, b0)) =>
        if (a0 == aNow && b0 == bNow)
          return Versioned.latestVersion(mvRoot).get
        require(a0 <= aNow && b0 <= bNow,
          s"MV watermarks (a=$a0, b=$b0) are ahead of the sources " +
            s"(a=$aNow, b=$bNow) — was a source table restored/vacuumed?")
        // the window's changed ids, as a DISTRIBUTED distinct frame
        // (persisted: it feeds the keyed delete, the file pruning and
        // the re-insert legs). One aggregate answers both "is the
        // window empty" and the loud null-id guard.
        def changedIds(root: String, from: Long, to: Long,
            id: String): Option[DataFrame] =
          if (to == from) None
          else {
            import org.apache.spark.sql.functions.count
            val ids = Versioned.changeFeed(spark, root, from, Some(to))
              .select(col(id)).distinct()
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val agg = ids.agg(count(lit(1)).as("n"),
              count(col(id)).as("nn")).head()
            val (total, nonNull) = (agg.getLong(0), agg.getLong(1))
            if (total != nonNull) {
              ids.unpersist()
              throw new IllegalArgumentException(
                s"null $id in the change window ($from, $to] of $root — " +
                  "refreshCdc requires a non-null unique row id on each " +
                  "side (a null id would silently stop being maintained)")
            }
            if (total == 0L) { ids.unpersist(); None } else Some(ids)
          }
        val cA = changedIds(aRoot, a0, aNow, aId)
        val cB = changedIds(bRoot, b0, bNow, bId)
        val scratch = Seq.newBuilder[DataFrame]
        try {
          // 1. delete every MV row a changed id participates in —
          // keys-frame semi-join delete, never a collected isin list.
          // cdf = true: the MV's own maintenance is then row-level
          // representable, so the MV is ITSELF a valid CDC source —
          // a downstream refreshCdc can chain on it (MV-over-MV)
          val mvAfterDelete =
            if (cA.isDefined || cB.isDefined)
              Versioned.deleteKeys(spark, mvRoot,
                cA.map(aId -> _).toSeq ++ cB.map(bId -> _).toSeq,
                cdf = true)
            else Versioned.latestVersion(mvRoot).get
          // 2. re-derive those keys' join rows from the NEW snapshots.
          // EVERY base read here is stats-pruned to the files its probe
          // keys can touch (Versioned.readVersionForKeys): the changed
          // side by its row-id frame, the OTHER side by the changed
          // rows' join-key frame — so a dim-only change window reads
          // O(affected files) of a 100 TB fact table, never the table
          // (and vice versa), falling back to the full snapshot only
          // when the probe columns have no recorded stats.
          val keyCols = keys.map(col)
          def changedRows(root: String, now: Long, id: String,
              ids: DataFrame): DataFrame = {
            // persisted: feeds its own leg AND the other side's
            // join-key pruning aggregate — one scan, two consumers
            val rows = Versioned.readVersionForKeys(spark, root, now,
                ids, Seq(id))
              .join(ids, Seq(id), "left_semi")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            scratch += rows
            rows
          }
          val legs = Seq.newBuilder[DataFrame]
          cA.foreach { ka =>
            val aChanged = changedRows(aRoot, aNow, aId, ka)
            val bSide = Versioned.readVersionForKeys(spark, bRoot, bNow,
              aChanged.select(keyCols: _*), keys)
            legs += aChanged.join(bSide, keys)
          }
          cB.foreach { kb =>
            val bChanged = changedRows(bRoot, bNow, bId, kb)
            val aSide = Versioned.readVersionForKeys(spark, aRoot, aNow,
              bChanged.select(keyCols: _*), keys)
            val aRest = cA.fold(aSide)(ka =>
              aSide.join(ka, Seq(aId), "left_anti"))
            legs += aRest.join(bChanged, keys)
          }
          val delta = legs.result()
            .reduceOption(_ unionByName _)
            .getOrElse(Versioned.read(spark, mvRoot).limit(0))
          // watermark commit publishes even for an empty delta, so
          // pure-delete (and source-noop) windows still advance; pinned
          // to the post-delete version so racing refreshers serialize
          // (the loser's CAS fails and it retries from fresh watermarks)
          Versioned.commit(spark, mvRoot, delta, mode = "append",
            expectedVersion = Some(mvAfterDelete),
            props = Map(PropA -> aNow.toString, PropB -> bNow.toString))
        } finally {
          scratch.result().foreach(_.unpersist())
          cA.foreach(_.unpersist())
          cB.foreach(_.unpersist())
        }
    }
  }

  /** Stream-driven maintenance: subscribe to BOTH sources' version
    * feeds (unioned as bare ticks) and run [[refresh]] once per
    * micro-batch. The feed is only the TRIGGER — refresh reads its own
    * exact (aVersion, bVersion) watermarks from the MV manifest, so
    * coalesced triggers fold everything pending in one step, replayed
    * triggers after checkpoint recovery no-op, and a racing manual
    * refresh serializes on the MV's CAS. Source offsets are manifest
    * versions (the versioned source's contract), so the checkpoint is
    * version-granular metadata. */
  def stream(spark: SparkSession, aRoot: String, bRoot: String,
      mvRoot: String, keys: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    tickStream(spark, aRoot, bRoot, checkpointDir)(
      refresh(spark, aRoot, bRoot, mvRoot, keys))

  /** [[stream]]'s CDC-capable sibling: same trigger plumbing, each
    * micro-batch runs [[refreshCdc]] — so dim updates and fact deletes
    * flow into the MV continuously, not just appends. */
  def streamCdc(spark: SparkSession, aRoot: String, bRoot: String,
      mvRoot: String, keys: Seq[String], aId: String, bId: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    tickStream(spark, aRoot, bRoot, checkpointDir)(
      refreshCdc(spark, aRoot, bRoot, mvRoot, keys, aId, bId))

  /** One micro-batch per batch of new versions on either source, each
    * running `onTick`. A tick is the `_change_type` envelope column:
    * projecting it makes each source stream its change feed, so a
    * merge or delete commit ticks like an append instead of failing
    * the row stream. */
  private def tickStream(spark: SparkSession, aRoot: String,
      bRoot: String, checkpointDir: String)(onTick: => Any)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.col
    def ticks(root: String) = spark.readStream
      .format(graft.sources.VersionedSource.Name)
      .option("path", root)
      .load()
      .select(col("_change_type").as("tick"))
    ticks(aRoot).unionByName(ticks(bRoot))
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        onTick
        () // each refresh is idempotent; its CAS is the consistency guard
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }
}
