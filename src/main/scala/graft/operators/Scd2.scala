package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD Type-2 history folds (SURVEY §2.10, M2), pure: each maps the
  * current `history` (None on the first run) to the new history. The
  * callers own the I/O: they read the history from a [[Versioned]]
  * table and commit the result back as an overwrite. Reading the table
  * while writing it is safe because `Versioned` never rewrites a
  * published file.
  */
object Scd2 {

  /** SCD Type-2 `check` snapshot (M2): compares `checkCols` of the
    * incoming snapshot against current (open) rows per `key`; changed or
    * new keys get a new open row, superseded rows are closed at
    * `batchTs`. Emits (scd_id, valid_from, valid_to) like dbt snapshots;
    * valid_to IS NULL = current. The independent reference the CDC fold
    * is compared against (CdcScd2Spec, VersionedChangeFeedSpec), so the
    * two folds share no code. */
  def scd2Apply(history: Option[DataFrame], snapshot: DataFrame,
      key: Seq[String], checkCols: Seq[String],
      batchTs: java.sql.Timestamp): DataFrame = {
    val hashExpr = md5(concat_ws("|",
      (key ++ checkCols).map(c => coalesce(col(c).cast("string"), lit(""))): _*))
    val incoming = snapshot
      .withColumn("scd_hash", hashExpr)
      .withColumn("scd_id", md5(concat_ws("|",
        (key.map(c => col(c).cast("string")) :+ lit(batchTs.toString)): _*)))
      .withColumn("valid_from", lit(batchTs))
      .withColumn("valid_to", lit(null).cast("timestamp"))

    history match {
      case None => incoming
      case Some(existing) =>
        val open = existing.filter(col("valid_to").isNull)
        val closed = existing.filter(col("valid_to").isNotNull)
        // Changed keys: open rows whose hash differs from incoming.
        val openVsNew = open.as("o").join(
          incoming.select((key.map(col) :+ col("scd_hash").as("new_hash")): _*).as("n"),
          key, "left")
        val stillCurrent = openVsNew
          .filter(col("new_hash").isNotNull && col("new_hash") === col("scd_hash"))
          .select(open.columns.map(c => col(s"o.$c")): _*)
        val toClose = openVsNew
          .filter(col("new_hash").isNull || col("new_hash") =!= col("scd_hash"))
          .select(open.columns.map(c => col(s"o.$c")): _*)
          .withColumn("valid_to", lit(batchTs))
        // New versions: incoming keys that are new or changed.
        val currentHashes = open.select(
          (key.map(col) :+ col("scd_hash").as("cur_hash")): _*)
        val newVersions = incoming.as("n").join(currentHashes.as("c"), key, "left")
          .filter(col("cur_hash").isNull || col("cur_hash") =!= col("n.scd_hash"))
          .select(incoming.columns.map(c => col(s"n.$c")): _*)
        closed.unionByName(toClose).unionByName(stillCurrent).unionByName(newVersions)
    }
  }

  /** SCD Type-2 from a CHANGE set (the CDC-fed variant of [[scd2Apply]]):
    * instead of a full snapshot — whose absent keys mean "close" — the
    * input is the collapsed per-key delta of a CDC micro-batch:
    * `upserts` (last c/u image per key) and `deleteKeys` (keys whose last
    * op was d). Untouched open rows stay open; a full snapshot of a
    * 100 TB dimension per micro-batch is exactly what CDC exists to
    * avoid. Semantics proven equal to the snapshot path: feeding the
    * same batch sequence through [[scd2Apply]] (with independently
    * maintained full snapshots) yields a byte-identical history
    * (spec: CdcScd2Spec).
    */
  def scd2ApplyChanges(history: Option[DataFrame],
      upserts: DataFrame, deleteKeys: DataFrame,
      key: Seq[String], checkCols: Seq[String],
      batchTs: java.sql.Timestamp): DataFrame = {
    val hashExpr = md5(concat_ws("|",
      (key ++ checkCols).map(c => coalesce(col(c).cast("string"), lit(""))): _*))
    val delK = deleteKeys.select(key.map(col): _*)
    // DELETE WINS when a key appears in both inputs (the tie rule
    // cdcScd2Stream establishes when collapsing a batch) — enforced
    // structurally here by anti-joining upserts against deleteKeys, so
    // a caller handing in overlapping sets cannot resurrect a deleted
    // key with a same-batch insert.
    val liveUpserts = upserts.join(delK, key, "left_anti")
    val incoming = liveUpserts
      .withColumn("scd_hash", hashExpr)
      .withColumn("scd_id", md5(concat_ws("|",
        (key.map(c => col(c).cast("string")) :+ lit(batchTs.toString)): _*)))
      .withColumn("valid_from", lit(batchTs))
      .withColumn("valid_to", lit(null).cast("timestamp"))

    history match {
      case None => incoming
      case Some(existing) =>
        val open = existing.filter(col("valid_to").isNull)
        val closed = existing.filter(col("valid_to").isNotNull)
        // open rows split three ways: deleted → close; changed → close
        // (new version arrives below); untouched / same-hash → keep open
        val openNotDel = open.join(delK, key, "left_anti")
        val toCloseDel = open.join(delK, key, "left_semi")
          .withColumn("valid_to", lit(batchTs))
        val openVsNew = openNotDel.as("o").join(
          incoming.select((key.map(col) :+ col("scd_hash").as("new_hash")): _*).as("n"),
          key, "left")
        val stillCurrent = openVsNew
          .filter(col("new_hash").isNull || col("new_hash") === col("o.scd_hash"))
          .select(open.columns.map(c => col(s"o.$c")): _*)
        val toCloseChanged = openVsNew
          .filter(col("new_hash").isNotNull && col("new_hash") =!= col("o.scd_hash"))
          .select(open.columns.map(c => col(s"o.$c")): _*)
          .withColumn("valid_to", lit(batchTs))
        // new versions: upserts whose key has no open row or whose hash
        // changed (an upsert identical to the open row emits nothing)
        val currentHashes = open.select(
          (key.map(col) :+ col("scd_hash").as("cur_hash")): _*)
        val newVersions = incoming.as("n").join(currentHashes.as("c"), key, "left")
          .filter(col("cur_hash").isNull || col("cur_hash") =!= col("n.scd_hash"))
          .select(incoming.columns.map(c => col(s"n.$c")): _*)
        closed.unionByName(toCloseDel).unionByName(toCloseChanged)
          .unionByName(stillCurrent).unionByName(newVersions)
    }
  }
}
