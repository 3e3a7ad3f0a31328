package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD Type-2 dimension snapshots (SURVEY §2.8 U9; reference:
  * `dltproject/sql_product_scd.py:26-31`, dlt `strategy: "scd2"`).
  *
  * Two forms:
  *   - [[fromHistory]]: collapse a change history into validity intervals
  *     (compress consecutive identical attribute states, then
  *     valid_from/valid_to via lead()).
  *   - [[merge]]: incremental — close current versions whose attributes
  *     changed and append the new versions; the dlt semantics.
  *
  * Both are window + union plans: one shuffle on the natural key.
  */
object Scd2 {

  /** Build SCD2 intervals from a full change history: one row per attribute
    * *change* per key, valid until the next change; open-ended current row.
    *
    * `tieBreak`: deterministic ordering column for equal-timestamp changes
    * (e.g. an event id). Defaults to monotonically_increasing_id(), which is
    * stable within one plan but NOT reproducible across engines — pass a real
    * column whenever results are compared externally. */
  def fromHistory(history: DataFrame, keys: Seq[String], attrs: Seq[String],
                  tsCol: String, tieBreak: Option[Column] = None): DataFrame = {
    val keyCols = keys.map(col)
    // one materialized tiebreaker shared by BOTH windows — with different
    // orderings, same-timestamp changes could compress on one ordering and
    // lead() on another, yielding nondeterministic intervals
    val seq = history.withColumn("__seq",
      tieBreak.getOrElse(monotonically_increasing_id()))
    val ordered = Window.partitionBy(keyCols: _*).orderBy(col(tsCol), col("__seq"))
    // keep only rows where some attribute differs from the previous state
    val attrStruct = struct(attrs.map(col): _*)
    val changedOnly = seq
      .withColumn("__prev", lag(attrStruct, 1).over(ordered))
      .filter(col("__prev").isNull || !(col("__prev") <=> attrStruct))
      .drop("__prev")
    val w = Window.partitionBy(keyCols: _*).orderBy(col(tsCol), col("__seq"))
    changedOnly
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keys ++ attrs).map(col) ++ Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }

  /** Incremental SCD2 merge: `dim` carries (keys, attrs, valid_from,
    * valid_to, is_current); `incoming` carries (keys, attrs) effective at
    * `effectiveTs`. Unchanged current rows pass through; changed ones close
    * with `valid_to = effectiveTs` and a new open version is appended.
    *
    * `retireMissing` defaults to FALSE (incremental loads: absence is not
    * deletion). Pass true for dlt-style full-snapshot loads — the mode the
    * reference's scd2 pipeline runs in — where keys ABSENT from `incoming`
    * get their current version closed at `effectiveTs`. */
  def merge(dim: DataFrame, incoming: DataFrame, keys: Seq[String], attrs: Seq[String],
            effectiveTs: Column, retireMissing: Boolean = false): DataFrame = {
    val in = incoming.select((keys ++ attrs).map(col): _*)
    val current = dim.filter(col("is_current"))
    val historical = dim.filter(!col("is_current"))

    val joined = current.alias("cur")
      .join(in.withColumn("__inc", lit(true)).alias("inc"), keys, "full_outer")
    def curAttr(a: String) = col(s"cur.$a")
    def incAttr(a: String) = col(s"inc.$a")
    // brand-new keys (no current version) always open, even when every
    // incoming attribute is null — the null<=>null struct comparison would
    // otherwise classify them as "unchanged" and drop them. Keys must be
    // non-null (dimension PK semantics, as in the reference's ProductID).
    val changed = joined.filter(
      col("__inc").isNotNull &&
        (col("cur.valid_from").isNull ||
          !(struct(attrs.map(curAttr): _*) <=> struct(attrs.map(incAttr): _*))))

    // close changed current versions (those that exist in dim)
    val closed = changed.filter(col("cur.valid_from").isNotNull)
      .select(keys.map(col) ++ attrs.map(a => curAttr(a).as(a)) ++ Seq(
        col("cur.valid_from").as("valid_from"),
        effectiveTs.as("valid_to"),
        lit(false).as("is_current")): _*)
    // new versions for changed + brand-new keys
    val opened = changed
      .select(keys.map(col) ++ attrs.map(a => incAttr(a).as(a)) ++ Seq(
        effectiveTs.as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current")): _*)
    // keys present in dim but absent from the load — retired under full-
    // snapshot semantics, passed through under incremental semantics
    val missing = current.join(in.select(keys.map(col): _*), keys, "left_anti")
    val retired =
      if (retireMissing)
        missing.withColumn("valid_to", effectiveTs).withColumn("is_current", lit(false))
      else missing

    // untouched current rows (present in the load, attributes unchanged)
    val untouched = current
      .join(in.select(keys.map(col): _*), keys, "left_semi")
      .join(changed.filter(col("cur.valid_from").isNotNull).select(keys.map(col): _*),
        keys, "left_anti")

    historical.unionByName(untouched).unionByName(retired)
      .unionByName(closed).unionByName(opened)
  }

  /** EVENT-grain application of a change set onto an SCD2 dimension: every
    * distinct (key, event time) change becomes its own chained version —
    * unlike [[merge]], which collapses a load to at most one version per key
    * at a single effective time. A micro-batch carrying two versions of one
    * key therefore yields two SCD2 rows.
    *
    * Mechanics: the dimension's CURRENT rows for touched keys re-enter the
    * change stream as the state at their `valid_from` (tie-broken to sort
    * before same-timestamp incoming changes), and [[fromHistory]] rebuilds
    * the interval chain — consecutive attribute-identical states compress,
    * so an incoming change equal to the current state opens nothing and
    * re-application is idempotent. Closed history rows never recompute.
    * Change times below the current version's `valid_from` clamp up to it
    * (the same arrival-order boundary rule as the batch-grain clamp in
    * `EventStream.scd2Batch`): an event-time insert BEFORE the current
    * version would overlap the already-closed predecessor interval. Equal
    * clamped timestamps order deterministically by attribute value and emit
    * zero-width intermediate versions rather than dropping states.
    *
    * `changes` must carry one row per (key, ts) — dedupe upstream
    * (`Merge.upsert` on keys :+ tsCol) if the feed can repeat. */
  def applyChanges(dim: Option[DataFrame], changes: DataFrame, keys: Seq[String],
                   attrs: Seq[String], tsCol: String): DataFrame = {
    val keyCols = keys.map(col)
    val chg = changes.select((keys :+ tsCol).map(col) ++ attrs.map(col): _*)
      .withColumn("__src", lit(1))
    // dim state first at equal ts, then attribute order for clamp collisions
    val tieBreak = struct(col("__src") +: attrs.map(col): _*)
    dim match {
      case None =>
        fromHistory(chg, keys, attrs, tsCol, Some(tieBreak))
      case Some(d) =>
        val current = d.filter(col("is_current"))
        val historical = d.filter(!col("is_current"))
        val batchKeys = chg.select(keyCols: _*).distinct()
        val touched = current.join(batchKeys, keys, "left_semi")
        val untouched = current.join(batchKeys, keys, "left_anti")
        val clamped = chg.join(
            touched.select(keyCols :+ col("valid_from").as("__cur_from"): _*),
            keys, "left")
          .withColumn(tsCol,
            when(col("__cur_from").isNotNull && col(tsCol) < col("__cur_from"),
              col("__cur_from")).otherwise(col(tsCol)))
          .drop("__cur_from")
        val miniIn = touched
          .select(keyCols ++ attrs.map(col) :+ col("valid_from").as(tsCol): _*)
          .withColumn("__src", lit(0))
          .unionByName(clamped)
        historical.unionByName(untouched)
          .unionByName(fromHistory(miniIn, keys, attrs, tsCol, Some(tieBreak)))
    }
  }
}
