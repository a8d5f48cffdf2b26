package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC-style table maintenance — the compaction step every long-lived
  * 100 TB corpus needs: fold a (much smaller) batch of upserts into a
  * base table without rewriting semantics into ad-hoc joins at every
  * call site.
  *
  * Scale shape: `base LEFT ANTI JOIN keys(updates)` + union. The anti
  * join is the only operation touching the big side and it shuffles (or
  * broadcast-prunes, when the update batch is small enough for AQE to
  * broadcast the deduped key set) by the merge key exactly once; the
  * union is a no-shuffle concatenation. Nothing is collected.
  */
object Merge {

  /** Upsert: rows of `updates` replace base rows sharing their key;
    * update rows with unseen keys are inserts. Both inputs must share a
    * schema. Deterministic for a deterministic `updates` batch: if
    * `updates` itself carries duplicate keys, callers dedup first
    * (e.g. [[Dedup.exact]]) — this operator does not pick among them. */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val missing = keys.filterNot(base.columns.contains)
    require(missing.isEmpty, s"key columns missing from base: ${missing.mkString(", ")}")
    base.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)
  }

  /** SCD-type-2 history build: `history` holds every version of every
    * key with its version timestamp; each row gets
    * `valid_from = versionCol`, `valid_to` = the NEXT version's
    * timestamp (null for the current version) and an `is_current`
    * flag — the warehouse pattern that turns a CDC change stream into
    * an as-of-queryable dimension (pairs with [[graft.operators
    * .AsofJoin]] for point-in-time lookups). One lead() window PER KEY
    * (bounded by a key's version count, never corpus-wide); ties on
    * the version timestamp within a key must be pre-deduped by the
    * caller — this operator requires the (keys, versionCol) pair to be
    * unique and makes no pick among duplicates. */
  def scd2(history: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    require(keys.nonEmpty, "scd2 needs at least one key column")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(versionCol))
    history
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
