package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.kernel.ChangeOps
import graft.meta.Schemas

/** Media-inventory flow parity (Borderlands src/borderlands/media.py) — the
  * reference's hand-rolled incremental upsert, the seed of our MERGE engine.
  */
object MediaOps {

  /** create_media_inventory_from_oryx (media.py:28-65, A3 + P8): collapse
    * losses to one media row per url_hash. Polars `first()` means
    * first-in-insertion-order; Spark's `first` is non-deterministic, so we
    * take min_by over an explicit order column (SURVEY §2.4 A3 hard part).
    */
  def createMediaInventory(losses: DataFrame, ordCol: Column): DataFrame =
    losses.groupBy(col("url_hash"))
      .agg(
        min_by(col("evidence_url"), ordCol).as("url"),
        min_by(col("evidence_source"), ordCol).as("evidence_source"))
      .withColumn("media_key", lit(null).cast("string"))
      .withColumn("file_type", lit(null).cast("string"))
      .withColumn("media_type", lit(null).cast("string"))
      .withColumn("as_of_date", lit(null).cast("timestamp"))
      .select(Schemas.media.fieldNames.map(col).toSeq: _*)

  /** merge_inventory_state (media.py:68-84, J4): current state wins over
    * fresh candidates on key collision — see ChangeOps.mergePrecedence.
    */
  def mergeInventoryState(current: DataFrame, candidates: DataFrame,
                          tiebreak: Seq[Column]): DataFrame =
    ChangeOps.mergePrecedence(current, candidates, Seq("url_hash"), tiebreak)

  /** get_downloaded_and_not_downloaded (media.py:150-152, P2): work-avoidance
    * null-split — only not-yet-downloaded rows get fetched.
    */
  def splitDownloaded(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(col("media_key").isNotNull), df.filter(col("media_key").isNull))

  /** create_media_key (media.py:113-131, F22): `{source}/{hash}{ext}` with
    * '.unknown' fallback.
    */
  def mediaKey(source: Column, urlHash: Column, fileType: Column): Column =
    concat(source, lit("/"), urlHash, coalesce(fileType, lit(".unknown")))
}
