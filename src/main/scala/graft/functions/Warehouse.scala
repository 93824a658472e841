package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Warehouse maintenance operators: CDC MERGE (SCD1 upsert/delete apply)
  * and incremental aggregate-state maintenance — the two mutation shapes a
  * lakehouse pipeline runs on every ingest cycle. The reference's
  * replication-key incremental sync (client.py:260-298) extracts *changes*;
  * these operators are the downstream half: applying those changes to a
  * maintained table / materialized aggregate without reprocessing history.
  */
object Warehouse {

  /** SCD1 MERGE: apply a CDC change batch to a snapshot.
    *
    * `changes` carries the snapshot's payload columns plus `seqCol` (a
    * per-key total order — an LSN/commit timestamp; MUST be unique per
    * key, the standard CDC contract) and `opCol` (`"U"` upsert / `"D"`
    * delete). Per key the latest change wins — elected with ONE
    * `max(struct(seq, op, payload…))` partial aggregate, no window sort.
    * Result = untouched snapshot rows (left-anti on touched keys) ∪
    * surviving upserts; deletes simply elect no survivor.
    *
    * 100 TB shape: one partial-agg groupBy over the (small) change batch
    * and one key join against the snapshot — Catalyst broadcasts the
    * touched-key side when the batch is small, so the snapshot never
    * shuffles; payload bytes cross an exchange only for changed keys.
    */
  def mergeCdc(snapshot: DataFrame, changes: DataFrame, keyCol: String,
      seqCol: String, opCol: String): DataFrame =
    applyElected(snapshot,
      electLatest(changes, keyCol, seqCol, opCol,
        ArraySeq.unsafeWrapArray(snapshot.columns.filterNot(_ == keyCol))),
      keyCol, opCol)

  /** The per-key latest-change election alone: one
    * `max(struct(seq, op, payload…))` partial aggregate → (key, `__c`
    * struct). Split out because the election is also a *streaming*
    * aggregation (arrival-order-independent by construction — max over a
    * set), letting a continuous CDC feed maintain the same state the
    * batch merge computes.
    */
  def electLatest(changes: DataFrame, keyCol: String, seqCol: String,
      opCol: String, payload: Seq[String]): DataFrame =
    changes.groupBy(col(keyCol))
      .agg(max(struct((Seq(seqCol, opCol) ++ payload).map(col): _*))
        .as("__c"))

  /** Apply an elected-change table (key, `__c`) to the snapshot:
    * untouched rows via left-anti on touched keys ∪ surviving upserts.
    */
  def applyElected(snapshot: DataFrame, latest: DataFrame, keyCol: String,
      opCol: String): DataFrame = {
    val payload = ArraySeq.unsafeWrapArray(snapshot.columns.filterNot(_ == keyCol))
    val upserts = latest
      .where(col(s"__c.$opCol") === "U")
      .select(col(keyCol) +: payload.map(c => col(s"__c.$c").as(c)): _*)
    val touched = latest.select(col(keyCol))
    snapshot.join(touched, Seq(keyCol), "left_anti")
      .unionByName(upserts.select(ArraySeq.unsafeWrapArray(snapshot.columns.map(col)): _*))
  }

  /** Incremental materialized-aggregate maintenance: merge a delta batch's
    * partial aggregate into persisted state. Both inputs share the schema
    * (groupKeys…, additive measure columns); the merge is a union + one
    * re-aggregate summing each measure — exact for additive measures
    * (counts, decimal sums; keep sums in DECIMAL until final output so the
    * merge stays bit-exact and partition-order-independent).
    *
    * 100 TB shape: history is NEVER rescanned — only the state table (one
    * row per group) and the delta batch shuffle, which is the whole point
    * of maintaining the aggregate incrementally.
    */
  def mergeAggState(state: DataFrame, deltaAgg: DataFrame,
      groupKeys: Seq[String], measures: Seq[String]): DataFrame =
    state.unionByName(deltaAgg)
      .groupBy(groupKeys.map(col): _*)
      .agg(sum(col(measures.head)).as(measures.head),
        measures.tail.map(m => sum(col(m)).as(m)): _*)
}
