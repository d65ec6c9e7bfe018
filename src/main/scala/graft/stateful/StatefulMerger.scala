package graft.stateful

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-suppression: emit a row only when its (normalized) payload differs
  * from the last emitted payload for the same key.
  * Reference pattern/merge/StatefulMerger.java:25-122: per-key ValueState of a
  * composite payload hash, excluded fields removed before hashing; equal hash
  * → suppress, else update state + emit. This is the batch face; the
  * streaming face is [[Processors.suppress]], whose `ttlMs` native state
  * TTL plays the reference's `StateTtlConfig` (24 h there).
  *
  * `opCol`: include this column in the hashed composite as a `__op` entry —
  * the reference's MongoToKafka chain adds "__op" to the merged map
  * (job/cdc/MongoToKafkaJob.java buildChain) so a DELETE whose payload
  * canonicalizes equal to the prior event's payload is still emitted. In
  * streaming that chain is [[Processors.cdcPipeline]], which always joins
  * the operation; [[Processors.suppress]] hashes the payload alone.
  */
final case class StatefulMerger(
    keyCols: Seq[String],
    payloadCol: String,
    excludedFields: Seq[String] = Seq.empty,
    opCol: Option[String] = None
) {

  /** Batch face: keep rows whose canonical payload differs from the previous
    * row's (per key, ordered by ts/tie). One shuffle on the key.
    */
  def batch(df: DataFrame, tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol), col(tieCol))
    val payloadCanon = PayloadNorm.canonical(col(payloadCol), excludedFields)
    // coalesce: a null op would null the whole concat, making the =!= compare
    // evaluate to null and unconditionally suppress the row. "∅" matches
    // hashPayload's null rendering so the batch and streaming faces agree.
    val canon = opCol.fold(payloadCanon)(o =>
      concat(lit("__op="), coalesce(col(o), lit("∅")), lit("|"), payloadCanon))
    df.withColumn("_canon", canon)
      .withColumn("_prev", lag(col("_canon"), 1).over(w))
      .filter(col("_prev").isNull || col("_canon") =!= col("_prev"))
      .drop("_canon", "_prev")
  }
}

object StatefulMerger {

  /** JVM-side canonical payload hash, mirroring [[PayloadNorm.canonical]]:
    * parse the flat JSON object to string pairs, drop excluded keys, sort,
    * hash the `k=v|k=v` rendering. Deterministic across JVMs (no
    * Object.hashCode). `op` joins the composite as a `__op` entry (the
    * reference's MongoToKafka "__op" map key).
    */
  def hashPayload(payload: String, excluded: Set[String], op: Option[String] = None): Long = {
    val canonical = (JsonFlat.parse(payload)
      .filterNot { case (k, _) => excluded.contains(k) } ++ op.map("__op" -> _))
      .toSeq
      .sortBy(_._1)
      .map { case (k, v) => s"$k=${Option(v).getOrElse("∅")}" }
      .mkString("|")
    scala.util.hashing.MurmurHash3.stringHash(canonical).toLong
  }
}
