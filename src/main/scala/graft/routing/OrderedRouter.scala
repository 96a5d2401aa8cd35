package graft.routing

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._

/** Ordered processing — the reference's `KinesisSynchronousHandler`
  * (lib/kinesisHandler.js:203-334) re-expressed for a distributed engine.
  *
  * The reference processes an entire batch strictly sequentially via a
  * generator that yields per record (ref :278-309). Global order does not
  * scale past one thread — and Kinesis itself only guarantees order *per
  * partition key* (ref :26-27, the shard contract). So the scalable contract
  * we implement is: all records sharing a partition key are processed by one
  * task, in sequence-number order. That is exactly
  * `repartition(key).sortWithinPartitions(key, seq)` + per-partition
  * iteration: one shuffle, then perfectly parallel across keys.
  *
  * At 100 TB this is the only viable shape: ordering cost is a single
  * hash-partition exchange + local sort (spillable), and parallelism scales
  * with the number of distinct keys, not 1.
  */
object OrderedRouter {

  /** Arrange rows so that each partition holds whole key-groups in
    * (key, seq) order. Building block for any per-key sequential logic.
    */
  def arrange(df: DataFrame, keyCol: String, seqCol: String): DataFrame =
    df.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col(seqCol))

  /** Apply a sequential handler over each ordered partition. The handler sees
    * rows of one partition in (key, seq) order; key-groups never split. The
    * iterator STREAMS — no key group is ever materialized, so a single hot
    * key with 10⁸ events flows through in constant memory (the handler must
    * track key changes itself; [[arrange]] guarantees contiguity).
    *
    * @param outSchema schema of the handler's output rows; defaults to the
    *                  input schema (handler preserves shape)
    */
  def processOrdered(df: DataFrame, keyCol: String, seqCol: String,
                     outSchema: org.apache.spark.sql.types.StructType = null)(
      handler: Iterator[Row] => Iterator[Row]): DataFrame = {
    val arranged = arrange(df, keyCol, seqCol)
    implicit val enc: Encoder[Row] =
      Encoders.row(if (outSchema == null) arranged.schema else outSchema)
    arranged.mapPartitions(handler)
  }
}
