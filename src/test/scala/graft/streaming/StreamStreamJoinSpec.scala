package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Stream-stream inner join with watermarks and a time-bound condition —
  * the attribution join (purchase within 30 min of a click) running fully
  * in Structured Streaming. Both sides are watermarked so Spark bounds the
  * join state: rows older than watermark + bound are evicted, which is what
  * lets the join run forever at ingest scale.
  */
class StreamStreamJoinSpec extends SparkSpec {
  import spark.implicits._

  // times start well past the epoch: a row whose event time equals the
  // initial watermark (epoch 0) would be dropped as late before the join
  private def t(min: Int) = new Timestamp((1000 + min) * 60000L)

  test("watermarked interval join attributes purchases to recent clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clickIn = MemoryStream[(Long, Timestamp)]
    val buyIn = MemoryStream[(Long, Timestamp)]

    val clicks = clickIn.toDF().toDF("user_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val buys = buyIn.toDF().toDF("buy_user", "buy_ts")
      .withWatermark("buy_ts", "1 hour")

    val joined = clicks.join(buys,
      expr("""user_id = buy_user AND
              buy_ts >= click_ts AND
              buy_ts <= click_ts + interval 30 minutes"""))

    clickIn.addData((1L, t(0)), (1L, t(10)), (2L, t(5)))
    buyIn.addData(
      (1L, t(20)),  // within 30min of both user-1 clicks → 2 matches
      (1L, t(35)),  // within 30min of the t=10 click only → 1 match
      (2L, t(50)),  // 45min after user-2's only click → no match
      (3L, t(10)))  // user with no clicks → no match

    val rows = StreamingRouter.drainToParquet(joined, "ss_join")
      .select(col("user_id"), col("click_ts"), col("buy_ts"))
      .as[(Long, Timestamp, Timestamp)].collect().toSet
    assert(rows === Set(
      (1L, t(0), t(20)),
      (1L, t(10), t(20)),
      (1L, t(10), t(35))))
  }
}
