package graft.queries

import graft.SparkSpec
import graft.streaming.CdpPipeline
import org.apache.spark.sql.functions._

/** The narrow-shuffle batch replay (`CdpReplay.replaySnapshots`) must equal
  * the object-shuffling `profileSnapshots(cdpEventLog(...))` fold snapshot-
  * for-snapshot: same LWW plan trait, same 24 h counter, same segments,
  * same lastSeen — including out-of-order event times, equal-timestamp LWW
  * ties (eventId order breaks them; one fixed tie is pinned), and users
  * whose events span > 24 h.
  */
class CdpReplayNarrowSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) = df
    .select(col("profileId"), element_at(col("traits"), "plan").as("plan"),
      col("trackCount24h"), unix_millis(col("lastSeen")).as("ls"),
      concat_ws(",", col("segments")).as("segs"))
    .collect()
    .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
      r.getLong(3), r.getString(4)))
    .sortBy(_._1)
    .toSeq

  test("replaySnapshots equals profileSnapshots over the same log") {
    val s = spark
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      val uid = rnd.nextInt(12).toLong
      val tsUs = 1700000000000000L + rnd.nextInt(200000) * 1000000L
      val et = if (rnd.nextInt(4) == 0) "signup" else "view"
      (i.toLong, new java.sql.Timestamp(tsUs / 1000L), uid, et,
        s"""{"k": ${rnd.nextInt(9)}}""")
    }
    // a fixed tie: user 42 signs up twice at the SAME ts. Event 1000
    // (k=3 -> free) must beat event 999 (k=4 -> pro) — the zero-padded
    // event id breaks the tie (unpadded, "999" > "1000" would pick pro);
    // the later id comes first, so arrival order cannot pick it either
    val tieTs = new java.sql.Timestamp(1700000000000L)
    val tie = Seq(
      (1000L, tieTs, 42L, "signup", """{"k": 3}"""),
      (999L, tieTs, 42L, "signup", """{"k": 4}"""),
      (1001L, new java.sql.Timestamp(1700000060000L), 42L, "view", """{"k": 1}"""))
    import s.implicits._
    val events = (rows ++ tie).toDF("event_id", "ts", "user_id", "event_type", "props")
    val narrow = canon(CdpReplay.replaySnapshots(s, events).toDF())
    val wide = canon(CdpPipeline.profileSnapshots(
      s, CdpReplay.cdpEventLog(s, events)).toDF())
    assert(narrow == wide)
    assert(narrow.find(_._1 == "user:42").flatMap(_._2).contains("free"))
  }
}
