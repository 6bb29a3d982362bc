package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** The boundary of the near-dup family's shared bounded collect: a corpus
  * of exactly `localMaxDocs` docs takes the driver-local route, one more
  * doc takes the distributed route, and `localMaxDocs = 0` forces the
  * distributed route whatever the corpus size. Both sides of the boundary
  * must give the same `minhashLsh` rows.
  */
class BoundedCollectSpec extends SparkSpec {
  import spark.implicits._

  // 30 originals plus a first-half truncation of every third one: the
  // truncations are Jaccard ~0.5 near-dups, so minhashLsh returns pairs
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    val originals = (0 until 30).map(i =>
      (i.toLong, Seq.fill(20 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))))
    val copies = originals.filter(_._1 % 3 == 0).map { case (i, ws) =>
      (i + 1000L, ws.take(ws.length / 2 + 3))
    }
    (originals ++ copies).map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("id", "text")
  }
  private lazy val n = docs.count().toInt

  private def collect(max: Int) =
    DedupQueries.collectBounded[(Long, String)](docs, "id", max)(col("id"), col("text"))

  /** The local route builds its result from driver evidence rows; only the
    * distributed route joins (the jaccard verify).
    */
  private def distributed(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst { case j: Join => j }.nonEmpty

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.as[(Long, Long, Double)].collect().toSet

  test("exactly max docs are collected; max + 1 docs and max = 0 are not") {
    assert(collect(n).map(_.length).contains(n))
    assert(collect(n - 1).isEmpty)
    assert(collect(0).isEmpty)
  }

  test("minhashLsh takes the local route at max docs, the distributed one past it") {
    val atBound = DedupQueries.minhashLsh(spark, docs, localMaxDocs = n)
    val pastBound = DedupQueries.minhashLsh(spark, docs, localMaxDocs = n - 1)
    val forced = DedupQueries.minhashLsh(spark, docs, localMaxDocs = 0)
    assert(!distributed(atBound))
    assert(distributed(pastBound))
    assert(distributed(forced))
    val local = rows(atBound)
    assert(local.nonEmpty)
    assert(local == rows(pastBound))
    assert(local == rows(forced))
    spark.catalog.clearCache()
  }
}
