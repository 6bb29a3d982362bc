package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.Sessions.batch("fingerprint-spec", 2)

  override def afterAll(): Unit = spark.stop()

  private val data = Seq((1L, "a", Seq(1.5, 2.5), Map("k" -> "v")),
    (2L, "b", Nil, Map.empty[String, String]),
    (3L, null, Seq(0.0), Map("x" -> "y")), (3L, null, Seq(0.0), Map("x" -> "y")))

  private def rows(s: SparkSession, data: Seq[(Long, String, Seq[Double], Map[String, String])]) = {
    import s.implicits._
    data.toDF("id", "name", "xs", "m")
  }

  test("the fingerprint does not depend on row order or partitioning") {
    val df = rows(spark, data)
    val base = Fingerprint.of(df)
    assert(base.rows == 4)
    assert(Fingerprint.of(df.orderBy(org.apache.spark.sql.functions.desc("id"))) == base)
    assert(Fingerprint.of(df.repartition(3)) == base)
    assert(Fingerprint.of(df.select("m", "xs", "name", "id")) == base)
  }

  test("the fingerprint changes with any value or a lost duplicate") {
    val df = rows(spark, data)
    val base = Fingerprint.of(df)
    assert(Fingerprint.of(rows(spark, data.dropRight(1))) != base)
    assert(Fingerprint.of(df.withColumn("id",
      org.apache.spark.sql.functions.when(df("id") === 2L, 5L).otherwise(df("id")))) != base)
  }
}
