package perfbench

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}

/** Order-independent fingerprint of a query result: the row count plus the
  * exact sum of a 64-bit hash of every row, over all columns taken in name
  * order. Two results holding the same multiset of rows give the same
  * fingerprint whatever their row order or partitioning, so it can be
  * compared with one taken from a verified dump of the same query.
  */
object Fingerprint {

  /** `Fingerprint <dumpDir> <out.json> q1,q2,..`: fingerprints of the
    * parquet dumps `<dumpDir>/<q>` that `graft.Verify` wrote.
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.batch("perfbench-fingerprint", 2)
    spark.sparkContext.setLogLevel("ERROR")
    val prints = args(2).split(",").toSeq.map(q =>
      q -> of(spark.read.parquet(s"${args(0)}/$q")).toMap)
    Common.writeFile(args(1), Common.json(scala.collection.immutable.ListMap(prints: _*)))
    spark.stop()
  }

  final case class Print(rows: Long, hashSum: String, columns: String) {
    def toMap: Map[String, Any] = scala.collection.immutable.ListMap(
      "rows" -> rows, "hash_sum" -> hashSum, "columns" -> columns)
  }

  def of(df: DataFrame): Print = {
    val names = df.columns.sorted
    // nested values are hashed through their JSON text: hashing a map
    // column directly is refused by Spark
    val cols = names.map { n =>
      val c = F.col(s"`$n`")
      df.schema(n).dataType match {
        case _: MapType | _: ArrayType | _: StructType => F.to_json(c)
        case _ => c
      }
    }
    val row = df.select(F.xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(F.count(F.lit(1)), F.sum(F.col("h").cast(DecimalType(38, 0))))
      .head()
    Print(row.getLong(0),
      if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString,
      names.mkString(","))
  }
}
