package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** The timed action of a query: its row count and an order-independent
  * digest of every column of every row. Unlike `count()`, Catalyst cannot
  * prune any result column from it.
  */
object ResultHash {

  /** (rows, digest). The digest combines the sum and the xor of one
    * 64-bit hash per row, so it depends on the multiset of rows only.
    */
  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.indices.map(i => hashable(col(s"`__c$i`"), df.schema.fields(i).dataType))
    val positional = df.toDF(df.columns.indices.map(i => s"__c$i"): _*)
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = positional.select(rowHash.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val rows = r.getLong(0)
    val sumPart = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val xorPart = if (r.isNullAt(2)) 0L else r.getLong(2)
    (rows, f"$sumPart:$xorPart%016x")
  }

  /** Spark cannot hash maps: a top-level map is hashed as its entries
    * sorted by key, a map nested deeper as its JSON text.
    */
  private def hashable(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
    t match {
      case _: MapType => array_sort(map_entries(c))
      case other if containsMap(other) => to_json(c)
      case _ => c
    }

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => containsMap(e)
    case StructType(fs) => fs.exists((f: StructField) => containsMap(f.dataType))
    case _ => false
  }
}
