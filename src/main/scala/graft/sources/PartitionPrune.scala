package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Static-vs-dynamic pruning seam for the probe paths (r11 verdict
  * item 5). Every persisted family a delta probes is PARTITIONED by a
  * bucket column; the probe needs `table WHERE bucket ∈ touched`. A
  * collected literal `IN` list plans as a static PartitionFilter —
  * optimal while the touched set is small (today's probes: fixed-query
  * bucket sets or batch-sized key lists, bounded by construction) —
  * but a very large delta would materialize a giant literal list on
  * the driver and bloat the plan. Above [[DefaultMaxInList]] distinct
  * keys the filter switches to a broadcast LEFT SEMI join on the
  * partition column: same rows, nothing corpus-sized on the driver,
  * and on a real cluster the semi-join is the dynamic-partition-
  * pruning shape. The broadcast is safe because the key frame is a
  * DISTINCT over a bucket DOMAIN (mhBucket/vecBucket/termBucket all
  * pmod into a fixed bucket count), so it can never exceed the domain
  * size however large the delta is.
  */
object PartitionPrune {

  /** Keys at or below this count land as a static IN partition
    * filter; above it, the semi-join path.
    */
  val DefaultMaxInList: Int = 1000

  /** `table` restricted to rows whose `keyCol` value appears in
    * `keys` (a one-column frame of the same name). Collects at most
    * maxInList + 1 distinct keys to pick the path — never the full
    * key set when it is large.
    */
  def filterByKeys(table: DataFrame, keyCol: String, keys: DataFrame,
      maxInList: Int = DefaultMaxInList): DataFrame = {
    val k = keys.select(col(keyCol)).distinct()
    val head = k.limit(maxInList + 1).collect()
    if (head.length <= maxInList)
      table.filter(col(keyCol).isin(head.map(_.get(0)).toSeq: _*))
    else table.join(broadcast(k), Seq(keyCol), "left_semi")
  }

  /** [[filterByKeys]] for keys already on the driver, with no distinct
    * or collect job: up to [[DefaultMaxInList]] keys a literal `IN`,
    * above that a broadcast LEFT SEMI join over a local relation of
    * the keys.
    */
  def filterByValues(table: DataFrame, keyCol: String,
      keys: Seq[Long]): DataFrame =
    if (keys.length <= DefaultMaxInList)
      table.filter(col(keyCol).isin(keys: _*))
    else table.join(broadcast(table.sparkSession
      .createDataFrame(keys.map(Tuple1(_))).toDF(keyCol)), Seq(keyCol), "left_semi")
}
