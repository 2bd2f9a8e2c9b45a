package graft.lime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `Lime.explainTabular`'s stats step on its own, for the benchmark's
  * stage split: one collect of the instance features, then the
  * driver-side fit the explain uses below its stats gate. It sits in
  * `graft.lime` because `fitStatsLocal` is package-private.
  */
object ExplainStats {
  def apply(instances: DataFrame, features: Seq[String], nBins: Int): Seq[Lime.FeatureStats] =
    Lime.fitStatsLocal(instances.select(features.map(col): _*).collect(), features, nBins)
}
