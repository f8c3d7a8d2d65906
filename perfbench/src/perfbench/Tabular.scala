package perfbench

import org.apache.spark.sql.SparkSession

/** The tabular workload: the training flow ([[TrainScore]]) then the
  * analytics query mix ([[Analytics]]) in one pass, on their own seeded
  * tables.
  */
final class Tabular(spark: SparkSession, seed: Long, oracleOut: String) extends Workload {
  private val train = new TrainScore(spark, seed)
  private val analytics = new Analytics(spark, seed, oracleOut)

  def stage(dir: String): Unit = {
    train.stage(s"$dir/train")
    analytics.stage(s"$dir/tables")
  }

  def pass(p: Pass): Unit = {
    train.pass(p)
    analytics.pass(p)
  }

  def check(): Seq[String] = train.check() ++ analytics.check()

  def namedMetrics(ps: Seq[Pass]): Map[String, Double] =
    train.namedMetrics(ps) ++ analytics.namedMetrics(ps)

  override def layerExtras(ps: Seq[Pass], t: Tracer): Map[String, Double] =
    analytics.layerExtras(ps, t)
}
