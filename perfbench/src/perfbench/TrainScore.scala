package perfbench

import java.time.LocalDateTime

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.features._
import graft.ml.{Deployment, TrainPipeline, Trainer}
import graft.prep.Prep

/** The reference training flow on a CDC-diabetes-shaped table: Prep →
  * FeaturePipeline fit/transform → TrainPipeline.run (search,
  * calibration, threshold, persisted bundle) → Deployment.load + score
  * of a held-out set written as parquet.
  *
  * The raw table is all strings, as imported: sentinel missing tokens
  * and NULLs, categoricals with rare levels, a near-constant flag, and
  * older versions of some keys. Labels are drawn from a known logistic
  * model, so the holdout AUC has a ceiling the check computes.
  */
final class TrainScore(spark: SparkSession, seed: Long) {
  import spark.implicits._

  val nKeys = 2000; val nHoldout = 2000
  val numeric = Seq("BMI", "MentHlth", "PhysHlth", "Age")
  val flags = Seq("HighBP", "Smoker", "CholCheck")
  val categorical = Seq("GenHlth", "Education", "Sex")
  val label = "Diabetes_binary"
  val aucAbove = 0.02; val aucBelow = 0.06

  private val rnd = new Random(seed * 7919 + 3)
  private val genHlth = Seq("Excellent", "Very good", "Good", "Fair", "Poor")
  private val education = Seq("Never attended" -> 0.01, "Elementary" -> 0.03,
    "Some high school" -> 0.08, "High school" -> 0.28, "Some college" -> 0.27, "College graduate" -> 0.33)
  private val missingTokens = Seq("", " ", "?", "N/A", "null", "nan")

  private def pick(levels: Seq[(String, Double)]): String = {
    val u = rnd.nextDouble()
    levels.scanLeft(("", 0.0)) { case ((_, c), (l, p)) => (l, c + p) }.tail
      .find(_._2 > u).map(_._1).getOrElse(levels.last._1)
  }
  private def maybeMissing(v: String, p: Double): String =
    if (rnd.nextDouble() >= p) v
    else if (rnd.nextInt(4) == 0) null
    else missingTokens(rnd.nextInt(missingTokens.size))

  /** One raw row (all strings) and the logit its label was drawn from. */
  private def row(id: Long, at: LocalDateTime): (Row, Double) = {
    val bmi = math.max(12.0, math.min(60.0, 28 + 6 * rnd.nextGaussian()))
    val age = 1 + rnd.nextInt(13)
    val ment = if (rnd.nextDouble() < 0.3) 0 else rnd.nextInt(31)
    val phys = if (rnd.nextDouble() < 0.3) 0 else rnd.nextInt(31)
    val highBp = if (rnd.nextDouble() < 0.2 + 0.04 * age) 1 else 0
    val smoker = if (rnd.nextDouble() < 0.4) 1 else 0
    val chol = if (rnd.nextDouble() < 0.995) 1 else 0
    val gen = rnd.nextInt(5)
    val logit = -2.4 + 0.09 * (bmi - 28) + 0.8 * highBp + 0.18 * (age - 7) + 0.4 * gen +
      0.3 * smoker + 0.02 * phys
    val y = if (rnd.nextDouble() < 1 / (1 + math.exp(-logit))) "1" else "0"
    val r: Row = (id, at, maybeMissing(f"$bmi%.1f", 0.04), maybeMissing(ment.toString, 0.03),
      phys.toString, age.toString, highBp.toString, smoker.toString, chol.toString,
      if (rnd.nextDouble() < 0.02) null else genHlth(gen), pick(education),
      if (rnd.nextBoolean()) "Female" else "Male", y)
    (r, logit)
  }
  type Row = (Long, LocalDateTime, String, String, String, String, String, String, String,
    String, String, String, String)

  private val t0 = LocalDateTime.of(2023, 1, 1, 0, 0)
  /** Latest version per key last in time; older versions carry other values. */
  private val (trainRows, latest) = {
    val rows = mutable.ArrayBuffer[Row](); val last = mutable.Map[Long, LocalDateTime]()
    for (k <- 0 until nKeys) {
      val id = 100000L + k
      val versions = 1 + (if (rnd.nextDouble() < 0.3) 1 + rnd.nextInt(2) else 0)
      val times = (1 to versions).map(_ => t0.plusSeconds(rnd.nextInt(365 * 86400))).distinct.sorted
      times.foreach(t => rows += row(id, t)._1)
      last(id) = times.last
    }
    (rnd.shuffle(rows.toVector), last.toMap)
  }
  private val (holdoutRows, truth) = {
    val rs = (0 until nHoldout).map(k => row(900000L + k, t0))
    (rs.map(_._1), rs.map { case (r, l) => r._1 -> l }.toMap)
  }

  private val cols = Seq("id", "updated_at") ++ numeric ++ flags ++ categorical :+ label
  private var dir = ""
  def stage(d: String): Unit = {
    trainRows.toDF(cols: _*).repartition(4).write.parquet(s"$d/train_raw")
    holdoutRows.toDF(cols: _*).repartition(4).write.parquet(s"$d/holdout_raw")
    dir = d
  }

  val spec = FeaturePipelineSpec(
    imputers = numeric.map(ImputerSpec(_, Imputation.Median)),
    scalers = numeric.map(ScalerSpec(_, ScalerKind.Robust)),
    oneHots = Seq(OneHotSpec("GenHlth"), OneHotSpec("Education", minFrequency = 0.05),
      OneHotSpec("Sex")),
    varianceThreshold = Some(0.01),
    varianceCols = flags)

  def prep(raw: DataFrame): DataFrame = Prep.castColumns(
    Prep.dedupByKeyKeepLatest(Prep.normalizeMissing(raw, numeric ++ categorical), Seq("id"),
      Seq($"updated_at".desc)),
    (numeric ++ flags :+ label).map(_ -> DoubleType).toMap)

  def featureArray(f: FittedFeaturePipeline): org.apache.spark.sql.Column = {
    val names = numeric ++ f.keptByVariance ++ spec.oneHots.flatMap(f.oneHotColumns).map(_._1)
    array(names.map(c => col(c).cast("double")): _*)
  }

  // outputs of the latest pass
  private var prepped: DataFrame = _
  private var fitted: FittedFeaturePipeline = _
  private var passDir = ""

  def pass(p: Pass): Unit = {
    passDir = s"$dir/pass${p.index}"
    prepped = p.op("prep", "prep")(prep(spark.read.parquet(s"$dir/train_raw")).localCheckpoint())
    val feats = p.op("features", "feature_fit") {
      fitted = FeaturePipeline.fit(prepped, spec)
      fitted.transform(prepped).select($"id", col(label), featureArray(fitted).as("feats"))
        .localCheckpoint()
    }
    p.op("features", "holdout_features") {
      val h = Spans("prep", "prep_holdout")(prep(spark.read.parquet(s"$dir/holdout_raw")))
      fitted.transform(h).select($"id", col(label), featureArray(fitted).as("feats"))
        .write.parquet(s"$passDir/holdout")
    }
    p.op("ml", "train") {
      TrainPipeline.run(spark, feats, TrainPipeline.Config(
        // the search draws the same trial parameters on every seed, so the
        // seed moves the data, not the amount of work
        labelCol = label, pkCol = "id", featureArrayCol = "feats", seed = 42L,
        models = Seq(
          (Trainer.LogReg, Seq(Trainer.ParamRange("regParam", 1e-4, 1e-1, log = true))),
          (Trainer.GBT, Seq(Trainer.ParamRange("maxDepth", 2, 3), Trainer.ParamRange("maxIter", 3, 6)))),
        trialsPerModel = 1, calibrate = true), Some(s"$passDir/model"))
    }
    p.op("ml", "score") {
      Deployment.load(spark, s"$passDir/model")
        .score(spark.read.parquet(s"$passDir/holdout"), "feats")
        .select($"id", col(label), $"score", $"prediction")
        .write.parquet(s"$passDir/scored")
    }
  }

  /** Linear-interpolation order statistic at p of sorted xs, the
    * definition GlobalRank.exactQuantiles documents.
    */
  private def quantile(xs: Array[Double], p: Double): Double = {
    val t = BigDecimal(p) * BigDecimal(xs.length - 1)
    val lo = t.setScale(0, BigDecimal.RoundingMode.FLOOR).toInt
    val hi = t.setScale(0, BigDecimal.RoundingMode.CEILING).toInt
    if (hi == lo) xs(lo) else xs(lo) + (t - lo).toDouble * (xs(hi) - xs(lo))
  }

  /** Mann-Whitney AUC with average ranks for ties. */
  private def auc(scoreLabel: Seq[(Double, Double)]): Double = {
    val sorted = scoreLabel.sortBy(_._1).toArray
    val ranks = new Array[Double](sorted.length)
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(i)._1) j += 1
      (i to j).foreach(k => ranks(k) = (i + j) / 2.0 + 1)
      i = j + 1
    }
    val pos = sorted.count(_._2 == 1.0).toDouble
    val neg = sorted.length - pos
    (sorted.indices.filter(sorted(_)._2 == 1.0).map(ranks).sum - pos * (pos + 1) / 2) / (pos * neg)
  }

  def check(): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

    // prep: one row per generated key, and it is the latest version
    val kept = prepped.select($"id", $"updated_at").as[(Long, LocalDateTime)].collect()
    if (kept.length != nKeys || kept.map(_._1).toSet != latest.keySet)
      problems += s"train_score: prep kept ${kept.length} rows for $nKeys keys"
    val stale = kept.filter { case (id, at) => latest.get(id).forall(_ != at) }
    if (stale.nonEmpty) problems += s"train_score: prep kept ${stale.length} non-latest versions"

    // fitted quartiles: exact order statistics of the raw and the imputed column
    numeric.foreach { c =>
      val raw = prepped.select(col(c)).as[Option[Double]].collect().flatten.filterNot(_.isNaN).sorted
      val st = fitted.numStats(c)
      val want = Seq(0.25, 0.5, 0.75).map(quantile(raw, _))
      if (!want.zip(Seq(st.q1, st.median, st.q3)).forall { case (w, g) => close(g, w) })
        problems += s"train_score: fitted quartiles of $c ${(st.q1, st.median, st.q3)} != $want"
      val imputed = prepped.select(col(c)).as[Option[Double]].collect()
        .map(_.filterNot(_.isNaN).getOrElse(st.median)).sorted
      val sc = fitted.scaleStats(c)
      val wantS = Seq(0.25, 0.5, 0.75).map(quantile(imputed, _))
      if (!wantS.zip(Seq(sc.q1, sc.median, sc.q3)).forall { case (w, g) => close(g, w) })
        problems += s"train_score: scaler quartiles of $c ${(sc.q1, sc.median, sc.q3)} != $wantS"
    }
    // one-hot levels: frequency ≥ minFrequency among non-null values
    spec.oneHots.foreach { oh =>
      val vals = prepped.select(col(oh.col)).as[Option[String]].collect().flatten
      val freq = vals.groupBy(identity).map { case (k, v) => k -> v.length.toDouble / vals.length }
      val (keep, rare) = freq.partition(_._2 >= oh.minFrequency)
      if (fitted.categories(oh.col) != keep.keys.toSeq.sorted || fitted.infrequent(oh.col) != rare.keys.toSeq.sorted)
        problems += s"train_score: one-hot levels of ${oh.col} ${fitted.categories(oh.col)} / " +
          s"${fitted.infrequent(oh.col)} != ${keep.keys.toSeq.sorted} / ${rare.keys.toSeq.sorted}"
    }
    // validation rows persisted with the model: distinct input keys
    val valid = spark.read.parquet(s"$passDir/model/valid_in").select($"id").as[Long].collect()
    if (valid.isEmpty || valid.distinct.length != valid.length || !valid.forall(latest.contains))
      problems += s"train_score: model/valid_in holds ${valid.length} rows, " +
        s"${valid.distinct.length} distinct, ${valid.count(!latest.contains(_))} unknown keys"
    // scored holdout: thresholded scores in [0, 1]; AUC near the generating model's
    val threshold = Deployment.load(spark, s"$passDir/model").threshold
    val scored = spark.read.parquet(s"$passDir/scored")
      .select($"id", col(label), $"score", $"prediction").as[(Long, Double, Double, Double)].collect()
    if (scored.length != nHoldout) problems += s"train_score: ${scored.length} scored rows of $nHoldout"
    val bad = scored.filter { case (_, _, s, pr) =>
      s.isNaN || s < 0 || s > 1 || pr != (if (s >= threshold) 1.0 else 0.0) }
    if (bad.nonEmpty) problems += s"train_score: ${bad.length} scored rows off their threshold, e.g. ${bad.head}"
    val aucModel = auc(scored.map { case (_, y, s, _) => (s, y) }.toSeq)
    val aucTruth = auc(scored.map { case (id, y, _, _) => (truth(id), y) }.toSeq)
    lastAuc = (aucModel, aucTruth)
    if (aucModel > aucTruth + aucAbove || aucModel < aucTruth - aucBelow)
      problems += f"train_score: holdout AUC $aucModel%.4f vs generating logit $aucTruth%.4f"
    problems.toSeq
  }
  private var lastAuc = (Double.NaN, Double.NaN)

  def namedMetrics(ps: Seq[Pass]): Map[String, Double] = Map(
    "feature_fit_s" -> Stats.median(ps.map(_.times("feature_fit"))),
    "train_s" -> Stats.median(ps.map(_.times("train"))),
    "score_rows_per_s" -> Stats.median(ps.map(nHoldout / _.times("score"))),
    "prep_s" -> Stats.median(ps.map(_.times("prep"))),
    "holdout_auc" -> lastAuc._1, "generating_logit_auc" -> lastAuc._2)
}
