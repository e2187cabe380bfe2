package perfbench

import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.als.AlsPipeline
import graft.ingest.Ratings

/** The paper's pipeline: raw `::` ratings → dense ids → 80/20 split →
  * ALS-WR at the reference configuration → probe RMSE. Each pass starts
  * from the raw file, so every pass pays the job's first-touch costs.
  */
object AlsTrain extends Part {
  private var last: Option[(ALSModel, DataFrame, DataFrame, Double)] = None
  private val rmses = scala.collection.mutable.ArrayBuffer.empty[Double]

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    last.foreach { case (_, train, probe, _) => release(ctx, train, probe) }
    val raw = ctx.op("ingest", "read") {
      val df = Ratings.read(spark, s"${ctx.data}/ratings.dat", Ratings.DoubleColon).cache()
      df.count()
      df
    }
    val enc = ctx.op("ingest", "encode") {
      val (df, _, _) = Ratings.encode(raw)
      df.cache().count()
      df
    }
    raw.unpersist()
    val (train, probe, nTrain) = ctx.op("ingest", "split") {
      val (tr, pr) = Ratings.trainProbeSplit(enc)
      tr.cache(); pr.cache()
      val n = tr.count()
      pr.count()
      (tr, pr, n)
    }
    enc.unpersist()
    val model = ctx.op("als", "fit") {
      AlsPipeline.fit(train, AlsPipeline.Config(blocks = AlsPipeline.adaptiveBlocks(nTrain)))
    }
    val rmse = ctx.op("als", "eval")(AlsPipeline.rmse(model, probe))
    rmses += rmse
    last = Some((model, train, probe, rmse))
    ctx.info("rmse") = rmses.toSeq
  }

  /** Drops what a pass cached, the fit's own factor RDDs included. */
  private def release(ctx: Ctx, train: DataFrame, probe: DataFrame): Unit = {
    train.unpersist(); probe.unpersist()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def verify(ctx: Ctx): Unit = {
    val (model, train, probe, rmse) = last.get
    val base = ctx.tracer.span("als", "baseline")(AlsPipeline.itemAvgBaselineRmse(train, probe))
    ctx.info("baseline_rmse") = base
    ctx.check("als.rmse_below_baseline", java.lang.Double.isFinite(rmse) && rmse < base,
      s"rmse $rmse, item-average baseline $base")
    val parity = ctx.tracer.span("als", "predict") {
      model.transform(probe)
        .select(col("user"), col("item"), col("prediction").as("p_model"))
        .join(AlsPipeline.predictManual(model.userFactors, model.itemFactors, probe)
          .select(col("user"), col("item"), col("prediction").as("p_manual")),
          Seq("user", "item"), "full_outer")
        .agg(count(lit(1)), count(col("p_model")), count(col("p_manual")),
          max(abs(col("p_model") - col("p_manual"))))
        .head()
    }
    val (n, nModel, nManual) = (parity.getLong(0), parity.getLong(1), parity.getLong(2))
    val maxDiff = if (parity.isNullAt(3)) Double.NaN else parity.getDouble(3)
    ctx.check("als.predict_manual_parity",
      n > 0 && n == nModel && n == nManual && maxDiff <= 1e-4,
      s"rows $n, transform $nModel, manual $nManual, max |diff| $maxDiff")
    release(ctx, train, probe)
  }
}
