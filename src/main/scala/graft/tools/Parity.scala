package graft.tools

import org.apache.spark.sql.SparkSession

import graft.model.Rating
import graft.pipeline.Pipelines
import graft.recommender.{AlsRecommender, GdMf}

/** Accuracy-parity run at the reference's published configuration
  * (`report.pdf` §7.1.1: k=30, 100 epochs, lr=0.001, reg=0.001, 70/30
  * split) on an Amazon-shaped synthetic 5-core set (FIXTURES.md F4).
  * Prints (mae, mse, rmse) per model like `run_als.py:28-29` plus
  * wall/epoch. Not part of the driver contract — run manually:
  * `sbt "runMain graft.tools.Parity [epochs]"`.
  */
object Parity {
  def main(args: Array[String]): Unit = {
    val epochs = args.headOption.map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder().master("local[*]")
      .appName("graft-parity")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // F4: ~20k rows, ~2.5k users, ~1k items, 5-core-ish, 1..5 skewed high
    val rnd = new scala.util.Random(42)
    val rows = for {
      u <- 0 until 2500
      i <- 0 until 1000
      if rnd.nextDouble() < 0.008
    } yield {
      val mean = 3.8 + 0.4 * ((u % 7) - 3) * 0.2 - 0.3 * ((i % 5) - 2) * 0.25
      val r = math.max(1.0, math.min(5.0, math.round(mean + rnd.nextGaussian() * 0.9).toDouble))
      Rating(s"u$u", s"i$i", r, (u.toLong * 1000) + i)
    }
    val df = rows.toDF
    println(s"synthetic 5-core-ish: ${rows.size} rows, " +
      s"${rows.map(_.user).distinct.size} users, ${rows.map(_.item).distinct.size} items")

    val t0 = System.nanoTime()
    val als = Pipelines.runAlsOn(df, AlsRecommender.Params(rank = 30, maxIter = 10))
    println(f"MLlib ALS   (k=30, 10 iter): mae=${als.metrics.mae}%.4f " +
      f"mse=${als.metrics.mse}%.4f rmse=${als.metrics.rmse}%.4f " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")

    val t1 = System.nanoTime()
    val funk = Pipelines.runFunkSvdOn(df,
      GdMf.Config(nFactors = 30, epochs = epochs, lr = 0.001, reg = 0.001))
    val wallF = (System.nanoTime() - t1) / 1e9
    println(f"FunkSVD GD  (k=30, $epochs%d ep): mae=${funk.metrics.mae}%.4f " +
      f"mse=${funk.metrics.mse}%.4f rmse=${funk.metrics.rmse}%.4f " +
      f"wall=$wallF%.1f s (${wallF / epochs}%.2f s/epoch vs reference 9.47)")

    val t2 = System.nanoTime()
    val alsGd = Pipelines.runFunkSvdOn(df,
      GdMf.Config(nFactors = 30, epochs = epochs, lr = 0.001, reg = 0.001,
        alternating = true))
    val wallA = (System.nanoTime() - t2) / 1e9
    println(f"ALS-GD      (k=30, $epochs%d ep): mae=${alsGd.metrics.mae}%.4f " +
      f"mse=${alsGd.metrics.mse}%.4f rmse=${alsGd.metrics.rmse}%.4f " +
      f"wall=$wallA%.1f s (${wallA / epochs}%.2f s/epoch vs reference 14.39)")
    spark.stop()
  }
}
