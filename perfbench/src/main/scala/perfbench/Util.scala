package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Those of p50/p90/p99 that have at least ten samples beyond them, as
    * (label, value): p50 needs 20 samples, p90 100, p99 1000. */
  def percentiles(xs: collection.Seq[Double]): Seq[(String, Double)] =
    Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
      .filter { case (_, q) => xs.size * (1 - q) >= 10 - 1e-9 }
      .map { case (l, q) => (l, quantile(xs, q)) }
}

object Fs {
  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Parquet data files directly under `dir`. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      finally s.close()
    }
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Materialize every row and column of `df` without collecting it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** One client operation of the closed loop. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean)
