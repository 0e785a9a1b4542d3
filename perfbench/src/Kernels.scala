package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Force
import graft.functions.HashExprs

/** Per-row cost of the native kernels, measured outside the scheduler:
  * the kernel is projected over a cached input and forced with
  * `Force.count`; the median of several forcings is divided by rows. */
object Kernels {
  /** `df` repeated until it holds at least `minRows` rows, persisted:
    * small inputs would time the job launch rather than the kernel. */
  def cached(env: Env, df: DataFrame, minRows: Long = 100000L): DataFrame = {
    val n = math.max(1L, df.count())
    val copies = (minRows + n - 1) / n
    val c = (if (copies > 1) df.crossJoin(env.spark.range(copies).select(lit(1).as("__copy")))
        .drop("__copy") else df).persist()
    c.count()
    c
  }

  def nsPerRow(input: DataFrame, kernel: DataFrame => DataFrame, reps: Int = 3): Double = {
    val rows = input.count().toDouble
    val q = kernel(input)
    Force.count(q)
    val times = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      Force.count(q)
      (System.nanoTime() - t0).toDouble
    }
    Main.median(times) / math.max(1.0, rows)
  }

  /** Shingle hashing and MinHash banding, as the dedup paths run them. */
  def textKernels(env: Env, corpus: DataFrame): Map[String, Double] = {
    val text = cached(env, corpus.select("text"))
    val sh = cached(env, text.select(HashExprs.shingleHashes(col("text"), 3).as("sh")))
    Map(
      "functions.shingle_hash_ns" -> nsPerRow(text, _.select(HashExprs.shingleHashes(col("text"), 3))),
      "functions.minhash_bands_ns" -> nsPerRow(sh, _.select(HashExprs.minhashBandKeys(col("sh"), 64, 16))))
  }
}
